"""Seeded packet traffic for the stream workloads.

A plan is a list of flows, each a list of packets with an event-time
offset and a delivery offset (microseconds from the plan's time base).
Three kinds of traffic share one plan:

- benign client/server flows with heavy-tailed packet counts, both
  directions, TCP handshake and FIN, or short UDP exchanges;
- SYN-flood bursts: many sources, 1-3 SYN packets each, one victim;
- a heartbeat flow (one packet per tick for the whole plan) that keeps
  the watermark moving. Its session never closes, so it is never
  emitted and never expected. The live writer also sends it before the
  plan starts, while the query runs its first, compiling batch.

Every real flow ends at least ``gap + watermark + margin`` before the
heartbeat stops, so every real flow must be finalized, exactly once.
A few packets are delivered late (in a later file than their event time)
by less than the watermark delay, so none may be dropped.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

GAP_S = 1.0  # session gap of the streaming sessionizer
WATERMARK_S = 0.6  # watermark delay
MAX_LATE_S = 0.3  # out-of-order delivery bound, < WATERMARK_S
MAX_IAT_S = 0.5  # packet spacing inside a flow, < GAP_S
MAX_LIFE_S = 2.0  # longest benign flow
TAIL_MARGIN_S = 0.5
TICK_S = 0.2  # one NDJSON file per tick
LATE_SHARE = 0.03  # share of packets delivered out of order
NET = 1  # real flows' sources are 10.NET.x.y

_EPOCH = _dt.datetime(1970, 1, 1)
HEARTBEAT_FLOW_ID_PREFIX = "10.255.255.255:"


@dataclass
class Flow:
    flow_id: str
    kind: str  # "benign" | "flood"
    packets: list = field(default_factory=list)  # (ts_us, deliver_us, fields)

    @property
    def first_us(self) -> int:
        return min(p[0] for p in self.packets)

    @property
    def last_us(self) -> int:
        return max(p[0] for p in self.packets)


@dataclass
class Plan:
    flows: list  # real flows only
    heartbeat: Flow
    span_us: int  # the plan ends (last heartbeat) at this offset

    @property
    def n_packets(self) -> int:
        return sum(len(f.packets) for f in self.flows) + len(self.heartbeat.packets)


def _ip(i: int) -> str:
    return f"10.{NET}.{(i >> 8) & 255}.{i & 255}"


def _tcp(length, seq, ack, win, payload, syn=0, ack_f=1, psh=0, fin=0):
    return {
        "length": length, "protocol": 6, "udp_len": None,
        "tcp_seq": seq, "tcp_ack": ack, "tcp_win": win, "tcp_len": payload,
        "cwr_flag": 0, "ece_flag": 0, "urg_flag": 0, "ack_flag": ack_f,
        "psh_flag": psh, "rst_flag": 0, "syn_flag": syn, "fin_flag": fin,
    }


def _udp(length):
    return {
        "length": length, "protocol": 17, "udp_len": length - 28,
        "tcp_seq": None, "tcp_ack": None, "tcp_win": None, "tcp_len": None,
        "cwr_flag": None, "ece_flag": None, "urg_flag": None, "ack_flag": None,
        "psh_flag": None, "rst_flag": None, "syn_flag": None, "fin_flag": None,
    }


def _late(rng: random.Random) -> int:
    if rng.random() < LATE_SHARE:
        return int(rng.uniform(0.05, MAX_LATE_S) * 1e6)
    return 0


def _benign(rng, idx, start_us) -> Flow:
    client, cport = _ip(idx), 1024 + rng.randrange(60000)
    server = f"172.16.0.{1 + rng.randrange(20)}"
    udp = rng.random() < 0.25
    # heavy tail: Pareto packet counts, capped so the flow ends in MAX_LIFE_S
    n = 2 + rng.randrange(5) if udp else min(3 + int(rng.paretovariate(1.1)), 300)
    mean_iat = min(0.08, MAX_LIFE_S / n)
    sport = 53 if udp else rng.choice((80, 443))
    proto = 17 if udp else 6
    flow = Flow(f"{client}:{cport}-{server}:{sport}-{proto}", "benign")
    t = start_us
    seq_c, seq_s = rng.randrange(1 << 30), rng.randrange(1 << 30)
    win_c, win_s = rng.choice((8192, 29200, 64240)), rng.choice((5840, 65535))
    for k in range(n):
        fwd = k == 0 or (k != 1 and rng.random() < 0.6)
        if udp:
            fields = _udp(rng.randrange(60, 512))
        elif k == 0:
            fields = _tcp(60, seq_c, 0, win_c, 0, syn=1, ack_f=0)
        elif k == 1:
            fields = _tcp(60, seq_s, seq_c + 1, win_s, 0, syn=1)
        elif k == n - 1:
            fields = _tcp(54, seq_c if fwd else seq_s, 1, win_c if fwd else win_s, 0, fin=1)
        else:
            payload = 0 if rng.random() < 0.3 else rng.randrange(1, 1460)
            fields = _tcp(54 + payload, seq_c if fwd else seq_s, 1,
                          win_c if fwd else win_s, payload, psh=int(payload > 0))
            if fwd:
                seq_c += payload
            else:
                seq_s += payload
        src, dst = (client, server) if fwd else (server, client)
        sp, dp = (cport, sport) if fwd else (sport, cport)
        fields.update(src_ip=src, dst_ip=dst, src_port=sp, dst_port=dp)
        flow.packets.append((t, t + _late(rng), fields))
        t += int(min(rng.expovariate(1.0 / mean_iat), MAX_IAT_S) * 1e6) + 1
    return flow


def _flood(rng, idx, start_us, victim) -> Flow:
    src, sport = _ip(idx), 1024 + rng.randrange(60000)
    flow = Flow(f"{src}:{sport}-{victim}:80-6", "flood")
    t = start_us
    for _ in range(1 + rng.randrange(3)):
        fields = _tcp(60, rng.randrange(1 << 30), 0, 1024, 0, syn=1, ack_f=0)
        fields.update(src_ip=src, dst_ip=victim, src_port=sport, dst_port=80)
        flow.packets.append((t, t + _late(rng), fields))
        t += int(rng.uniform(0.001, 0.2) * 1e6)
    return flow


def make_plan(seed: int, flows_s: float, benign_per_s: float, flood_per_s: float) -> Plan:
    """Plan ``flows_s`` seconds of flow starts, then a heartbeat tail long
    enough that every real flow is past the final watermark."""
    rng = random.Random(seed)
    flows: list[Flow] = []
    idx = 0
    t = 0.0
    while True:  # benign: Poisson arrivals
        t += rng.expovariate(benign_per_s)
        if t >= flows_s:
            break
        flows.append(_benign(rng, idx, int(t * 1e6)))
        idx += 1
    burst_every = 1.0
    per_burst = max(1, int(flood_per_s * burst_every))
    b = rng.uniform(0, burst_every)
    while b < flows_s:  # flood: one burst per second, spread over 0.3 s
        victim = f"192.168.0.{1 + rng.randrange(4)}"
        for _ in range(per_burst):
            start = b + rng.uniform(0, 0.3)
            if start < flows_s:
                flows.append(_flood(rng, idx, int(start * 1e6), victim))
                idx += 1
        b += burst_every
    last_end = max(f.last_us for f in flows) / 1e6
    span = max(last_end, flows_s) + GAP_S + WATERMARK_S + TAIL_MARGIN_S
    hb = Flow(f"{HEARTBEAT_FLOW_ID_PREFIX}9999-172.16.0.250:80-6", "heartbeat")
    t_us = 0
    while t_us <= span * 1e6:
        hb.packets.append((t_us, t_us, _heartbeat()))
        t_us += int(TICK_S * 1e6)
    return Plan(flows, hb, int(span * 1e6))


def _heartbeat() -> dict:
    fields = _tcp(54, 1, 1, 512, 0)
    fields.update(src_ip="10.255.255.255", dst_ip="172.16.0.250", src_port=9999, dst_port=80)
    return fields


def fmt_ts(us: int) -> str:
    return (_EPOCH + _dt.timedelta(microseconds=us)).strftime("%Y-%m-%d %H:%M:%S.%f")


def _line(base_us: int, pkt) -> str:
    ts_us, _deliver, fields = pkt
    return json.dumps({"timestamp": fmt_ts(base_us + ts_us), **fields})


def by_tick(plan: Plan) -> list[list]:
    """Packets grouped by the tick in which they are delivered."""
    n = plan.span_us // int(TICK_S * 1e6) + 1
    ticks: list[list] = [[] for _ in range(n + int(MAX_LATE_S / TICK_S) + 2)]
    for f in [*plan.flows, plan.heartbeat]:
        for p in f.packets:
            ticks[p[1] // int(TICK_S * 1e6)].append(p)
    while ticks and not ticks[-1]:
        ticks.pop()
    return ticks


def _write_atomic(path: str, staging: str, lines: list[str]) -> None:
    """Write in a staging directory, then rename: the reader never sees a
    partial file."""
    tmp = os.path.join(staging, os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


class LiveWriter(threading.Thread):
    """Open-loop writer: one file per tick, on a fixed schedule.

    Until ``begin()`` it writes one heartbeat packet per tick, which
    carries the query through its first, compiling batch. From the next
    tick on it writes the plan: each tick's file holds the packets due in
    that tick, stamped with their scheduled creation time; ``base_s`` is
    the wall time of the plan's time zero. The schedule is absolute, so a
    slow consumer never slows the writer; if the writer itself falls
    behind, ``late_s_max`` records by how much."""

    def __init__(self, plan: Plan, out_dir: str, staging: str):
        super().__init__(name="perfbench-traffic", daemon=True)
        self.ticks = by_tick(plan)
        self.out_dir, self.staging = out_dir, staging
        os.makedirs(out_dir, exist_ok=True)
        os.makedirs(staging, exist_ok=True)
        self.base_s = 0.0
        self.late_s_max = 0.0
        self.error: Exception | None = None
        self.begun = threading.Event()
        self._go = threading.Event()
        self._halt = threading.Event()

    def begin(self) -> None:
        """Start the plan at the next tick; wait until it has started."""
        self._go.set()
        self.begun.wait()

    def _tick(self, k: int, t0: float, lines) -> bool:
        """Write tick ``k``'s file when it is due; False when halted."""
        wait = t0 + (k + 1) * TICK_S - time.time()
        if wait > 0 and self._halt.wait(wait):
            return False
        self.late_s_max = max(self.late_s_max, -wait)
        if lines:
            _write_atomic(os.path.join(self.out_dir, f"part-{k:06d}.json"), self.staging, lines)
        return True

    def run(self) -> None:
        try:
            t0, k = time.time(), 0
            while not self._go.is_set():  # heartbeat only, until begin()
                pkt = (int((t0 + k * TICK_S) * 1e6), 0, _heartbeat())
                if not self._tick(k, t0, [_line(0, pkt)]):
                    return
                k += 1
            self.base_s = t0 + k * TICK_S
            self.begun.set()
            base_us = int(self.base_s * 1e6)
            for i, pkts in enumerate(self.ticks):
                if not self._tick(k + i, t0, [_line(base_us, p) for p in pkts]):
                    return
        except Exception as e:  # raised again by the workload after the run
            self.error = e
        finally:
            self.begun.set()

    def stop(self) -> None:
        self._halt.set()
