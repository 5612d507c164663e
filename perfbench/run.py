"""Repository benchmark: one command per workload, one JSON result line.

    python3 perfbench/run.py --workload headline|detect_live --seed N \
        --seconds S --trace 0|1

Run from the repository root. Workloads:

- ``headline``: the 14 bench.py headline queries plus the adaptive LSH
  near-dup probe over the tables in ``perfbench/data/sf0.01``: a cold
  pass in set-up, then warm passes for ``--seconds``; each run is forced
  by an order-insensitive digest checked against
  ``perfbench/expected_digests.json`` (see headline.py).
- ``detect_live``: the streaming detection pipeline on seeded open-loop
  packet traffic for ``--seconds`` of timed flows (see detect.py).

End-to-end metrics (``--trace 0``), the same names on both workloads:

- ``setup_s``: process start until timing begins (session start, the
  cold headline pass / model load and the stream's first batch);
- ``step_s``: the timed job: the headline pass (the sum of the rows'
  median warm latencies) / from the start of the timed window until its
  last flow is detected (a derived latency figure; the micro-batch walls
  are in the detail line);
- ``latency_tail_s``: p90 of the warm query latencies / p99 of the
  detection latencies (sink arrival − creation of the flow's last packet
  − session gap).

The medians of those latencies are in the detail line (``query_p50_s``,
``detect_latency_p50_s``), not among the end-to-end metrics: the
headline's median is one of 15 single samples and spread past its bound
between identical runs on a shared 4-vCPU host.

``--trace 1`` reports the per-layer metrics of a traced run instead and
writes its spans to ``perfbench/.work/trace-<workload>.json``; a layer
the workload does not call reports 0. A traced headline run times each
row once traced and once untraced; ``trace.overhead_s`` is the traced
pass minus the untraced one (see headline.py).

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries details: environment, sample
counts, the workload's metrics under their own names (``pass_s``,
``query_p90_s``, ``detect_latency_p99_s``, ``peak_rss_mb`` ...), and
whether the run is valid. A run is invalid when another JVM or test run
was found on the host, the hypervisor's steal share was over
``STEAL_LIMIT``, or the host probe (a fixed pure-Python loop) was slower
than ``PROBE_LIMIT_S``: its timings say more about the host than about
the program, so baselines leave it out.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

T_START = time.time()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("headline", "detect_live")
# A run is invalid, and left out of baselines, when the hypervisor took
# more than this share of the CPU from the guest during the run ...
STEAL_LIMIT = 0.05
# ... or a fixed pure-Python loop ran this slow before it (0.055 s on a
# quiet 4-vCPU host of this kind): neighbours slow a host without steal.
PROBE_LIMIT_S = 0.1


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 8.0


def pin_environment(work: str) -> dict:
    """Pin what the engine reads from the environment; return the record."""
    # Task slots for half the cores: the JVM's JIT and GC threads and the
    # Python workers need the rest. A slot per core runs more threads
    # than cores, and on a 4-vCPU host it made warm headline passes no
    # faster (14-17 s against 13-15 s with two slots).
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine defaults to 48g; a quarter of the host, at most 4g
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(_host_mem_gb() // 4)))}g",
        # Python workers must import anti_ddos_spark
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = env["TMPDIR"]
    os.environ.pop("SPARK_GRAFT_ROCKSDB", None)
    return env


def _runs_pytest(pid: str) -> bool:
    """The process is a test run: ``pytest ...`` or ``python -m pytest``
    (not merely a command line that mentions pytest)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().decode(errors="replace").split("\0")
    except OSError:
        return False
    return (os.path.basename(argv[0]) == "pytest"
            or any(a == "-m" and b == "pytest" for a, b in zip(argv, argv[1:])))


def busy_box() -> list[str]:
    """Other JVMs or test runs on the host skew timings: flag them."""
    found = []
    try:
        out = subprocess.run(["pgrep", "-x", "java"], capture_output=True, text=True,
                             timeout=10).stdout
    except (OSError, subprocess.SubprocessError):
        out = ""
    if out.split():
        found.append(f"java: {len(out.split())} process(es)")
    tests = [p for p in os.listdir("/proc")
             if p.isdigit() and int(p) != os.getpid() and _runs_pytest(p)]
    if tests:
        found.append(f"pytest: {len(tests)} process(es)")
    return found


def host_probe_s() -> float:
    """Best of three timings of a fixed pure-Python loop: a yardstick for
    host speed, which on shared hosts drifts between runs."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and its descendants (the driver JVM
    and any Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 1.0):
        super().__init__(name="perfbench-rss", daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self._halt = threading.Event()

    @staticmethod
    def sample_mb() -> float:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            pid = int(name)
            children.setdefault(int(fields["PPid"]), []).append(pid)
            rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total / 1024

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, self.sample_mb())

    def stop(self) -> float:
        self._halt.set()
        self.join(5)
        self.peak_mb = max(self.peak_mb, self.sample_mb())
        return self.peak_mb


def start_spark(work: str):
    from anti_ddos_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end
    (it exits when its stdin closes, taking its Python workers with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "anti_ddos_spark")):
        _fail("run from the repository root (anti_ddos_spark/ not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    flags = busy_box()
    probe = host_probe_s()
    steal0 = cpu_times()
    rss = RssSampler()
    rss.start()

    from perfbench.trace import Tracer

    tracer = Tracer(bool(args.trace))
    spark = start_spark(work)
    try:
        if args.workload == "headline":
            from perfbench.headline import run_headline as run
        else:
            from perfbench.detect import run_detect as run
        with tracer.span("workload", workload=args.workload):
            res = run(spark, args.seed, args.seconds, work, tracer, T_START)
    finally:
        peak = rss.stop()
        stop_spark(spark)
    res.layers["process.peak_rss_mb"] = peak
    res.detail["peak_rss_mb"] = peak

    if args.trace:
        tracer.dump(os.path.join(work_root, f"trace-{args.workload}.json"))
        wanted = spec["per_layer"]
        values = res.layers
    else:
        wanted = spec["end_to_end"]
        values = res.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        _fail(f"metrics not measured: {missing}")
    steal1 = cpu_times()
    # CPU time the hypervisor gave to other guests: a run-wide slowdown
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    invalid = flags[:]
    if steal > STEAL_LIMIT:
        invalid.append(f"host steal {steal:.1%} of CPU time")
    if probe > PROBE_LIMIT_S:
        invalid.append(f"host probe {probe:.3f} s")
    if invalid:
        print(f"perfbench: invalid run, timings inflated by: {'; '.join(invalid)}",
              file=sys.stderr)
    detail = {"workload": args.workload, "seed": args.seed, "valid": not invalid,
              "invalid_because": invalid, "env": env, "busy_box": flags,
              "host_probe_s": probe, "steal_share": steal, "notes": res.notes,
              **res.detail}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
