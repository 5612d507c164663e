"""The ``detect_live`` workload: the streaming detection pipeline under an
open-loop packet stream, checked flow by flow.

Pipeline: NDJSON files → ``sources.packets.json_packet_stream`` (the
``from_json`` decode) → ``streaming.pipeline.scored_flow_stream(
mode="session_window")`` with the committed frozen RandomForest → a
benchmark ``foreachBatch`` sink that notes when each scored flow arrives.

Set-up loads the model, starts the open-loop writer
(``traffic.LiveWriter``) on heartbeat packets only and the live query,
and waits for the query's first, compiling batch. Then the writer starts
the plan. Flows that start in its first ``WARM_S`` seconds carry the
query into its steady cadence; flows that start later are timed.
Detection latency = sink arrival − creation time of the flow's last
packet − session gap.

Shutdown is clean: the writer finishes its plan (a heartbeat tail carries
the watermark past every real flow), the query processes everything
available including the watermark's no-data batch, and only then is it
stopped.

Correctness: every real flow must arrive exactly once, with features
equal to batch ``sessionize.flow_features`` over the same files and a
prediction equal to batch ``ml.score``.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import traffic
from perfbench.trace import Result, Tracer, iso_seconds, quantile, stream_layers, zero_layers

# Offered load (flows started per second), about 200 packets/s. On a
# 4-core host a warm micro-batch costs about 3 s plus about 3 ms per
# finalized flow it emits, so a batch fits the trigger interval and
# latency measures the pipeline, not a growing backlog; 15 s of timed
# flows give over 1,000 detection latencies for the p99.
BENIGN_PER_S = 18.0
FLOOD_PER_S = 52.0
WARM_S = 5.0
# A fixed trigger above a warm batch (3-4.5 s on a quiet 4-core host).
# A batch that overruns the trigger starts the next one at once, with
# more input, so with a trigger close to the batch time the stream
# settles, run by run, either on the trigger's cadence or in a slower
# back-to-back mode, and latency jumps between the two. With headroom
# every batch starts on the cadence, and a slower batch shows as a
# longer latency, not a new mode.
TRIGGER = "6 seconds"

MODEL_DIR = os.path.join("anti_ddos_spark", "artifacts", "rf_frozen_model")
_STD_COLS = ("std", "variance")


class Sink:
    """foreachBatch sink: collect each batch, note its arrival time."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.batches: list[tuple[int, float, list]] = []

    def __call__(self, df, epoch_id: int) -> None:
        with self.tracer.span("sink", epoch=epoch_id):
            rows = df.collect()
            self.batches.append((epoch_id, time.time(), [r.asDict() for r in rows]))

    def rows(self):
        for _epoch, arrived, rows in self.batches:
            for r in rows:
                yield arrived, r


def _start(spark, model, packets, name: str, ckpt: str, sink: Sink):
    """Start the pipeline as a caller would: the session's defaults, one
    state partition per core."""
    from anti_ddos_spark.streaming.pipeline import scored_flow_stream

    scored = scored_flow_stream(
        packets, model, mode="session_window",
        gap_s=traffic.GAP_S, watermark=f"{int(traffic.WATERMARK_S * 1000)} milliseconds",
    )
    w = (scored.writeStream.outputMode("append").queryName(name)
         .option("checkpointLocation", ckpt).foreachBatch(sink)
         .trigger(processingTime=TRIGGER))
    return w.start()


class DetectLive:
    def __init__(self, spark, seed: int, seconds: float, work: str, tracer: Tracer):
        from pyspark.ml import PipelineModel

        self.spark, self.work, self.tracer = spark, work, tracer
        self.model = PipelineModel.load(MODEL_DIR)
        self.plan = traffic.make_plan(seed, WARM_S + seconds, BENIGN_PER_S, FLOOD_PER_S)
        self.live_dir = os.path.join(work, "live")
        self.staging = os.path.join(work, "staging")
        self.query = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def run(self) -> None:
        from anti_ddos_spark.sources.packets import json_packet_stream

        self.sink = Sink(self.tracer)
        self.writer = traffic.LiveWriter(self.plan, self.live_dir, self.staging)
        self.writer.start()
        try:
            self.query = _start(self.spark, self.model,
                                json_packet_stream(self.spark, self.live_dir), "perfbench_live",
                                os.path.join(self.work, "ckpt_live"), self.sink)
            self._await_first_batch()
            self.writer.begin()
            time.sleep(max(0.0, WARM_S - (time.time() - self.writer.base_s)))
            self.timing_start = time.time()
            with self.tracer.span("stream.live"):
                self.writer.join(self.plan.span_us / 1e6 + 60)
                # idle: every file read and the watermark's last batch committed
                self.query.processAllAvailable()
        finally:
            self.writer.stop()
            self.writer.join(5)
            if self.query is not None:
                self.query.stop()
        if self.writer.error is not None:
            raise RuntimeError(f"traffic writer failed: {self.writer.error!r}")

    def _await_first_batch(self, timeout_s: float = 150.0) -> None:
        """Wait until the query has committed a batch with input: the
        compiling first batch, over heartbeat packets only."""
        deadline = time.time() + timeout_s
        while not any(p["numInputRows"] for p in self.query.recentProgress):
            if self.query.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"no first batch: {self.query.exception()}")
            time.sleep(0.1)

    # -- checks ------------------------------------------------------------
    def _batch_truth(self) -> dict:
        """Batch flow features and scores over exactly the streamed files."""
        from pyspark.sql import functions as F

        from anti_ddos_spark.ml import score
        from anti_ddos_spark.sessionize import flow_features
        from anti_ddos_spark.sources.packets import decode_packets

        raw = self.spark.read.schema("value STRING").text(self.live_dir)
        flows = flow_features(decode_packets(raw), gap_s=traffic.GAP_S)
        flows = flows.filter(~F.col("flow_id").startswith(traffic.HEARTBEAT_FLOW_ID_PREFIX))
        return {r["flow_id"]: r.asDict() for r in score(self.model, flows).collect()}

    def check(self) -> None:
        truth = self._batch_truth()
        expected = {f.flow_id for f in self.plan.flows}
        seen: dict[str, int] = {}
        self.attempted += len(expected)
        wrong = 0
        for _arrived, r in self.sink.rows():
            fid = r["flow_id"]
            seen[fid] = seen.get(fid, 0) + 1
            if seen[fid] > 1 or fid not in expected or not same_flow(r, truth.get(fid)):
                wrong += 1
        missing = len(expected - seen.keys())
        self.failed += wrong + missing
        if wrong or missing:
            self.notes.append(f"{missing} flows missing, {wrong} rows duplicated, "
                              "unexpected or wrong")
        if not seen:
            self.notes.append("no scored flow arrived")
            self.failed += 1

    # -- metrics -----------------------------------------------------------
    def timed_arrivals(self) -> tuple[list[float], float]:
        """Detection latencies of the timed flows (ascending) and the
        arrival time of the last of them."""
        base_s = self.writer.base_s
        last = {f.flow_id: base_s + f.last_us / 1e6 for f in self.plan.flows
                if f.first_us >= WARM_S * 1e6}
        timed = [(arrived, arrived - last[r["flow_id"]] - traffic.GAP_S)
                 for arrived, r in self.sink.rows() if r["flow_id"] in last]
        return sorted(lat for _a, lat in timed), max(a for a, _l in timed)

    def timed_progress(self) -> list:
        """Progress of the micro-batches that started after timing began."""
        return [p for p in self.query.recentProgress
                if iso_seconds(p["timestamp"]) >= self.timing_start]

    def layers(self) -> dict:
        scored = sum(len(rows) for _e, _t, rows in self.sink.batches)
        out = stream_layers(self.timed_progress(), scored)
        out["generator.late_s_max"] = self.writer.late_s_max
        return out


def same_flow(streamed: dict, batch: dict | None) -> bool:
    """Streamed row equals the batch row on every column both carry."""
    if batch is None:
        return False
    for k, v in batch.items():
        if k not in streamed or streamed[k] == v:
            continue
        if any(t in k for t in _STD_COLS) and abs(int(streamed[k]) - int(v)) <= 1:
            continue  # Welford vs two-pass std: the floor may flip by one
        return False
    return True


def run_detect(spark, seed: int, seconds: float, work: str, tracer: Tracer,
               t_start: float) -> Result:
    d = DetectLive(spark, seed, seconds, work, tracer)
    d.run()
    done = time.time()
    d.check()
    lat, last_arrival = d.timed_arrivals()
    batches = [p["durationMs"]["triggerExecution"] / 1000 for p in d.timed_progress()]
    if len(lat) < 1000:
        d.notes.append(f"only {len(lat)} timed flows (want >= 1000)")
    if d.writer.late_s_max > traffic.TICK_S:
        d.notes.append(f"writer ran {d.writer.late_s_max:.3f} s behind its schedule")
    detail = {
        "detect_latency_p50_s": statistics.median(lat),
        "detect_latency_p99_s": quantile(lat, 0.99),
        "detect_latency_samples": len(lat),
        "batch_s": batches,
        "flows": len(d.plan.flows),
        "scored_flows": sum(len(rows) for _e, _t, rows in d.sink.batches),
        "offered_packets_per_s": d.plan.n_packets / (d.plan.span_us / 1e6),
        "offered_flows_per_s": BENIGN_PER_S + FLOOD_PER_S,
        "generator_late_s_max": d.writer.late_s_max,
        "phase_s": {"setup": d.timing_start - t_start, "live": done - d.timing_start,
                    "check": time.time() - done},
    }
    e2e = {
        "setup_s": d.timing_start - t_start,
        # the timed job: from timing start until its last flow is detected.
        # A derived figure (the timed schedule plus the last flows'
        # latency): the mean micro-batch, which the program alone sets,
        # tracks host speed so closely (1.5x between runs on a shared
        # host) that its spread exceeds the bound; it is reported as
        # ``batch_s`` here and ``streaming.batch_s_p50`` in the trace.
        "step_s": last_arrival - d.timing_start,
        "latency_tail_s": detail["detect_latency_p99_s"],
    }
    layers = {**zero_layers(), **d.layers()}
    return Result(e2e, layers, d.attempted, d.failed, detail, d.notes)
