"""The ``headline`` workload: bench.py's 14 headline queries plus the
adaptive LSH near-dup probe, over the vendored sf0.01 tables.

A pass runs all 15 rows. Each row is built (driver/py4j), then forced by
an order-insensitive digest aggregate over every output column: row
count plus the sum of per-row ``xxhash64``. Every run of a row, in
set-up too, is checked against ``expected_digests.json`` (certified by
``certify.py``).

Set-up starts the session and runs one cold pass, ``COLD_THREADS`` rows
at a time. The first run of a row compiles its plan (codegen, JIT) and
loads the JVM classes and table files it needs: a cost a batch job pays
once, and one that moved a whole cold pass by half its median between
identical runs on a shared host. Timing then covers the warm passes,
each in an order drawn from the seed, that fit in ``--seconds`` (at
least one). A row's latency is the median of its warm runs; the pass
time is the sum of those medians.

A traced run times one warm round instead: every row runs once traced
and once untraced, back to back, the traced run first on every other
row, so the tracing overhead is measured against untraced runs of the
same rows at the same point of warming.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.trace import (
    Py4jCounter,
    Result,
    Tracer,
    catalyst_phases,
    codegen_fraction,
    quantile,
    stage_totals,
    zero_layers,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "expected_digests.json")
PROBE = "neardup_adaptive"

FAMILIES = {
    "core": ["q01_pricing_summary", "q02_filter_project", "q03_join_revenue",
             "q05_semi_join", "q08_window_rank", "q09_running_sum",
             "q12_distinct_counts", "q16_json_extract"],
    "flow": ["q20_event_sessions", "q21_event_iat_stats", "q24_flow_features_full"],
    "textops": ["q35_minhash_prod", "q37_curation_funnel"],
    "similarity": ["q42_cosine_neardup_pairs", PROBE],
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
# Rows of the cold pass run side by side: a cold run is mostly driver
# work on one thread (planning, code generation, JIT), so this shortens
# set-up without changing what the warm passes find compiled.
COLD_THREADS = 3
# bench.py's HEADLINE order, then the probe
ROWS = [*FAMILIES["core"], *FAMILIES["flow"], "q35_minhash_prod",
        "q42_cosine_neardup_pairs", "q37_curation_funnel", PROBE]


def neardup_adaptive(spark, sf_dir):
    """The near-dup operator with the scale-adaptive plane count and its
    default (seeded Gaussian) planes, at q42's cosine threshold: the
    synthetic vectors are near-orthogonal, so a higher bar finds no pair
    and would leave the verify step nothing to check."""
    from anti_ddos_spark.config import lsh_planes_for
    from anti_ddos_spark.operators.similarity import lsh_neardup_pairs
    from anti_ddos_spark.queries.base import t
    from anti_ddos_spark.queries.similarity import NEARDUP_COS

    emb = t(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(emb, NEARDUP_COS, n_bands=4,
                             planes_per_band=lsh_planes_for(emb.count()))


def builders() -> dict:
    from anti_ddos_spark.queries import full_registry

    reg = full_registry()
    out = {q: reg[q].fn for q in ROWS if q != PROBE}
    out[PROBE] = neardup_adaptive
    return out


def digest_frame(df):
    """count + sum(xxhash64(row)): equal for equal multisets of rows."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    )


class Headline:
    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer
        self.untraced = Tracer(False)
        self.build = builders()
        with open(DIGESTS) as f:
            self.expected = json.load(f)["digests"]
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layers: dict = {}
        self.py4j = Py4jCounter(spark)
        self._lock = threading.Lock()  # the cold pass runs rows in threads

    def _count(self, failure: str | None = None) -> None:
        with self._lock:
            if failure is None:
                self.attempted += 1
            else:
                self.failed += 1
                self.notes.append(failure)

    def run_query(self, q: str, traced: bool = False) -> float:
        spark = self.spark
        tracer = self.tracer if traced else self.untraced
        tag = f"perfbench-{q}"
        self._count()
        t0 = time.perf_counter()
        try:
            with tracer.span("query", query=q):
                if traced:
                    spark.sparkContext.setJobGroup(f"{tag}-build", q)
                    self.py4j.install()
                calls0 = self.py4j.count
                with tracer.span("build"):
                    agg = digest_frame(self.build[q](spark, SF_DIR))
                calls = self.py4j.count - calls0
                tb = time.perf_counter()
                if traced:
                    self.py4j.remove()
                    spark.sparkContext.setJobGroup(f"{tag}-exec", q)
                with tracer.span("execute"):
                    row = agg.collect()[0]
                te = time.perf_counter()
        except Exception as e:  # a failing query is counted, the pass goes on
            self.py4j.remove()
            if traced:
                spark.sparkContext._jsc.clearJobGroup()
            self._count(f"{q}: {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0
        got = [int(row["n"]), str(row["h"])]
        if got != self.expected.get(q):
            self._count(f"{q}: digest {got} != expected {self.expected.get(q)}")
        if traced:
            spark.sparkContext._jsc.clearJobGroup()
            self._record_layers(q, tag, agg, tb - t0, te - tb, calls)
        return te - t0

    def _record_layers(self, q, tag, agg, build_s, exec_s, calls) -> None:
        f = FAMILY_OF[q]
        lay = self.layers

        def add(name, v):
            lay[name] = lay.get(name, 0.0) + v

        add(f"queries.{f}.build_s", build_s)
        add(f"queries.{f}.py4j_calls", calls)
        for phase, v in catalyst_phases(agg._jdf).items():
            add(f"catalyst.{f}.{phase}_s", v)
        add(f"exec.{f}.wall_s", exec_s)
        for k, v in stage_totals(self.spark, f"{tag}-exec").items():
            add(f"exec.{f}.{k}", v)
        lay.setdefault("_codegen", {}).setdefault(f, []).append(codegen_fraction(agg))

    def timed_passes(self, order: list[str], seconds: float) -> tuple[dict, list]:
        """Warm passes in ``order``, as many as fit in ``seconds`` judged
        by the last pass (at least one): every row's latencies, and the
        wall time of each pass."""
        samples: dict[str, list[float]] = {q: [] for q in order}
        t0, walls = time.perf_counter(), []
        while not walls or time.perf_counter() - t0 + walls[-1] <= seconds:
            t1 = time.perf_counter()
            for q in order:
                samples[q].append(self.run_query(q))
            walls.append(time.perf_counter() - t1)
        return samples, walls

    def traced_round(self, order: list[str]) -> tuple[dict, float]:
        """Each row once traced and once untraced, back to back, the
        traced run first on every other row so that warming between the
        two favours neither: the traced latencies and the total tracing
        overhead (traced minus untraced)."""
        traced, overhead = {}, 0.0
        with self.tracer.span("round"):
            for i, q in enumerate(order):
                plain = self.run_query(q) if i % 2 else None
                traced[q] = self.run_query(q, traced=True)
                if plain is None:
                    plain = self.run_query(q)
                overhead += traced[q] - plain
        return traced, overhead


def run_headline(spark, seed: int, seconds: float, work: str, tracer: Tracer,
                 t_start: float) -> Result:
    h = Headline(spark, tracer)
    with tracer.span("setup"), ThreadPoolExecutor(COLD_THREADS) as pool:
        list(pool.map(h.run_query, ROWS))  # the cold pass
    setup_s = time.time() - t_start
    order = ROWS[:]
    random.Random(seed).shuffle(order)
    layers = zero_layers()
    if tracer.enabled:
        traced, overhead = h.traced_round(order)
        codegen = h.layers.pop("_codegen")
        layers.update(h.layers)
        for f, vals in codegen.items():
            layers[f"exec.{f}.codegen_fraction"] = statistics.mean(vals)
        layers["trace.pass_s"] = sum(traced.values())
        layers["trace.overhead_s"] = overhead
        samples, walls = {q: [v] for q, v in traced.items()}, None
    else:
        samples, walls = h.timed_passes(order, seconds)
    per_query = {q: statistics.median(v) for q, v in samples.items()}
    lat = sorted(v for vals in samples.values() for v in vals)
    detail = {
        "pass_s": sum(per_query.values()),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": quantile(lat, 0.9),
        "query_samples": len(lat),
        "pass_walls_s": walls,
        "order": order,
        "query_s": per_query,
        "sf_dir": os.path.relpath(SF_DIR),
    }
    e2e = {
        "setup_s": setup_s,
        "step_s": detail["pass_s"],
        "latency_tail_s": detail["query_p90_s"],
    }
    return Result(e2e, layers, h.attempted, h.failed, detail, h.notes)
