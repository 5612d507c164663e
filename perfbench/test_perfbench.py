"""Self-test of the benchmark.

    python3 -m pytest perfbench -q          # from the repository root

The traffic tests need no Spark. The smoke tests run each workload once
for a short time (about four minutes in all on a 4-core host) and pin
the result lines, the traced headline's per-layer metrics and the
untraced stream's end-to-end ones: metric names and units as in
BENCHMARK.json, outputs correct, and the stream delivers every flow the
generator ended.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import traffic  # noqa: E402


def test_plan_is_seeded():
    a = traffic.make_plan(7, 3.0, 30.0, 90.0)
    b = traffic.make_plan(7, 3.0, 30.0, 90.0)
    c = traffic.make_plan(8, 3.0, 30.0, 90.0)
    assert [f.packets for f in a.flows] == [f.packets for f in b.flows]
    assert [f.packets for f in a.flows] != [f.packets for f in c.flows]


def test_every_flow_ends_before_the_final_watermark():
    plan = traffic.make_plan(3, 5.0, 30.0, 90.0)
    assert len({f.flow_id for f in plan.flows}) == len(plan.flows)
    kinds = {f.kind for f in plan.flows}
    assert kinds == {"benign", "flood"}
    final_watermark = plan.heartbeat.last_us - traffic.WATERMARK_S * 1e6
    for f in plan.flows:
        assert f.last_us + traffic.GAP_S * 1e6 < final_watermark
        ts = sorted(p[0] for p in f.packets)
        # one session per flow: no silence as long as the gap
        assert all(b - a < traffic.GAP_S * 1e6 for a, b in zip(ts, ts[1:]))
        # out of order, but never later than the watermark allows
        assert all(0 <= p[1] - p[0] < traffic.WATERMARK_S * 1e6 for p in f.packets)
    assert any(p[1] > p[0] for f in plan.flows for p in f.packets)


def _run(cwd: str, workload: str, trace: int, seconds: int = 1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _assert_pinned(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in metrics}


def test_headline_smoke_traced():
    detail, result = _result(_run(ROOT, "headline", 1))
    _assert_pinned(result, _spec()["per_layer"])
    # the cold pass, then every row once traced and once untraced
    assert result["attempted"] == 45
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for f in ("core", "flow", "textops", "similarity"):
        assert m[f"queries.{f}.py4j_calls"] > 0 and m[f"exec.{f}.tasks"] > 0
        assert m[f"catalyst.{f}.planning_s"] > 0
    assert m["trace.pass_s"] == sum(detail["query_s"].values()) > 0


def test_detect_live_smoke():
    detail, result = _result(_run(ROOT, "detect_live", 0))
    _assert_pinned(result, _spec()["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # every flow the generator ended was finalized and scored, exactly once
    assert detail["scored_flows"] > 0
    assert detail["scored_flows"] == detail["flows"] == result["attempted"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__", "data"))
    proc = _run(str(tmp_path), "headline", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
