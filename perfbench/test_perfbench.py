"""Tests of the benchmark itself. Run from the checkout root:

    python3 -m pytest perfbench/test_perfbench.py -q

The parser and span tests need no Spark; the ``same_rows`` tests start a
local[1] session. ``test_smoke`` runs every
workload once at tiny size with all checks (a few minutes);
``test_bare_directory_fails`` checks that a directory holding only the
benchmark exits non-zero without a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench.tracer import Span, Tracer, covered, parse_metric, parse_plan_dot

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOT = """digraph G {
  0 [id="node0" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="AdaptiveSparkPlan isFinalPlan=true"];
  1 [id="node1" labelType="html" label="<b>MapInPandas</b><br><br>time to run Python workers: 860 ms<br>time to start Python workers: 554 ms<br>time to initialize Python workers: 283 ms<br>number of output rows: 213" tooltip="MapInPandas encode_stream(conv_id#23)#35, [conv_id#36], false"];
  5 [id="node5" labelType="html" label="<b>Exchange</b><br><br>shuffle records written: 4,197<br>shuffle bytes written total (min, med, max (stageId: taskId))<br>56.8 KiB (1860.0 B, 15.1 KiB, 35.9 KiB (stage 3.0: task 40))<br>avg hash probes per key (min, med, max (stageId: taskId)):<br>(1, 1, 1 (stage 3.0: task 40))" tooltip="Exchange hashpartitioning(conv_id#23, 8)"];
  10 [id="node10" labelType="html" label="<b>Scan parquet </b><br><br>number of files read: 97<br>number of output rows: 4,197" tooltip="FileScan parquet [conv_id#23] Location: InMemoryFileIndex(1 paths)[file:/w/bronze], PartitionFilters: []"];
  1->0;
}"""


def test_parse_metric_units():
    assert parse_metric("21,966") == 21966
    assert parse_metric("3.0 s (1.4 s, 1.6 s, 1.6 s (stage 1.0: task 2))") == 3.0
    assert parse_metric("860 ms") == pytest.approx(0.86)
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("1.5 m") == 90.0
    assert parse_metric("(1, 1, 1 (stage 3.0: task 40))") is None


def test_parse_plan_dot_nodes():
    nodes = {name: (desc, m) for name, desc, m in parse_plan_dot(DOT)}
    assert set(nodes) == {"AdaptiveSparkPlan", "MapInPandas", "Exchange", "Scan parquet"}
    assert nodes["MapInPandas"][1]["time to run Python workers"] == pytest.approx(0.86)
    ex = nodes["Exchange"][1]
    assert ex["shuffle bytes written"] == pytest.approx(56.8 * 1024)
    assert "avg hash probes per key" not in ex
    assert nodes["Scan parquet"][1]["number of files read"] == 97
    assert "[file:/w/bronze]" in nodes["Scan parquet"][0]


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def _span(tr: Tracer, name, layer, start, end, parent=None) -> Span:
    s = Span(name, layer, start, end, 0, 0, parent, len(tr.spans), tr.run_id)
    tr.spans.append(s)
    return s


def test_self_time_subtracts_children_and_busy_counts_outermost():
    tr = Tracer()
    inc = _span(tr, "incremental_rollup_tiers", "streaming.incremental", 0.0, 10.0)
    up = _span(tr, "upsert", "sources.tableio", 2.0, 6.0, parent=inc.index)
    _span(tr, "read", "sources.tableio", 3.0, 4.0, parent=up.index)
    _span(tr, "read_turns", "sources.bronze", 7.0, 8.0, parent=inc.index)
    selfs = tr.self_times()
    assert selfs["streaming.incremental"] == pytest.approx(5.0)
    assert selfs["sources.tableio"] == pytest.approx(3.0 + 1.0)
    assert selfs["sources.bronze"] == pytest.approx(1.0)
    # the nested tableio read is inside the upsert: busy counts it once
    assert tr.busy(tr.layer_spans("sources.tableio")) == pytest.approx(4.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", "rollup") as attrs:
        attrs["k"] = 1
    assert tr.spans == []


class _Checks:
    """Stands in for a workload context: keeps each check's outcome."""

    def __init__(self) -> None:
        self.checks: dict[str, bool] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = ok


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def _same_rows(got, want, expect=()):
    from perfbench.workloads import same_rows

    ctx = _Checks()
    same_rows(ctx, "eq", got, want, ["tier", "conv_id", "k"], group="tier",
              expect=expect)
    return ctx.checks


def test_same_rows_checks_every_group(spark):
    from pyspark.sql import functions as F

    from perfbench.workloads import TIERS

    want = spark.createDataFrame(
        [(t, "c1", i, i / 3) for t in TIERS for i in range(3)],
        "tier string, conv_id string, k int, v double",
    )
    all_ok = {f"eq.{t}": True for t in TIERS}
    assert _same_rows(want, want, TIERS) == all_ok
    # a last-bit difference from another summation order is accepted
    nudged = want.withColumn("v", F.col("v") * (1 + 1e-15))
    assert _same_rows(nudged, want, TIERS) == all_ok
    off = want.withColumn("v", F.when(F.col("tier") == "daily", F.col("v") + 1)
                          .otherwise(F.col("v")))
    assert _same_rows(off, want, TIERS) == {**all_ok, "eq.daily": False}
    # a whole group missing on either side fails that group only
    no_weekly = want.filter(F.col("tier") != "weekly")
    assert _same_rows(no_weekly, want) == {**all_ok, "eq.weekly": False}
    assert _same_rows(want, no_weekly) == {**all_ok, "eq.weekly": False}
    # an expected group that neither side has fails too
    assert _same_rows(no_weekly, no_weekly, TIERS) == {**all_ok, "eq.weekly": False}


def test_keep_going_measures_a_fixed_schedule():
    import time

    from perfbench.workloads import FULL, Context

    def ctx(seconds, trace=False):
        return Context(spark=None, tracer=Tracer(), work="", seed=1, seconds=seconds,
                       size=FULL, trace=trace, spark_conf={}, cores=1)

    now = time.perf_counter()
    assert ctx(0.0).keep_going(now, FULL.min_iters - 1)
    assert not ctx(0.0).keep_going(now, FULL.min_iters)
    # a traced run measures one more, so it has untraced repetitions too
    assert ctx(0.0, trace=True).keep_going(now, FULL.min_iters)
    # then it goes on until --seconds have passed
    assert ctx(60.0).keep_going(now, FULL.min_iters)
    assert not ctx(60.0).keep_going(now - 61, FULL.min_iters)


def test_engine_cpu_counts_forked_processes_not_waiting():
    import time

    from perfbench.host import EngineCpu

    cpu = EngineCpu(os.getpid())
    snap = cpu.take()
    time.sleep(0.3)
    assert cpu.since(snap) < 0.1
    snap = cpu.take()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"],
                   check=True)
    assert cpu.since(snap) > 0.05


def test_benchmark_json_matches_the_runner():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    metrics = bench["end_to_end"] + bench["per_layer"]
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert len({m["name"] for m in metrics}) == len(metrics)


def test_bare_directory_fails(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rollup_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_smoke():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    result, reports = lines[-1], lines[:-1]
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    by_name = {r["workload"]: r for r in reports}
    want = {
        "rollup_full": ["rollup_turns_per_s", "fused_turns_per_s"],
        "nightly_incremental": ["increment_s", "gold_read_ms", "gold_read_ms_p90"],
        "retention_read": ["encode_points_per_s", "tiered_read_ms",
                           "tiered_read_ms_p90", "bytes_per_point"],
        "corpus_similarity": ["cosine_dense_s", "cosine_postings_s"],
    }
    for workload, names in want.items():
        rep = by_name[workload]
        assert rep["correct"], rep["checks"]
        for name in ["setup_s", "failed_ops", "peak_rss_mb", *names]:
            assert name in rep["metrics"], (workload, name)
        assert rep["metrics"]["failed_ops"]["value"] == 0
        assert "self_s.streaming.incremental" in rep["layers"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    for rep in reports:
        assert set(rep["layers"]) == per_layer, rep["workload"]
    for workload in ("corpus_similarity", "retention_read"):
        layers = by_name[workload]["layers"]
        assert layers["terms.regime.dense_corpus"]["value"] == 1, workload
        assert layers["terms.regime.postings_corpus"]["value"] == 1, workload
        assert layers["terms.pairs_out"]["value"] > 0, workload
        assert layers["input.documents"]["value"] > 0, workload
    assert by_name["retention_read"]["layers"]["codecs.points"]["value"] > 0
    rollup = by_name["rollup_full"]["layers"]
    for tier in ("hourly", "daily", "weekly"):
        for path in ("per_tier", "fused"):
            assert rollup[f"rollup.rows_out.{path}.{tier}"]["value"] > 0, (path, tier)
