"""The engine's benchmark: one workload per run, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload rollup_full --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke        # every workload once, tiny, all checks

A run starts one Spark session at ``local[N]``, N being the cores this
process may use, generates its inputs from ``--seed`` and writes them, three
times over (set-up), warms up, then measures a fixed number of repetitions
(one more when traced) and for at least ``--seconds``, as a closed loop with
one client, and checks the outputs. All files go under ``.perfbench_work/``
in the checkout and the run's scratch is deleted at the end; with
``--trace 1`` the spans are kept in ``.perfbench_work/spans``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones:

* ``setup_s``: the engine CPU seconds (``host.EngineCpu``) of session start
  plus the median of three repetitions of generating and writing the
  inputs; its wall-time counterpart is ``setup_wall_s`` in the report;
* ``peak_rss_mb``: peak memory of the driver JVM and the Python workers it
  forks, summed as PSS and sampled every 0.25 s;
* ``main_cpu_s`` / ``second_cpu_s``: the median engine CPU seconds per
  repetition of the workload's two timed operations (see ``workloads.py``
  for each workload's pair, and ``host.EngineCpu`` for what is counted).
  Their wall-time medians, ``main_s`` and ``second_s``, are in the report.

With ``--trace 1`` they are the per-layer metrics, read from spans and
from Spark's SQL metrics. The line before the result is a report with the
workload's named metrics (``rollup_turns_per_s``, ``gold_read_ms_p90``,
...), its input counts, host telemetry and every check. A failed check or
operation counts in ``failed`` and makes the exit code 1. If the engine
cannot be imported, the run prints no result and exits with 2.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "1g"
E2E_METRICS = ("setup_s", "peak_rss_mb", "main_cpu_s", "second_cpu_s")
WORKLOAD_NAMES = (
    "rollup_full", "nightly_incremental", "retention_read", "corpus_similarity"
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload once at tiny size, traced")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke is given")
    return args


def import_engine():
    """The engine and the benchmark modules, or None when the checkout
    lacks them (a directory holding only the benchmark)."""
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import python_vegindex_spark
        from perfbench import host, tracer, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return None
    # the engine measured is the checkout's, never another copy on the path
    if not os.path.abspath(python_vegindex_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        return None
    return host, tracer, workloads


def median_or_nan(vals: list[float]) -> float:
    return statistics.median(vals) if vals else float("nan")


def finite(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0


def layer_metrics(ctx, tr, session_s: float, steal: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run, from its spans and the SQL
    executions that started inside them."""
    from perfbench.tracer import LAYERS

    out: dict[str, tuple[float, str]] = {}
    spans = tr.spans
    execs = tr.execs_of(spans)

    def m(name: str, value: float, unit: str) -> None:
        out[name] = (finite(float(value)), unit)

    m("session.start_s", session_s, "s")

    # sources.bronze: scans of any bronze directory
    def bronze_scans(ex_list):
        return [s for e in ex_list for s in e.scans if "/bronze" in s[0]]

    scans = bronze_scans(execs)
    m("bronze.files_read", sum(s[1] for s in scans), "count")
    m("bronze.rows_read", sum(s[2] for s in scans), "count")
    inc_spans = tr.layer_spans(
        "streaming.incremental", "streaming.incremental.incremental_rollup_tiers"
    )
    ext_spans = tr.layer_spans(
        "streaming.incremental", "streaming.incremental.extend_chunks"
    )
    rows_in = sum(s.attrs.get("rows_in", 0) for s in inc_spans)
    # rows read from bronze per row ingested, over both ingests: the
    # incremental rollup (turns past the watermark) and the chunk tier
    # (points encoded)
    ingested = rows_in + sum(s.attrs.get("points", 0) for s in ext_spans)
    ingest_read = sum(s[2] for s in bronze_scans(tr.execs_of(inc_spans + ext_spans)))
    m("bronze.scan_amplification", ingest_read / ingested if ingested else 0.0, "ratio")

    feat = tr.layer_spans("operators.features")
    m("features.busy_s", tr.busy(feat), "s")
    m("features.rows_out",
      sum(e.written_rows for e in tr.execs_of(tr.layer_spans("operators.features",
                                                              "silver.write"))),
      "count")

    roll = tr.layer_spans("rollup")
    m("rollup.busy_s", tr.busy(roll), "s")
    writes = tr.layer_spans("rollup", "gold.write")
    for tier in ("hourly", "daily", "weekly"):
        m(f"rollup.busy_s.per_tier.{tier}",
          sum(s.duration for s in writes
              if s.attrs.get("path") == "per_tier" and s.attrs.get("tier") == tier), "s")
    m("rollup.busy_s.fused",
      sum(s.duration for s in writes if s.attrs.get("path") == "fused"), "s")
    for tier in ("hourly", "daily", "weekly"):
        for path in ("per_tier", "fused"):
            key = f"rollup.rows_out.{path}.{tier}"
            m(key, ctx.layer.get(key, 0.0), "count")
    roll_ex = tr.execs_of(roll)
    m("rollup.shuffle_bytes", sum(e.shuffle_bytes for e in roll_ex), "B")
    m("rollup.spill_bytes", sum(e.spill_bytes for e in roll_ex), "B")

    enc = [e for e in execs if "encode_stream" in e.python]
    dec = [e for e in execs if "decode_batches" in e.python]
    m("codecs.encode_busy_s", sum(e.duration_s for e in enc), "s")
    m("codecs.decode_busy_s", sum(e.duration_s for e in dec), "s")
    py = [v for e in execs for k, v in e.python.items()
          if k in ("encode_stream", "decode_batches")]
    m("codecs.python_s", sum(v[0] for v in py), "s")
    m("codecs.python_start_s", sum(v[1] for v in py), "s")
    m("codecs.points", sum(s.attrs.get("points", 0) for s in ext_spans), "count")
    m("codecs.bytes_per_point", ctx.layer.get("codecs.bytes_per_point", 0.0), "B/point")

    m("incremental.run_s", sum(s.duration for s in inc_spans), "s")
    m("incremental.rows_in", rows_in, "count")
    slice_rows = sum(
        s.attrs.get("rows_in", 0)
        for s in tr.layer_spans("operators.features", "operators.features.turn_features")
        if s.parent is not None and spans[s.parent].layer == "streaming.incremental"
    )
    m("incremental.recompute_amplification", slice_rows / rows_in if rows_in else 0.0,
      "ratio")
    m("incremental.extend_chunks_s", sum(s.duration for s in ext_spans), "s")
    m("incremental.gold_retention_s", sum(
        s.duration for s in tr.layer_spans(
            "streaming.incremental", "streaming.incremental.compact_gold_retention")),
      "s")
    m("incremental.read_tiered_s",
      sum(s.duration for s in tr.layer_spans("streaming.incremental", "tiered.read")), "s")

    tio = tr.layer_spans("sources.tableio")
    tio_ex = tr.execs_of(tio)
    m("tableio.bytes_written", sum(e.written_bytes for e in tio_ex), "B")
    m("tableio.files", sum(e.written_files for e in tio_ex), "count")
    ups = tr.layer_spans("sources.tableio", "sources.tableio.upsert")
    upserted = sum(s.attrs.get("rows", 0) for s in ups)
    rewritten = sum(e.written_rows for e in tr.execs_of(ups))
    m("tableio.write_amplification", rewritten / upserted if upserted else 0.0, "ratio")

    trm = tr.layer_spans("operators.terms")
    m("terms.regime.dense_corpus", ctx.layer.get("terms.regime.dense_corpus", 0.0), "flag")
    m("terms.regime.postings_corpus",
      ctx.layer.get("terms.regime.postings_corpus", 0.0), "flag")
    m("terms.busy_s", tr.busy(trm), "s")
    m("terms.shuffle_bytes", sum(e.shuffle_bytes for e in tr.execs_of(trm)), "B")
    m("terms.pairs_out", ctx.layer.get("terms.pairs_out", 0.0), "count")

    selfs = tr.self_times()
    for layer in LAYERS:
        m(f"self_s.{layer}", selfs.get(layer, 0.0), "s")
    m("jvm.gc_s", sum(s.gc_s for s in spans if s.parent is None), "s")
    m("host.steal_pct", steal, "%")
    m("host.local_cores", ctx.cores, "count")
    m("trace.spans", len(spans), "count")
    for metric in ("main_s", "second_s"):
        traced = median_or_nan(ctx.values(metric, traced=True))
        untraced = median_or_nan(ctx.values(metric, traced=False))
        m(f"trace.overhead.{metric}", traced - untraced, "s")
    for key in ("scaling.local1_turns_per_s", "scaling.localN_turns_per_s"):
        m(key, ctx.layer.get(key, 0.0), "tier-turns/s")
    m("scaling.efficiency", ctx.layer.get("scaling.efficiency", 0.0), "ratio")
    for key in ("turns", "documents", "day_partitions"):
        m(f"input.{key}", ctx.inputs.get(key, 0), "count")
    return out


def install_hooks(tr) -> None:
    """Counts recorded at layer boundaries, as span attributes."""
    tr.hooks.update({
        "streaming.incremental.incremental_rollup_tiers":
            lambda a, k, r: {"rows_in": r["rows_in"]},
        "streaming.incremental.extend_chunks":
            lambda a, k, r: {"points": r["points_encoded"]},
        "sources.tableio.upsert": lambda a, k, r: {"rows": r},
        # the incremental slice handed to feature extraction (lag helpers
        # included): the rows a run recomputes
        "operators.features.turn_features": lambda a, k, r: {"rows_in": a[0].count()},
    })


class Session:
    """Owns the Spark session and the JVM it runs in."""

    def __init__(self, work: str, cores: int) -> None:
        self.cores = cores
        local = os.path.join(work, "spark")
        os.makedirs(os.path.join(local, "tmp"), exist_ok=True)
        # every file Spark, the JVM or the Python workers write stays in the
        # run's directory
        os.environ["VXS_SCRATCH"] = local
        os.environ["TMPDIR"] = os.path.join(local, "tmp")
        # a fixed, pre-touched heap: the JVM's resident memory then does not
        # depend on when its collector chose to grow the heap, and peak RSS
        # moves with what the engine holds outside it (Python workers,
        # Arrow buffers, metaspace). Neither the driver JVM nor spark-submit's
        # launcher JVM writes a perf-data file to /tmp.
        os.environ["SPARK_DRIVER_MEM"] = HEAP
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(local, 'tmp')} -Xms{HEAP} "
                "-XX:+AlwaysPreTouch -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
            # plan strings keep whole table paths, which the traced run
            # matches to tell bronze scans from others
            "spark.sql.maxMetadataStringLength": "1000",
        }

    def start(self):
        from python_vegindex_spark import session

        spark = session.get_spark(
            "perfbench", master=f"local[{self.cores}]", extra_conf=self.conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    @staticmethod
    def jvm_pid() -> int:
        """The driver JVM: the process pyspark started, which execs java."""
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self, spark) -> None:
        """Stop the session, then the JVM gateway, and wait for the JVM."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run(args, mods) -> int:
    host, tracer_mod, workloads = mods
    name_list = list(WORKLOAD_NAMES) if args.smoke else [args.workload]
    trace = bool(args.trace) or args.smoke
    size = workloads.SMOKE if args.smoke else workloads.FULL
    seconds = 0.0 if args.smoke else args.seconds
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    base = os.path.join(ROOT, ".perfbench_work")
    tag = "smoke" if args.smoke else args.workload
    work = os.path.join(base, f"run-{tag}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    tr = tracer_mod.Tracer(enabled=trace)
    if trace:
        tr.install()
        install_hooks(tr)
    sess = Session(work, cores)
    rss = host.RssSampler().start()
    spark = None
    code = 0
    reports, final_metrics = [], {}
    attempted = failed = 0
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        session_s = time.perf_counter() - t0
        engine_cpu = host.EngineCpu(sess.jvm_pid())
        session_cpu_s = engine_cpu.total()
        tr.enabled = False
        tr.bind(spark)
        for name in name_list:
            ctx = workloads.Context(
                spark=spark, tracer=tr, work=os.path.join(work, name), seed=args.seed,
                seconds=seconds, size=size, trace=trace, spark_conf=sess.conf,
                cores=cores, cpu=engine_cpu,
            )
            os.makedirs(ctx.work)
            cpu0, gc0 = host.cpu_times(), tr.gc_seconds()
            t_workload = time.perf_counter()
            ok = True
            try:
                workloads.WORKLOADS[name](ctx)
            except Exception:
                traceback.print_exc()
                ok = False
                ctx.failed += 1
                ctx.attempted += 1
            spark = ctx.spark
            ctx.phases["session"] = session_s
            ctx.phases["other"] = time.perf_counter() - t_workload - sum(
                v for k, v in ctx.phases.items() if k != "session")
            steal = host.steal_pct(cpu0, host.cpu_times())
            correct = ok and ctx.failed == 0 and all(c.ok for c in ctx.checks)
            attempted += ctx.attempted
            failed += ctx.failed
            setup_s = ctx.setup_s(session_cpu_s, cpu=True)
            rss.sample()
            e2e = dict(zip(E2E_METRICS, (
                (setup_s, "s"), (rss.peak_mb, "MB"),
                (ctx.median("main_s", cpu=True), "s"),
                (ctx.median("second_s", cpu=True), "s"),
            )))
            named = {
                "setup_s": (setup_s, "s"),
                "setup_wall_s": (ctx.setup_s(session_s), "s"),
                "failed_ops": (ctx.failed / max(1, ctx.attempted), "share"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
                **{k: v for k, v in e2e.items() if k.endswith("_cpu_s")},
                "main_s": (ctx.median("main_s"), "s"),
                "second_s": (ctx.median("second_s"), "s"),
                **ctx.results,
            }
            report = {
                "workload": name, "seed": args.seed, "trace": int(trace),
                "correct": correct,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                "inputs": ctx.inputs,
                "host": {
                    "steal_pct": steal, "jvm_gc_s": tr.gc_seconds() - gc0,
                    "master": f"local[{cores}]", "scratch": ctx.work,
                },
                "phases_s": ctx.phases,
                "setup_reps_s": ctx.setup_samples,
                "setup_reps_cpu_s": ctx.setup_cpu,
                "session_cpu_s": session_cpu_s,
                "rep_steal_pct": ctx.rep_steal,
                "samples_s": {k: [v for v, _ in vs] for k, vs in ctx.samples.items()},
                "cpu_samples_s": {k: [v for v, _ in vs]
                                  for k, vs in ctx.cpu_samples.items()},
                "checks": [vars(c) for c in ctx.checks],
            }
            if trace:
                tr.collect()
                layers = layer_metrics(ctx, tr, session_s, steal)
                report["layers"] = {k: {"value": v, "unit": u}
                                    for k, (v, u) in layers.items()}
                final_metrics = layers
            else:
                final_metrics = e2e
            reports.append(report)
            if not correct:
                code = 1
            if trace:
                spans_dir = os.path.join(base, "spans")
                os.makedirs(spans_dir, exist_ok=True)
                tr.write(os.path.join(spans_dir, f"{name}-s{args.seed}-{tr.run_id}.jsonl"))
                tr.spans.clear()
    except Exception:
        traceback.print_exc()
        code = 1
        failed += 1
        attempted += 1
    finally:
        tr.enabled = False
        tr.uninstall()
        try:
            sess.stop(spark)
        finally:
            rss.stop()
            shutil.rmtree(work, ignore_errors=True)

    for report in reports:
        print(json.dumps(report, default=str))
    if not reports:
        return code or 1
    metrics = {k: {"value": finite(v), "unit": u} for k, (v, u) in final_metrics.items()}
    if args.smoke:
        metrics = {}
        for report in reports:
            for k, v in report["metrics"].items():
                metrics[f"{report['workload']}.{k}"] = v
    correct = code == 0 and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # on SIGTERM unwind normally, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    mods = import_engine()
    if mods is None:
        return 2
    return run(args, mods)


if __name__ == "__main__":
    sys.exit(main())
