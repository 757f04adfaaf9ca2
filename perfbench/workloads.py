"""The benchmark's four workloads.

Each workload builds its inputs from the seed, warms up, measures its
operations for the run's time budget, then checks the outputs. It fills
``Context`` with timing samples, correctness checks and named results;
``run.py`` turns those into the printed metrics.

Every workload times two operations, ``main_s`` and ``second_s``, on a fixed
schedule: ``warmups`` repetitions, then ``min_iters`` measured ones (one
more when traced), and more until ``--seconds`` have passed. Each operation
records its wall time and its engine CPU time (``host.EngineCpu``: the
driver JVM's threads but its JIT compilers and collectors, plus the Python
workers). The gated metrics ``main_cpu_s`` and ``second_cpu_s`` are the
medians of the CPU samples; wall-time medians and throughputs are in the
report line. Wall time is not gated: on a shared 4-vCPU Xeon host the
per-tier rollup of ``rollup_full`` took 3.0 s with no CPU steal and 7.1 s
at 17-20% steal. Over sets of ten runs there (steal 1-23%), the
interquartile range of the main operation's wall time was 28-45% of its
median, that of its engine CPU 8-12%, since engine CPU leaves stolen time
out. JIT compilers are left out of it because a fresh JVM's compilers
spend more CPU in one rollup than the engine does, and how much depends
on the run. The schedule is fixed, not stretched while the host is
loaded, so every run measures the same repetitions of a JVM that is
still compiling: the first measured repetition costs up to 20% more CPU
than the third.

=====================  ===========================  ============================
workload               main_s                       second_s
=====================  ===========================  ============================
rollup_full            3-tier gold via per-tier     3-tier gold via fused
                       ``rollup``                   ``rollup_tiers``
nightly_incremental    one increment: incremental   one analyst read of gold
                       rollup + ``extend_chunks``   (``RollupStore.read_gold``)
retention_read         ``extend_chunks`` over all   ``read_tiered`` of three
                       closed history (encode)      ranges across the boundary
corpus_similarity      ``cosine_pairs``, dense      ``cosine_pairs``, postings
                       corpus                       corpus
=====================  ===========================  ============================

``BENCHMARK.json`` gates ``rollup_full`` and ``retention_read``. The other
two run by name and in ``--smoke``: on a 4-vCPU host one nightly increment
costs 7-20 s whatever its size, and a run of either does not fit the
per-run time the gated runs are allowed. A traced ``retention_read`` run
ends with a small ``cosine_pairs`` probe on each side of the dense/postings
gate (``terms_probe``), so ``operators.terms`` is measured on a gated
workload too.

Engine functions are called through their modules (``incremental.extend_chunks``
rather than a bare imported name) so that a traced run's wrappers see them.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from python_vegindex_spark import session
from python_vegindex_spark.config import RollupConfig
from python_vegindex_spark.operators import features, multitier, terms
from python_vegindex_spark.operators import rollup as rollup_mod
from python_vegindex_spark.sources import bronze, synth
from python_vegindex_spark.streaming import incremental

from . import host
from .tracer import Tracer

TIERS = ("hourly", "daily", "weekly")


@dataclass(frozen=True)
class Size:
    """Input sizes and repetition counts of one benchmark mode."""

    setup_reps: int
    warmups: int
    min_iters: int
    rollup_turns: int
    nightly_turns: int
    nightly_max_increments: int
    reads_per_gap: int
    retention_turns: int
    dense_docs: int
    postings_docs: int
    postings_vocab: int
    shared_docs: int
    probe_dense_docs: int
    probe_postings_docs: int
    span_days: int


FULL = Size(
    setup_reps=3, warmups=1, min_iters=3,
    rollup_turns=14_000,
    nightly_turns=10_000, nightly_max_increments=8, reads_per_gap=100,
    retention_turns=10_000,
    dense_docs=400, postings_docs=2000, postings_vocab=4000, shared_docs=100,
    probe_dense_docs=200, probe_postings_docs=1000, span_days=28,
)
SMOKE = Size(
    setup_reps=1, warmups=1, min_iters=1,
    rollup_turns=1_500,
    nightly_turns=2_400, nightly_max_increments=2, reads_per_gap=4,
    retention_turns=1_000,
    dense_docs=120, postings_docs=300, postings_vocab=800, shared_docs=80,
    probe_dense_docs=60, probe_postings_docs=150, span_days=14,
)


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Context:
    """State one workload run shares with the harness."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    size: Size
    trace: bool
    spark_conf: dict
    cores: int
    # engine CPU of the driver JVM; None where a test has no JVM
    cpu: host.EngineCpu | None = None
    # wall and engine CPU seconds of each set-up repetition
    setup_samples: list[float] = field(default_factory=list)
    setup_cpu: list[float] = field(default_factory=list)
    # name -> [(seconds, traced)], wall and engine CPU
    samples: dict[str, list[tuple[float, bool]]] = field(default_factory=dict)
    cpu_samples: dict[str, list[tuple[float, bool]]] = field(default_factory=dict)
    checks: list[Check] = field(default_factory=list)
    results: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    inputs: dict[str, int] = field(default_factory=dict)
    # wall seconds per phase of the run: set-up, warm-up, measure, checks
    phases: dict[str, float] = field(default_factory=dict)
    # CPU steal (%) of each measured repetition
    rep_steal: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    _traced_now: bool = False

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def iteration(self, i: int) -> Iterator[bool]:
        """One measured repetition. In a traced run every other repetition,
        starting with the first, is traced, so the untraced ones give the
        baseline for the tracing overhead. ``i < 0`` marks a warm-up."""
        self._traced_now = self.trace and i >= 0 and i % 2 == 0
        self.tracer.enabled = self._traced_now
        cpu0 = host.cpu_times()
        with self.phase("warmup" if i < 0 else "measure"):
            try:
                yield self._traced_now
            finally:
                self.tracer.enabled = False
                self._traced_now = False
                if i >= 0:
                    self.rep_steal.append(host.steal_pct(cpu0, host.cpu_times()))

    def timed(self, name: str, fn: Callable[[], object]):
        """Run one operation and keep its wall time and engine CPU time as
        samples of ``name``; count it as attempted and, if it raises, as
        failed."""
        self.attempted += 1
        snap = self.cpu.take() if self.cpu else None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            raise
        wall = time.perf_counter() - t0
        self.samples.setdefault(name, []).append((wall, self._traced_now))
        if snap is not None:
            self.cpu_samples.setdefault(name, []).append(
                (self.cpu.since(snap), self._traced_now))
        return out

    def clear_samples(self) -> None:
        """Drop the warm-up's samples."""
        self.samples.clear()
        self.cpu_samples.clear()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append(Check(name, bool(ok), detail))

    def result(self, name: str, value: float, unit: str) -> None:
        self.results[name] = (float(value), unit)

    def values(self, name: str, traced: bool | None = False,
               cpu: bool = False) -> list[float]:
        """Wall (or with ``cpu``, engine CPU) samples of ``name``;
        ``traced=None`` returns all of them."""
        return [
            v for v, t in (self.cpu_samples if cpu else self.samples).get(name, [])
            if traced is None or t == traced
        ]

    def median(self, name: str, cpu: bool = False) -> float:
        """Median of the untraced samples, or of all when every sample was
        traced (a smoke run)."""
        vals = (self.values(name, traced=False, cpu=cpu)
                or self.values(name, traced=None, cpu=cpu))
        return statistics.median(vals) if vals else float("nan")

    def setup(self, make: Callable[[], object],
              build: Callable[[object, str], None], name: str) -> tuple[object, str]:
        """Set the inputs up ``setup_reps`` times, each time generating the
        seeded tables with ``make`` (pinned in memory) and writing them
        with ``build`` into a fresh directory; each repetition is timed,
        in wall and engine CPU time. Returns the last repetition's tables
        and directory."""
        data, path = None, None
        for r in range(self.size.setup_reps):
            if path is not None:
                shutil.rmtree(path, ignore_errors=True)
            path = self.path(f"{name}_{r}")
            snap = self.cpu.take() if self.cpu else None
            t0 = time.perf_counter()
            with self.phase("setup"):
                data = make()
                build(data, path)
            self.setup_samples.append(time.perf_counter() - t0)
            if snap is not None:
                self.setup_cpu.append(self.cpu.since(snap))
        return data, path

    def setup_s(self, session_s: float, cpu: bool = False) -> float:
        """Set-up as a user pays it: session start plus the median cost of
        generating and writing the inputs, in wall or engine CPU seconds."""
        reps = self.setup_cpu if cpu else self.setup_samples
        return session_s + (statistics.median(reps) if reps else 0.0)

    @contextmanager
    def phase(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def keep_going(self, started: float, done: int) -> bool:
        """Measure ``min_iters`` repetitions, one more in a traced run so it
        has an untraced one too, then go on until ``seconds`` have passed."""
        if done < self.size.min_iters + self.trace:
            return True
        return time.perf_counter() - started < self.seconds


def same_rows(ctx: Context, name: str, got: DataFrame, want: DataFrame,
              keys: list[str], group: str | None = None,
              expect: tuple = ()) -> dict:
    """``got`` and ``want`` hold the same rows. Every column but the
    floating-point ones must match exactly, as multisets (exceptAll both
    ways); floating-point columns, matched on the unique ``keys``, may
    differ by 1e-12 relative, because two plans that sum the same values
    in another order differ in the last bit. Rows that are not
    bit-identical are counted in the check's detail. With ``group``, one
    check per value of that column found on either side and per value in
    ``expect``; a group that is empty, or present on one side only, fails.
    Returns the row count per check."""
    rtol = 1e-12
    got = got.select(*want.columns)
    floats = [f.name for f in want.schema.fields
              if isinstance(f.dataType, (T.DoubleType, T.FloatType))]
    exact = [c for c in want.columns if c not in floats]
    by = [F.col(group)] if group else []
    g, w = got.select(*exact), want.select(*exact)
    sides = {
        (r[group] if group else None, r["_side"]): r["count"]
        for r in g.exceptAll(w).withColumn("_side", F.lit("extra"))
        .unionByName(w.exceptAll(g).withColumn("_side", F.lit("missing")))
        .groupBy(*by, "_side").count().collect()
    }
    joined = got.alias("g").join(want.alias("w"), on=keys)
    same_bits, within = F.lit(True), F.lit(True)
    for c in floats:
        a, b = F.col(f"g.{c}"), F.col(f"w.{c}")
        bits = a.eqNullSafe(b) | (F.isnan(a) & F.isnan(b))
        same_bits = same_bits & bits
        within = within & (
            bits | (F.abs(a - b) <= F.lit(rtol) * F.greatest(F.abs(a), F.abs(b)))
        )
    flag = lambda c: F.sum((~F.coalesce(c, F.lit(False))).cast("int"))  # noqa: E731
    stats = {
        (r[group] if group else None): r
        for r in joined.groupBy(*by).agg(
            F.count(F.lit(1)).alias("n"), flag(within).alias("off"),
            flag(same_bits).alias("ulps"),
        ).collect()
    }
    labels = set(stats) | {k for k, _ in sides} | set(expect) if group else {None}
    counts = {}
    for key in sorted(labels, key=str):
        extra, missing = sides.get((key, "extra"), 0), sides.get((key, "missing"), 0)
        joined_n, off, ulps = (
            (stats[key]["n"], stats[key]["off"], stats[key]["ulps"])
            if key in stats else (0, 0, 0)
        )
        n = joined_n + missing
        label = f"{name}.{key}" if group else name
        ctx.check(label,
                  extra == 0 and missing == 0 and off == 0 and joined_n > 0,
                  f"rows={n} joined={joined_n} extra={extra} missing={missing} "
                  f"beyond_rtol={off} not_bit_identical={ulps}")
        counts[key] = n
    return counts


def day_partitions(path: str) -> int:
    return sum(1 for d in os.listdir(path) if d.startswith("ts_date="))


def ts_literal(us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


def sorted_ts_us(df: DataFrame) -> np.ndarray:
    rows = df.select(F.unix_micros("ts").alias("u")).collect()
    return np.sort(np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows)))


SYNTH_START = "2023-11-15 00:00:00"
# synth_turns makes a conversation hot (~50x the turns, 600 to 1800) with
# probability HOT_SHARE, otherwise cold (~26 turns on average, exponential),
# so the number of hot conversations and the table size vary by seed. A run
# keeps the generator's conversation mix but fixes its shape: per
# TURNS_PER_HOT turns, one hot conversation cut to its first HOT_LEN turns
# (the generator's shortest hot length), the rest cold conversations in
# conv_id order, the last one cut so the table has exactly the turns asked
# for. Seeds then vary content, not size or skew. The conversations are
# drawn from a pool with POOL times the hot conversations needed.
HOT_SHARE = 0.01
HOT_LEN = 600
COLD_MEAN = 26
COLD_MAX = 400
TURNS_PER_HOT = HOT_LEN + round((1 / HOT_SHARE - 1) * COLD_MEAN)
POOL = 4


def pin(df: DataFrame) -> DataFrame:
    """Compute a generated table once and keep it in memory."""
    return df.localCheckpoint(eager=True)


def bronze_turns(ctx: Context, n_turns: int) -> DataFrame:
    """Exactly ``n_turns`` seeded turns over ``span_days`` days, with
    ``HOT_SHARE`` of the conversations hot (see ``TURNS_PER_HOT``).
    Conversations start in the first half of the window; turns past it are
    cut, so the bronze table has one day partition per window day. One
    Spark partition per day makes ``write_turns`` lay out one file per day
    directory, as a daily ingest would."""
    span = ctx.size.span_days
    end = (dt.datetime.fromisoformat(SYNTH_START) + dt.timedelta(days=span)).isoformat(" ")
    n_hot = max(1, round(n_turns / TURNS_PER_HOT))
    pool = synth.synth_turns(
        ctx.spark, n_convs=round(POOL * n_hot / HOT_SHARE), seed=ctx.seed,
        start=SYNTH_START, span_days=span // 2,
    ).filter(F.col("ts") < F.lit(end).cast("timestamp"))
    pool = pool.withColumn("rank", F.row_number().over(
        Window.partitionBy("conv_id").orderBy("ts", "turn_idx")))
    sizes = pool.groupBy("conv_id").agg(F.max("rank").alias("n"))
    hot = sizes.filter(F.col("n") >= HOT_LEN).orderBy("conv_id").limit(n_hot).select(
        "conv_id", F.lit(HOT_LEN).alias("cap"))
    cold_turns = n_turns - n_hot * HOT_LEN
    before = F.coalesce(F.sum("n").over(
        Window.orderBy("conv_id").rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    cold = (sizes.filter(F.col("n") <= COLD_MAX).withColumn("before", before)
            .filter(F.col("before") < cold_turns)
            .select("conv_id", (F.lit(cold_turns) - F.col("before")).alias("cap")))
    keep = hot.unionByName(cold)
    turns = pool.join(F.broadcast(keep), on="conv_id").filter(
        F.col("rank") <= F.col("cap")).drop("rank", "cap")
    return turns.repartition(F.to_date("ts"))


def tiers_union(golds: dict[str, DataFrame]) -> DataFrame:
    """Single-tier gold tables in ``rollup_tiers``' layout: a ``tier``
    column, timestamp buckets and a NULL ``hour`` for the day tiers."""
    out = None
    for tier, df in golds.items():
        df = df.withColumn("tier", F.lit(tier))
        if tier != "hourly":
            df = (df.withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
                  .withColumn("bucket_center", F.col("bucket_center").cast("timestamp"))
                  .withColumn("hour", F.lit(None).cast("int")))
        out = df if out is None else out.unionByName(df)
    return out


def record_turn_inputs(ctx: Context, turns: DataFrame, path: str) -> int:
    """Turn, day-partition, conversation and hot-conversation counts."""
    hot = F.col("count") > COLD_MAX
    r = turns.groupBy("conv_id").count().agg(
        F.sum("count"), F.count(F.lit(1)), F.sum(hot.cast("int")),
        F.sum(F.when(hot, F.col("count")).otherwise(0)),
    ).collect()[0]
    ctx.inputs.update(
        turns=r[0], day_partitions=day_partitions(path), conversations=r[1],
        hot_conversations=r[2], hot_turns=r[3],
    )
    return r[0]


# ---------------------------------------------------------------------------
# rollup_full
# ---------------------------------------------------------------------------

def _rebuild(ctx: Context, bronze_path: str, cfgs: list[RollupConfig],
             silver: bool = True) -> None:
    """One nightly rebuild: silver (unless ``silver`` is false and the last
    rebuild's silver is read again), then three gold tiers per tier and
    fused."""
    spark, tr = ctx.spark, ctx.tracer
    silver_path = ctx.path("silver")

    def write_silver() -> None:
        with tr.span("silver.write", "operators.features"):
            features.turn_features_physical(
                bronze.read_turns(spark, bronze_path)
            ).write.mode("overwrite").parquet(silver_path)

    if silver:
        ctx.timed("silver_s", write_silver)
    feats = features.derive_features(spark.read.parquet(silver_path))

    def per_tier() -> None:
        for cfg in cfgs:
            with tr.span("gold.write", "rollup", tier=cfg.tier, path="per_tier"):
                rollup_mod.rollup(feats, cfg).write.mode("overwrite").parquet(
                    ctx.path(f"gold_{cfg.tier}")
                )

    def fused() -> None:
        with tr.span("gold.write", "rollup", path="fused"):
            multitier.rollup_tiers(feats, cfgs).write.mode("overwrite").partitionBy(
                "tier"
            ).parquet(ctx.path("gold_fused"))

    ctx.timed("main_s", per_tier)
    ctx.timed("second_s", fused)


def rollup_full(ctx: Context) -> None:
    turns, path = ctx.setup(
        lambda: pin(bronze_turns(ctx, ctx.size.rollup_turns)),
        synth.write_turns, "bronze")
    n_turns = record_turn_inputs(ctx, turns, path)
    cfgs = [RollupConfig(tier=t, nmin=2) for t in TIERS]

    # a fresh JVM keeps compiling for several rebuilds; warm up on the
    # real inputs
    for _ in range(ctx.size.warmups):
        with ctx.iteration(-1):
            _rebuild(ctx, path, cfgs)
    ctx.clear_samples()
    # silver is written again only in the first measured rebuild: it is
    # not gated, and leaving it out of the others buys one more repetition
    # of the gated gold writes within the run's time
    started, i = time.perf_counter(), 0
    while ctx.keep_going(started, i):
        with ctx.iteration(i):
            _rebuild(ctx, path, cfgs, silver=i == 0)
        i += 1

    spark = ctx.spark
    per_tier = tiers_union(
        {c.tier: spark.read.parquet(ctx.path(f"gold_{c.tier}")) for c in cfgs})
    fused = spark.read.parquet(ctx.path("gold_fused"))
    same_rows(ctx, "fused_equals_per_tier", fused, per_tier,
              ["tier", "conv_id", "bucket_start"], group="tier", expect=TIERS)
    if ctx.trace:
        # each path's rows as that path wrote them
        fused_rows = dict(fused.groupBy("tier").count().collect())
        for cfg in cfgs:
            ctx.layer[f"rollup.rows_out.per_tier.{cfg.tier}"] = spark.read.parquet(
                ctx.path(f"gold_{cfg.tier}")).count()
            ctx.layer[f"rollup.rows_out.fused.{cfg.tier}"] = fused_rows.get(cfg.tier, 0)

    work = 3.0 * n_turns
    ctx.result("rollup_turns_per_s", work / ctx.median("main_s"), "tier-turns/s")
    ctx.result("fused_turns_per_s", work / ctx.median("second_s"), "tier-turns/s")
    ctx.result("silver_s", ctx.median("silver_s"), "s")

    if ctx.trace:
        _scaling_pair(ctx, path, cfgs, work)


def _scaling_pair(ctx: Context, path: str, cfgs: list[RollupConfig], work: float) -> None:
    """Informational: the per-tier rollup at local[1] against local[N].
    Efficiency = thr(N) / (N * thr(1)). The session is restarted at one
    core for it, in the same JVM, and then at N cores again."""
    thr_n = work / statistics.median(ctx.values("main_s", traced=None))

    def restart(cores: int) -> None:
        ctx.tracer.collect()
        ctx.spark.stop()
        ctx.spark = session.get_spark(
            "perfbench", master=f"local[{cores}]", extra_conf=ctx.spark_conf
        )
        ctx.tracer.bind(ctx.spark)

    restart(1)
    saved = ctx.samples, ctx.cpu_samples
    ctx.samples, ctx.cpu_samples = {}, {}
    try:
        with ctx.iteration(-1):
            _rebuild(ctx, path, cfgs)
        ctx.clear_samples()
        with ctx.iteration(-1):
            _rebuild(ctx, path, cfgs)
        thr_1 = work / statistics.median(ctx.values("main_s", traced=False))
    finally:
        ctx.samples, ctx.cpu_samples = saved
        restart(ctx.cores)
    ctx.layer["scaling.local1_turns_per_s"] = thr_1
    ctx.layer["scaling.localN_turns_per_s"] = thr_n
    ctx.layer["scaling.efficiency"] = thr_n / (ctx.cores * thr_1)


# ---------------------------------------------------------------------------
# nightly_incremental
# ---------------------------------------------------------------------------

def nightly_incremental(ctx: Context) -> None:
    spark, size = ctx.spark, ctx.size
    # the initial load takes half of the turns; each increment then an equal
    # share. Cuts sit at ts quantiles: the synthetic tail is sparse, so
    # calendar-day cuts would ingest a handful of rows
    k = size.nightly_max_increments
    shares = [0.5 + 0.45 * j / k for j in range(k + 1)]

    def make() -> tuple[DataFrame, np.ndarray]:
        t = pin(bronze_turns(ctx, size.nightly_turns))
        return t, sorted_ts_us(t)

    def first_slice(t: DataFrame, ts: np.ndarray) -> DataFrame:
        cut = ts_literal(ts[int(shares[0] * len(ts)) - 1])
        return t.filter(F.col("ts") <= F.lit(cut).cast("timestamp"))

    (turns, ts), path = ctx.setup(
        make, lambda data, p: synth.write_turns(first_slice(*data), p), "bronze")
    n = len(ts)
    cuts = [ts_literal(ts[int(q * n) - 1]) for q in shares]
    first = first_slice(turns, ts)
    record_turn_inputs(ctx, turns, path)
    conv_ids = sorted(r[0] for r in first.select("conv_id").distinct().collect())

    store = incremental.RollupStore(ctx.path("store"))
    chunks = ctx.path("chunks")
    cfgs = [RollupConfig(tier=t, nmin=2) for t in TIERS]
    rng = random.Random(ctx.seed)

    def maintain(through: str) -> dict:
        m = incremental.incremental_rollup_tiers(
            spark, bronze.read_turns(spark, path), store, cfgs
        )
        incremental.extend_chunks(spark, path, chunks, through=through)
        return m

    # the initial load doubles as the warm-up
    with ctx.iteration(-1):
        m0 = ctx.timed("initial_load_s", lambda: maintain(cuts[0][:10]))
    ctx.check("initial_load.rows_in", m0["rows_in"] > 0, str(m0["rows_in"]))
    ctx.result("initial_load_s", ctx.values("initial_load_s")[0], "s")
    lo_us = int(ts[0])

    def read_series() -> None:
        c = rng.choice(conv_ids)
        with ctx.tracer.span("gold.read", "sources.tableio", kind="series"):
            store.read_gold(spark, "daily").filter(F.col("conv_id") == c).orderBy(
                "bucket_start"
            ).collect()

    def read_week(hi_us: int) -> None:
        week = 7 * 86_400_000_000
        start = rng.randrange(lo_us, max(lo_us + 1, hi_us - week))
        lo, hi = ts_literal(start), ts_literal(start + week)
        with ctx.tracer.span("gold.read", "sources.tableio", kind="week"):
            store.read_gold(spark, "hourly").filter(
                (F.col("bucket_start") >= F.lit(lo).cast("timestamp"))
                & (F.col("bucket_start") < F.lit(hi).cast("timestamp"))
            ).collect()

    rows_in = []
    started, i = time.perf_counter(), 0
    while i < k and ctx.keep_going(started, i):
        cut_lo, cut_hi = cuts[i], cuts[i + 1]
        # arrival of the next share of turns: the upstream's write, not timed
        synth.write_turns(
            turns.filter(
                (F.col("ts") > F.lit(cut_lo).cast("timestamp"))
                & (F.col("ts") <= F.lit(cut_hi).cast("timestamp"))
            ),
            path,
            mode="append",
        )
        with ctx.iteration(i):
            m = ctx.timed("main_s", lambda: maintain(cut_hi[:10]))
            rows_in.append(m["rows_in"])
            ctx.check(f"increment_{i}.rows_in", m["rows_in"] > 0, str(m["rows_in"]))
            hi_us = int(ts[int(shares[i + 1] * n) - 1])
            for j in range(size.reads_per_gap):
                # three one-conversation series reads per week range scan
                if j % 4 == 3:
                    ctx.timed("second_s", lambda: read_week(hi_us))
                else:
                    ctx.timed("second_s", read_series)
        i += 1

    feats = features.turn_features(bronze.read_turns(spark, path))
    same_rows(
        ctx, "incremental_equals_full",
        tiers_union({c.tier: store.read_gold(spark, c.tier) for c in cfgs}),
        tiers_union({c.tier: rollup_mod.rollup(feats, c) for c in cfgs}),
        ["tier", "conv_id", "bucket_start"], group="tier", expect=TIERS,
    )

    with ctx.iteration(0):
        before = store.read_gold(spark, "hourly").count()
        rep = ctx.timed(
            "gold_retention_s",
            lambda: incremental.compact_gold_retention(
                spark, store, "hourly", "daily", older_than=cuts[0][:10]
            ),
        )
    after = store.read_gold(spark, "hourly").count()
    ctx.check(
        "gold_retention.verified",
        rep["kept_unverified"] == 0 and before - after == rep["dropped_rows"],
        str(rep),
    )

    reads = ctx.values("second_s", traced=False) or ctx.values("second_s", None)
    ctx.result("increment_s", ctx.median("main_s"), "s")
    ctx.result("increments", len(ctx.values("main_s", traced=None)), "count")
    ctx.result("gold_read_ms", 1000 * statistics.median(reads), "ms")
    ctx.result(
        "gold_read_ms_p90", 1000 * statistics.quantiles(reads, n=10)[-1]
        if len(reads) > 1 else 1000 * reads[0], "ms",
    )
    ctx.result("gold_reads", len(reads), "count")
    ctx.result("gold_retention_s", ctx.values("gold_retention_s", None)[0], "s")
    ctx.result("rows_in_per_increment", statistics.median(rows_in), "turns")


# ---------------------------------------------------------------------------
# retention_read
# ---------------------------------------------------------------------------

def retention_read(ctx: Context) -> None:
    spark = ctx.spark
    turns, master = ctx.setup(
        lambda: pin(bronze_turns(ctx, ctx.size.retention_turns)),
        synth.write_turns, "bronze_master")
    n = record_turn_inputs(ctx, turns, master)
    raw = spark.read.parquet(master).select(
        F.unix_micros("ts").alias("u"), F.length("text").alias("v")
    ).collect()
    order = np.argsort(np.fromiter((r[0] for r in raw), dtype=np.int64, count=n))
    ts = np.fromiter((raw[j][0] for j in order), dtype=np.int64, count=n)
    val = np.fromiter((raw[j][1] for j in order), dtype=np.int64, count=n)

    # the retention boundary is a day; old days are read from chunks after
    # compaction, newer days from bronze
    horizon = ts_literal(ts[int(0.6 * n)])[:10]
    h_us = int((dt.datetime.fromisoformat(horizon) - dt.datetime(1970, 1, 1))
               / dt.timedelta(microseconds=1))
    b = int(np.searchsorted(ts, h_us))
    last_day = ts_literal(ts[-1])[:10]
    ranges = []
    for share in (0.001, 0.01, 0.1):
        half = max(1, int(share * n / 2))
        i0, i1 = max(0, b - half), min(n - 1, b + half)
        lo, hi = int(ts[i0]), int(ts[i1])
        sel = (ts >= lo) & (ts < hi)
        ranges.append((share, ts_literal(lo), ts_literal(hi),
                       int(sel.sum()), int(val[sel].sum())))

    def rep(i: int) -> str:
        """One repetition; ``i < 0`` is a warm-up."""
        # a fresh bronze copy per repetition, since compaction deletes days;
        # copying is set-up, outside the timings
        t0 = time.perf_counter()
        path, chunks_path = ctx.path(f"bronze_{i + 1}"), ctx.path(f"chunks_{i + 1}")
        shutil.copytree(master, path)
        ctx.samples.setdefault("copy_s", []).append((time.perf_counter() - t0, False))
        with ctx.iteration(i) as traced:
            ext = ctx.timed(
                "main_s",
                lambda: incremental.extend_chunks(spark, path, chunks_path, through=last_day),
            )
            points = ext["points_encoded"]
            ctx.samples.setdefault("points", []).append((points, traced))
            ctx.check(f"extend_chunks_{i}.points", points > 0, str(points))
            chunks = spark.read.parquet(chunks_path)
            kept = ctx.timed(
                "compact_s",
                lambda: incremental.compact_retention(spark, path, chunks, older_than=horizon),
            )
            ctx.check(f"compact_retention_{i}.verified",
                      not kept["kept_unverified"] and bool(kept["dropped_days"]),
                      f"dropped={len(kept['dropped_days'])} kept={kept['kept_unverified']}")
            for share, lo, hi, want_n, want_sum in ranges:
                def read():
                    with ctx.tracer.span("tiered.read", "streaming.incremental",
                                         share=share):
                        return incremental.read_tiered(
                            spark, path, chunks, horizon, ts_min=lo, ts_max=hi
                        ).agg(F.count("*"), F.sum("value")).collect()[0]

                got = ctx.timed("read_s", read)
                ctx.check(f"read_tiered_{i}.{share}",
                          got[0] == want_n and (got[1] or 0) == want_sum,
                          f"got=({got[0]}, {got[1]}) want=({want_n}, {want_sum})")
            # second_s: the three reads together
            for samples in (ctx.samples, ctx.cpu_samples):
                reads = samples.get("read_s", [])[-len(ranges):]
                if reads:
                    samples.setdefault("second_s", []).append(
                        (sum(v for v, _ in reads), traced))
        shutil.rmtree(path, ignore_errors=True)
        return chunks_path

    # warm-up: starts the Python workers and lets the JVM compile
    for _ in range(ctx.size.warmups):
        shutil.rmtree(rep(-1), ignore_errors=True)
    ctx.clear_samples()
    started, i = time.perf_counter(), 0
    while ctx.keep_going(started, i):
        if i:
            shutil.rmtree(last_chunks, ignore_errors=True)
        last_chunks = rep(i)
        i += 1

    stats = spark.read.parquet(last_chunks).agg(
        F.sum(F.length("ts_chunk") + F.length("val_chunk")), F.sum("n_points")
    ).collect()[0]
    bpp = stats[0] / stats[1]
    ctx.layer["codecs.bytes_per_point"] = bpp
    reads = ctx.values("read_s", traced=False) or ctx.values("read_s", None)
    points = ctx.values("points", traced=None)[0]
    ctx.result("encode_points_per_s", points / ctx.median("main_s"), "points/s")
    ctx.result("tiered_read_ms", 1000 * statistics.median(reads), "ms")
    ctx.result(
        "tiered_read_ms_p90", 1000 * statistics.quantiles(reads, n=10)[-1]
        if len(reads) > 1 else 1000 * reads[0], "ms",
    )
    ctx.result("tiered_reads", len(reads), "count")
    ctx.result("bytes_per_point", bpp, "B")
    ctx.result("compact_s", ctx.median("compact_s"), "s")
    ctx.result("copy_s", statistics.median(ctx.values("copy_s")), "s")
    if ctx.trace:
        terms_probe(ctx)


# ---------------------------------------------------------------------------
# corpus_similarity
# ---------------------------------------------------------------------------

def large_vocab_documents(spark, n_docs: int, seed: int, vocab: int,
                          words: int = 30) -> DataFrame:
    """Documents over a ``vocab``-term vocabulary, far past the dense gate's
    256 terms, so ``cosine_pairs`` takes the postings plan. Terms are drawn
    uniformly (per-term document frequency stays near
    ``n_docs * words / vocab``), and one document in ten copies its
    predecessor's text so the corpus has pairs above any ``min_cos``."""
    d = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    u = (F.pmod(F.xxhash64(F.lit(seed), "doc_id", F.lit("dup")), F.lit(1000)) + 0.5) / 1000
    key = F.when((u < 0.1) & (F.col("doc_id") > 0), F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    d = d.select("doc_id", key.alias("k"))
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(words)),
            lambda i: F.concat(
                F.lit("t"),
                F.pmod(F.xxhash64(F.lit(seed), F.col("k"), i), F.lit(vocab)).cast("string"),
            ),
        ),
        " ",
    )
    return d.select("doc_id", text.alias("text"))


COSINE_MIN = 0.9


def regime(df: DataFrame) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "dense" if "BroadcastNestedLoopJoin" in plan else "postings"


def make_corpora(ctx: Context, dense_docs: int, postings_docs: int) -> dict[str, DataFrame]:
    """The two seeded corpora, one on each side of ``cosine_pairs``' gate:
    ``synth_documents`` (31-word vocabulary, dense plan) and a
    large-vocabulary corpus (postings plan)."""
    return {
        "dense": pin(synth.synth_documents(
            ctx.spark, n_docs=dense_docs, seed=ctx.seed).select("doc_id", "text")),
        "postings": pin(large_vocab_documents(
            ctx.spark, postings_docs, ctx.seed, ctx.size.postings_vocab)),
    }


def cosine_round(ctx: Context, corpora: dict[str, DataFrame], metrics: dict[str, str],
                 pairs: dict[str, int], plans: dict[str, DataFrame]) -> None:
    """``cosine_pairs`` on each corpus, counted; the time of corpus ``c``
    is a sample of ``metrics[c]``."""
    for name, metric in metrics.items():
        def cos(name=name):
            with ctx.tracer.span("cosine.count", "operators.terms", corpus=name):
                plans[name] = terms.cosine_pairs(corpora[name], min_cos=COSINE_MIN)
                return plans[name].count()

        pairs[name] = ctx.timed(metric, cos)


def record_terms(ctx: Context, pairs: dict[str, int], plans: dict[str, DataFrame]) -> None:
    """Pair counts, and per corpus a flag that is 1 when the gate chose the
    plan the corpus is named for, read from its executed plan."""
    ctx.check("cosine.pairs_found", pairs["dense"] > 0 and pairs["postings"] > 0,
              str(pairs))
    for name in ("dense", "postings"):
        flag = float(regime(plans[name]) == name)
        ctx.layer[f"terms.regime.{name}_corpus"] = flag
        ctx.result(f"expected_plan.{name}_corpus", flag, "flag")
    ctx.layer["terms.pairs_out"] = float(pairs["dense"] + pairs["postings"])
    ctx.result("dense_pairs", pairs["dense"], "count")
    ctx.result("postings_pairs", pairs["postings"], "count")


def corpus_similarity(ctx: Context) -> None:
    spark, size = ctx.spark, ctx.size

    def build(corpora: dict[str, DataFrame], p: str) -> None:
        for name, df in corpora.items():
            df.write.mode("overwrite").parquet(f"{p}/{name}")

    _, path = ctx.setup(
        lambda: make_corpora(ctx, size.dense_docs, size.postings_docs), build, "docs")
    corpora = {name: spark.read.parquet(f"{path}/{name}") for name in ("dense", "postings")}
    ctx.inputs["documents"] = sum(df.count() for df in corpora.values())
    query = ["stream", "vector", "shuffle"]
    pairs: dict[str, int] = {}
    plans: dict[str, DataFrame] = {}

    def one(i: int) -> None:
        with ctx.iteration(i):
            cosine_round(ctx, corpora, {"dense": "main_s", "postings": "second_s"},
                         pairs, plans)

            def search():
                with ctx.tracer.span("bm25.collect", "operators.terms"):
                    return terms.bm25_search(corpora["dense"], query, k=10).collect()

            hits = ctx.timed("bm25_s", search)
            if i >= 0:
                ctx.check(f"bm25_{i}.k", len(hits) == 10, str(len(hits)))

    one(-1)
    ctx.clear_samples()
    started, i = time.perf_counter(), 0
    while ctx.keep_going(started, i):
        one(i)
        i += 1

    shared = pin(synth.synth_documents(
        spark, n_docs=size.shared_docs, seed=ctx.seed + 1).select("doc_id", "text"))
    by_gate = terms.cosine_pairs(shared, min_cos=0.5)
    forced = terms.cosine_pairs(shared, min_cos=0.5, dense_vocab_max=0)
    ctx.check("cosine.shared_corpus_regimes",
              regime(by_gate) == "dense" and regime(forced) == "postings",
              f"{regime(by_gate)}/{regime(forced)}")
    same_rows(ctx, "cosine.dense_equals_postings", by_gate, forced, ["id_a", "id_b"])

    record_terms(ctx, pairs, plans)
    ctx.result("cosine_dense_s", ctx.median("main_s"), "s")
    ctx.result("cosine_postings_s", ctx.median("second_s"), "s")
    ctx.result("bm25_s", ctx.median("bm25_s"), "s")


def terms_probe(ctx: Context) -> None:
    """``cosine_pairs`` on a small corpus on each side of the gate, once
    warm and once traced, so a traced run of a gated workload also
    measures ``operators.terms``. Its inputs are not set-up: they are made
    after the workload's own measurement."""
    size = ctx.size
    corpora = make_corpora(ctx, size.probe_dense_docs, size.probe_postings_docs)
    ctx.inputs["documents"] = size.probe_dense_docs + size.probe_postings_docs
    pairs: dict[str, int] = {}
    plans: dict[str, DataFrame] = {}
    metrics = {"dense": "probe_dense_s", "postings": "probe_postings_s"}
    for i in (-1, 0):
        with ctx.iteration(i):
            cosine_round(ctx, corpora, metrics, pairs, plans)
    record_terms(ctx, pairs, plans)
    for name, metric in metrics.items():
        ctx.result(f"probe_cosine_{name}_s", ctx.values(metric, traced=True)[-1], "s")


WORKLOADS: dict[str, Callable[[Context], None]] = {
    "rollup_full": rollup_full,
    "nightly_incremental": nightly_incremental,
    "retention_read": retention_read,
    "corpus_similarity": corpus_similarity,
}
