"""The benchmark's closed-loop workloads: one client, one Spark session.

Each workload sets up (session start, input generation, warm-up), then times
passes for ``--seconds`` (see ``Run.loop``), then checks outputs.
With tracing on, passes alternate untraced and traced, so the run measures
its own tracing overhead and compares outputs across both modes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import inputs
from checks import conservation_failures, oracle_mismatches, oracle_results, table_digest
from tracing import FULL_LAYERS, Tracer, counters_for, layer_names, median_counters, unit_of

from olympian_spark.plans.pipeline import QcParams, build_tiers
from olympian_spark.session import get_spark

QC = QcParams(dip_high=60.0, dip_max=1800.0)
TIERS = ("tier_1m", "tier_1h", "tier_1d")
SUITE_QUERIES = (
    "q03_step_flags", "q06_spine_gapfill_hourly", "q07_locf_hourly",
    "q08_rollup_1m", "q09_rollup_1h_from_1m_partials",
    "q13_qc_filtered_rollup_1h", "q15_top_gaps", "q16_sessionize",
    "q19_salted_agg_equivalence", "q24_gorilla_roundtrip",
)
SQL_LAYERS = tuple("sql." + q[:3] for q in SUITE_QUERIES)
# About how long a warm timed pass of each workload takes on a 4-vCPU
# machine (see Run.loop).
SUITE_PASS_S = 7.0
# Each timed suite pass runs the queries this many times: a query takes
# 0.2-0.7 s, so one round gives few, short samples that bursts of host load
# move a lot.
QUERY_ROUNDS = 2
SKEW_PASS_S = 18.0
REFRESH_PASS_S = 6.0

# pipeline_2m: 2M generated turns, one conversation holding 20% of them.
SKEW_TURNS = 2_000_000
SKEW_CONVS = 1_000
SKEW_FILES = 8
# refresh_daily: a 120-day history of which days 0..REFRESH_DAY are
# committed in set-up by a full refresh; every pass refreshes REFRESH_DAY
# incrementally into a fresh copy of that catalog. One day per pass keeps a
# run inside the time the benchmark has per run.
REFRESH_TURNS = 2_000_000
REFRESH_CONVS = 20_000
REFRESH_SPAN_DAYS = 120
REFRESH_DAY = 20


@dataclass
class Pass:
    id: int
    traced: bool
    wall_s: float
    pipeline_s: float
    op_rounds: list[list[float]]  # latencies of the pass's operations, by round
    persisted_after: int
    digest: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class Run:
    """State of one benchmark run: session, tracer, passes and check tally."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.tracer = Tracer()
        self.passes: list[Pass] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.props: dict = {}
        self.turns_per_pass = 0
        self.t_start = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=len(os.sched_getaffinity(0)))
        self.session_s = time.perf_counter() - self.t_start
        self.tracer.attach(self.spark)
        self.setup_s = 0.0

    def execute(self, workload) -> None:
        """Run a workload function: set-up, timed passes, output checks."""
        workload(self)
        self.checks_s = time.perf_counter() - self.loop_end

    def fail(self, what: str, failures: list[str]) -> None:
        """Count one failed operation when its output check found failures."""
        if failures:
            self.failed += 1
            self.failures.extend(f"{what}: {f}" for f in failures)

    def check(self, what: str, failures: list[str]) -> None:
        """A check that is an operation of its own."""
        self.attempted += 1
        self.fail(what, failures)

    def persisted(self) -> int:
        return self.spark._jsc.getPersistentRDDs().size()

    def warm_up(self, one_pass) -> None:
        self.passes.append(one_pass(-1, False))
        self.end_setup()

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def loop(self, one_pass, pass_s: float) -> None:
        """Timed passes: ``--seconds / pass_s`` of them, rounded, at least
        one, where ``pass_s`` is about how long a warm pass of the workload
        takes on a 4-vCPU machine. The count depends only on ``--seconds``,
        not on how fast this run happens to go: passes keep getting faster
        for several passes as the JVM compiles hot code, so a run that fitted
        in one more pass would report a lower median. A traced run times at
        least three, and an odd number, so that it starts and ends on an
        untraced pass and each traced pass has an untraced one on either
        side to compare with."""
        n = max(1, round(self.seconds / pass_s))
        if self.trace:
            n = max(3, n | 1)
        for i in range(n):
            traced = self.trace and i % 2 == 1
            self.tracer.enabled, self.tracer.pass_id = traced, i
            try:
                p = one_pass(i, traced)
            finally:
                self.tracer.enabled = False
            if traced:
                p.layers = self.tracer.layer_counters(i)
            self.passes.append(p)
        self.loop_end = time.perf_counter()

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------- results
    def end_to_end(self) -> tuple[dict, dict]:
        timed = [p for p in self.passes if p.id >= 0 and not p.traced]
        wall = statistics.median(p.wall_s for p in timed)
        lat = [x for p in timed for r in p.op_rounds for x in r]
        # the tail is taken per round of operations, so its percentile does
        # not depend on the number of passes or rounds
        tails = [tail_of(sorted(r)) for p in timed for r in p.op_rounds]
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (wall, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (statistics.median(t for t, _ in tails), "s"),
        }
        notes = {"turns_per_s": round(self.turns_per_pass / wall, 1),
                 "passes": len(timed), "op_samples": len(lat),
                 "op_tail_percentile_per_round": tails[0][1],
                 "session_s": round(self.session_s, 3),
                 "checks_s": round(self.checks_s, 3),
                 "pass_wall_s": [round(p.wall_s, 3) for p in self.passes],
                 "pass_pipeline_s": [round(p.pipeline_s, 3) for p in self.passes]}
        return metrics, notes

    def per_layer(self, peak_rss_mb: float) -> dict:
        """Layer counters (median over traced passes; zero for a layer the
        workload never calls; a ``sql.*`` layer sums the QUERY_ROUNDS calls
        of its query in a pass) and these run-level counters:

        - process.peak_rss_mb: peak RSS of the process tree;
        - pipeline.persisted_rdds_after: RDDs still cached after a pass,
          before the benchmark unpersists what build_tiers returned;
        - catalog.commit.files / .bytes: parquet files and bytes the commits
          of a pass wrote; .stored_bytes_per_turn: catalog bytes on disk per
          committed input turn;
        - catalog.read.partitions_scanned_ratio: partitions a pruned read
          scans over the table's live partitions;
        - refresh.recomputed_turns_per_new_turn: rows refresh_tiers feeds to
          build_tiers per new turn;
        - trace.overhead_ratio: a traced pass's wall time over the mean of
          the untraced passes either side of it;
        - trace.pipeline_s / .pipeline_layers_s: a traced pass's pipeline
          time, and the sum of the pipeline.* wall_s it should match (less
          the transcripts layer).
        """
        traced = [p for p in self.passes if p.traced]
        med = median_counters([p.layers for p in traced])
        med["session"] = self.tracer.session_counters(self.session_s)
        metrics = {}
        for layer in layer_names(SQL_LAYERS):
            for c in counters_for(layer):
                metrics[f"{layer}.{c}"] = (med.get(layer, {}).get(c, 0.0), unit_of(c))
        walls = {p.id: p.wall_s for p in self.passes}

        def med_extra(key):
            return statistics.median(p.extra.get(key, 0.0) for p in traced)

        metrics.update({
            "process.peak_rss_mb": (peak_rss_mb, "MB"),
            "pipeline.persisted_rdds_after": (
                statistics.median(p.persisted_after for p in self.passes), "count"),
            "catalog.commit.files": (med_extra("commit_files"), "count"),
            "catalog.commit.bytes": (med_extra("commit_bytes"), "B"),
            "catalog.commit.stored_bytes_per_turn": (med_extra("stored_bytes_per_turn"), "B"),
            "catalog.read.partitions_scanned_ratio": (med_extra("scanned_ratio"), "ratio"),
            "refresh.recomputed_turns_per_new_turn": (med_extra("recomputed_per_new"), "ratio"),
            "trace.overhead_ratio": (statistics.median(
                p.wall_s / statistics.mean((walls[p.id - 1], walls[p.id + 1]))
                for p in traced), "ratio"),
            "trace.pipeline_s": (statistics.median(p.pipeline_s for p in traced), "s"),
            "trace.pipeline_layers_s": (
                sum(metrics[f"{name}.wall_s"][0] for name in FULL_LAYERS
                    if name.startswith("pipeline.")), "s"),
        })
        return metrics


def tail_of(sorted_values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and that
    percentile; with ten samples or fewer, the maximum (percentile 100)."""
    n = len(sorted_values)
    if n <= 10:
        return sorted_values[-1], 100.0
    return sorted_values[n - 11], round(100.0 * (n - 10) / n, 1)


def _release(run: Run, tiers: dict) -> int:
    """Record how many RDDs the pass left cached, then unpersist every
    DataFrame ``build_tiers`` returned."""
    from pyspark.sql import DataFrame

    n = run.persisted()
    for v in tiers.values():
        if isinstance(v, DataFrame):
            v.unpersist(blocking=True)
    return n


def _pipeline(run: Run, load) -> tuple[float, dict, tuple]:
    """build_tiers plus the five output counts, one span per layer. Returns
    the time, the tiers and the counts."""
    span = run.tracer.span
    t0 = time.perf_counter()
    with span("transcripts"):
        src = load()
    with span("pipeline.build"):
        tiers = build_tiers(src, QC)
    with span("pipeline.tier_1m"):
        n_1m = tiers["tier_1m"].count()
    with span("pipeline.coarse"):
        n_1h = tiers["tier_1h"].count()
        n_1d = tiers["tier_1d"].count()
    with span("pipeline.dims"):
        n_role = tiers["rollup_role_1h"].count()
        n_tool = tiers["rollup_tool_1h"].count()
    return time.perf_counter() - t0, tiers, (n_1m, n_1h, n_1d, n_role, n_tool)


# ---------------------------------------------------------------- workloads
def suite_sf01(run: Run) -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from olympian_spark.sources.transcripts import transcripts_from_events

    spark = run.spark
    sf_dir = os.path.join(run.work, "sf0.1")
    events = inputs.write_sf_tables(sf_dir, run.seed)
    run.props = inputs.event_props(events)
    run.turns_per_pass = events.num_rows
    qs = entrymod.queries()
    results: dict = {}
    rows: dict[int, dict[str, list[int]]] = {}

    def one_pass(i: int, traced: bool) -> Pass:
        pipeline_s, tiers, counts = _pipeline(run, lambda: transcripts_from_events(spark, sf_dir))
        # q23 projects tier_1h, so it has tier_1h's rows
        rows[i] = {"q23_tier_pipeline_1h": [counts[1]]}
        if i < 0:
            results["q23_tier_pipeline_1h"] = tiers["tier_1h"].select(
                "conv_id", F.unix_seconds(F.col("bucket_start").cast("timestamp")).alias("bucket_s"),
                "n_turns", "n_qc_fail", "n_gap_obs", "n_valid_gap", "sum_text_len",
            ).toArrow()
        persisted = _release(run, tiers)
        rounds = []
        for _ in range(1 if i < 0 else QUERY_ROUNDS):
            lat = []
            for name in SUITE_QUERIES:
                t0 = time.perf_counter()
                with run.tracer.span("sql." + name[:3]):
                    n = qs[name](spark, sf_dir).count()
                lat.append(time.perf_counter() - t0)
                rows[i].setdefault(name, []).append(n)
                if i < 0:
                    results[name] = qs[name](spark, sf_dir).toArrow()
            rounds.append(lat)
        run.attempted += 1 + sum(map(len, rounds))
        # the pass is bench.py's headline suite: the pipeline and one round
        # of the queries; later rounds only add latency samples
        return Pass(i, traced, pipeline_s + sum(rounds[0]), pipeline_s, rounds, persisted)

    # the warm-up pass runs every plan a timed pass runs, over the same
    # input, and also collects the results the value check compares
    run.warm_up(one_pass)
    run.loop(one_pass, pass_s=SUITE_PASS_S)
    # A warm-up result that differs from the oracle's fails that operation
    # (q23: the pipeline). So does a timed query, or a timed pipeline through
    # tier_1h, whose row count differs from the oracle's.
    names = ("q23_tier_pipeline_1h",) + SUITE_QUERIES
    oracle = oracle_results(sf_dir, names)
    for name, what in oracle_mismatches(results, oracle).items():
        run.fail(f"warm-up {name}", [what])
    for p in run.passes[1:]:
        for name in names:
            want = oracle[name].num_rows
            for got in rows[p.id][name]:
                run.fail(f"pass {p.id} {name}", [] if got == want else
                         [f"{got} rows != {want} oracle rows"])


def pipeline_2m(run: Run) -> None:
    spark = run.spark
    run.check("generator", inputs.generator_mismatches(run.seed))
    tbl, codes = inputs.gen_transcripts_fast(SKEW_TURNS, SKEW_CONVS, run.seed)
    day = inputs.utc_day(tbl)
    path = os.path.join(run.work, "transcripts")
    inputs.write_parts(tbl, path, SKEW_FILES)
    run.props = inputs.conv_day_props(codes, day)
    n = run.turns_per_pass = tbl.num_rows
    del tbl

    def one_pass(i: int, traced: bool) -> Pass:
        pipeline_s, tiers, _ = _pipeline(run, lambda: spark.read.parquet(path))
        run.attempted += 1
        run.fail(f"pass {i} conservation", conservation_failures(tiers, n))
        digest = {k: table_digest(tiers[k]) for k in TIERS}
        persisted = _release(run, tiers)
        return Pass(i, traced, pipeline_s, pipeline_s, [[pipeline_s]], persisted, digest)

    run.warm_up(one_pass)
    run.loop(one_pass, pass_s=SKEW_PASS_S)
    first = run.passes[0].digest
    for p in run.passes[1:]:
        run.fail(f"pass {p.id} digest", [] if p.digest == first else [
            f"{'traced' if p.traced else 'untraced'} pass differs from the warm-up pass"])


def _day_start(d: int) -> datetime:
    return datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(days=d)


def refresh_daily(run: Run) -> None:
    import olympian_spark.plans.refresh as refresh_mod
    from pyspark.sql import functions as F

    from olympian_spark.sources.catalog import ParquetManifestCatalog

    spark, tracer = run.spark, run.tracer
    run.check("generator", inputs.generator_mismatches(run.seed))
    tbl, codes = inputs.gen_transcripts_fast(
        REFRESH_TURNS, REFRESH_CONVS, run.seed, span_days=REFRESH_SPAN_DAYS)
    day = inputs.utc_day(tbl)
    path = os.path.join(run.work, "transcripts")
    d = REFRESH_DAY
    kept = inputs.write_by_day(tbl, day, path, d)
    in_range = day <= d
    run.props = inputs.conv_day_props(codes[in_range], day[in_range])
    run.props["days"] = inputs.refresh_day_props(codes, day, (d,))
    new_turns = run.turns_per_pass = run.props["days"][0]["new_turns"]
    committed_turns = kept.num_rows
    del tbl, kept
    source = spark.read.parquet(path)

    def upto(d: int):
        return source.filter(F.col("day") <= d).drop("day")

    commits: list[tuple[ParquetManifestCatalog, str, int]] = []
    refreshed_inputs: list = []

    class TracedCatalog(ParquetManifestCatalog):
        def overwrite_partitions(self, table, df, **kw):
            with tracer.span("catalog.commit"):
                snap = super().overwrite_partitions(table, df, **kw)
            if tracer.enabled:
                commits.append((self, table, snap["snapshot_id"]))
            return snap

    def traced_build_tiers(df, *a, **kw):
        if tracer.enabled:
            refreshed_inputs.append(df)
        with tracer.span("pipeline.build"):
            return build_tiers(df, *a, **kw)

    refresh_mod.build_tiers = traced_build_tiers  # restored below
    base_root = os.path.join(run.work, "catalog-base")
    roots: dict[int, str] = {}

    def one_pass(i: int, traced: bool) -> Pass:
        root = roots[i] = os.path.join(run.work, f"catalog-{i}")
        shutil.copytree(base_root, root)
        cat = TracedCatalog(spark, root)
        commits.clear()
        refreshed_inputs.clear()
        since = (_day_start(d) - timedelta(microseconds=1)).strftime("%Y-%m-%d %H:%M:%S.%f")
        t0 = time.perf_counter()
        with tracer.span("refresh"):
            with tracer.span("transcripts"):
                src = upto(d)
            refresh_mod.refresh_tiers(spark, cat, src, watermark=f"day{d}",
                                      since_watermark=since, params=QC)
        t1 = time.perf_counter()
        lo, hi = _day_start(d), _day_start(d) + timedelta(hours=23)
        with tracer.span("catalog.read"):
            got = (cat.read_where_between("tier_1h", "bucket_start", lo, hi)
                   .agg(F.sum("n_turns")).first()[0])
        t2 = time.perf_counter()
        run.attempted += 2
        run.fail(f"pass {i} read day {d}", [] if got == new_turns else
                 [f"sum n_turns {got} != {new_turns} new turns"])
        extra = {"stored_bytes_per_turn": _dir_bytes(root) / committed_turns}
        if traced:
            extra["commit_files"] = sum(
                _count_files(c._snap_dir(t, sid)) for c, t, sid in commits)
            extra["commit_bytes"] = sum(
                rec["bytes"] for c, t, sid in commits
                for rec in c.committed_partitions(t, as_of=sid).values()
                if rec["snapshot_id"] == sid)
            extra["scanned_ratio"] = (
                len(cat.pruned_partitions("tier_1h", "bucket_start", lo, hi))
                / len(cat.committed_partitions("tier_1h")))
            extra["recomputed_per_new"] = (
                sum(df.count() for df in refreshed_inputs) / run.turns_per_pass)
        # no standalone pipeline call here: build_tiers runs inside refresh_tiers
        return Pass(i, traced, t2 - t0, 0.0, [[t1 - t0]], run.persisted(), extra=extra)

    def digests(root: str) -> dict[str, str]:
        cat = ParquetManifestCatalog(spark, root)
        return {t: table_digest(cat.read(t).drop("bucket_date")) for t in TIERS}

    try:
        # The warm-up, and the reference the check compares with: a full
        # (not incremental) refresh of days 0..d. It runs every layer a pass
        # runs except the boundary merge. Each pass then refreshes day d
        # again, incrementally: it recomputes the conversations active on
        # that day from their whole history, merges boundary days and
        # overwrites those partitions, which must leave every tier table as
        # the full refresh committed it.
        refresh_mod.refresh_tiers(spark, TracedCatalog(spark, base_root), upto(d),
                                  watermark=f"day{d}-full", params=QC)
        want = digests(base_root)
        run.end_setup()
        run.loop(one_pass, pass_s=REFRESH_PASS_S)
    finally:
        refresh_mod.build_tiers = build_tiers

    for p in run.passes:
        run.fail(f"pass {p.id} incremental == full", [
            f"{t} differs from the full refresh" for t, d in digests(roots[p.id]).items()
            if d != want[t]])
        shutil.rmtree(roots[p.id])


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def _count_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)

