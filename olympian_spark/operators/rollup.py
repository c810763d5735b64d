"""Rollup tiers: 1m / 1h / 1d continuous aggregates in one streaming kernel.

Semantics (SURVEY §2.9, north star):

- tumbling windows on ts, keys (conv_id, bucket_start);
- measures: n_turns, n_qc_fail, counts/sums/means of turn_gap_s and
  text_len, **exact p95** of turn_gap_s via the reference quantile kernel
  (f32 linear interpolation, sct.rs:70-103) — never percentile_approx;
- QC-before-rollup: rows whose flag_dip == Flag.FAIL are excluded from
  measures but counted in n_qc_fail (Warn rows are retained — the
  reference treats Warn as "inside warning threshold", not rejection);
- every tier carries a Gorilla block of its member (ts, turn_gap, text_len)
  points, so a coarser tier can be refreshed *from the finer tier alone*:
  decomposable measures add up partial sums (float64 accumulate -> f32,
  deterministic at f32 precision), p95 re-computes from decoded blocks.

Execution shape (the scale story):

- :func:`rollup_tiers_fused` emits all three day-nested grains from ONE
  exchange on (conv_id, day) and ONE whole-partition Arrow stream; the hour
  and day sums reuse the finer grain's f32 partials, so they equal what
  :func:`rollup_coarser` would compute from the materialized finer tier.
  A hot conversation splits into its day segments, so worker memory is
  bounded by one (conv, day) plus one batch.
- :func:`rollup_coarser` builds calendar grains (month and up) from
  ``tier_1d`` with the same partial-sum decomposition.
- the pure-relational dimension rollups absorb skew via map-side partial
  aggregation, and :func:`salted_agg` provides two-stage aggregation for
  demonstrably-equivalent skew handling on arbitrary keys.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olympian_spark.flags import Flag
from olympian_spark.functions.gorilla import (
    decode_block,
    encode_block,
    encode_blocks,
)
from olympian_spark.oracle.quantile import compute_quantile, compute_quantile_segmented

F32 = np.float32

_TIER_SCHEMA = (
    "conv_id string, bucket_start timestamp, n_turns long, n_qc_fail long,"
    " n_gap_obs long, n_valid_gap long, sum_gap float, mean_gap float,"
    " p95_gap float, sum_text_len long, mean_text_len float, block binary"
)

# kernel-internal schema: bucket as int64 µs — tz-aware timestamps crossing
# the Arrow<->pandas boundary cost ~ms per batch; a long is free. The public
# timestamp column is restored JVM-side with timestamp_micros.
_TIER_SCHEMA_US = _TIER_SCHEMA.replace("bucket_start timestamp", "bucket_us long")


def _tier_schema_us(df: DataFrame) -> str:
    """Kernel output schema, honouring the caller's conv key type: string
    conv_id by default, or the input's integer type when conversation keys
    were dictionary-encoded upstream (fixed-width keys shuffle and sort
    cheaper than strings at 10^12-turn scale)."""
    ktype = dict(df.dtypes)["conv_id"]
    return _TIER_SCHEMA_US.replace("conv_id string", f"conv_id {ktype}")


def _kernel_input(df: DataFrame, *keys: str) -> DataFrame:
    """Explicitly hash-partition a grouped-kernel input by its keys.

    AQE coalesces shuffle partitions by BYTES, which is the wrong heuristic
    for Python-kernel stages: a few MB of tier rows can carry thousands of
    CPU-bound kernel groups, and byte-coalescing serializes them onto one
    core. An explicit repartition (user-specified partition counts are
    respected by AQE) keeps kernel parallelism ∝ cores; the subsequent
    groupBy reuses the partitioning, so no extra exchange is added.
    """
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def _restore_bucket(df: DataFrame) -> DataFrame:
    cols = [
        F.timestamp_micros(F.col("bucket_us")).alias("bucket_start")
        if c == "bucket_us"
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


_GRAIN = {"minute": "minute", "hour": "hour", "day": "day", "week": "week", "month": "month"}


def _npcol(tbl: "pa.Table", name: str) -> np.ndarray:
    return tbl.column(name).to_numpy(zero_copy_only=False)


def _f32col(tbl: "pa.Table", name: str) -> np.ndarray:
    col = tbl.column(name)
    if col.null_count:
        col = col.fill_null(float("nan"))
    return col.to_numpy(zero_copy_only=False).astype(np.float32, copy=False)


def _tier_table(conv, buckets, starts, ts_us, gaps, tl, ok) -> "pa.Table":
    """Columnar tier construction: one row per bucket boundary in `starts`.

    Cheap fields (counts, fails, bucket keys) are fully vectorized; the
    per-bucket loop carries only the f32 oracle math (sum/mean/quantile,
    faithful to the oracle) and the Gorilla block encode. NaN doubles as the
    NULL marker for the f32 measure columns (legit values are always finite).

    ``conv`` is a pyarrow array with one conversation key per bucket.
    """
    nb = starts.size - 1
    counts = np.diff(starts).astype(np.int64)
    csum_ok = np.concatenate(([0], np.cumsum(ok.astype(np.int64))))
    n_ok_arr = csum_ok[starts[1:]] - csum_ok[starts[:-1]]
    n_fail_arr = counts - n_ok_arr
    bucket_out = buckets[starts[:-1]]

    # blocks for ALL buckets in one vectorized pass (bit-identical to the
    # per-bucket encode_block; property-tested): the block holds the
    # bucket's passing rows, so boundaries map through the ok-cumsum
    blocks = encode_blocks(
        ts_us[ok], [gaps[ok], tl[ok]], csum_ok[starts]
    )
    # valid (= passing AND finite-gap) boundaries drive n_valid/n_gap_obs
    # and the segmented exact-p95 — no per-bucket quantile calls
    vmask = ok & np.isfinite(gaps)
    csum_v = np.concatenate(([0], np.cumsum(vmask.astype(np.int64))))
    v_starts = csum_v[starts]
    n_valid = (v_starts[1:] - v_starts[:-1]).astype(np.int64)
    n_gap_obs = n_ok_arr - n_valid
    p95_gap = compute_quantile_segmented(0.95, gaps[vmask], v_starts)

    sum_gap = np.full(nb, np.nan, F32)
    mean_gap = np.full(nb, np.nan, F32)
    sum_tl = np.zeros(nb, np.int64)
    mean_tl = np.full(nb, np.nan, F32)

    # singleton buckets (the common case at 1m grain over sparse convs):
    # sum == mean == the value, wholly vectorized
    single = n_ok_arr == 1
    if single.any():
        sidx = np.flatnonzero(single)
        okpos = np.flatnonzero(ok)
        row = okpos[csum_ok[starts[sidx]]]  # the single passing row per bucket
        g0 = gaps[row]
        t0 = tl[row]
        fin = np.isfinite(g0)
        sum_gap[sidx[fin]] = g0[fin]
        mean_gap[sidx[fin]] = g0[fin]
        sum_tl[sidx] = t0.astype(np.int64)
        mean_tl[sidx] = t0

    # the loop keeps ONLY the f32 pairwise sums (np.sum's summation order is
    # part of the bit-exactness contract with the oracle; a segmented
    # sequential reduction would round differently)
    for k in np.flatnonzero(n_ok_arr > 1):
        lo, hi = starts[k], starts[k + 1]
        m = ok[lo:hi]
        g = gaps[lo:hi][m]
        t_ = tl[lo:hi][m]
        n_ok = t_.size
        nv = n_valid[k]
        if nv:
            sg = F32(np.sum(g[np.isfinite(g)], dtype=F32))
            sum_gap[k] = sg
            mean_gap[k] = F32(sg / F32(nv))
        sum_tl[k] = int(t_.sum())
        mean_tl[k] = F32(F32(np.sum(t_, dtype=F32)) / F32(n_ok))

    return pa.table(
        {
            # conv key passes through as-is: string conv_id, or int64 when
            # the caller dictionary-encoded conversation keys upstream
            "conv_id": conv,
            "bucket_us": pa.array(bucket_out),
            "n_turns": pa.array(counts),
            "n_qc_fail": pa.array(n_fail_arr),
            "n_gap_obs": pa.array(n_gap_obs),
            "n_valid_gap": pa.array(n_valid),
            "sum_gap": pa.array(sum_gap, from_pandas=True),
            "mean_gap": pa.array(mean_gap, from_pandas=True),
            "p95_gap": pa.array(p95_gap, from_pandas=True),
            "sum_text_len": pa.array(sum_tl),
            "mean_text_len": pa.array(mean_tl, from_pandas=True),
            "block": blocks,
        }
    )


def rollup_coarser(tier: DataFrame, grain: str) -> DataFrame:
    """Coarser tier from a finer tier — month and coarser from ``tier_1d``.

    Decomposable measures combine the finer tier's partial sums/counts
    (float64 accumulate, cast to f32 — order differences vanish below f32
    precision); exact p95 and the tier's own Gorilla block come from
    decoding + concatenating member blocks in bucket order. One shuffle on
    (conv_id, coarse bucket); each kernel group IS one output row, so a
    calendar bucket can never be emitted twice.
    """
    bs = F.col("bucket_start")
    base = tier.select(
        "conv_id",
        F.unix_micros(bs).alias("bucket_us"),
        "n_turns",
        "n_qc_fail",
        "n_valid_gap",
        "sum_gap",
        "sum_text_len",
        "block",
        F.unix_micros(F.date_trunc(_GRAIN[grain], bs)).alias("_coarse"),
    )

    def kernel(tbl: "pa.Table") -> "pa.Table":
        order = np.argsort(_npcol(tbl, "bucket_us"), kind="stable")
        blocks_in = tbl.column("block").to_pylist()
        decoded = [decode_block(bytes(blocks_in[i])) for i in order]
        ts_us = np.concatenate([d[0] for d in decoded])
        gaps = np.concatenate([d[1][0] for d in decoded])
        tl = np.concatenate([d[1][1] for d in decoded])
        finite = np.isfinite(gaps)
        n_ok = tl.size
        n_valid = int(_npcol(tbl, "n_valid_gap").sum())
        sum_gap = mean_gap = p95 = mean_tl = None
        if n_valid:
            # partial+final decomposition: f64 accumulate of f32 partials
            sum_gap = F32(np.nansum(_f32col(tbl, "sum_gap").astype(np.float64)[order]))
            mean_gap = F32(sum_gap / F32(n_valid))
            p95 = compute_quantile(0.95, gaps[finite])
        if n_ok:
            mean_tl = F32(F32(np.sum(tl, dtype=F32)) / F32(n_ok))
        f32 = pa.float32()
        return pa.table(
            {
                "conv_id": tbl.column("conv_id").slice(0, 1),
                "bucket_us": pa.array([_npcol(tbl, "_coarse")[0]], pa.int64()),
                "n_turns": pa.array([_npcol(tbl, "n_turns").sum()], pa.int64()),
                "n_qc_fail": pa.array([_npcol(tbl, "n_qc_fail").sum()], pa.int64()),
                "n_gap_obs": pa.array([n_ok - int(finite.sum())], pa.int64()),
                "n_valid_gap": pa.array([n_valid], pa.int64()),
                "sum_gap": pa.array([sum_gap], f32),
                "mean_gap": pa.array([mean_gap], f32),
                "p95_gap": pa.array([p95], f32),
                "sum_text_len": pa.array([_npcol(tbl, "sum_text_len").sum()], pa.int64()),
                "mean_text_len": pa.array([mean_tl], f32),
                "block": pa.array([encode_block(ts_us, [gaps, tl])], pa.binary()),
            }
        )

    return _restore_bucket(
        _kernel_input(base, "conv_id", "_coarse")
        .groupBy("conv_id", "_coarse")
        .applyInArrow(kernel, _tier_schema_us(tier))
    )


_HOUR_US = 3_600_000_000
_DAY_US = 86_400_000_000


def _coarse_tier_from_rows(
    conv,
    row_cb: np.ndarray,
    ts_us: np.ndarray,
    gaps: np.ndarray,
    tl: np.ndarray,
    ok: np.ndarray,
    fine_sum_gap: np.ndarray,
    fine_sum_tl: np.ndarray,
    starts: np.ndarray,
    fstarts: np.ndarray,
) -> "pa.Table":
    """Coarse tier rows computed from raw member rows + finer-tier partials:
    sum_gap/mean_gap use the f64-accumulate-of-f32-partials decomposition
    (NOT a direct f32 row sum), sum_text_len sums the finer integer
    partials, while p95 / blocks / mean_text_len recompute from the rows —
    the same arithmetic ``rollup_coarser`` performs on decoded blocks.

    ``row_cb``: per-row coarse bucket; ``starts``: row boundaries of the
    coarse buckets; ``fstarts``: the same boundaries over the finer tier's
    rows. Boundaries include conversation changes (equal adjacent bucket
    values can belong to different conversations). ``conv`` is a pyarrow
    array with one key per coarse bucket.
    """
    nb = starts.size - 1
    counts = np.diff(starts).astype(np.int64)
    csum_ok = np.concatenate(([0], np.cumsum(ok.astype(np.int64))))
    n_ok_arr = csum_ok[starts[1:]] - csum_ok[starts[:-1]]
    n_fail_arr = counts - n_ok_arr
    bucket_out = row_cb[starts[:-1]]

    sum_gap64 = fine_sum_gap.astype(np.float64)
    out_sum_tl = np.add.reduceat(fine_sum_tl, fstarts[:-1]).astype(np.int64)

    out_sum_gap = np.full(nb, np.nan, F32)
    out_mean_gap = np.full(nb, np.nan, F32)
    out_mean_tl = np.full(nb, np.nan, F32)

    # blocks for ALL buckets in one vectorized pass (bit-identical to the
    # per-bucket encode_block; property-tested)
    out_blocks = encode_blocks(
        ts_us[ok], [gaps[ok], tl[ok]], csum_ok[starts]
    )
    # valid counts + segmented exact-p95, vectorized
    vmask = ok & np.isfinite(gaps)
    csum_v = np.concatenate(([0], np.cumsum(vmask.astype(np.int64))))
    v_starts = csum_v[starts]
    out_valid = (v_starts[1:] - v_starts[:-1]).astype(np.int64)
    out_gap_obs = (n_ok_arr - out_valid).astype(np.int64)
    out_p95 = compute_quantile_segmented(0.95, gaps[vmask], v_starts)

    # Vectorized singleton fast path (the dominant shape of sparse series):
    # n_ok == 1 -> exactly one fine partial in the slice is finite (the
    # passing row's own bucket, whose partial IS the row's f32 gap), so
    # F32(nansum(f64 slice)) == that gap with no rounding, mean = sg/f32(1)
    # == sg, mean_tl = F32(F32(tl)/f32(1)) == tl.
    n_ok_arr2 = n_ok_arr.astype(np.int64, copy=False)
    single = n_ok_arr2 == 1
    if single.any():
        sidx = np.flatnonzero(single)
        okpos = np.flatnonzero(ok)
        row = okpos[csum_ok[starts[sidx]]]  # the single passing row per bucket
        g0 = gaps[row]
        t0 = tl[row]
        fin = np.isfinite(g0)
        out_sum_gap[sidx[fin]] = g0[fin]
        out_mean_gap[sidx[fin]] = g0[fin]
        out_mean_tl[sidx] = t0

    # the loop keeps ONLY the order-sensitive reductions: the f64 nansum of
    # fine partials (pairwise summation is part of the bit-exactness
    # contract with the oracle) and the f32 pairwise mean_tl sum
    for k in np.flatnonzero(n_ok_arr2 > 1):
        lo, hi = starts[k], starts[k + 1]
        m = ok[lo:hi]
        t_ = tl[lo:hi][m]
        nv = out_valid[k]
        if nv:
            sg = F32(np.nansum(sum_gap64[fstarts[k] : fstarts[k + 1]]))
            out_sum_gap[k] = sg
            out_mean_gap[k] = F32(sg / F32(nv))
        out_mean_tl[k] = F32(F32(np.sum(t_, dtype=F32)) / F32(t_.size))

    return pa.table(
        {
            "conv_id": conv,
            "bucket_us": pa.array(bucket_out),
            "n_turns": pa.array(counts),
            "n_qc_fail": pa.array(n_fail_arr),
            "n_gap_obs": pa.array(out_gap_obs),
            "n_valid_gap": pa.array(out_valid),
            "sum_gap": pa.array(out_sum_gap, from_pandas=True),
            "mean_gap": pa.array(out_mean_gap, from_pandas=True),
            "p95_gap": pa.array(out_p95, from_pandas=True),
            "sum_text_len": pa.array(out_sum_tl),
            "mean_text_len": pa.array(out_mean_tl, from_pandas=True),
            "block": out_blocks,
        }
    )


def _fused_process(tbl: "pa.Table") -> "pa.Table":
    """All three tier grains for a sorted multi-conversation Arrow table.

    Input rows are sorted by (conv_id, day, turn_idx) and contain only
    COMPLETE (conv_id, day) segments. Every output bucket (minute/hour/day)
    nests inside a single day, so how the stream is cut into calls at
    segment boundaries never changes a bucket's rows or its arithmetic.
    """
    import pyarrow.compute as pc

    n = tbl.num_rows
    conv_flat = tbl.column("conv_id").combine_chunks()
    # dictionary codes give a vectorized adjacent-inequality over string keys
    codes = pc.dictionary_encode(conv_flat).indices.to_numpy(zero_copy_only=False)
    ts_us = _npcol(tbl, "_ts_us").astype(np.int64, copy=False)
    gaps = _f32col(tbl, "turn_gap_s")
    tl = _f32col(tbl, "text_len")
    ok = _npcol(tbl, "_is_fail") != 1
    day = ts_us - ts_us % _DAY_US  # numpy floor-mod: pre-epoch safe
    seg_change = (codes[1:] != codes[:-1]) | (day[1:] != day[:-1])

    def bounds(change: np.ndarray, size: int) -> np.ndarray:
        return np.concatenate(([0], np.flatnonzero(change) + 1, [size]))

    # minute tier
    b_m = ts_us - ts_us % 60_000_000
    starts_m = bounds(seg_change | (b_m[1:] != b_m[:-1]), n)
    conv_m = conv_flat.take(pa.array(starts_m[:-1]))
    t_m = _tier_table(conv_m, b_m, starts_m, ts_us, gaps, tl, ok)

    seg_id = np.concatenate(([0], np.cumsum(seg_change)))

    # hour tier from minute partials
    row_h = b_m - b_m % _HOUR_US
    starts_h = bounds(seg_change | (row_h[1:] != row_h[:-1]), n)
    fine_b_m = b_m[starts_m[:-1]]
    seg_m = seg_id[starts_m[:-1]]
    hb_m = fine_b_m - fine_b_m % _HOUR_US
    fstarts_h = bounds((seg_m[1:] != seg_m[:-1]) | (hb_m[1:] != hb_m[:-1]), hb_m.size)
    conv_h = conv_flat.take(pa.array(starts_h[:-1]))
    t_h = _coarse_tier_from_rows(
        conv_h, row_h, ts_us, gaps, tl, ok,
        _f32col(t_m, "sum_gap"),
        _npcol(t_m, "sum_text_len").astype(np.int64, copy=False),
        starts=starts_h, fstarts=fstarts_h,
    )

    # day tier from hour partials
    starts_d = bounds(seg_change | (day[1:] != day[:-1]), n)
    fine_b_h = row_h[starts_h[:-1]]
    seg_h = seg_id[starts_h[:-1]]
    db_h = fine_b_h - fine_b_h % _DAY_US
    fstarts_d = bounds((seg_h[1:] != seg_h[:-1]) | (db_h[1:] != db_h[:-1]), db_h.size)
    conv_d = conv_flat.take(pa.array(starts_d[:-1]))
    t_d = _coarse_tier_from_rows(
        conv_d, day, ts_us, gaps, tl, ok,
        _f32col(t_h, "sum_gap"),
        _npcol(t_h, "sum_text_len").astype(np.int64, copy=False),
        starts=starts_d, fstarts=fstarts_d,
    )

    def tag(t: "pa.Table", g: int) -> "pa.Table":
        return t.append_column(
            "_grain", pa.array(np.full(t.num_rows, g, np.int8), pa.int8())
        )

    return pa.concat_tables([tag(t_m, 0), tag(t_h, 1), tag(t_d, 2)])


def rollup_tiers_fused(df: DataFrame) -> DataFrame:
    """All three tiers (1m/1h/1d) in ONE shuffle + ONE streaming kernel pass.

    Input: turns with ``turn_gap_s``, ``text_len`` and the ``flag_dip`` QC
    flag. Output is the tier schema plus a ``_grain`` tag (0=minute,
    1=hour, 2=day); the coarse grains reuse the finer grain's f32 partial
    sums, the contract ``rollup_coarser`` follows for calendar grains.

    Execution: rows are hash-partitioned AND sorted by (conv_id, day,
    turn_idx), and a whole-partition ``mapInArrow`` stream processes every
    complete (conv, day) segment of each Arrow batch vectorized across
    segments, holding back only the trailing incomplete segment. That means
    one kernel invocation per ~64k-row batch, no in-kernel sort, and no
    hot-key detection: day segments are the finest output-preserving split,
    so worker memory is bounded by one (conv, day) + one batch.
    """
    ts_us_col = F.unix_micros(F.col("ts").cast("timestamp"))
    base = df.select(
        "conv_id",
        # day key via pmod — explicitly the kernel's numpy floor-mod rule,
        # so partition routing and in-kernel segmentation can never disagree
        # (date_trunc agrees too in a UTC session; pmod makes it structural)
        (ts_us_col - F.pmod(ts_us_col, F.lit(_DAY_US))).alias("_chunk"),
        F.col("turn_idx"),
        ts_us_col.alias("_ts_us"),
        F.col("turn_gap_s"),
        F.col("text_len"),
        (F.col("flag_dip") == int(Flag.FAIL)).cast("int").alias("_is_fail"),
    )

    def stream_kernel(batches):
        import pyarrow.compute as pc

        pending: "pa.Table | None" = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl]).combine_chunks()
            nr = tbl.num_rows
            conv = tbl.column("conv_id").combine_chunks()
            ts_np = (
                tbl.column("_ts_us").combine_chunks()
                .to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            )
            day_np = ts_np - ts_np % _DAY_US  # numpy floor-mod: pre-epoch safe
            # rows belonging to the same (conv, day) segment as the LAST row;
            # the table is sorted, so that segment is the maximal True suffix
            same = (
                pc.equal(conv, conv[nr - 1]).to_numpy(zero_copy_only=False)
                & (day_np == day_np[-1])
            )
            not_same = np.flatnonzero(~same)
            if not_same.size == 0:
                pending = tbl  # the whole table is one (possibly continuing) segment
                continue
            start = int(not_same[-1]) + 1  # first row of the trailing segment
            yield from _fused_process(tbl.slice(0, start).combine_chunks()).to_batches()
            pending = tbl.slice(start)
        if pending is not None and pending.num_rows:
            yield from _fused_process(pending.combine_chunks()).to_batches()

    schema = _tier_schema_us(df) + ", _grain tinyint"
    n_part = 2 * df.sparkSession.sparkContext.defaultParallelism
    out = (
        base.repartition(n_part, "conv_id", "_chunk")
        .sortWithinPartitions("conv_id", "_chunk", "turn_idx")
        # project AFTER the sort: the sort keys _chunk/turn_idx never cross
        # the JVM->Python Arrow channel (the kernel re-derives the day from
        # _ts_us and rows already arrive ordered)
        .select("conv_id", "_ts_us", "turn_gap_s", "text_len", "_is_fail")
        .mapInArrow(stream_kernel, schema)
    )
    return _restore_bucket(out)


def rollup_by_dimension(
    df: DataFrame, dim_col: str, grain: str = "hour"
) -> DataFrame:
    """Per-role / per-tool rollups — pure relational (JVM, codegen).

    groupBy(bucket, dim): turn counts + mean text_len (double precision,
    SQL-oracle-checkable). Salt-free: dimension cardinality is tiny and
    map-side partial aggregation absorbs the skew.
    """
    bucket = F.date_trunc(_GRAIN[grain], F.col("ts").cast("timestamp"))
    return (
        df.groupBy(bucket.alias("bucket_start"), F.col(dim_col))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.avg(F.col("text_len").cast("double")), 6).alias("mean_text_len"),
        )
    )


def rollup_dims_fused(
    df: DataFrame, dims: tuple[str, ...] = ("role", "tool"), grain: str = "hour"
) -> DataFrame:
    """All dimension rollups in ONE pass over the input: explode each row
    into (dim_kind, dim_value) pairs, then a single groupBy. Split with
    ``filter(dim_kind = ...)``.

    Output: (dim_kind, bucket_start, dim_value, n_turns, mean_text_len);
    per-kind slices equal :func:`rollup_by_dimension` exactly (tested).

    Wins when the input is NOT materialized, as in ``build_tiers``: one
    scan instead of one per dimension. Over an already-persisted input it
    LOSES to one groupBy per dimension by ~3x (round 2, 16M turns / 32
    cores) — the explode doubles the rows entering partial aggregation,
    while the saved input scan is just a cache read.
    """
    bucket = F.date_trunc(_GRAIN[grain], F.col("ts").cast("timestamp"))
    pairs = F.array(
        *[
            F.struct(F.lit(d).alias("dim_kind"), F.col(d).cast("string").alias("dim_value"))
            for d in dims
        ]
    )
    return (
        df.select(bucket.alias("bucket_start"), F.explode(pairs).alias("p"), "text_len")
        .groupBy("p.dim_kind", "bucket_start", "p.dim_value")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.avg(F.col("text_len").cast("double")), 6).alias("mean_text_len"),
        )
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    count_alias: str = "n",
    salt_buckets: int = 16,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-stage aggregation under key skew: partial agg on (keys + salt),
    final agg on keys. Result is identical to a plain groupBy for
    sums/counts (associative); the partial stage spreads a hot key over
    ``salt_buckets`` reducers.

    ``sum_cols``: {output_alias: input_col}. Salt defaults to a hash of a
    uniformly-distributed source column (or a partition-derived fallback).
    """
    salt = (
        F.pmod(
            F.hash(salt_source if isinstance(salt_source, Column) else F.col(salt_source)),
            F.lit(salt_buckets),
        )
        if salt_source is not None
        else F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_pc"),
            *[F.sum(src).alias(f"_ps_{alias}") for alias, src in sum_cols.items()],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("_pc").alias(count_alias),
        *[F.sum(f"_ps_{alias}").alias(alias) for alias in sum_cols],
    )
