"""Tier correctness (Tier B/C):

- every column of tier_1m/1h/1d, Gorilla block bytes included, bit-matches
  an independent pandas/numpy oracle; 1h/1d sum_gap follows the documented
  partial-sum contract (f64 sum of the finer tier's f32 sum_gap)
- 1h sums == sum of member 1m sums; 1d == sum of member 1h sums
- QC-before-rollup: FAIL rows excluded from measures, counted in n_qc_fail
- pre-epoch day routing, int64 conversation keys, the plan's exchange budget
- salted two-stage agg == plain groupBy
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from olympian_spark.datagen import gen_transcripts
from olympian_spark.flags import Flag
from olympian_spark.functions.gorilla import encode_block
from olympian_spark.operators.rollup import (
    rollup_coarser,
    rollup_tiers_fused,
    salted_agg,
)
from olympian_spark.oracle.quantile import compute_quantile
from olympian_spark.plans.pipeline import QcParams, build_tiers, qc_flags

F32 = np.float32
PARAMS = QcParams(dip_high=300.0, dip_max=1200.0)
MINUTE_US, HOUR_US, DAY_US = 60_000_000, 3_600_000_000, 86_400_000_000
SLIM_COLS = ("conv_id", "turn_idx", "ts", "turn_gap_s", "text_len", "flag_dip")


@pytest.fixture(scope="module")
def tiers(spark):
    pdf = gen_transcripts(n_turns=20_000, n_convs=60, seed=42).to_pandas()
    df = spark.createDataFrame(pdf)
    out = build_tiers(df, PARAMS)
    collected = {
        k: out[k].toPandas()
        for k in ("turns_flagged", "tier_1m", "tier_1h", "tier_1d")
    }
    for k in ("_tagged", "_dims", "_sorted"):
        out[k].unpersist()
    return pdf, collected


@pytest.fixture(scope="module")
def oracle_tiers(tiers):
    pdf, _ = tiers
    turns = _oracle_turns(pdf)
    t1m = _oracle_tier(turns, MINUTE_US)
    t1h = _oracle_tier(turns, HOUR_US, finer=t1m)
    t1d = _oracle_tier(turns, DAY_US, finer=t1h)
    return {"tier_1m": t1m, "tier_1h": t1h, "tier_1d": t1d}


def _us(series):
    """Timestamps -> int64 microseconds regardless of pandas storage unit."""
    s = series.dt.tz_localize(None) if series.dt.tz is not None else series
    return s.astype("datetime64[us]").astype("int64")


def _oracle_turns(pdf):
    """Independent pandas recomputation of stage 1 + dip-fail policy."""
    rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        ts = _us(g["ts"]).to_numpy()
        gap = np.full(len(g), np.nan, dtype=F32)
        gap[1:] = ((ts[1:] - ts[:-1]) / 1e6).astype(F32)
        from olympian_spark.oracle import dip_check

        vals = [None if np.isnan(x) else float(x) for x in gap]
        # dip needs 1 lead + 1 trail context; edges are DATA_MISSING here
        flags = [int(Flag.DATA_MISSING)] * len(vals)
        if len(vals) >= 3:
            inner = dip_check(vals, 1, 1, PARAMS.dip_high, PARAMS.dip_max)
            flags[1:-1] = inner
        tl = g["text"].fillna("").str.len().to_numpy(F32)
        for i in range(len(g)):
            rows.append(
                (conv, int(g["turn_idx"].iloc[i]), ts[i], gap[i], tl[i], flags[i])
            )
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "ts_us", "gap", "tl", "flag_dip"]
    )


def test_stage1_flags_match_oracle(tiers):
    pdf, got = tiers
    oracle = _oracle_turns(pdf)
    sf = got["turns_flagged"][["conv_id", "turn_idx", "flag_dip"]]
    merged = oracle.merge(sf, on=["conv_id", "turn_idx"], suffixes=("_o", "_s"))
    assert len(merged) == len(oracle)
    assert (merged["flag_dip_o"] == merged["flag_dip_s"]).all()


_INT_COLS = ("n_turns", "n_qc_fail", "n_gap_obs", "n_valid_gap", "sum_text_len")
_F32_COLS = ("sum_gap", "mean_gap", "p95_gap", "mean_text_len")


def _oracle_tier(turns, grain_us, finer=None):
    """Expected tier rows {(conv_id, bucket_us): row} at one grain.

    Every bucket recomputes from its raw passing rows in turn order — except
    sum_gap at 1h/1d, where the documented partial-sum contract applies: the
    finer tier's f32 sum_gap values, accumulated in f64 in bucket order
    (np.nansum), rounded to f32. NaN marks a NULL f32 measure.
    """
    members = {}
    for conv, fb in sorted(finer or ()):
        members.setdefault((conv, fb - fb % grain_us), []).append(
            finer[(conv, fb)]["sum_gap"]
        )
    ts_all = turns["ts_us"].to_numpy(np.int64)
    bucket = ts_all - ts_all % grain_us  # numpy floor-mod: pre-epoch safe
    gap_all = turns["gap"].to_numpy(F32)
    tl_all = turns["tl"].to_numpy(F32)
    fail_all = turns["flag_dip"].to_numpy() == int(Flag.FAIL)
    groups = pd.DataFrame({"conv_id": turns["conv_id"], "bucket": bucket}).groupby(
        ["conv_id", "bucket"], sort=False
    ).indices
    exp = {}
    for (conv, b), idx in groups.items():  # idx: the bucket's rows in turn order
        ok = idx[~fail_all[idx]]
        ts, gaps, tl = ts_all[ok], gap_all[ok], tl_all[ok]
        valid = gaps[np.isfinite(gaps)]
        nv = valid.size
        if finer is None:
            sum_gap = F32(np.sum(valid, dtype=F32))
        else:
            sum_gap = F32(np.nansum(np.array(members[(conv, b)], np.float64)))
        exp[(conv, int(b))] = dict(
            n_turns=idx.size,
            n_qc_fail=idx.size - ok.size,
            n_gap_obs=ok.size - nv,
            n_valid_gap=nv,
            sum_gap=sum_gap if nv else F32(np.nan),
            mean_gap=F32(sum_gap / F32(nv)) if nv else F32(np.nan),
            p95_gap=compute_quantile(0.95, valid) if nv else F32(np.nan),
            sum_text_len=int(tl.astype(np.int64).sum()),
            mean_text_len=(
                F32(F32(np.sum(tl, dtype=F32)) / F32(ok.size)) if ok.size else F32(np.nan)
            ),
            block=encode_block(ts, [gaps, tl]),
        )
    return exp


def _assert_tier_matches_oracle(got, exp):
    keys = list(zip(got["conv_id"], _us(got["bucket_start"])))
    assert len(set(keys)) == len(keys), "duplicate (conv_id, bucket_start) rows"
    assert set(keys) == set(exp)
    cols = {c: got[c].to_numpy() for c in (*_INT_COLS, *_F32_COLS, "block")}
    for i, key in enumerate(keys):
        e = exp[key]
        for c in _INT_COLS:
            assert cols[c][i] == e[c], (key, c)
        for c in _F32_COLS:
            g, x = F32(cols[c][i]), e[c]
            if np.isnan(x):
                assert np.isnan(g), (key, c)  # NULL
            else:
                assert g.view(np.uint32) == x.view(np.uint32), (key, c)
        assert bytes(cols["block"][i]) == e["block"], (key, "block")


def test_tier_1m_matches_oracle(tiers, oracle_tiers):
    _, got = tiers
    _assert_tier_matches_oracle(got["tier_1m"], oracle_tiers["tier_1m"])
    assert got["tier_1m"]["n_qc_fail"].sum() > 0, "fixture too tame: no QC fails"


def test_tier_1h_matches_oracle(tiers, oracle_tiers):
    _, got = tiers
    _assert_tier_matches_oracle(got["tier_1h"], oracle_tiers["tier_1h"])


def test_tier_1d_matches_oracle(tiers, oracle_tiers):
    _, got = tiers
    _assert_tier_matches_oracle(got["tier_1d"], oracle_tiers["tier_1d"])


def _check_tier_consistency(fine, coarse, trunc):
    fine = fine.copy()
    fine["cb"] = fine["bucket_start"].dt.floor(trunc)
    agg = fine.groupby(["conv_id", "cb"]).agg(
        n_turns=("n_turns", "sum"),
        n_qc_fail=("n_qc_fail", "sum"),
        n_valid_gap=("n_valid_gap", "sum"),
        sum_text_len=("sum_text_len", "sum"),
    )
    assert len(agg) == len(coarse)
    for r in coarse.itertuples():
        e = agg.loc[(r.conv_id, r.bucket_start)]
        assert r.n_turns == e["n_turns"]
        assert r.n_qc_fail == e["n_qc_fail"]
        assert r.n_valid_gap == e["n_valid_gap"]
        assert r.sum_text_len == e["sum_text_len"]


def test_tier_cascade_consistency(tiers):
    _, got = tiers
    _check_tier_consistency(got["tier_1m"], got["tier_1h"], "h")
    _check_tier_consistency(got["tier_1h"], got["tier_1d"], "D")


def test_coarse_p95_exact_from_blocks(tiers):
    pdf, got = tiers
    oracle = _oracle_turns(pdf)
    oracle["hb"] = (oracle["ts_us"] // 3_600_000_000) * 3_600_000_000
    t1h = got["tier_1h"].copy()
    t1h["hb"] = _us(t1h["bucket_start"])
    checked = 0
    for (conv, hb), g in oracle.groupby(["conv_id", "hb"]):
        ok = g[g["flag_dip"] != int(Flag.FAIL)]
        gaps = ok["gap"].to_numpy(F32)
        valid = gaps[np.isfinite(gaps)]
        if not len(valid):
            continue
        row = t1h[(t1h.conv_id == conv) & (t1h.hb == hb)]
        assert len(row) == 1
        got_p95 = F32(row["p95_gap"].iloc[0])
        assert got_p95.view(np.uint32) == compute_quantile(0.95, valid).view(np.uint32)
        checked += 1
    assert checked > 50


def test_salted_agg_equivalence(spark):
    df = spark.createDataFrame(
        gen_transcripts(n_turns=30_000, n_convs=30, seed=3).to_pandas()
    ).withColumn("text_len", F.length("text").cast("double"))
    plain = (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("text_len").alias("s"))
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    salted = (
        salted_agg(df, ["conv_id"], {"s": "text_len"}, salt_source="turn_idx")
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    assert (plain["n"] == salted["n"]).all()
    assert np.allclose(plain["s"], salted["s"], rtol=1e-12)


def test_fused_dims_equal_per_dimension_rollups(spark):
    """rollup_dims_fused slices must equal rollup_by_dimension exactly."""
    from olympian_spark.operators.rollup import rollup_by_dimension, rollup_dims_fused
    from olympian_spark.plans.pipeline import qc_flags

    df = spark.createDataFrame(gen_transcripts(8_000, 30, seed=13).to_pandas())
    slim = qc_flags(df, QcParams(dip_high=300.0, dip_max=1200.0)).select(
        "conv_id", "ts", "role", "tool", "text_len"
    )
    dims = rollup_dims_fused(slim, ("role", "tool"), "hour").persist()
    for d in ("role", "tool"):
        a = (
            dims.filter(f"dim_kind = '{d}'").drop("dim_kind")
            .withColumnRenamed("dim_value", d)
            .orderBy("bucket_start", d).toPandas()
        )
        b = rollup_by_dimension(slim, d, "hour").orderBy("bucket_start", d).toPandas()
        assert list(a.columns) == list(b.columns)
        assert a.equals(b), f"fused dims != per-dim rollup for {d}"
    dims.unpersist()


def _remap_conv(df, mapping):
    return (
        df.join(F.broadcast(mapping), "conv_id")
        .drop("conv_id")
        .withColumnRenamed("conv_int", "conv_id")
    )


def _assert_frames_bit_equal(a, b, what):
    assert len(a) == len(b) > 0, f"{what}: rows"
    for col in a.columns:
        av, bv = a[col].to_numpy(), b[col].to_numpy()
        if av.dtype == np.float32:
            assert (av.view(np.uint32) == bv.view(np.uint32)).all(), (what, col)
        else:
            assert ((a[col].isna() & b[col].isna()) | (a[col] == b[col])).all(), (
                what, col,
            )


def test_int64_key_cascade_matches_string_key(spark):
    """The tier kernels must honour int64 conv keys (the dictionary-encoded
    path COVERAGE.md advertises): rollup_tiers_fused run with int64 keys
    bit-matches the string-key run after key remap at all three grains, and
    so does rollup_coarser(..., "month") over the int64 tier_1d. Guards the
    kernels' conv_id output arrays against a hard-coded string type —
    round-2's rollup_coarser regression was exactly that."""
    df = spark.createDataFrame(gen_transcripts(8_000, 24, seed=7).to_pandas())
    slim = qc_flags(df, PARAMS).select(*SLIM_COLS).persist()
    # deterministic string -> int64 dictionary encoding
    mapping = slim.select("conv_id").distinct().withColumn(
        "conv_int", F.xxhash64("conv_id")
    ).persist()
    str_tagged = rollup_tiers_fused(slim).persist()
    int_tagged = rollup_tiers_fused(_remap_conv(slim, mapping)).persist()
    assert dict(int_tagged.dtypes)["conv_id"] == "bigint"

    def pair(str_df, int_df, what):
        a = _remap_conv(str_df, mapping).orderBy("conv_id", "bucket_start").toPandas()
        b = int_df.orderBy("conv_id", "bucket_start").toPandas()[a.columns]
        _assert_frames_bit_equal(a, b, what)

    for grain in (0, 1, 2):
        pair(
            str_tagged.filter(f"_grain = {grain}"),
            int_tagged.filter(f"_grain = {grain}"),
            f"grain {grain}",
        )
    month = [
        rollup_coarser(t.filter("_grain = 2").drop("_grain"), "month")
        for t in (str_tagged, int_tagged)
    ]
    assert dict(month[1].dtypes)["conv_id"] == "bigint"
    pair(*month, "month")
    for d in (str_tagged, int_tagged, slim, mapping):
        d.unpersist()


def test_tier_plan_exchange_budget(spark):
    """Plan-budget regression pin: a full tier plan (stage-1 gap/dip +
    fused kernel, persist=False so the WHOLE lineage shows) runs on at most
    TWO Exchanges — the stage-1 range shuffle on (conv_id, turn_idx) and the
    kernel's (conv, day) repartition (the conversation-skew spreader), both
    REPARTITION_BY_NUM so AQE byte-coalescing cannot starve them. A new
    shuffle sneaking into the hot path fails this before it costs a
    benchmark."""
    from olympian_spark.datagen import gen_transcripts
    from olympian_spark.plans.pipeline import QcParams, build_tiers

    pdf = gen_transcripts(n_turns=4000, n_convs=20, seed=3).to_pandas()
    df = spark.createDataFrame(pdf)
    tiers = build_tiers(
        df, QcParams(dip_high=300.0, dip_max=1200.0), persist=False
    )
    for name in ("tier_1m", "tier_1h", "tier_1d"):
        plan = tiers[name]._jdf.queryExecution().executedPlan().toString()
        # InMemoryRelation prints its cached child plan twice; count each
        # distinct Exchange node once
        n = len({
            line.strip().lstrip("+-: ")
            for line in plan.splitlines()
            if "Exchange " in line
        })
        assert n <= 2, f"{name}: {n} exchanges (budget 2)\n{plan[:1500]}"


def test_fused_pre_epoch_days_route_by_floor_mod(spark):
    """Pre-1970 turns: Spark-side pmod picks the kernel partition and numpy
    floor-mod the in-kernel day segment. If the two rules disagreed (e.g.
    Spark's sign-of-dividend `%`, which sends a turn sitting exactly on a
    pre-epoch midnight to another key than the rest of its day), one UTC
    day's rows would reach two kernel segments and its buckets would be
    emitted twice."""
    # ~2.5 days of turns from 1969-12-30 00:00, both pre-epoch midnights
    # included exactly
    secs = np.unique(np.concatenate((
        [0, 86_400], np.random.default_rng(5).integers(1, 216_000, 358)
    )))
    n = secs.size
    pdf = pd.DataFrame({
        "conv_id": "c0",
        "turn_idx": np.arange(n, dtype=np.int64),
        "ts": pd.Timestamp("1969-12-30") + pd.to_timedelta(secs, unit="s"),
        "role": "user",
        "tool": "none",
        "text": ["x" * (i % 7) for i in range(n)],
    })
    assert pdf["ts"].iloc[-1] >= pd.Timestamp("1970-01-01")
    slim = qc_flags(spark.createDataFrame(pdf), PARAMS).select(*SLIM_COLS)
    got = rollup_tiers_fused(slim).toPandas()
    got["bucket_us"] = _us(got["bucket_start"])
    for grain, rows in got.groupby("_grain"):
        assert not rows.duplicated(["conv_id", "bucket_us"]).any(), f"grain {grain}"
        assert rows["n_turns"].sum() == n, f"grain {grain}"
    days = got.loc[got["_grain"] == 2, "bucket_us"]
    assert (days % DAY_US == 0).all()
    assert set(days) == {-2 * DAY_US, -DAY_US, 0}
