"""Seeded benchmark inputs and the properties the engine's behaviour depends on.

Every input is a pure function of the workload seed. Properties are computed
with numpy from the generated table, before Spark sees it, so they describe
the input rather than the engine's reading of it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from olympian_spark.datagen import EPOCH_2024, ROLES, TOOLS, WORDS, gen_transcripts

DAY_US = 86_400 * 1_000_000

# The suite's events table mirrors the sf0.1 testdata: 100k events from
# 1,500 users, uniform over 30 days, five event types, exponential values.
SF01_EVENTS = 100_000
SF01_USERS = 1_500
SF_SPAN_DAYS = 30
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def write_sf_tables(sf_dir: str, seed: int, n_events: int = SF01_EVENTS) -> pa.Table:
    """Write an sf0.1-shaped table set; returns the events table.

    Only ``events`` feeds the suite's queries. The other tables that
    ``__spark_entry__`` registers as views are written small, with the
    testdata schemas, so view registration finds them.
    """
    rng = np.random.default_rng(seed)
    n = n_events
    t0 = EPOCH_2024 * 1_000_000
    ts = np.sort(rng.integers(0, SF_SPAN_DAYS * DAY_US, size=n)) + t0
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SF01_USERS, size=n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    k = 25
    ids = np.arange(k, dtype=np.int64)
    day0 = pa.array(np.full(k, t0), pa.timestamp("us"))
    names = pa.array([f"X_{i}" for i in range(k)])
    tables = {
        "events": events,
        "nation": pa.table({
            "n_nationkey": pa.array(ids.astype(np.int32)), "n_name": names,
            "n_regionkey": pa.array((ids % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": ids, "c_name": names,
            "c_nationkey": pa.array(ids.astype(np.int32)),
            "c_acctbal": ids.astype(np.float64), "c_mktsegment": names,
        }),
        "orders": pa.table({
            "o_orderkey": ids, "o_custkey": ids, "o_orderstatus": names,
            "o_totalprice": ids.astype(np.float64), "o_orderdate": day0,
            "o_orderpriority": names,
        }),
        "lineitem": pa.table({
            "l_orderkey": ids, "l_partkey": ids, "l_suppkey": ids,
            "l_linenumber": pa.array(ids.astype(np.int32)),
            "l_quantity": ids.astype(np.float64),
            "l_extendedprice": ids.astype(np.float64),
            "l_discount": np.zeros(k), "l_tax": np.zeros(k),
            "l_returnflag": names, "l_linestatus": names, "l_shipdate": day0,
        }),
        "documents": pa.table({
            "doc_id": ids, "text": names, "lang": names, "source": names,
            "n_chars": ids,
        }),
        "embeddings": pa.table({
            "vec_id": ids,
            "embedding": pa.array([[float(i), 1.0] for i in range(k)],
                                  pa.list_(pa.float32())),
            "label": pa.array(ids.astype(np.int32)),
        }),
    }
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
    return events


def conv_day_props(conv_codes: np.ndarray, day: np.ndarray) -> dict:
    """Turns, conversations, the largest conversation's share of the turns,
    and the most rows in one (conversation, UTC day)."""
    sizes = np.bincount(conv_codes)
    key = conv_codes.astype(np.int64) * (int(day.max()) + 1) + day
    _, per_conv_day = np.unique(key, return_counts=True)
    return {
        "turns": int(conv_codes.size),
        "conversations": int(np.count_nonzero(sizes)),
        "hot_conv_share": round(float(sizes.max() / conv_codes.size), 4),
        "max_rows_conv_day": int(per_conv_day.max()),
    }


def event_props(events: pa.Table) -> dict:
    return conv_day_props(events["user_id"].to_numpy(), utc_day(events))


def gen_transcripts_fast(
    n_turns: int, n_convs: int, seed: int, hot_conv_share: float = 0.20,
    span_days: float = 30.0,
) -> tuple[pa.Table, np.ndarray]:
    """``olympian_spark.datagen.gen_transcripts``, same draws in the same
    order, with the per-row Python loops (texts, conversation ids, tools)
    done in Arrow: at 2M turns the original takes about 16 s, most of a
    run's set-up budget, and this takes about 2 s. Returns the table and
    each row's conversation number. ``generator_mismatches`` checks the two
    agree."""
    rng = np.random.default_rng(seed)
    hot = int(n_turns * hot_conv_share)
    rest = n_turns - hot
    w = rng.zipf(1.5, size=n_convs - 1).astype(np.float64)
    sizes = np.maximum(1, np.round(w / w.sum() * rest)).astype(np.int64)
    sizes[np.argmax(sizes)] += rest - sizes.sum()
    if sizes[np.argmax(sizes)] < 1:
        raise ValueError("n_turns too small for n_convs")
    sizes = np.concatenate([[hot], sizes])

    span_s = span_days * 86400.0
    ts = []
    for size in sizes:
        size = int(size)
        start = EPOCH_2024 + rng.uniform(0.0, span_s * 0.25)
        kind = rng.choice(3, size=size, p=[0.05, 0.90, 0.05])
        gaps = np.where(
            kind == 0, 0.0,
            np.where(kind == 1, rng.uniform(1.0, 120.0, size=size),
                     rng.uniform(3600.0, 6 * 3600.0, size=size)),
        )
        gaps[0] = 0.0
        ts.append(start + np.cumsum(gaps))
    ts = np.concatenate(ts)
    conv = np.repeat(np.arange(sizes.size), sizes)
    n = conv.size
    turn_idx = np.arange(n, dtype=np.int32) - np.repeat(
        (np.cumsum(sizes) - sizes).astype(np.int32), sizes)

    role_i = rng.choice(4, size=n, p=[0.42, 0.42, 0.06, 0.10])
    tool_i = rng.choice(5, size=n)
    keep_tool = (role_i == 3) | (rng.random(n) < 0.15)
    n_words = rng.integers(0, 25, size=n)
    n_words[rng.random(n) < 0.02] = 0
    word_i = rng.choice(WORDS.size, size=int(n_words.sum()))  # same draws as choice(WORDS)

    def dict_col(idx, values):
        return pa.DictionaryArray.from_arrays(
            pa.array(idx.astype(np.int32)), pa.array(values, pa.string())
        ).cast(pa.string())

    offsets = np.concatenate([[0], np.cumsum(n_words)]).astype(np.int64)
    words = pa.LargeListArray.from_arrays(pa.array(offsets), dict_col(word_i, WORDS))
    tool = dict_col(tool_i, TOOLS)
    table = pa.table({
        "conv_id": dict_col(conv, [f"conv_{c:06d}" for c in range(sizes.size)]),
        "turn_idx": pa.array(turn_idx),
        "role": dict_col(role_i, ROLES),
        "text": pc.binary_join(words, " ").cast(pa.string()),
        "tool": pc.if_else(pa.array(keep_tool), tool, pa.scalar(None, pa.string())),
        "ts": pa.array((ts * 1e6).astype(np.int64), pa.timestamp("us", tz="UTC")),
    })
    return table, conv


def generator_mismatches(seed: int) -> list[str]:
    """Compare gen_transcripts_fast with the program's generator on a small
    input of the same shape."""
    kw = dict(n_turns=5_000, n_convs=60, seed=seed, span_days=120.0)
    want = gen_transcripts(**kw)
    got, _ = gen_transcripts_fast(**kw)
    return [] if got.equals(want) else ["gen_transcripts_fast differs from gen_transcripts"]


def utc_day(tbl: pa.Table) -> np.ndarray:
    """Each row's UTC day number, counted from 2024-01-01."""
    return (tbl["ts"].cast(pa.int64()).to_numpy() - EPOCH_2024 * 1_000_000) // DAY_US


def write_parts(tbl: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def write_by_day(tbl: pa.Table, day: np.ndarray, path: str, last_day: int) -> pa.Table:
    """Write days 0..last_day as hive partitions ``day=<n>``; returns the kept rows."""
    keep = tbl.filter(pa.array(day <= last_day))
    kept_day = day[day <= last_day]
    for d in np.unique(kept_day):
        part = os.path.join(path, f"day={int(d)}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(keep.filter(pa.array(kept_day == d)), os.path.join(part, "part-0.parquet"))
    return keep


def refresh_day_props(codes: np.ndarray, day: np.ndarray, days: tuple) -> list[dict]:
    """Per refreshed day: new turns, affected conversations, and the history
    rows an incremental refresh recomputes (every turn up to that day of the
    conversations active on it)."""
    out = []
    for d in days:
        today = day == d
        affected = np.unique(codes[today])
        history = np.isin(codes, affected) & (day <= d)
        out.append({
            "day": int(d),
            "new_turns": int(today.sum()),
            "affected_convs": int(affected.size),
            "recomputed_rows": int(history.sum()),
        })
    return out
