"""Output checks. Each runs outside the timed window and returns a list of
failure messages (empty when the output is right)."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.compute as pc


def _canonical(tbl: pa.Table) -> pa.Table:
    """Columns by lower-cased name, integers as int64, floats rounded to 6
    decimals with NaN as null, timestamps as UTC microseconds; rows sorted."""
    cols = {}
    for name in sorted(tbl.column_names, key=str.lower):
        col = tbl.column(name)
        t = col.type
        if pa.types.is_integer(t):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(t):
            col = col.cast(pa.float64())
            col = pc.round(pc.if_else(pc.is_nan(col), None, col), 6)
        elif pa.types.is_timestamp(t):
            col = col.cast(pa.int64())
        elif pa.types.is_large_string(t):
            col = col.cast(pa.string())
        cols[name.lower()] = col
    out = pa.table(cols)
    return out.sort_by([(c, "ascending") for c in out.column_names]).combine_chunks()


def oracle_results(sf_dir: str, names) -> dict[str, pa.Table]:
    """Each query's ``oracle_sql()`` text run by DuckDB over the files in
    ``sf_dir``, in canonical form."""
    import duckdb

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("events", "lineitem", "orders", "customer", "nation",
                  "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: _canonical(con.execute(oracles[name]).fetch_arrow_table())
                for name in names}
    finally:
        con.close()


def oracle_mismatches(results: dict[str, pa.Table], oracle: dict[str, pa.Table]) -> dict[str, str]:
    """Compare Spark results with the oracle's: column names and the
    order-insensitive row values, floats to 6 decimals, as
    tests/test_entry_contract.py compares them. Maps each mismatching query
    to what differs."""
    failures = {}
    for name, result in results.items():
        got, want = _canonical(result), oracle[name]
        if got.column_names != want.column_names:
            failures[name] = f"columns {got.column_names} != {want.column_names}"
        elif not got.equals(want):
            failures[name] = f"{got.num_rows} spark rows differ from {want.num_rows} oracle rows"
    return failures


def table_digest(df, keys: tuple = ("conv_id", "bucket_start")) -> str:
    """SHA-256 over every column of a tier table (Gorilla ``block`` bytes
    included), independent of row order and partitioning."""
    tbl = df.toArrow()
    tbl = tbl.select(sorted(tbl.column_names)).sort_by([(k, "ascending") for k in keys])
    tbl = tbl.combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def conservation_failures(tiers: dict, n_turns: int) -> list[str]:
    """Sum n_turns and sum n_qc_fail agree across the three tiers, and
    tier_1m and the role rollup each count every input turn."""
    from pyspark.sql import functions as F

    sums = {}
    for k in ("tier_1m", "tier_1h", "tier_1d"):
        r = tiers[k].agg(F.sum("n_turns"), F.sum("n_qc_fail")).first()
        sums[k] = (int(r[0]), int(r[1]))
    role_turns = int(tiers["rollup_role_1h"].agg(F.sum("n_turns")).first()[0])
    t1m = sums["tier_1m"]
    failures = [f"{k} (n_turns, n_qc_fail) {sums[k]} != tier_1m {t1m}"
                for k in ("tier_1h", "tier_1d") if sums[k] != t1m]
    if t1m[0] != n_turns:
        failures.append(f"tier_1m n_turns {t1m[0]} != input turns {n_turns}")
    if role_turns != n_turns:
        failures.append(f"rollup_role_1h n_turns {role_turns} != input turns {n_turns}")
    return failures
