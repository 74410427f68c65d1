"""Independent references for the benchmark's correctness gate.

Every table a step produces is recomputed here with DuckDB over the same
generated parquet files, and compared with the engine's output as an unordered
multiset of canonical rows. The MinHash and quality-score references reuse
the DuckDB oracle SQL in ``__spark_entry__.py`` that the engine's parity
tests check against; the split reference uses the program's DuckDB form of
its md5 bucket hash.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import Counter
from decimal import Decimal

import duckdb

import gen


def canon(v):
    """One rendering per value, so engine and reference rows compare equal
    exactly when their values do (floats to 6 places, -0.0 as 0.0)."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6) + 0.0)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def rows(table, cols: list[str]) -> list[tuple]:
    """Canonical rows of a pyarrow table restricted to ``cols``."""
    data = [table.column(c).to_pylist() for c in cols]
    return [tuple(canon(v) for v in r) for r in zip(*data)]


def mismatches(got: list[tuple], exp: list[tuple]) -> int:
    """Rows in one side and not the other, counted with multiplicity."""
    a, b = Counter(got), Counter(exp)
    return sum(((a - b) + (b - a)).values())


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet glob``."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def query(con: duckdb.DuckDBPyConnection, sql: str, cols: list[str]) -> list[tuple]:
    return rows(con.execute(sql).fetch_arrow_table(), cols)


def _segments() -> str:
    return ", ".join(f"'{s}'" for s in gen.SEGMENTS)


CLEAN = f"c_acctbal >= 0 AND c_mktsegment IN ({_segments()})"
CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
SCD2_COLS = ["c_custkey", "c_acctbal", "c_mktsegment", "__start_at", "__end_at"]
SCD2_SQL = """
    SELECT c_custkey, c_acctbal, c_mktsegment, change_seq AS __start_at,
           LEAD(change_seq) OVER (PARTITION BY c_custkey ORDER BY change_seq) AS __end_at, op
    FROM changes
"""


def _split_case() -> tuple[str, str]:
    """The split CASE and the per-document bucket it reads, as DuckDB SQL."""
    from lakehouse_plumber_spark.llm.hashing import md5int_duck

    items = sorted(gen.SPLIT_WEIGHTS.items())
    total = sum(w for _, w in items)
    acc, branches = 0.0, []
    for name, w in items[:-1]:
        acc += w / total
        branches.append(f"WHEN b < {int(acc * 1_000_000)} THEN '{name}'")
    bucket = md5int_duck("'sample:' || CAST(doc_id AS VARCHAR)") + " % 1000000"
    return f"CASE {' '.join(branches)} ELSE '{items[-1][0]}' END", bucket


def minhash_pairs(con: duckdb.DuckDBPyConnection) -> list[tuple[int, int]]:
    """Near-duplicate pairs of the ``documents`` view, one-shot MinHash-LSH.
    The oracle's shingle, hash, signature and band CTEs are each referenced
    more than once; materializing them evaluates the same query without
    recomputing every signature per reference."""
    import __spark_entry__ as oracle

    sql = oracle._minhash_duck()
    for cte in ("grams_t", "hg_t", "sigs", "bands_all"):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return con.execute(f"SELECT id_a, id_b FROM ({sql})").fetchall()


def increment_expected(data_dir: str, landing: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """``table -> (columns, rows)`` for every target of the increment
    project, over every batch landed so far under ``landing``."""
    import __spark_entry__ as oracle

    con = connect({
        "events": f"{landing}/events/*.parquet", "changes": f"{landing}/changes/*.parquet",
        "customer_rows": f"{landing}/rows/*.parquet", "orders": f"{landing}/orders/*.parquet",
        "documents": f"{landing}/docs/*.parquet", "nation": f"{data_dir}/nation.parquet",
        "region": f"{data_dir}/region.parquet",
    })
    case, bucket = _split_case()
    out = {}

    def add(table, cols, sql):
        out[table] = (cols, query(con, sql, cols))

    add("main.bronze.events", ["event_id", "user_id", "event_type", "value"], "SELECT * FROM events")
    add("main.silver.customer_dim", SCD2_COLS, f"SELECT * FROM ({SCD2_SQL}) WHERE op <> 'D'")
    add("main.silver.customers", CUSTOMER_COLS, f"SELECT * FROM customer_rows WHERE {CLEAN}")
    add("main.dlq.customers", ["c_custkey"], f"SELECT c_custkey FROM customer_rows WHERE NOT ({CLEAN})")
    add("main.gold.orders_by_status", ["status", "priority", "n_orders", "total_price", "max_price"], """
        SELECT o_orderstatus AS status, o_orderpriority AS priority, COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS total_price, MAX(o_totalprice) AS max_price
        FROM orders GROUP BY ALL""")
    add("main.gold.customers_by_region", ["r_name", "c_mktsegment", "n_customers", "balance"], f"""
        SELECT r.r_name, c.c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
        FROM customer_rows c JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE {CLEAN.replace('c_', 'c.c_')} GROUP BY ALL""")
    add("main.gold.curated_docs", ["doc_id", "quality_score", "split"], f"""
        SELECT doc_id, quality_score, {case} AS split
        FROM (SELECT *, {bucket} AS b FROM ({oracle._quality_duck()}))
        WHERE quality_score >= {gen.MIN_QUALITY}""")
    out["main.gold.doc_pairs"] = (["id_a", "id_b"], [tuple(p) for p in minhash_pairs(con)])
    con.close()
    return out


def engine_rows(store, table: str, cols: list[str]) -> list[tuple]:
    """The engine's table read back through its store, as canonical rows.
    CDC tables keep their hidden event log as tombstone rows; DLQ rows carry
    the quarantined record as JSON in ``_row_data``."""
    df = store.read(table)
    if "__tombstone" in df.columns:
        df = df.filter("NOT __tombstone")
    if table.startswith("main.dlq."):
        data = df.select("_row_data").toArrow().column(0).to_pylist()
        return [tuple(canon(json.loads(d)[c]) for c in cols) for d in data]
    return rows(df.select(*cols).toArrow(), cols)


def engine_tables(store, expected: dict) -> dict[str, list[tuple]]:
    return {t: engine_rows(store, t, cols) for t, (cols, _) in expected.items()}


def compare(got: dict[str, list[tuple]], expected: dict) -> dict[str, int]:
    """Mismatching rows per table (0 everywhere when the step is correct)."""
    return {t: mismatches(got[t], exp) for t, (_, exp) in expected.items()}


def planted(expected: dict) -> dict:
    """A copy of ``expected`` with one value of one reference row perturbed;
    the gate must count it as a mismatch."""
    table = next(t for t, (_, exp) in expected.items() if exp)
    cols, exp = expected[table]
    first = list(exp[0])
    first[0] = ("planted", first[0])
    return {**expected, table: (cols, [tuple(first)] + exp[1:])}
