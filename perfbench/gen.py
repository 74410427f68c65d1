"""Seeded input generator for the pipeline benchmark.

Everything the program under test receives is derived here from one integer
seed: the YAML projects of both workloads, the dimension tables and the
batches the ``increment`` workload lands. Table shapes and row counts are
fixed; only the values vary with the seed, so step times are comparable
across seeds. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

N_CUSTOMERS = 2000

# the ``increment`` initial load lands this many batches in one go
HISTORY_BATCHES = 24
# per landed batch of the ``increment`` workload
BATCH_EVENTS = 2000
BATCH_CHANGES = 200
BATCH_ROWS = 200
BATCH_ORDERS = 1000
BATCH_DOCS = 40

# compile_loop project shape
COMPILE_DOMAINS = 10
COMPILE_PER_DOMAIN = 20
EDIT_SHARE = 0.03

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "search"]
SOURCES = ["web", "books", "code", "news"]
WORDS = (
    "the of and to in is that for it with as on was by this are be at from "
    "data table stream merge spark query batch window join shuffle index "
    "lake house bronze silver gold quality score sample model token corpus "
    "pipeline action commit change feed key value sketch bucket vector "
    "record schema column partition file cache graph node edge plan stage"
).split()
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
CATALOG = "main"
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
MIN_QUALITY = 0.9


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz="UTC"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.replace_schema_metadata(None), path, compression="snappy")


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _docs(rng: np.random.Generator, ids: np.ndarray, history: list[str]) -> pa.Table:
    """Documents where about one in eight is a light edit of an earlier one,
    so MinHash finds near-duplicate pairs both within and across batches."""
    texts = []
    for _ in ids:
        pool = history + texts
        if pool and rng.random() < 0.125:
            words = pool[int(rng.integers(0, len(pool)))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(30, 90))))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([SOURCES[i] for i in rng.integers(0, len(SOURCES), len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _customers(rng: np.random.Generator, keys: np.ndarray, dirty: bool) -> pa.Table:
    """Customer rows; with ``dirty`` a share of rows breaks an expectation
    (negative balance or an out-of-set segment)."""
    bal = np.round(rng.uniform(0, 9000, len(keys)), 2)
    seg = [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), len(keys))]
    if dirty:
        bad = rng.random(len(keys))
        bal = np.where(bad < 0.1, -bal - 1.0, bal)
        seg = [s if b < 0.1 or b >= 0.15 else "UNKNOWN" for s, b in zip(seg, bad)]
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(keys)), pa.int32()),
        "c_acctbal": pa.array(bal, pa.float64()),
        "c_mktsegment": pa.array(seg, pa.string()),
    })


def _orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, n), pa.int64()),
        "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(10, 50000, n), 2), pa.float64()),
        "o_orderdate": _ts(EPOCH.timestamp() * 1e6 + rng.integers(0, 365, n) * 86_400_000_000),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n)]),
    })


def _changes(rng: np.random.Generator, n: int, k: int) -> pa.Table:
    """Batch ``k`` of a CDC feed over customer keys: upserts with fresh
    balances and some deletes. Sequence numbers are unique and shuffled into
    arrival order, and one change in ten is late: it sorts before every
    change of the previous batch."""
    keys = rng.integers(1, N_CUSTOMERS // 4 + 1, n)
    seq = k * 1_000_000 + rng.permutation(n)
    late = rng.random(n) < 0.1
    seq = np.where(late, (k - 1) * 1_000_000 - n + np.arange(n), seq)
    op = np.where(rng.random(n) < 0.1, "D", "U")
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_acctbal": pa.array(np.round(rng.uniform(0, 9000, n), 2), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
        "change_seq": pa.array(seq, pa.int64()),
        "op": pa.array(op.tolist(), pa.string()),
    })


def _events(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": _ts(EPOCH.timestamp() * 1e6 + rng.integers(0, 30 * 86_400, n) * 1_000_000),
        "user_id": pa.array(rng.integers(1, 500, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 100, n), 3), pa.float64()),
    })


def make_tables(out: str) -> None:
    """The static dimensions the gold star join reads from the catalog."""
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")


def make_batch(seed: int, k: int, landing: str, history: list[str]) -> dict[str, pa.Table]:
    """Batch ``k`` (1-based) of the ``increment`` workload, written as one new
    file per landing directory: events, out-of-order customer changes with
    deletes, customer rows of which some break an expectation, orders, and
    documents. ``history`` holds the texts of earlier documents (extended in
    place) so near-duplicates can span batches."""
    rng = np.random.default_rng([seed, 1, k])
    tables = {
        "events": _events(rng, np.arange(BATCH_EVENTS) + k * BATCH_EVENTS),
        "changes": _changes(rng, BATCH_CHANGES, k),
        "rows": _customers(rng, np.arange(BATCH_ROWS) + k * BATCH_ROWS, dirty=True),
        "orders": _orders(rng, np.arange(BATCH_ORDERS) + k * BATCH_ORDERS),
        "docs": _docs(rng, np.arange(BATCH_DOCS) + k * BATCH_DOCS, history),
    }
    history.extend(tables["docs"].column("text").to_pylist())
    for name, t in tables.items():
        _write(t, f"{landing}/{name}/batch_{k:05d}.parquet")
    return tables


# ---------------------------------------------------------------- projects


def _fg(pipeline: str, flowgroup: str, actions: list[dict], **extra) -> dict:
    return {"pipeline": pipeline, "flowgroup": flowgroup, **extra, "actions": actions}


def _load_sql(name: str, sql: str, target: str) -> dict:
    return {"name": name, "type": "load", "source": {"type": "sql", "sql": sql}, "target": target}


def _load_table(name: str, schema: str, table: str, target: str) -> dict:
    return {"name": name, "type": "load", "target": target,
            "source": {"type": "delta", "catalog": "${catalog}", "schema": schema, "table": table}}


def _sql(name: str, source, sql: str, target: str) -> dict:
    return {"name": name, "type": "transform", "transform_type": "sql",
            "source": source, "sql": sql, "target": target}


def _mv(name: str, source: str, schema: str, table: str, **extra) -> dict:
    return {"name": name, "type": "write", "source": source,
            "write_target": {"type": "materialized_view", "catalog": "${catalog}",
                             "schema": schema, "table": table, **extra}}


def _st(name: str, source: str, schema: str, table: str, **extra) -> dict:
    return {"name": name, "type": "write", "source": source,
            "write_target": {"type": "streaming_table", "catalog": "${catalog}",
                             "schema": schema, "table": table, **extra}}


CUSTOMER_CHECKS = [
    {"name": "nonneg_balance", "constraint": "c_acctbal >= 0", "type": "expect_or_drop"},
    {"name": "known_segment",
     "constraint": "c_mktsegment IN (" + ", ".join(f"'{s}'" for s in SEGMENTS) + ")",
     "type": "expect_or_drop"},
]
SCD2 = {"keys": ["c_custkey"], "sequence_by": "change_seq", "scd_type": 2,
        "apply_as_deletes": "op = 'D'", "except_column_list": ["op"]}


def _dump(path: str, spec) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        yaml.safe_dump(spec, f, sort_keys=False, width=120)


def make_increment_project(root: str, landing: str) -> None:
    """The medallion project the ``increment`` workload updates per batch.
    Bronze and silver are streaming: cloudfiles fan-in, SCD2 CDC merge,
    quarantine with DLQ merge. Gold mixes an incremental MV, incremental
    near-duplicate detection, batch LLM curation (quality score, DQ drop,
    hash split), a star-join MV over the silver customers, and tests."""
    _dump(f"{root}/substitutions/bench.yaml", {"bench": {"catalog": CATALOG, "landing": landing}})
    _dump(f"{root}/expectations/customer.yaml", CUSTOMER_CHECKS)

    def stream(name: str, sub: str, schema: str, target: str) -> dict:
        return {"name": name, "type": "load", "readMode": "stream", "target": target,
                "source": {"type": "cloudfiles", "path": f"${{landing}}/{sub}",
                           "format": "parquet", "schema": schema}}

    ev = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    cust = "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"
    fgs = [
        _fg("bronze", "events_fanin", [
            stream("ingest", "events", ev, "v_ev"),
            _sql("views", "v_ev", "SELECT * FROM v_ev WHERE event_type IN ('view', 'search')", "v_a"),
            _sql("actions", "v_ev", "SELECT * FROM v_ev WHERE event_type NOT IN ('view', 'search')",
                 "v_b"),
            _st("flow_a", "v_a", "bronze", "events", create_table=True),
            _st("flow_b", "v_b", "bronze", "events", create_table=False),
        ]),
        _fg("silver", "customer_history", [
            stream("feed", "changes", "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING, "
                   "change_seq BIGINT, op STRING", "v_changes"),
            _st("apply", "v_changes", "silver", "customer_dim", mode="cdc", cdc_config=SCD2),
        ]),
        _fg("silver", "customers_clean", [
            stream("ingest", "rows", cust, "v_rows"),
            {"name": "quarantine", "type": "transform", "transform_type": "data_quality",
             "mode": "quarantine", "source": "v_rows", "target": "v_good",
             "quarantine": {"dlq_table": "${catalog}.dlq.customers", "source_table": "customer_rows"},
             "expectations_file": "expectations/customer.yaml"},
            _st("write", "v_good", "silver", "customers", readMode="stream"),
        ]),
        _fg("gold", "orders_by_status", [
            stream("feed", "orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
                   "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING", "v_orders"),
            {"name": "enforce", "type": "transform", "transform_type": "schema",
             "source": "v_orders", "target": "v_typed", "enforcement": "strict",
             "schema_inline": {"columns": [
                 {"name": "status", "rename_from": "o_orderstatus", "type": "string"},
                 {"name": "priority", "rename_from": "o_orderpriority", "type": "string"},
                 {"name": "total", "rename_from": "o_totalprice", "type": "double"},
             ]}},
            _mv("mv", "v_typed", "gold", "orders_by_status", refresh_policy="incremental",
                incremental_config={
                    "group_by": ["status", "priority"],
                    "aggs": {"n_orders": "count(*)",
                             "total_price": "sum(CAST(total AS DECIMAL(18,6)))",
                             "max_price": "max(total)"}}),
        ]),
        _fg("gold", "customers_by_region", [
            _sql("join", ["main.silver.customers", "nation", "region"], """\
SELECT r.r_name, c.c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
FROM main.silver.customers c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, c.c_mktsegment""", "v_seg"),
            {"name": "unique_groups", "type": "test", "test_type": "uniqueness", "on_violation": "fail",
             "source": {"source": "v_seg", "columns": ["r_name", "c_mktsegment"]}},
            {"name": "counts_positive", "type": "test", "test_type": "range", "on_violation": "fail",
             "source": {"source": "v_seg", "column": "n_customers", "min_value": 1,
                        "max_value": 1e9}},
            _mv("write", "v_seg", "gold", "customers_by_region"),
        ]),
        _fg("gold", "doc_curation", [
            _load_sql("load", "SELECT * FROM docs_batch", "v_batch"),
            {"name": "score", "type": "transform", "transform_type": "text",
             "source": "v_batch", "target": "v_scored", "text": {"method": "quality_score"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_scored", "target": "v_ok", "expectations_inline": [
                 {"name": "min_quality", "constraint": f"quality_score >= {MIN_QUALITY}",
                  "type": "expect_or_drop"}]},
            {"name": "split", "type": "transform", "transform_type": "sample",
             "source": "v_ok", "target": "v_split",
             "sample": {"method": "hash_split", "weights": SPLIT_WEIGHTS}},
            _st("write", "v_split", "gold", "curated_docs"),
        ]),
        _fg("gold", "doc_dedup", [
            _load_sql("load", "SELECT * FROM docs_batch", "v_batch"),
            {"name": "dedup", "type": "transform", "transform_type": "dedup",
             "source": "v_batch", "target": "v_pairs",
             "dedup": {"method": "incremental", "index_table": "${catalog}.dedup.bands",
                       "grams_table": "${catalog}.dedup.grams"}},
            _st("write", "v_pairs", "gold", "doc_pairs"),
        ]),
    ]
    for spec in fgs:
        _dump(f"{root}/pipelines/{spec['pipeline']}/{spec['flowgroup']}.yaml", spec)


def make_compile_project(seed: int, root: str) -> list[tuple[str, str, int]]:
    """A project of COMPILE_DOMAINS x COMPILE_PER_DOMAIN flowgroups using
    presets, a template, a blueprint, ${tokens}, a secret, expectations files
    and module_path python transforms. Every flowgroup carries one numeric
    literal that the edit step rewrites. Returns ``(spec file, generated file
    name, literal)`` per flowgroup."""
    rng = np.random.default_rng([seed, 2])
    manifest = []
    _dump(f"{root}/substitutions/bench.yaml",
          {"bench": {"catalog": CATALOG, "landing": "/landing", "max_rows": "100000"}})
    _dump(f"{root}/presets/bronze_layer.yaml",
          {"name": "bronze_layer", "defaults": {"variables": {"layer": "bronze", "tier": "raw"}}})
    _dump(f"{root}/presets/silver_layer.yaml",
          {"name": "silver_layer", "extends": "bronze_layer",
           "defaults": {"variables": {"layer": "silver"}}})
    _dump(f"{root}/expectations/orders.yaml", [
        {"name": "positive_total", "constraint": "total > 0", "type": "expect_or_drop"},
        {"name": "known_status", "constraint": "status IN ('F', 'O', 'P')", "type": "expect"},
    ])
    os.makedirs(f"{root}/transforms", exist_ok=True)
    with open(f"{root}/transforms/enrich.py", "w") as f:
        f.write(
            "from pyspark.sql import functions as F\n\n\n"
            "def enrich(df, spark, params):\n"
            "    return df.withColumn('band', F.floor(F.col('total') / params['width']))\n"
        )
    _dump(f"{root}/templates/agg_by.yaml", {
        "name": "agg_by",
        "parameters": [{"name": "pipe", "required": True}, {"name": "src", "required": True},
                       {"name": "col", "required": True}, {"name": "out", "required": True},
                       {"name": "min_total", "default": 0}],
        "pipeline": "{{ pipe }}", "flowgroup": "{{ out }}",
        "actions": [
            _sql("agg", "{{ src }}", "SELECT {{ col }}, COUNT(*) AS n, SUM(total) AS total "
                 "FROM {{ src }} WHERE total > {{ min_total }} GROUP BY {{ col }}", "v_agg"),
            _mv("write", "v_agg", "gold", "{{ out }}"),
        ],
    })
    _dump(f"{root}/blueprints/ingest.yaml", {
        "name": "ingest",
        "parameters": [{"name": "domain", "required": True}, {"name": "idx", "required": True},
                       {"name": "min_total", "required": True}],
        "flowgroups": [{
            "pipeline": "bronze_%{domain}", "flowgroup": "ingest_%{domain}_%{idx}",
            "actions": [
                _load_sql("load", "SELECT * FROM ${catalog}.landing.%{domain}_%{idx} "
                          "WHERE total > %{min_total} LIMIT ${max_rows}", "v_raw"),
                _mv("write", "v_raw", "bronze", "%{domain}_%{idx}"),
            ],
        }],
    })
    for d in range(COMPILE_DOMAINS):
        dom = f"d{d:02d}"
        for i in range(COMPILE_PER_DOMAIN):
            lit = int(rng.integers(100, 100000))
            kind = i % 4
            path = f"{root}/pipelines/{dom}/fg_{i:03d}.yaml"
            out = {0: f"bronze_{dom}__ingest_{dom}_{i}", 1: f"gold_{dom}__agg_{dom}_{i}",
                   2: f"silver_{dom}__clean_{dom}_{i}", 3: f"silver_{dom}__enrich_{dom}_{i}"}[kind]
            manifest.append((path, out + ".py", lit))
            if kind == 0:
                spec = {"use_blueprint": "ingest",
                        "parameters": {"domain": dom, "idx": i, "min_total": lit}}
            elif kind == 1:
                spec = {"use_template": "agg_by", "template_parameters": {
                    "pipe": f"gold_{dom}", "src": f"main.bronze.{dom}_{i - 1}",
                    "col": "status", "out": f"agg_{dom}_{i}", "min_total": lit}}
            elif kind == 2:
                spec = _fg(f"silver_{dom}", f"clean_{dom}_{i}", [
                    _load_table("load", "bronze", f"{dom}_{i - 2}", "v_src"),
                    _sql("tag", "v_src", f"SELECT *, '%{{layer}}' AS layer, "
                         f"'${{secret:api/token}}' AS token FROM v_src WHERE total > {lit}", "v_tagged"),
                    {"name": "dq", "type": "transform", "transform_type": "data_quality",
                     "source": "v_tagged", "target": "v_clean",
                     "expectations_file": "expectations/orders.yaml"},
                    _mv("write", "v_clean", "silver", f"{dom}_{i}"),
                ], presets=["silver_layer"])
            else:
                spec = _fg(f"silver_{dom}", f"enrich_{dom}_{i}", [
                    _load_table("load", "silver", f"{dom}_{i - 1}", "v_src"),
                    {"name": "enrich", "type": "transform", "transform_type": "python",
                     "source": "v_src", "target": "v_enriched", "module_path": "transforms/enrich.py",
                     "function_name": "enrich", "parameters": {"width": lit}},
                    _mv("write", "v_enriched", "silver", f"{dom}_{i}"),
                ], presets=["bronze_layer"])
            _dump(path, spec)
    return manifest


def edit_compile_project(seed: int, step: int, manifest: list[tuple[str, str, int]]) -> dict[str, int]:
    """Rewrite the literal of a seeded EDIT_SHARE of the flowgroups in place;
    returns ``generated file name -> new literal`` for the edited ones and
    updates ``manifest``."""
    rng = np.random.default_rng([seed, 3, step])
    n = max(1, round(EDIT_SHARE * len(manifest)))
    edited = {}
    for j, idx in enumerate(sorted(rng.choice(len(manifest), n, replace=False))):
        path, out, old = manifest[idx]
        new = 1_000_000 + step * 1000 + j
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(str(old), str(new)))
        manifest[idx] = (path, out, new)
        edited[out] = new
    return edited

