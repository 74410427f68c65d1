"""Unit tests for functions/: as-of join and bucketed interval join.

Beyond value correctness (the oracle-parity gate covers the registered
queries), these check the contracts the compositions exist for: null handling
on no-match, tolerance cutoffs, tie inclusivity, and — critically — that the
physical plans contain NO nested-loop/cartesian join, since avoiding that is
the whole point versus writing the inequality join directly.
"""

import pytest
from pyspark.sql import functions as F

from lakehouse_plumber_spark.functions import asof_join, interval_self_join


@pytest.fixture(scope="module")
def quotes_trades(spark):
    quotes = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 101.0), (1, 40, 99.0), (2, 15, 7.0)],
        "sym long, qts long, px double",
    )
    trades = spark.createDataFrame(
        [(1, 5, 10), (1, 10, 11), (1, 25, 12), (1, 41, 13), (2, 14, 20), (3, 50, 30)],
        "sym long, tts long, qty long",
    )
    return quotes, trades


def test_asof_backward_inclusive_and_no_match(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, keys=["sym"], left_ts="tts", right_ts="qts", prefix="q_"
    )
    got = {(r.sym, r.tts): (r.q_qts, r.q_px) for r in out.collect()}
    assert got[(1, 5)] == (None, None)  # before any quote
    assert got[(1, 10)] == (10, 100.0)  # tie: quote at same ts matches
    assert got[(1, 25)] == (20, 101.0)
    assert got[(1, 41)] == (40, 99.0)
    assert got[(2, 14)] == (None, None)
    assert got[(3, 50)] == (None, None)  # key absent from right side
    assert out.count() == trades.count()  # left-join semantics


def test_asof_tolerance(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, keys=["sym"], left_ts="tts", right_ts="qts",
        tolerance=5, prefix="q_",
    )
    got = {(r.sym, r.tts): r.q_qts for r in out.collect()}
    assert got[(1, 25)] == 20  # gap 5 <= tolerance
    assert got[(1, 41)] == 40  # gap 1
    assert got[(1, 10)] == 10  # gap 0
    # without tolerance this matched qts=40; gap 41-40=1 ok but (1,5) none
    assert got[(1, 5)] is None


def test_asof_plan_has_no_nested_loop(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(trades, quotes, keys=["sym"], left_ts="tts", right_ts="qts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_interval_self_join_pairs(spark):
    df = spark.createDataFrame(
        [(1, 100, "a"), (1, 150, "b"), (1, 260, "c"), (1, 1000, "d"), (2, 120, "e")],
        "k long, t long, tag string",
    )
    out = interval_self_join(
        df, keys=["k"], ts_col="t", window=200,
        left_cols=["tag"], right_cols=["tag"],
    )
    pairs = {(r.tag, r.tag_r, r.delta) for r in out.collect()}
    # window straddles bucket boundaries: (100,260) delta=160 crosses buckets
    assert pairs == {("a", "b", 50), ("a", "c", 160), ("b", "c", 110)}


def test_interval_join_excludes_self_and_out_of_window(spark):
    df = spark.createDataFrame([(1, 0, "x"), (1, 200, "y"), (1, 401, "z")],
                               "k long, t long, tag string")
    out = interval_self_join(df, keys=["k"], ts_col="t", window=200,
                             left_cols=["tag"], right_cols=["tag"])
    pairs = {(r.tag, r.tag_r) for r in out.collect()}
    # x->y delta 200 (inclusive); y->z delta 201 excluded; no self pairs
    assert pairs == {("x", "y")}


def test_interval_join_plan_is_hash_join(spark):
    df = spark.createDataFrame([(1, 0, 1.0)], "k long, t long, v double")
    out = interval_self_join(df, keys=["k"], ts_col="t", window=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_peak_concurrency_sweep_line(spark):
    from lakehouse_plumber_spark.functions import peak_concurrency

    rows = [
        # three overlapping 60s sessions -> peak 3
        (1, "2024-03-01 10:00:00"),
        (2, "2024-03-01 10:00:30"),
        (3, "2024-03-01 10:00:50"),
        # isolated session later the same day
        (4, "2024-03-01 18:00:00"),
        # touching boundary: starts exactly when #4 ends -> counts as overlap
        (5, "2024-03-01 18:01:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string").selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts"
    )
    out = {r.day: r for r in peak_concurrency(df, "ts", 60).collect()}
    assert out["2024-03-01"].peak_concurrent == 3
    assert out["2024-03-01"].n_started == 5


def test_peak_concurrency_midnight_clipping(spark):
    from lakehouse_plumber_spark.functions import peak_concurrency

    df = spark.createDataFrame(
        [(1, "2024-03-01 23:59:00"), (2, "2024-03-02 00:00:30")],
        "event_id long, ts string",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts")
    out = {r.day: r for r in peak_concurrency(df, "ts", 120).collect()}
    # session 1 runs 23:59..00:01, overlapping session 2 on day 2
    assert out["2024-03-01"].peak_concurrent == 1
    assert out["2024-03-01"].n_started == 1
    assert out["2024-03-02"].peak_concurrent == 2
    assert out["2024-03-02"].n_started == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        peak_concurrency(df, "ts", 0)


def test_zorder_import_leaves_pandas_out():
    """The table store imports the Morton layout, so importing it must stay
    cheap: the llm package no longer imports its submodules (pandas among
    them) when one of them is imported."""
    import os
    import subprocess
    import sys

    code = ("import sys, lakehouse_plumber_spark.functions.zorder, lakehouse_plumber_spark.tables; "
            "print('pandas' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True,
                         cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert out.stdout.strip() == "False"


def test_zorder_key_matches_python_interleave(spark):
    from lakehouse_plumber_spark.functions.zorder import with_zorder_key

    rows = [(a, b) for a in range(0, 16) for b in range(0, 16)]
    df = spark.createDataFrame(rows, "a int, b int")
    out = {(r.a, r.b): r["__zorder"] for r in with_zorder_key(df, ["a", "b"], bits=4).collect()}

    def q(v):  # min=0 max=15 -> bucket = round-down of v/15*15 = v
        return int(min(max(v / 15.0, 0.0), 1.0) * 15)

    def morton(a, b):
        key = 0
        for bit in range(4):
            key |= ((q(a) >> bit) & 1) << (bit * 2)
            key |= ((q(b) >> bit) & 1) << (bit * 2 + 1)
        return key

    assert out == {(a, b): morton(a, b) for a, b in rows}
    # NULLs bucket to 0: with non-degenerate ranges (0..15 both columns), a
    # NULL contributes no bits for its column and the other column's bits
    # land at their normal interleaved positions
    dfn = spark.createDataFrame(
        [(None, 3), (2, None), (0, 15), (15, 0)], "a int, b int"
    )
    got = {
        (r.a, r.b): r["__zorder"]
        for r in with_zorder_key(dfn, ["a", "b"], bits=4).collect()
    }
    assert got[(None, 3)] == morton(0, 3)
    assert got[(2, None)] == morton(2, 0)


def test_zorder_layout_prunes_second_column(spark, tmp_path):
    """The measurable benefit: after a Z-ordered 16-file write, a selective
    predicate on the SECOND clustered column touches a small fraction of the
    files; a lexicographic (a, b) sort spreads it across all of them."""
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.functions.zorder import zorder_write

    df = spark.createDataFrame(
        [(a, b) for a in range(128) for b in range(128)], "a int, b int"
    )
    lex = str(tmp_path / "lex")
    (
        df.repartitionByRange(16, F.col("a"), F.col("b"))
        .sortWithinPartitions("a", "b")
        .write.mode("overwrite").parquet(lex)
    )
    zo = str(tmp_path / "zorder")
    zorder_write(df, zo, ["a", "b"], n_files=16)

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where("b = 5")
            .select(F.col("_metadata.file_path"))
            .distinct()
            .count()
        )

    lex_files, zo_files = files_touched(lex), files_touched(zo)
    assert lex_files == 16          # b=5 lives in every a-range
    assert zo_files <= lex_files // 2  # Morton locality concentrates it


def test_zorder_non_finite_and_string_columns(spark):
    from lakehouse_plumber_spark.functions.zorder import with_zorder_key

    # NaN/Inf rows must not poison the range stats or crash the key expr
    dfn = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, float("inf")), (4, 9.0)],
        "a int, v double",
    )
    got = {r.a: r["__zorder"] for r in with_zorder_key(dfn, ["a", "v"], bits=4).collect()}
    assert len(got) == 4 and all(isinstance(x, int) for x in got.values())
    # string column -> loud error, not a cast crash
    dfs = spark.createDataFrame([("us", 1)], "country string, x int")
    with pytest.raises(ValueError, match="country"):
        with_zorder_key(dfs, ["country", "x"])


def test_zorder_temporal_columns(spark):
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.functions.zorder import with_zorder_key

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01"), ("2024-06-01 12:00:00", "2024-03-15")],
        "ts string, d string",
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), F.col("d").cast("date").alias("d")
    )
    out = [r["__zorder"] for r in with_zorder_key(df, ["ts", "d"], bits=8).collect()]
    assert len(set(out)) == 2  # distinct temporal points get distinct keys


_GRID_FG = {
    "pipeline": "p", "flowgroup": "zo",
    "actions": [
        {"name": "ld", "type": "load", "target": "v_g",
         "source": {"type": "sql",
                    "sql": "SELECT CAST(id / 128 AS INT) AS a, "
                           "CAST(id % 128 AS INT) AS b FROM range(16384)"}},
        {"name": "wr", "type": "write", "source": "v_g",
         "write_target": {"type": "materialized_view", "database": "m.z",
                          "table": "t",
                          "cluster_columns": ["a", "b"],
                          "cluster_by_auto": True,
                          # the grid is a few hundred KB — AQE would
                          # (correctly, at scale) coalesce the range shuffle
                          # to one byte-sized partition; pin the partition
                          # count so the multi-file layout is observable
                          "spark_conf": {
                              "spark.sql.adaptive.coalescePartitions.enabled": "false"
                          }}},
    ],
}


def _file_locality(spark, path, pred="b = 5"):
    from pyspark.sql import functions as F

    rd = spark.read.parquet(path)
    total = rd.select(F.col("_metadata.file_path")).distinct().count()
    hit = rd.where(pred).select(F.col("_metadata.file_path")).distinct().count()
    return hit, total


def test_cluster_by_auto_yaml_routes_morton_layout(spark, tmp_path):
    """`cluster_by_auto: true` + >=2 `cluster_columns` on a YAML write target
    lays the table out Morton-interleaved (VERDICT r7 item #2): rows matching
    a SECOND-column predicate concentrate in a small fraction of the files —
    plain cluster_columns gives leading-column skipping only."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner
    from lakehouse_plumber_spark.tables import ParquetTableStore

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    PipelineRunner(spark, store=store).run(load_flowgroup(_GRID_FG))
    hit, total = _file_locality(spark, store.path("m.z.t"))
    assert total >= 8          # the range re-shuffle produced many files
    assert hit <= total // 2   # Morton locality concentrates the b-slice


def test_cluster_by_auto_generated_code_matches_engine_layout(spark, tmp_path):
    """The compiled standalone script carries the engine's own Morton layout
    functions, copied verbatim, and produces the same file locality as the
    engine."""
    import inspect

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.functions import zorder
    from lakehouse_plumber_spark.llm.hashing import let_spark
    from lakehouse_plumber_spark.parsers import load_flowgroup

    src = compile_flowgroup(load_flowgroup(_GRID_FG))
    for fn in (zorder.morton_layout, zorder.with_zorder_key, zorder.zorder_key_expr, let_spark):
        assert inspect.getsource(fn) in src, fn.__name__
    assert "import lakehouse_plumber_spark" not in src
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    # generated scripts don't carry per-table spark_conf; pin the AQE
    # coalesce off at the session for the same observable-file-count reason
    # as the engine fg's spark_conf
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        ns["build"](spark, str(tmp_path / "gen"))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
    hit, total = _file_locality(spark, str(tmp_path / "gen" / "m/z/t"))
    assert total >= 8 and hit <= total // 2


def test_compact_morton_preserves_layout(spark, tmp_path):
    """Compaction of a cluster_by_auto table rebuilds the interleaved-key
    range layout (tables.py:compact morton=True) instead of degrading it to
    a lexicographic sort inside round-robin files."""
    from lakehouse_plumber_spark.tables import ParquetTableStore

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(a, b) for a in range(128) for b in range(128)], "a int, b int"
    )
    store.overwrite("s.t", df.repartition(64))  # interleaved small files
    res = store.compact(
        "s.t", target_rows_per_file=1024,
        order_within_files=["a", "b"], morton=True,
    )
    assert res["files_after"] < res["files_before"]
    hit, total = _file_locality(spark, store.path("s.t"))
    assert total >= 8 and hit <= total // 2
    assert spark.read.parquet(store.path("s.t")).count() == 16384


def test_morton_layout_autofits_bits_for_many_columns(spark):
    """4+ cluster columns auto-fit the per-column bit width (62-bit key
    budget) instead of raising — and never produce negative/corrupt keys."""
    from lakehouse_plumber_spark.functions.zorder import morton_layout, with_zorder_key

    df = spark.createDataFrame(
        [(i, i * 2, i * 3, i % 7) for i in range(64)], "a int, b int, c int, d int"
    )
    out = morton_layout(df, ["a", "b", "c", "d"], n_files=4)
    assert out.count() == 64  # no ValueError from bits*n > 62
    # strict API still refuses the raw over-budget request
    import pytest as _pytest

    with _pytest.raises(ValueError, match="62"):
        with_zorder_key(df, ["a", "b", "c", "d"], bits=16)


def test_cluster_by_auto_partitioned_degrades_to_sorted_files(spark, tmp_path):
    """cluster_by_auto on a PARTITIONED MV keeps within-file ordering via
    order_within_files after the co-location shuffle (a pre-shuffled Morton
    layout would be destroyed by overwrite's repartition — review r8)."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner
    from lakehouse_plumber_spark.tables import ParquetTableStore
    from pyspark.sql import functions as F

    fg = {
        "pipeline": "p", "flowgroup": "zp",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_g",
             "source": {"type": "sql",
                        "sql": "SELECT CAST(id % 3 AS INT) AS p, "
                               "CAST(id / 128 AS INT) AS a, "
                               "CAST(pmod(id * 37, 997) AS INT) AS b "
                               "FROM range(3000)"}},
            {"name": "wr", "type": "write", "source": "v_g",
             "write_target": {"type": "materialized_view", "database": "m.z",
                              "table": "tp", "partition_columns": ["p"],
                              "cluster_columns": ["a", "b"],
                              "cluster_by_auto": True}},
        ],
    }
    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    PipelineRunner(spark, store=store).run(load_flowgroup(fg))
    rd = spark.read.parquet(store.path("m.z.tp")).select(
        "a", "b", F.col("_metadata.file_path").alias("f")
    )
    # within every physical file the rows are (a, b)-sorted: parquet keeps
    # row order, so a per-file collect must come back monotone
    import collections

    per_file = collections.defaultdict(list)
    for r in rd.collect():
        per_file[r.f].append((r.a, r.b))
    assert len(per_file) >= 3
    for f, rows in per_file.items():
        assert rows == sorted(rows), f"file {f} lost its cluster ordering"


def test_partitioned_append_keeps_cluster_order(spark, tmp_path):
    """Partitioned streaming-table APPENDS also keep within-file cluster
    ordering: the writer's own partition sort is satisfied by leading the
    task sort with the partition columns (review r8 follow-up)."""
    import collections

    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner
    from lakehouse_plumber_spark.tables import ParquetTableStore
    from pyspark.sql import functions as F

    fg = {
        "pipeline": "p", "flowgroup": "ap",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql",
                        "sql": "SELECT CAST(id % 2 AS INT) AS p, "
                               "CAST(pmod(id * 37, 997) AS INT) AS a "
                               "FROM range(2000)"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "database": "m.s",
                              "table": "ap", "partition_columns": ["p"],
                              "cluster_columns": ["a"]}},
        ],
    }
    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    PipelineRunner(spark, store=store).run(load_flowgroup(fg))
    rd = spark.read.parquet(store.path("m.s.ap")).select(
        "a", F.col("_metadata.file_path").alias("f")
    )
    per_file = collections.defaultdict(list)
    for r in rd.collect():
        per_file[r.f].append(r.a)
    assert per_file and all(v == sorted(v) for v in per_file.values())


def test_winsorize_clamps_to_group_percentiles(spark):
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.functions.features import winsorize

    # group 'a': 0..99 plus two extreme outliers; 'b': constant
    rows = [(i, "a", float(i)) for i in range(100)] + [
        (100, "a", 1e9), (101, "a", -1e9),
        (200, "b", 5.0), (201, "b", 5.0),
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r.id: r for r in winsorize(df, "g", "v", 0.05, 0.95).collect()}
    assert out[100].clipped_high and out[100].value_w < 1e9
    assert out[101].clipped_low and out[101].value_w > -1e9
    # interior values untouched
    assert out[50].value_w == 50.0 and not out[50].clipped_low and not out[50].clipped_high
    # constant group: thresholds equal the constant, nothing clips
    assert out[200].value_w == 5.0 and not out[200].clipped_low
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lower"):
        winsorize(df, "g", "v", 0.9, 0.5)


def test_table_drift_flags_null_and_cardinality_shifts(spark):
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.stats import table_drift

    a = spark.range(1000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("s"),
        (F.col("id") % 100).alias("v"),
    )
    # era B: 's' collapses to 3 distinct values, 'v' goes 20% null
    b = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("s"),
        F.when(F.col("id") % 5 != 0, F.col("id") % 100).alias("v"),
    )
    out = {r.col_name: r for r in table_drift(a, b, ["k", "s", "v"]).collect()}
    assert out["s"].drift  # NDV collapse (1000 -> 3) trips the ratio gate
    assert out["v"].drift  # null-rate 0 -> 0.2 trips the rate gate
    assert not out["k"].drift  # unchanged column stays quiet
    assert out["v"].null_rate_a == 0.0 and abs(out["v"].null_rate_b - 0.2) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ndv_ratio_tol"):
        table_drift(a, b, ["k"], ndv_ratio_tol=0.5)
