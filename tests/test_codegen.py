"""Compile-to-source round trip: the generated standalone script (no engine
import) must produce the same table as PipelineRunner executing the same
flowgroup — the reference's core "the generated code is what executes"
invariant (reference README.md:9-11), restored for the batch surface.
"""

from __future__ import annotations

import pytest

from lakehouse_plumber_spark.codegen import compile_flowgroup
from lakehouse_plumber_spark.parsers import load_flowgroup

FG_SPEC = {
    "pipeline": "gold", "flowgroup": "nation_rollup",
    "actions": [
        {"name": "ld", "type": "load", "target": "v_n",
         "source": {"type": "delta", "table": "nation",
                    "where_clause": ["n_regionkey < 3"]}},
        {"name": "tx", "type": "transform", "transform_type": "sql",
         "source": "v_n", "target": "v_agg",
         "sql": "SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n FROM v_n GROUP BY n_regionkey"},
        {"name": "wr", "type": "write", "source": "v_agg",
         "write_target": {"type": "materialized_view", "database": "main.gold",
                          "table": "nations_per_region"}},
    ],
}


def test_compiled_source_matches_engine(spark, runner, testdata, tmp_path):
    fg = load_flowgroup(FG_SPEC)

    # engine execution
    ctx = runner.run(fg)
    engine_rows = sorted(
        tuple(r) for r in ctx.resolve_view("main.gold.nations_per_region").collect()
    )

    # compiled standalone execution
    src = compile_flowgroup(fg)
    assert "import lakehouse_plumber_spark" not in src  # standalone, no engine import
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen_out"))
    gen_rows = sorted(tuple(r) for r in written["main.gold.nations_per_region"].collect())

    assert engine_rows == gen_rows and len(gen_rows) == 3


def test_runtime_only_actions_refuse_compilation(spark, tmp_path):
    """Surfaces the compiler cannot express must raise, never emit
    silently-wrong code: an expectations_file with no base_dir cannot be
    resolved at compile time."""
    fg = load_flowgroup(
        {
            "pipeline": "p", "flowgroup": "f",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql", "sql": "SELECT 1 AS k, 1 AS s"}},
                {"name": "dq", "type": "transform", "transform_type": "data_quality",
                 "source": "v", "target": "v_c",
                 "expectations_file": "exp.yaml"},
                {"name": "wr", "type": "write", "source": "v_c",
                 "write_target": {"type": "materialized_view", "database": "m.s", "table": "t"}},
            ],
        }
    )
    with pytest.raises(NotImplementedError, match="inline expectations"):
        compile_flowgroup(fg)


def test_quarantine_compiles_with_fix_inbox_recycle(spark, runner, testdata, tmp_path):
    """Quarantine codegen: no-fix run matches the engine's clean output;
    dropping a fix file into the generated script's inbox recycles the row
    exactly once across runs (the standalone analogue of the engine's
    change-feed recycle — same end state through a different channel)."""
    import os

    def spec():
        return {
            "pipeline": "p", "flowgroup": "q",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_n",
                 "source": {"type": "sql",
                            "sql": "SELECT n_nationkey AS id, CAST(n_regionkey AS DOUBLE) - 2 AS score"
                                   " FROM nation"}},
                {"name": "dq", "type": "transform", "transform_type": "data_quality",
                 "source": "v_n", "target": "v_clean", "mode": "quarantine",
                 "quarantine": {"dlq_table": "m.dlq.gen", "source_table": "nation"},
                 "expectations_inline": [
                     {"name": "nonneg", "constraint": "score >= 0", "type": "expect_or_drop"}]},
                {"name": "wr", "type": "write", "source": "v_clean",
                 "write_target": {"type": "materialized_view", "database": "m.q", "table": "clean"}},
            ],
        }

    # engine run (no fixes): clean rows only
    ctx = runner.run(load_flowgroup(spec()))
    engine = sorted(r["id"] for r in ctx.resolve_view("m.q.clean").collect())

    out = tmp_path / "gen"
    src = compile_flowgroup(load_flowgroup(spec()))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(out))
    gen = sorted(r["id"] for r in written["m.q.clean"].collect())
    assert engine == gen and len(gen) == 15  # regions 2-4 pass

    # fix every quarantined row via the generated inbox contract
    dlq = spark.read.parquet(str(out / "_dlq" / "m" / "dlq" / "gen"))
    assert dlq.count() == 10
    from pyspark.sql import functions as SF
    fixes = dlq.select(
        "_dlq_sk",
        SF.to_json(SF.struct(
            SF.get_json_object("_row_data", "$.id").cast("long").alias("id"),
            SF.abs(SF.get_json_object("_row_data", "$.score").cast("double")).alias("score"),
        )).alias("_row_data"),
    )
    fix_dir = out / "_dlq_fixes" / "m" / "dlq" / "gen"
    fixes.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "fixstage"))
    part = [f for f in os.listdir(tmp_path / "fixstage") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "fixstage" / part, fix_dir / "fix1.parquet")

    ns2: dict = {}
    exec(compile(src, "<generated>", "exec"), ns2)
    written = ns2["build"](spark, str(out))
    got = written["m.q.clean"]
    assert got.count() == 25 and got.filter("score < 0").count() == 0

    # third run: inbox already consumed -> still exactly 25
    ns3: dict = {}
    exec(compile(src, "<generated>", "exec"), ns3)
    assert ns3["build"](spark, str(out))["m.q.clean"].count() == 25


def test_incremental_mv_compiles_as_recompute(spark, runner, testdata, tmp_path):
    """IMV codegen: accumulate-then-recompute matches the engine's
    incrementally-maintained table (the IMV contract: contents equal a full
    recompute over all data seen)."""
    land = tmp_path / "orders_land"
    land.mkdir()
    spark.sql(
        "SELECT o_custkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders LIMIT 500"
    ).coalesce(2).write.mode("overwrite").json(str(land))

    def spec():
        return {
            "pipeline": "p", "flowgroup": "imv",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_o", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                            "schema": "o_custkey BIGINT, p DOUBLE"}},
                {"name": "wr", "type": "write", "source": "v_o",
                 "write_target": {"type": "materialized_view", "database": "m.i",
                                  "table": "by_cust", "refresh_policy": "incremental",
                                  "incremental_config": {
                                      "group_by": ["o_custkey"],
                                      "aggs": {"n": "count(*)", "total": "sum(p)"}}}},
            ],
        }

    ctx = runner.run(load_flowgroup(spec()))
    engine = sorted(
        (r["o_custkey"], r["n"], round(r["total"], 4))
        for r in ctx.resolve_view("m.i.by_cust").collect()
    )
    src = compile_flowgroup(load_flowgroup(spec()))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen"))
    gen = sorted(
        (r["o_custkey"], r["n"], round(r["total"], 4))
        for r in written["m.i.by_cust"].collect()
    )
    assert engine == gen and len(gen) > 0


class TestCodegenStreamingAndCdc:
    """Round 3 surface: streaming_table flows, CDC merge bodies, python
    transforms, sinks — compiled source must match PipelineRunner results
    (reference golden baselines tests/baselines/write_streaming_table.py)."""

    def _exec(self, spark, fg, out_dir):
        src = compile_flowgroup(fg)
        assert "import lakehouse_plumber_spark" not in src
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        return ns["build"](spark, str(out_dir))

    def test_streaming_table_from_file_stream(self, spark, runner, tmp_path, testdata):
        import os

        land = tmp_path / "landing"
        land.mkdir()
        spark.sql(
            "SELECT n_nationkey AS id, n_name AS name FROM nation"
        ).coalesce(1).write.mode("overwrite").json(str(land))
        spec = {
            "pipeline": "p", "flowgroup": "st",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                            "options": {"cloudFiles.maxFilesPerTrigger": "10"}}},
                {"name": "wr", "type": "write", "source": "v_raw", "readMode": "stream",
                 "write_target": {"type": "streaming_table", "database": "m.s",
                                  "table": "st_nation", "mode": "standard"}},
            ],
        }
        fg = load_flowgroup(spec)
        ctx = runner.run(fg)
        engine = sorted(
            (r["id"], r["name"])
            for r in ctx.resolve_view("m.s.st_nation").select("id", "name").collect()
        )
        written = self._exec(spark, load_flowgroup(spec), tmp_path / "gen")
        gen = sorted(
            (r["id"], r["name"])
            for r in written["m.s.st_nation"].select("id", "name").collect()
        )
        assert engine == gen and len(gen) == 25

    def _cdc_spec(self, scd, batch_sql):
        return {
            "pipeline": "p", "flowgroup": f"cdc{scd}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_ev",
                 "source": {"type": "sql", "sql": batch_sql}},
                {"name": "wr", "type": "write", "source": "v_ev",
                 "write_target": {"type": "streaming_table", "database": "m.c",
                                  "table": f"scd{scd}", "mode": "cdc",
                                  "cdc_config": {"keys": ["id"], "sequence_by": "seq",
                                                 "scd_type": scd,
                                                 "apply_as_deletes": "op = 'D'",
                                                 "except_column_list": ["op"]}}},
            ],
        }

    BATCH1 = ("SELECT * FROM (VALUES (1, 'a', 1, 'U'), (2, 'x', 1, 'U'), (1, 'b', 2, 'U')) "
              "AS t(id, v, seq, op)")
    BATCH2 = ("SELECT * FROM (VALUES (2, NULL, 2, 'D'), (1, 'c', 3, 'U'), (3, 'n', 1, 'U')) "
              "AS t(id, v, seq, op)")

    def test_cdc_scd1_two_batches_matches_engine(self, spark, runner, tmp_path):
        for b in (self.BATCH1, self.BATCH2):
            runner.run(load_flowgroup(self._cdc_spec(1, b)))
        engine = sorted(
            (r["id"], r["v"], r["seq"])
            for r in runner.store.read("m.c.scd1").filter("NOT __tombstone")
            .select("id", "v", "seq").collect()
        )
        out = tmp_path / "gen1"
        for b in (self.BATCH1, self.BATCH2):
            written = self._exec(spark, load_flowgroup(self._cdc_spec(1, b)), out)
        gen = sorted(
            (r["id"], r["v"], r["seq"])
            for r in written["m.c.scd1"].select("id", "v", "seq").collect()
        )
        assert engine == gen == [(1, "c", 3), (3, "n", 1)]

    def test_cdc_scd2_two_batches_matches_engine(self, spark, runner, tmp_path):
        for b in (self.BATCH1, self.BATCH2):
            runner.run(load_flowgroup(self._cdc_spec(2, b)))
        cols = ["id", "v", "seq", "__start_at", "__end_at"]
        engine = sorted(
            tuple(r) for r in runner.store.read("m.c.scd2")
            .filter("NOT __tombstone").select(*cols).collect()
        )
        out = tmp_path / "gen2"
        for b in (self.BATCH1, self.BATCH2):
            written = self._exec(spark, load_flowgroup(self._cdc_spec(2, b)), out)
        gen = sorted(tuple(r) for r in written["m.c.scd2"].select(*cols).collect())
        assert engine == gen
        # key 1 has full history a->b->c; key 2's history stays but its
        # delete closed the last version (no open interval); key 3 open
        assert [t[1] for t in gen if t[0] == 1] == ["a", "b", "c"]
        assert not [t for t in gen if t[0] == 2 and t[4] is None]
        assert [t for t in gen if t[0] == 3 and t[4] is None]

    def test_python_transform_and_foreachbatch_sink(self, spark, runner, tmp_path, testdata):
        captured = {}

        def double_rows(df, spark_, params):
            from pyspark.sql import functions as SF
            return df.withColumn("n2", SF.col("n_nationkey") * params["factor"])

        def handle_batch(batch_df, epoch):
            import os
            batch_df.write.mode("append").parquet(
                os.path.join(os.environ["GEN_SINK_DIR"], "out"))

        spec = {
            "pipeline": "p", "flowgroup": "pyfb",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_n",
                 "source": {"type": "sql",
                            "sql": "SELECT n_nationkey FROM nation WHERE n_nationkey < 5"}},
                {"name": "tx", "type": "transform", "transform_type": "python",
                 "source": "v_n", "target": "v_doubled",
                 "callable_fn": double_rows, "parameters": {"factor": 2}},
                {"name": "snk", "type": "write", "source": "v_doubled",
                 "write_target": {"type": "sink", "sink_type": "foreachbatch",
                                  "batch_handler_callable": handle_batch}},
            ],
        }
        import os

        os.environ["GEN_SINK_DIR"] = str(tmp_path)
        self._exec(spark, load_flowgroup(spec), tmp_path / "gen")
        got = sorted(
            (r["n_nationkey"], r["n2"])
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        assert got == [(i, 2 * i) for i in range(5)]


def test_dqe_transform_compiles_and_enforces(spark, runner, testdata, tmp_path):
    """data_quality dqe codegen: drop filters rows; fail raises after
    materialization; warn only counts (reference dqe.py:11-52)."""
    def spec(fail_mode):
        exp = ([{"name": "pk_nonneg", "constraint": "n_nationkey >= 0",
                 "type": "expect_or_fail"}] if fail_mode else [])
        return {
            "pipeline": "p", "flowgroup": "dq",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_n",
                 "source": {"type": "sql",
                            "sql": "SELECT n_nationkey, n_regionkey FROM nation"}},
                {"name": "dq", "type": "transform", "transform_type": "data_quality",
                 "source": "v_n", "target": "v_clean",
                 "expectations_inline": exp + [
                     {"name": "small_region", "constraint": "n_regionkey < 3",
                      "type": "expect_or_drop"}]},
                {"name": "wr", "type": "write", "source": "v_clean",
                 "write_target": {"type": "materialized_view", "database": "m.dq",
                                  "table": "clean"}},
            ],
        }

    from lakehouse_plumber_spark.codegen import compile_flowgroup

    # engine run for parity
    ctx = runner.run(load_flowgroup(spec(False)))
    engine = sorted(r["n_nationkey"] for r in ctx.resolve_view("m.dq.clean").collect())

    src = compile_flowgroup(load_flowgroup(spec(False)))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "g1"))
    gen = sorted(r["n_nationkey"] for r in written["m.dq.clean"].collect())
    assert engine == gen and len(gen) == 15  # 3 of 5 regions

    # fail path: violate pk_nonneg via a doctored load
    bad = spec(True)
    bad["actions"][0]["source"]["sql"] = (
        "SELECT n_nationkey - 100 AS n_nationkey, n_regionkey FROM nation")
    src2 = compile_flowgroup(load_flowgroup(bad))
    ns2: dict = {}
    exec(compile(src2, "<generated>", "exec"), ns2)
    with pytest.raises(RuntimeError, match="pk_nonneg"):
        ns2["build"](spark, str(tmp_path / "g2"))


def test_snapshot_cdc_compiles_and_matches_engine(spark, runner, tmp_path):
    """snapshot_cdc codegen: source-callable polling, presence-grid delete
    derivation (key 2 vanishes at v2, key 3 appears at v2, key 1 changes at
    v3), SCD2 rebuild — parity with PipelineRunner's apply_snapshot."""
    # self-contained (no closures): inlined verbatim into the generated file
    def pull(latest):
        from pyspark.sql import SparkSession
        snaps = {
            1: [(1, "a"), (2, "b")],
            2: [(1, "a"), (3, "c")],
            3: [(1, "a2"), (3, "c")],
        }
        nxt = 1 if latest is None else latest + 1
        if nxt not in snaps:
            return None
        sp = SparkSession.builder.getOrCreate()
        return sp.createDataFrame(snaps[nxt], "id int, v string"), nxt

    def spec():
        return {
            "pipeline": "p", "flowgroup": "snap",
            "actions": [
                {"name": "wr", "type": "write",
                 "write_target": {"type": "streaming_table", "database": "m.sn",
                                  "table": "t", "mode": "snapshot_cdc",
                                  "snapshot_cdc_config": {"keys": ["id"],
                                                          "stored_as_scd_type": 2,
                                                          "source_callable": pull}}},
            ],
        }

    runner.run(load_flowgroup(spec()))
    cols = ["id", "v", "__start_at", "__end_at"]
    eng_df = runner.store.read("m.sn.t").filter("NOT __tombstone")
    engine = sorted(tuple(r) for r in eng_df.select(*cols).collect())

    src = compile_flowgroup(load_flowgroup(spec()))
    assert "import lakehouse_plumber_spark" not in src
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen"))
    gen = sorted(tuple(r) for r in written["m.sn.t"].select(*cols).collect())
    assert engine == gen
    # key 2: closed at v2 by the derived delete; key 1: a -> a2 at v3
    assert (2, "b", 1, 2) in gen
    assert (1, "a", 1, 3) in gen and (1, "a2", 3, None) in gen
    assert (3, "c", 2, None) in gen


class TestCdcCodegenFullOptionSurface:
    """Multi-column sequence_by and ignore_null_updates compile and match
    the engine (completing the CDC option surface in generated code)."""

    def _spec(self, batch_sql, cdc_extra):
        return {
            "pipeline": "p", "flowgroup": "cdcx",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_ev",
                 "source": {"type": "sql", "sql": batch_sql}},
                {"name": "wr", "type": "write", "source": "v_ev",
                 "write_target": {"type": "streaming_table", "database": "m.x",
                                  "table": "t", "mode": "cdc",
                                  "cdc_config": {"keys": ["id"], "scd_type": 1,
                                                 **cdc_extra}}},
            ],
        }

    def _run_both(self, spark, runner, tmp_path, spec, cols):
        runner.run(load_flowgroup(spec))
        engine = sorted(
            tuple(r) for r in runner.store.read("m.x.t")
            .filter("NOT __tombstone").select(*cols).collect()
        )
        src = compile_flowgroup(load_flowgroup(spec))
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(tmp_path / "gen"))
        gen = sorted(tuple(r) for r in written["m.x.t"].select(*cols).collect())
        assert engine == gen
        return gen

    def test_multi_column_sequence(self, spark, runner, tmp_path):
        # same seq_major, tie broken by seq_minor: (2) beats (1)
        sql = ("SELECT * FROM (VALUES (1, 'old', 1, 1), (1, 'new', 1, 2), "
               "(2, 'only', 1, 1)) AS t(id, v, seq_major, seq_minor)")
        gen = self._run_both(
            spark, runner, tmp_path,
            self._spec(sql, {"sequence_by": ["seq_major", "seq_minor"]}),
            ["id", "v"],
        )
        assert gen == [(1, "new"), (2, "only")]

    def test_ignore_null_updates(self, spark, runner, tmp_path):
        # second event nulls v; ignore_null_updates keeps 'a'
        sql = ("SELECT * FROM (VALUES (1, 'a', CAST(10.0 AS DOUBLE), 1), "
               "(1, NULL, CAST(20.0 AS DOUBLE), 2)) AS t(id, v, amt, seq)")
        gen = self._run_both(
            spark, runner, tmp_path,
            self._spec(sql, {"sequence_by": "seq", "ignore_null_updates": True}),
            ["id", "v", "amt"],
        )
        assert gen == [(1, "a", 20.0)]


def test_expectations_file_resolves_at_compile_time(spark, runner, testdata, tmp_path):
    """expectations_file loads against base_dir during compilation, so the
    generated script is self-contained."""
    (tmp_path / "exp.yaml").write_text(
        "- name: small_region\n  constraint: n_regionkey < 3\n  type: expect_or_drop\n"
    )
    fg = load_flowgroup({
        "pipeline": "p", "flowgroup": "dqf",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_n",
             "source": {"type": "sql", "sql": "SELECT n_nationkey, n_regionkey FROM nation"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_n", "target": "v_clean", "expectations_file": "exp.yaml"},
            {"name": "wr", "type": "write", "source": "v_clean",
             "write_target": {"type": "materialized_view", "database": "m.f", "table": "t"}},
        ],
    })
    src = compile_flowgroup(fg, base_dir=str(tmp_path))
    assert "n_regionkey < 3" in src  # resolved into the generated text
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen"))
    assert written["m.f.t"].count() == 15


def test_orphaned_dq_fail_view_does_not_block(spark, tmp_path):
    """A data_quality view with fail expectations that no write consumes
    must not register a footer check — the Observation would never populate
    and build() would hang on _obs.get (ADVICE r3)."""
    spec = {
        "pipeline": "p", "flowgroup": "orphan_dq",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_src",
             "source": {"type": "sql",
                        "sql": "SELECT * FROM (VALUES (1), (NULL)) AS t(id)"}},
            # orphaned: nothing consumes v_checked
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_src", "target": "v_checked",
             "expectations_inline": [
                 {"name": "id_set", "constraint": "id IS NOT NULL",
                  "action": "fail"}]},
            # the write consumes the RAW view, so the pipeline itself is fine
            {"name": "wr", "type": "write", "source": "v_src",
             "write_target": {"type": "materialized_view", "database": "m.o",
                              "table": "raw_copy"}},
        ],
    }
    src = compile_flowgroup(load_flowgroup(spec))
    assert "fail-check not registered" in src
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    # would block forever before the fix
    written = ns["build"](spark, str(tmp_path / "gen"))
    assert written["m.o.raw_copy"].count() == 2


def test_compiled_cdc_conflicting_rerun_prefers_newest_append(spark, tmp_path):
    """Two appends carry the same (key, sequence) with different values — a
    correction re-run. The survivor must deterministically be the NEWER
    append (engine _dedup_key_seq batch-priority rule), not whichever row the
    shuffle happened to order first (ADVICE r3)."""
    def spec(batch_sql):
        return {
            "pipeline": "p", "flowgroup": "cdc_rerun",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_ev",
                 "source": {"type": "sql", "sql": batch_sql}},
                {"name": "wr", "type": "write", "source": "v_ev",
                 "write_target": {"type": "streaming_table", "database": "m.r",
                                  "table": "scd1r", "mode": "cdc",
                                  "cdc_config": {"keys": ["id"],
                                                 "sequence_by": "seq",
                                                 "scd_type": 1}}},
            ],
        }

    out = tmp_path / "gen"
    b1 = "SELECT * FROM (VALUES (1, 'orig', 1)) AS t(id, v, seq)"
    b2 = "SELECT * FROM (VALUES (1, 'corrected', 1)) AS t(id, v, seq)"
    for b in (b1, b2):
        src = compile_flowgroup(load_flowgroup(spec(b)))
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(out))
    rows = written["m.r.scd1r"].collect()
    assert [(r["id"], r["v"], r["seq"]) for r in rows] == [(1, "corrected", 1)]


def test_streaming_quarantine_compiles_and_matches_engine(spark, runner, tmp_path):
    """Compiled streaming quarantine (reference streaming template path,
    data_quality_quarantine.py.j2:30-215): micro-batches through the DLQ
    merge in foreachBatch, clean rows staged, downstream streams from the
    staging table; a dropped fix file recycles the rows exactly once."""
    import os

    land = tmp_path / "land_sq"
    land.mkdir()
    spark.sql(
        "SELECT id, CASE WHEN id % 3 = 0 THEN -1.0 ELSE 1.0 END AS amt FROM range(30)"
    ).coalesce(1).write.mode("overwrite").json(str(land))

    def spec():
        return {
            "pipeline": "p", "flowgroup": "sqgen",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                            "schema": "id BIGINT, amt DOUBLE"}},
                {"name": "dq", "type": "transform", "transform_type": "data_quality",
                 "source": "v_raw", "target": "v_clean", "mode": "quarantine",
                 "quarantine": {"dlq_table": "m.dlqg.s"},
                 "expectations_inline": [
                     {"name": "pos", "constraint": "amt > 0", "type": "expect_or_drop"}]},
                {"name": "wr", "type": "write", "source": "v_clean", "readMode": "stream",
                 "write_target": {"type": "streaming_table", "database": "m.sg",
                                  "table": "clean", "mode": "standard"}},
            ],
        }

    out = tmp_path / "gen_sq"
    src = compile_flowgroup(load_flowgroup(spec()))
    assert "_dlq_staging" in src  # streaming path emitted, not refused
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(out))
    got = written["m.sg.clean"]
    assert got.count() == 20 and got.filter("amt <= 0").count() == 0
    dlq = spark.read.parquet(str(out / "_dlq" / "m" / "dlqg" / "s"))
    assert dlq.count() == 10

    # drop a fix file into the generated inbox: negated amts become valid
    from pyspark.sql import functions as SF
    fixes = dlq.select(
        "_dlq_sk",
        SF.to_json(SF.struct(
            SF.get_json_object("_row_data", "$.id").cast("long").alias("id"),
            SF.abs(SF.get_json_object("_row_data", "$.amt").cast("double")).alias("amt"),
        )).alias("_row_data"),
    )
    fixes.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "fixstage_sq"))
    part = [f for f in os.listdir(tmp_path / "fixstage_sq") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "fixstage_sq" / part,
              out / "_dlq_fixes" / "m" / "dlqg" / "s" / "fix1.parquet")

    ns2: dict = {}
    exec(compile(src, "<generated>", "exec"), ns2)
    written = ns2["build"](spark, str(out))
    got = written["m.sg.clean"]
    assert got.count() == 30 and got.filter("amt <= 0").count() == 0

    # third run: no new source files, fixes consumed -> still exactly 30
    ns3: dict = {}
    exec(compile(src, "<generated>", "exec"), ns3)
    assert ns3["build"](spark, str(out))["m.sg.clean"].count() == 30

    # engine reaches the same end state through its change-feed channel
    ctx = runner.run(load_flowgroup(spec()))
    assert ctx.resolve_view("m.sg.clean").count() == 20


def test_compiled_cdc_truncate_matches_engine(spark, runner, tmp_path):
    """apply_as_truncates in generated source: everything older than the
    newest truncate event is discarded, the truncate row itself never lands
    (mirrors tests/test_cdc.py::test_truncate through the compiled path)."""
    def spec(batch_sql):
        return {
            "pipeline": "p", "flowgroup": "cdctr",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_ev",
                 "source": {"type": "sql", "sql": batch_sql}},
                {"name": "wr", "type": "write", "source": "v_ev",
                 "write_target": {"type": "streaming_table", "database": "m.tr",
                                  "table": "trunc1", "mode": "cdc",
                                  "cdc_config": {"keys": ["id"], "sequence_by": "seq",
                                                 "scd_type": 1,
                                                 "apply_as_truncates": "op = 'T'",
                                                 "except_column_list": ["op"]}}},
            ],
        }

    b1 = ("SELECT * FROM (VALUES (1, 'a', 1, CAST(NULL AS STRING)), (2, 'b', 2, CAST(NULL AS STRING))) "
          "AS t(id, v, seq, op)")
    b2 = ("SELECT * FROM (VALUES (99, CAST(NULL AS STRING), 5, 'T'), (3, 'c', 6, CAST(NULL AS STRING))) "
          "AS t(id, v, seq, op)")
    out = tmp_path / "gen_tr"
    for b in (b1, b2):
        src = compile_flowgroup(load_flowgroup(spec(b)))
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(out))
    rows = written["m.tr.trunc1"].collect()
    assert {r["id"] for r in rows} == {3}


def _cdc_scd_spec(scd):
    return {
        "pipeline": "p", "flowgroup": f"cdcplan{scd}",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_ev",
             "source": {"type": "sql", "sql": (
                 "SELECT * FROM (VALUES (1, 'a', 1, 'U'), (1, 'b', 2, 'U'), "
                 "(2, 'x', 1, 'D')) AS t(id, v, seq, op)")}},
            {"name": "wr", "type": "write", "source": "v_ev",
             "write_target": {"type": "streaming_table", "database": "m.pl",
                              "table": f"t{scd}", "mode": "cdc",
                              "cdc_config": {"keys": ["id"], "sequence_by": "seq",
                                             "scd_type": scd,
                                             "apply_as_deletes": "op = 'D'",
                                             "except_column_list": ["op"]}}},
        ],
    }


def _dq_spec(mode, name="pos", action="drop", sql="SELECT id, id - 2 AS v FROM range(6)"):
    """A batch data_quality flowgroup, dqe or quarantine, over `sql`."""
    dq = {"name": "dq", "type": "transform", "transform_type": "data_quality",
          "source": "v_src", "target": "v_ok",
          "expectations_inline": [{"name": name, "constraint": "v > 0", "action": action}]}
    if mode == "quarantine":
        dq.update(mode="quarantine", quarantine={"dlq_table": "m.dlq.q"})
    return {
        "pipeline": "p", "flowgroup": f"dq_{mode}",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_src", "source": {"type": "sql", "sql": sql}},
            dq,
            {"name": "wr", "type": "write", "source": "v_ok",
             "write_target": {"type": "materialized_view", "database": "m.dq", "table": mode}},
        ],
    }


def _imv_spec(aggs):
    return {
        "pipeline": "p", "flowgroup": "imvc",
        "actions": [
            {"name": "ld", "type": "load", "target": "v", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": "/land", "format": "parquet",
                        "schema": "k STRING, amt DOUBLE"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.i", "table": "t",
                              "refresh_policy": "incremental", "incremental_config": {
                                  "group_by": ["k"], "aggs": aggs,
                                  "on_non_mergeable": "recompute"}}},
        ],
    }


def test_compiled_cdc_carries_engine_functions_verbatim():
    """Compiled scripts run the engine's own functions, copied at compile
    time — not an engine import and not a second copy of the logic — and
    of each group only the functions the script calls and the functions
    those call: the SCD functions for a CDC write, the streaming drain for
    a write that can stream, the Morton layout for cluster_by_auto, the
    expectations for a data_quality action (the fail check only where one
    is registered, the quarantine functions too for quarantine mode), the
    partial aggregates or the full recompute for an incremental MV, the
    schema rescue and single-file stream path for a cloudfiles load that
    uses them, and the store's own table writes: `swap_overwrite` for
    every visible overwrite, `append_path` for the append flow and
    `compact_path` (with the Morton layout it calls) for a registered
    auto-compaction."""
    import inspect

    from lakehouse_plumber_spark import context, expectations, tables
    from lakehouse_plumber_spark.functions import zorder
    from lakehouse_plumber_spark.operators import cdc, incremental, load, quarantine

    scd = [cdc._dedup_key_seq, cdc._rebuild_scd2]
    drain = [context.run_available_now, context.for_each_batch]
    morton = [zorder.morton_layout]
    dqe = [expectations.Expectation, expectations.apply_expectations]
    fail = [expectations.ExpectationFailedError, expectations.check_failures]
    quar = [quarantine.quarantine_split, quarantine.patch_rescued,
            quarantine._parse_and_revalidate]
    partials = [incremental.batch_partials, incremental.finalize_partials]
    recompute = [incremental.recompute_aggs]
    files = [load.rescued_schema, load.file_stream_path]
    overwrite = [tables.swap_overwrite, tables._write_sort_cols]
    append = overwrite + [tables.append_path, tables._is_table, tables.partition_columns_on_disk]
    compact = [tables.compact_path, tables.data_file_count, tables.merge_compaction]
    every = (scd + drain + morton + dqe + fail + quar + partials + recompute + files
             + append + compact)
    stream = {
        "pipeline": "p", "flowgroup": "st",
        "actions": [
            {"name": "ld", "type": "load", "target": "v", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": "/land", "format": "json"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "database": "m.s", "table": "t"}},
        ],
    }
    compacted = {**stream, "flowgroup": "stc", "actions": [stream["actions"][0], {
        **stream["actions"][1], "write_target": {
            **stream["actions"][1]["write_target"],
            "table_properties": {"lhp.autoOptimize.maxFiles": "4"}}}]}
    clustered = {
        "pipeline": "p", "flowgroup": "zo",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql", "sql": "SELECT id AS a, id AS b FROM range(9)"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.z", "table": "t",
                              "cluster_columns": ["a", "b"], "cluster_by_auto": True}},
        ],
    }
    for spec, carried in [
        (_cdc_scd_spec(2), scd + drain + overwrite),  # the raw-event append drains too
        (stream, drain + append + [load.file_stream_path]),
        (compacted, drain + append + compact + morton + [load.file_stream_path]),
        (clustered, morton + overwrite),
        (_dq_spec("dqe"), dqe + overwrite),
        (_dq_spec("dqe", action="fail"), dqe + fail + overwrite),
        (_dq_spec("quarantine"), [expectations.Expectation] + quar + drain + overwrite),
        (_imv_spec({"n": "count(*)", "s": "sum(amt)"}), partials + drain + files + overwrite),
        (_imv_spec({"n": "count(DISTINCT amt)"}), recompute + drain + files + overwrite),
        (FG_SPEC, overwrite),
    ]:
        src = compile_flowgroup(load_flowgroup(spec))
        assert "import lakehouse_plumber_spark" not in src
        for fn in every:
            label = (spec["flowgroup"], fn.__name__)
            if fn in carried:
                assert inspect.getsource(fn) in src, label
            else:
                assert f"def {fn.__name__}(" not in src and f"class {fn.__name__}" not in src, label
        # a registry and its end-of-build pass only where an action registers
        assert ("_dq_checks = []" in src) == ("check_failures(_obs, _fails)" in src) \
            == (expectations.check_failures in carried), spec["flowgroup"]
        assert ("_pending_compact" in src) == (spec is compacted), spec["flowgroup"]
        assert "_uc_tags" not in src, spec["flowgroup"]


@pytest.mark.parametrize("scd", [1, 2])
def test_compiled_scd_rebuild_shuffles_once_on_keys(spark, tmp_path, monkeypatch, scd):
    """The compiled SCD rebuild plans the engine's single exchange, keyed on
    the CDC keys only: dedup, forward fill and the rebuild windows all share
    it."""
    import re

    from pyspark.sql.readwriter import DataFrameWriter

    plans = {}
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    src = compile_flowgroup(load_flowgroup(_cdc_scd_spec(scd)))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path))
    # the rebuild's write job, into the shadow dir swap_overwrite commits
    shadow = str(tmp_path / "m" / "pl" / f"t{scd}__swap_")
    plan = next(p for path, p in plans.items() if path.startswith(shadow))
    assert plan.count("Exchange hashpartitioning") == 1
    assert re.search(r"Exchange hashpartitioning\(id#\d+, \d+\)", plan)
    got = sorted(r.v for r in written[f"m.pl.t{scd}"].collect())
    assert got == (["b"] if scd == 1 else ["a", "b"])  # id 2 deleted


def test_compiled_snapshot_duplicate_key_resolves_like_engine(spark, runner, tmp_path):
    """Two rows for one key within a snapshot: the engine keeps one by its
    total dedup order ('z' over 'a'); the compiled script must keep the same
    row, whatever the input order."""
    spec = {
        "pipeline": "p", "flowgroup": "snapdup",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_snap",
             "source": {"type": "sql", "sql": (
                 "SELECT * FROM (VALUES (1, 'z'), (1, 'a'), (2, 'b')) AS t(id, v)")}},
            {"name": "wr", "type": "write",
             "write_target": {"type": "streaming_table", "database": "m.sd",
                              "table": "t", "mode": "snapshot_cdc",
                              "snapshot_cdc_config": {"keys": ["id"],
                                                      "stored_as_scd_type": 1,
                                                      "source": "v_snap"}}},
        ],
    }
    runner.run(load_flowgroup(spec))
    engine = sorted(
        tuple(r) for r in runner.store.read("m.sd.t")
        .filter("NOT __tombstone").select("id", "v").collect()
    )
    src = compile_flowgroup(load_flowgroup(spec))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen"))
    gen = sorted(tuple(r) for r in written["m.sd.t"].select("id", "v").collect())
    assert engine == gen == [(1, "z"), (2, "b")]


@pytest.mark.parametrize(
    "sink", ["delta_path", "delta_table", "kafka_simulate", "foreachbatch"]
)
def test_streaming_sink_lands_each_row_once(spark, runner, tmp_path, sink):
    """A streaming source drained into a sink twice, with a new file landed
    in between: the per-flow checkpoint makes the second run read only the
    new file, so every row lands exactly once."""
    land = tmp_path / "landing"
    out = str(tmp_path / "out")
    seen: list = []
    write_target = {
        "delta_path": {"type": "sink", "sink_type": "delta", "path": out},
        "delta_table": {"type": "sink", "sink_type": "delta",
                        "options": {"tableName": "m.snk.t"}},
        "kafka_simulate": {"type": "sink", "sink_type": "kafka", "topic": "t",
                           "options": {"simulate_path": out}},
        "foreachbatch": {"type": "sink", "sink_type": "foreachbatch",
                         "batch_handler_callable":
                             lambda b, _e: seen.extend(r.key for r in b.collect())},
    }[sink]

    def land_rows(keys):
        spark.createDataFrame(
            [(k, f"v{k}") for k in keys], "key string, value string"
        ).coalesce(1).write.mode("append").json(str(land))

    def run():
        runner.run(load_flowgroup({
            "pipeline": "p", "flowgroup": f"snk_{sink}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                            "schema": "key STRING, value STRING"}},
                {"name": "snk", "type": "write", "source": "v_raw",
                 "write_target": write_target},
            ],
        }))

    def landed():
        if sink == "foreachbatch":
            return sorted(seen)
        rows = (runner.store.read("m.snk.t") if sink == "delta_table"
                else spark.read.parquet(out)).collect()
        return sorted(r.key for r in rows)

    land_rows(["k0", "k1", "k2"])
    run()
    assert landed() == ["k0", "k1", "k2"]
    land_rows(["k3", "k4"])
    run()
    assert landed() == ["k0", "k1", "k2", "k3", "k4"]


def _replay_spec(site, land):
    """Actions of a streaming flowgroup with a replay-guarded body at `site`;
    returns (actions, the guarded action, {table path under out_dir: rows})."""
    load = {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
            "source": {"type": "cloudfiles", "path": str(land), "format": "parquet",
                       "schema": "k STRING, v DOUBLE"}}
    st = {"name": "wr", "type": "write", "source": "v_raw",
          "write_target": {"type": "streaming_table", "database": "m.s", "table": "ev"}}
    if site == "append_flow":
        return [load, st], "wr", {"m/s/ev": 5}
    if site == "imv":
        return [load, {"name": "mv", "type": "write", "source": "v_raw",
                       "write_target": {"type": "materialized_view", "database": "m.s",
                                        "table": "kv", "refresh_policy": "incremental",
                                        "incremental_config": {"group_by": ["k"],
                                                               "aggs": {"n": "count(*)"}}}}], \
            "mv", {"m/s/kv": 3, "_imv_staging/m/s/kv": 5}
    if site == "temp_table":
        return [load,
                {"name": "tmp", "type": "transform", "transform_type": "temp_table",
                 "source": "v_raw", "target": "v_tmp"},
                {"name": "wr", "type": "write", "source": "v_tmp",
                 "write_target": {"type": "materialized_view", "database": "m.s",
                                  "table": "ev"}}], "tmp", {"_temp/tmp": 5, "m/s/ev": 5}
    return [load,
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_raw", "target": "v_clean", "mode": "quarantine",
             "quarantine": {"dlq_table": "m.dlq.ev"},
             "expectations_inline": [
                 {"name": "pos", "constraint": "v > 0", "type": "expect_or_drop"}]},
            {**st, "source": "v_clean"}], "dq", \
        {"_dlq_staging/m/dlq/ev": 3, "_dlq/m/dlq/ev": 2, "m/s/ev": 3}


@pytest.mark.parametrize("site", ["append_flow", "imv", "temp_table", "quarantine"])
def test_compiled_replay_does_not_double_apply(spark, tmp_path, site):
    """foreachBatch is at-least-once: deleting a compiled flow's commit log
    (a crash after the batch ran, before its commit) replays the same epoch,
    and the compiled script's replay guard must skip it, exactly where the
    engine guards, instead of appending or merging the rows a second time."""
    import shutil

    land = tmp_path / "land"
    spark.createDataFrame(
        [("a", 1.0), ("b", -2.0), ("a", 3.0), ("c", -4.0), ("a", 5.0)], "k string, v double"
    ).coalesce(1).write.parquet(str(land))
    actions, guarded, want = _replay_spec(site, land)
    out = tmp_path / "gen"
    src = compile_flowgroup(load_flowgroup(
        {"pipeline": "p", "flowgroup": "rp", "actions": actions}))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)

    def rows():
        return {t: sorted(map(tuple, spark.read.parquet(str(out / t)).collect())) for t in want}

    ns["build"](spark, str(out))
    first = rows()
    assert {t: len(r) for t, r in first.items()} == want
    shutil.rmtree(out / "_ckpt" / guarded / "commits")
    ns["build"](spark, str(out))
    assert rows() == first


def test_streaming_temp_table_compiles_and_matches_engine(spark, runner, tmp_path):
    """A streaming source into a temp_table drains like the engine's: each
    micro-batch is appended, the barrier reads back a batch frame, and the
    MV over it holds the same rows. A second run with one new file adds only
    that file's rows."""
    land = tmp_path / "land"

    def land_rows(ids):
        spark.createDataFrame([(i, i * 10) for i in ids], "id long, v long") \
            .coalesce(1).write.mode("append").parquet(str(land))

    def spec():
        return load_flowgroup({
            "pipeline": "p", "flowgroup": "tt",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(land), "format": "parquet",
                            "schema": "id BIGINT, v BIGINT"}},
                {"name": "tmp", "type": "transform", "transform_type": "temp_table",
                 "source": "v_raw", "target": "v_tmp"},
                {"name": "wr", "type": "write", "source": "v_tmp",
                 "write_target": {"type": "materialized_view", "database": "m.t",
                                  "table": "mv", "sql": "SELECT id, v FROM v_tmp"}},
            ],
        })

    ns: dict = {}
    exec(compile(compile_flowgroup(spec()), "<generated>", "exec"), ns)
    for ids in ([1, 2, 3], [4, 5]):
        land_rows(ids)
        engine = sorted(tuple(r) for r in runner.run(spec()).resolve_view("m.t.mv").collect())
        gen = sorted(tuple(r) for r in ns["build"](spark, str(tmp_path / "gen"))["m.t.mv"].collect())
        assert engine == gen == [(i, i * 10) for i in range(1, ids[-1] + 1)]


def _null_sink_class():
    """A Python Data Source that only registers a name: with start()
    intercepted it is never asked to write."""
    from pyspark.sql.datasource import DataSource

    class NullSink(DataSource):
        @classmethod
        def name(cls):
            return "lhp_null_sink"

    return NullSink


def test_streaming_kafka_sink_sets_available_now_trigger(spark, runner, tmp_path, monkeypatch):
    """Streaming Kafka and custom sinks must run as bounded availableNow
    queries, like every other streaming write: without the trigger,
    awaitTermination on a streaming source never returns. Neither the Kafka
    connector nor a streaming writer is needed: start() is intercepted."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    land = tmp_path / "landing"
    spark.createDataFrame([("k", "v")], "key string, value string").write.json(str(land))
    calls = {}
    trigger = DataStreamWriter.trigger

    def record_trigger(self, **kwargs):
        calls["trigger"] = kwargs
        return trigger(self, **kwargs)

    class _Done:
        def awaitTermination(self, timeout=None):
            return True

    def fake_start(self, *args, **kwargs):
        calls["started"] = True
        return _Done()

    monkeypatch.setattr(DataStreamWriter, "trigger", record_trigger)
    monkeypatch.setattr(DataStreamWriter, "start", fake_start)
    for sink_type, write_target in [
        ("kafka", {"type": "sink", "sink_type": "kafka", "topic": "t",
                   "bootstrap_servers": "localhost:9092"}),
        ("custom", {"type": "sink", "sink_type": "custom", "options": {}}),
    ]:
        calls.clear()
        fg = load_flowgroup({
            "pipeline": "p", "flowgroup": f"{sink_type}_stream",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                            "schema": "key STRING, value STRING"}},
                {"name": "snk", "type": "write", "source": "v_raw",
                 "write_target": write_target},
            ],
        })
        if sink_type == "custom":
            fg.actions[1].write_target.options["sink_class_obj"] = _null_sink_class()
        runner.run(fg)
        assert calls == {"trigger": {"availableNow": True}, "started": True}, sink_type


def test_dq_check_registered_for_mv_sql_consumer(spark, tmp_path):
    """A view consumed ONLY through a materialized view's write_target.sql is
    real data flow: its fail-expectations must register and fire."""
    spec = {
        "pipeline": "p", "flowgroup": "dq_mvsql",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_src",
             "source": {"type": "sql",
                        "sql": "SELECT * FROM (VALUES (1), (NULL)) AS t(id)"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_src", "target": "v_checked",
             "expectations_inline": [
                 {"name": "id_set", "constraint": "id IS NOT NULL",
                  "action": "fail"}]},
            # no action-level source: consumption is via the MV's SQL text
            {"name": "wr", "type": "write",
             "write_target": {"type": "materialized_view", "database": "m.ms",
                              "table": "out", "sql": "SELECT COUNT(*) AS n FROM v_checked"}},
        ],
    }
    src = compile_flowgroup(load_flowgroup(spec))
    assert "fail-check not registered" not in src
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    with pytest.raises(RuntimeError, match="fail-expectations violated"):
        ns["build"](spark, str(tmp_path / "gen"))


def test_depends_on_only_reference_does_not_register_check(spark, tmp_path):
    """depends_on is ordering-only — a fail-check registered through it would
    wait on an Observation that never populates."""
    spec = {
        "pipeline": "p", "flowgroup": "dq_dep",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_src",
             "source": {"type": "sql",
                        "sql": "SELECT * FROM (VALUES (1), (NULL)) AS t(id)"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_src", "target": "v_checked",
             "expectations_inline": [
                 {"name": "id_set", "constraint": "id IS NOT NULL",
                  "action": "fail"}]},
            {"name": "wr", "type": "write", "source": "v_src",
             "depends_on": ["v_checked"],
             "write_target": {"type": "materialized_view", "database": "m.dp",
                              "table": "raw_copy"}},
        ],
    }
    src = compile_flowgroup(load_flowgroup(spec))
    assert "fail-check not registered" in src
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen"))  # must not hang
    assert written["m.dp.raw_copy"].count() == 2


def test_compiled_streaming_table_partitions_and_autocompacts(spark, tmp_path):
    """The compiled append flow must honor partition_columns (engine parity)
    and the lhp.autoOptimize.maxFiles property must compact in the generated
    script just as the engine does."""
    import glob
    import os

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    spec = {
        "pipeline": "p", "flowgroup": "f",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql",
                        "sql": "SELECT id, CAST(id % 3 AS INT) AS b FROM RANGE(30)"},
             "target": "v_in"},
            {"name": "wr", "type": "write", "source": "v_in",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "partition_columns": ["b"],
                              "table_properties": {"lhp.autoOptimize.maxFiles": "4"}}},
        ],
    }
    src = compile_flowgroup(load_flowgroup(spec))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    out = tmp_path / "gen"
    for _ in range(4):  # repeated runs fragment, then trip the compact bound
        written = ns["build"](spark, str(out))
    tbl_dir = next(p for p in glob.glob(str(out) + "/**/t", recursive=True)
                   if os.path.isdir(p))
    # partition layout honored
    assert any(d.startswith("b=") for d in os.listdir(tbl_dir))
    # compacted under the bound: one file per partition value
    files = glob.glob(tbl_dir + "/**/*.parquet", recursive=True)
    assert len(files) <= 4
    assert written["m.s.t"].count() == 120


def test_compiled_fanin_compaction_merges_strictest_bound(spark, tmp_path):
    """ADVICE r4: sibling fan-in flows registering conflicting maxFiles for
    one target must merge strictest-wins in the GENERATED script, matching
    the engine's _merge_compaction — not last-writer-wins. Here the LAST
    registration carries the loose bound (100): last-writer-wins would never
    compact; the merge rule compacts to one file."""
    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    spec = {
        "pipeline": "p", "flowgroup": "fanin_merge",
        "actions": [
            {"name": "ld1", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id FROM RANGE(10)"},
             "target": "v_a"},
            {"name": "ld2", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id + 100 AS id FROM RANGE(10)"},
             "target": "v_b"},
            {"name": "wr1", "type": "write", "source": "v_a",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "fan",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "1"}}},
            {"name": "wr2", "type": "write", "source": "v_b", "depends_on": ["wr1"],
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "fan", "create_table": False,
                              "table_properties": {"lhp.autoOptimize.maxFiles": "100"}}},
        ],
    }
    src = compile_flowgroup(load_flowgroup(spec))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    out = tmp_path / "gen"
    for _ in range(3):
        written = ns["build"](spark, str(out))
    import glob as _glob
    tbl_files = _glob.glob(str(out / "m" / "s" / "fan") + "/**/*.parquet", recursive=True)
    assert len(tbl_files) == 1, "strictest bound (1) must win over the later loose bound"
    assert written["m.s.fan"].count() == 60


def test_generated_code_applies_and_restores_spark_conf(spark, tmp_path):
    """Per-table spark_conf (reference _action.py:35) in generated code:
    in force during the write's jobs, restored after the action."""
    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    fg = load_flowgroup({
        "pipeline": "p", "flowgroup": "conf",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql",
                        "sql": "SELECT id % 5 AS k FROM range(100)"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.s",
                              "table": "t",
                              "sql": "SELECT k, count(*) AS n FROM v GROUP BY k",
                              "spark_conf": {"spark.sql.shuffle.partitions": "3"}}},
        ],
    })
    src = compile_flowgroup(fg)
    assert "spark.sql.shuffle.partitions" in src
    before = spark.conf.get("spark.sql.shuffle.partitions")
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "out"))
    assert written["m.s.t"].count() == 5
    # the conf was live for the write: the overwrite parquet dir holds at
    # most 3 data files (3 shuffle partitions), not the session default
    import glob
    files = glob.glob(str(tmp_path / "out" / "m/s/t" / "*.parquet"))
    assert 0 < len(files) <= 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_compiled_retrieval_matches_engine_both_plans(spark, runner, tmp_path):
    """transform_type: retrieval — the generated Spark-SQL scoring must
    reproduce the engine executor's rows and scores exactly, on BOTH
    resolved plan shapes (unrolled and postings score parts are each cast
    to DECIMAL(18,6) before summation, so the plans cannot diverge)."""
    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    spark.sql(
        "SELECT id AS doc_id, concat('spark window ', "
        "repeat('merge ', cast(id % 7 AS int)), 'vector row') AS text "
        "FROM range(200)"
    ).createOrReplaceTempView("ret_docs")

    def spec(plan):
        return {
            "pipeline": "p", "flowgroup": f"ret_{plan}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_docs",
                 "source": {"type": "sql", "sql": "SELECT * FROM ret_docs"}},
                {"name": "topk", "type": "transform",
                 "transform_type": "retrieval", "source": "v_docs",
                 "target": "v_top",
                 "retrieval": {"query_terms": ["Spark", "merge", "vector"],
                               "k": 10, "plan": plan}},
                {"name": "mv", "type": "write", "source": "v_top",
                 "write_target": {"type": "materialized_view",
                                  "database": "m.ret", "table": f"t_{plan}"}},
            ],
        }

    results = {}
    for plan in ("unrolled", "postings"):
        fg = load_flowgroup(spec(plan))
        ctx = runner.run(fg)
        engine = [
            tuple(r) for r in
            ctx.resolve_view(f"m.ret.t_{plan}").orderBy("rank").collect()
        ]
        src = compile_flowgroup(fg)
        assert "import lakehouse_plumber_spark" not in src
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(tmp_path / f"out_{plan}"))
        generated = [
            tuple(r) for r in
            written[f"m.ret.t_{plan}"].orderBy("rank").collect()
        ]
        assert generated == engine, f"plan {plan}: generated != engine"
        results[plan] = engine
    # and the two physical plans agree with each other
    assert results["unrolled"] == results["postings"]


def test_retrieval_spec_validation():
    """Bad retrieval specs fail as clean spec errors, not tracebacks."""
    import pytest as _pytest

    from lakehouse_plumber_spark.parsers import SpecError, load_flowgroup

    def spec(retrieval):
        return {
            "pipeline": "p", "flowgroup": "r",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql", "sql": "SELECT 1 AS doc_id, 'x' AS text"}},
                {"name": "t", "type": "transform", "transform_type": "retrieval",
                 "source": "v", "target": "v2", "retrieval": retrieval},
                {"name": "w", "type": "write", "source": "v2",
                 "write_target": {"type": "materialized_view", "database": "m.r",
                                  "table": "t"}},
            ],
        }

    with _pytest.raises(SpecError, match="query term"):
        load_flowgroup(spec({"query_terms": []}))
    with _pytest.raises(SpecError, match="plan"):
        load_flowgroup(spec({"query_terms": ["a"], "plan": "hash"}))
    with _pytest.raises(SpecError, match="k"):
        load_flowgroup(spec({"query_terms": ["a"], "k": 0}))
    # unknown keys are rejected (extra='forbid' on RetrievalConfig)
    with _pytest.raises(SpecError):
        load_flowgroup(spec({"query_terms": ["a"], "topk": 5}))


def test_bm25_choose_plan_crossover():
    from lakehouse_plumber_spark.llm.search import (
        BM25_CROSSOVER_TERMS,
        bm25_choose_plan,
    )

    narrow = [f"t{i}" for i in range(BM25_CROSSOVER_TERMS)]
    wide = [f"t{i}" for i in range(BM25_CROSSOVER_TERMS + 1)]
    assert bm25_choose_plan(narrow) == "unrolled"
    assert bm25_choose_plan(wide) == "postings"
    # dedup happens before counting: 20 copies of one term stay unrolled
    assert bm25_choose_plan(["X"] * 20) == "unrolled"
    assert bm25_choose_plan(wide, plan="unrolled") == "unrolled"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="plan"):
        bm25_choose_plan(["a"], plan="fastest")


def test_compiled_dedup_exact_matches_engine(spark, runner, tmp_path):
    """transform_type: dedup, method: exact — generated SQL must reproduce
    the engine's survivor/dup_count table; non-SQL methods refuse with a
    clean pointer at the engine."""
    import pytest as _pytest

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    def spec(method, extra=None):
        dd = {"method": method}
        dd.update(extra or {})
        return {
            "pipeline": "p", "flowgroup": f"dd_{method}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql",
                            "sql": "SELECT id AS doc_id, "
                                   "CASE WHEN id % 3 = 0 THEN 'dup text  here' "
                                   "ELSE concat('unique ', id) END AS text "
                                   "FROM range(90)"}},
                {"name": "dd", "type": "transform", "transform_type": "dedup",
                 "source": "v", "target": "v_dd", "dedup": dd},
                {"name": "mv", "type": "write", "source": "v_dd",
                 "write_target": {"type": "materialized_view", "database": "m.d",
                                  "table": f"t_{method}"}},
            ],
        }

    fg = load_flowgroup(spec("exact"))
    ctx = runner.run(fg)
    engine = sorted(tuple(r) for r in ctx.resolve_view("m.d.t_exact").collect())
    src = compile_flowgroup(fg)
    assert "import lakehouse_plumber_spark" not in src
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "out"))
    generated = sorted(tuple(r) for r in written["m.d.t_exact"].collect())
    assert generated == engine
    # 30 dup rows collapse to one survivor with dup_count 30
    assert max(r[1] for r in engine) == 30

    with _pytest.raises(NotImplementedError, match="PipelineRunner"):
        compile_flowgroup(load_flowgroup(spec("lines")))


def test_dedup_yaml_survivors_and_validation(spark, runner):
    import pytest as _pytest

    from lakehouse_plumber_spark.parsers import SpecError, load_flowgroup

    base = {
        "pipeline": "p", "flowgroup": "dd_s",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql",
                        "sql": "SELECT id AS doc_id, "
                               "CASE WHEN id < 2 THEN 'the quick brown fox jumps over the lazy dog again and again today' "
                               "ELSE concat('distinct words for document number ', id, ' nothing shared') END AS text, "
                               "id + 10 AS quality FROM range(8)"}},
            {"name": "dd", "type": "transform", "transform_type": "dedup",
             "source": "v", "target": "v_dd",
             "dedup": {"method": "minhash_survivors", "quality_col": "quality"}},
            {"name": "mv", "type": "write", "source": "v_dd",
             "write_target": {"type": "materialized_view", "database": "m.d",
                              "table": "surv"}},
        ],
    }
    ctx = runner.run(load_flowgroup(base))
    rows = {r.doc_id: r for r in ctx.resolve_view("m.d.surv").collect()}
    assert len(rows) == 8
    # docs 0 and 1 share a near-identical text: the higher-quality one (1)
    # survives, 0 is retired; everything else is a kept singleton
    assert rows[1].kept and not rows[0].kept
    assert all(rows[i].kept for i in range(2, 8))

    with _pytest.raises(SpecError, match="method"):
        load_flowgroup({**base, "actions": [
            base["actions"][0],
            {**base["actions"][1], "dedup": {"method": "fuzzy"}},
            base["actions"][2],
        ]})
    import copy

    bad = copy.deepcopy(base)
    bad["actions"][1]["dedup"] = {"method": "minhash_survivors"}
    with _pytest.raises(ValueError, match="quality_col"):
        runner.run(load_flowgroup(bad))


def test_compiled_text_matches_engine(spark, runner, tmp_path):
    """transform_type: text, methods token_count/gopher_rules/c4_rules —
    the generated SQL renders the SAME expr strings the DataFrame operators
    evaluate (llm/text.py:token_count_expr/gopher_struct_expr/
    c4_struct_expr), so engine and generated file must agree row-for-row;
    the loop/explode methods refuse with the PipelineRunner pointer."""
    import pytest as _pytest

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    def spec(method, extra=None):
        tc = {"method": method}
        tc.update(extra or {})
        return {
            "pipeline": "p", "flowgroup": f"tx_{method}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql",
                            "sql": "SELECT id AS doc_id, "
                                   "CASE WHEN id % 4 = 0 THEN concat("
                                   "'the quick brown fox jumps over a lazy dog near the river. ', "
                                   "'it was seen by the miller and his dog on that day.\\n', "
                                   "'every sentence here ends with terminal punctuation marks too.\\n', "
                                   "'and the final line is long enough to survive the word test.') "
                                   "WHEN id % 4 = 1 THEN 'short {code} javascript' "
                                   "WHEN id % 4 = 2 THEN concat('lorem ipsum dolor sit amet number ', id) "
                                   "ELSE concat('#### symbols... and filler words for doc ', id, ' here') "
                                   "END AS text FROM range(40)"}},
                {"name": "tx", "type": "transform", "transform_type": "text",
                 "source": "v", "target": "v_tx", "text": tc},
                {"name": "mv", "type": "write", "source": "v_tx",
                 "write_target": {"type": "materialized_view", "database": "m.tx",
                                  "table": f"t_{method}"}},
            ],
        }

    for method, extra in [
        ("token_count", None),
        ("gopher_rules", {"min_words": 5}),
        ("c4_rules", {"min_words_per_line": 4, "min_kept_lines": 2}),
    ]:
        fg = load_flowgroup(spec(method, extra))
        ctx = runner.run(fg)
        engine = sorted(
            tuple(r) for r in ctx.resolve_view(f"m.tx.t_{method}").collect()
        )
        src = compile_flowgroup(fg)
        assert "import lakehouse_plumber_spark" not in src
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(tmp_path / f"out_{method}"))
        generated = sorted(
            tuple(r) for r in written[f"m.tx.t_{method}"].collect()
        )
        assert generated == engine, f"text method {method} diverged"
        assert engine  # non-degenerate corpus
    # the c4 corpus must exercise every rule branch
    fg = load_flowgroup(spec("c4_rules", {"min_words_per_line": 4,
                                          "min_kept_lines": 2}))
    rows = {r.doc_id: r for r in _runner_rows(runner, fg, "m.tx.t_c4_rules")}
    assert rows[0].keep and not rows[1].keep and not rows[2].keep
    assert rows[1].has_brace and rows[2].has_lorem

    for method in ("chunk", "quality_score", "lang_id", "pii_redact"):
        with _pytest.raises(NotImplementedError, match="PipelineRunner"):
            compile_flowgroup(load_flowgroup(spec(method)))


def _runner_rows(runner, fg, view):
    ctx = runner.run(fg)
    return ctx.resolve_view(view).collect()


def test_compiled_sample_matches_engine(spark, runner, tmp_path):
    """transform_type: sample — hash_split and stratified compile to SQL
    with the identical md5 bucket derivation; count-dependent methods
    refuse with a clean pointer at the engine."""
    import pytest as _pytest

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    def spec(sample):
        return {
            "pipeline": "p", "flowgroup": "smp",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql",
                            "sql": "SELECT id AS doc_id, "
                                   "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS src "
                                   "FROM range(500)"}},
                {"name": "sp", "type": "transform", "transform_type": "sample",
                 "source": "v", "target": "v_s", "sample": sample},
                {"name": "mv", "type": "write", "source": "v_s",
                 "write_target": {"type": "materialized_view", "database": "m.s",
                                  "table": "t"}},
            ],
        }

    for sample in (
        {"method": "hash_split", "weights": {"train": 0.7, "val": 0.3}},
        {"method": "stratified", "strata_col": "src",
         "rates": {"a": 1.0, "b": 0.25}},
    ):
        fg = load_flowgroup(spec(sample))
        ctx = runner.run(fg)
        engine = sorted(tuple(r) for r in ctx.resolve_view("m.s.t").collect())
        src_code = compile_flowgroup(fg)
        assert "import lakehouse_plumber_spark" not in src_code
        ns: dict = {}
        exec(compile(src_code, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(tmp_path / f"out_{sample['method']}"))
        generated = sorted(tuple(r) for r in written["m.s.t"].collect())
        assert generated == engine, f"{sample['method']}: generated != engine"
        assert len(engine) > 0

    with _pytest.raises(NotImplementedError, match="PipelineRunner"):
        compile_flowgroup(load_flowgroup(spec(
            {"method": "temperature", "strata_col": "src"}
        )))
    # spec validation: missing required fields per method
    from lakehouse_plumber_spark.parsers import SpecError

    with _pytest.raises(SpecError, match="required"):
        load_flowgroup(spec({"method": "hash_split"}))
    with _pytest.raises(SpecError, match="method"):
        load_flowgroup(spec({"method": "bootstrap"}))


def test_extension_actions_reject_streaming_sources(spark, runner, tmp_path):
    """retrieval/dedup (and count-dependent sample methods) must refuse a
    streaming source with a clean error, not a Spark analysis failure."""
    import pytest as _pytest

    from lakehouse_plumber_spark.parsers import load_flowgroup

    src_dir = tmp_path / "docs"
    spark.sql(
        "SELECT id AS doc_id, concat('text number ', id) AS text FROM range(20)"
    ).write.parquet(str(src_dir))

    def spec(kind, extra):
        a = {"name": "x", "type": "transform", "transform_type": kind,
             "source": "v", "target": "v2", **extra}
        return load_flowgroup({
            "pipeline": "p", "flowgroup": f"s_{kind}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v", "readMode": "stream",
                 "source": {"type": "cloudfiles", "path": str(src_dir),
                            "format": "parquet",
                            "schema": "doc_id BIGINT, text STRING"}},
                a,
                {"name": "w", "type": "write", "source": "v2", "readMode": "stream",
                 "write_target": {"type": "streaming_table", "database": "m.s",
                                  "table": f"t_{kind}"}},
            ],
        })

    with _pytest.raises(ValueError, match="BATCH source"):
        runner.run(spec("retrieval", {"retrieval": {"query_terms": ["text"]}}))
    with _pytest.raises(ValueError, match="BATCH source"):
        runner.run(spec("dedup", {"dedup": {"method": "exact"}}))
    with _pytest.raises(ValueError, match="BATCH source"):
        runner.run(spec("sample", {"sample": {"method": "temperature",
                                              "strata_col": "text"}}))


def test_sample_spec_numeric_validation():
    import pytest as _pytest

    from lakehouse_plumber_spark.models import SampleConfig

    with _pytest.raises(ValueError, match="positive sum"):
        SampleConfig(method="hash_split", weights={"a": 0.0, "b": 0.0})
    with _pytest.raises(ValueError, match="non-negative"):
        SampleConfig(method="hash_split", weights={"a": -1.0, "b": 2.0})
    with _pytest.raises(ValueError, match="rates"):
        SampleConfig(method="stratified", strata_col="s", rates={"a": 1.5})


def test_r10_extension_method_spec_validation():
    """The r10 additions to the declarative families (dedup:
    containment|embedding_lsh|incremental, sample:
    weighted_poisson|sequence_pack) validate their required fields and
    numeric ranges at spec-parse time."""
    import pytest as _pytest

    from lakehouse_plumber_spark.models import DedupConfig, SampleConfig

    # incremental needs both index table names
    with _pytest.raises(ValueError, match="index_table"):
        DedupConfig(method="incremental")
    with _pytest.raises(ValueError, match="index_table"):
        DedupConfig(method="incremental", index_table="m.d.bands")
    DedupConfig(method="incremental", index_table="m.d.bands",
                grams_table="m.d.grams")
    # caps and thresholds
    with _pytest.raises(ValueError, match=">= 1"):
        DedupConfig(method="containment", max_doc_freq=0)
    with _pytest.raises(ValueError, match="threshold"):
        DedupConfig(method="containment", containment_threshold=1.5)
    with _pytest.raises(ValueError, match="threshold"):
        DedupConfig(method="embedding_lsh", cosine_threshold=0.0)
    with _pytest.raises(ValueError, match=">= 0"):
        DedupConfig(method="embedding_lsh", max_bucket_size=-1)
    # 0 is the explicit clique-guard opt-out (uniform across methods, r12)
    DedupConfig(method="embedding_lsh", max_bucket_size=0)
    DedupConfig(method="incremental", index_table="m.d.b",
                grams_table="m.d.g", max_bucket_size=0)
    # retry is the incremental crashed-batch re-run flag, meaningless (and
    # refused) elsewhere
    DedupConfig(method="incremental", index_table="m.d.b",
                grams_table="m.d.g", retry=True)
    with _pytest.raises(ValueError, match="retry"):
        DedupConfig(method="exact", retry=True)
    # sample: required fields + ranges
    with _pytest.raises(ValueError, match="required"):
        SampleConfig(method="weighted_poisson")
    with _pytest.raises(ValueError, match="target_fraction"):
        SampleConfig(method="weighted_poisson", weight_expr="w",
                     target_fraction=1.5)
    with _pytest.raises(ValueError, match="required"):
        SampleConfig(method="sequence_pack")
    with _pytest.raises(ValueError, match=">= 1"):
        SampleConfig(method="sequence_pack", seq_len=0)
    SampleConfig(method="weighted_poisson", weight_expr="n_chars",
                 target_fraction=0.3)
    SampleConfig(method="sequence_pack", seq_len=128)


def test_r10_extension_methods_refuse_compilation():
    """Multi-stage / count-dependent r10 methods follow the established
    convention: compile-to-source refuses with a PipelineRunner pointer."""
    import pytest as _pytest

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup

    def fg(kind, cfg):
        return load_flowgroup({
            "pipeline": "p", "flowgroup": f"c_{kind}_{cfg.get('method', 'fuse')}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql", "sql": "SELECT 1 AS doc_id, 'x' AS text"}},
                {"name": "t", "type": "transform", "transform_type": kind,
                 "source": "v", "target": "v2", kind: cfg},
                {"name": "w", "type": "write", "source": "v2",
                 "write_target": {"type": "materialized_view", "database": "m.c",
                                  "table": "t"}},
            ],
        })

    for kind, cfg in [
        ("dedup", {"method": "containment"}),
        ("dedup", {"method": "embedding_lsh"}),
        ("dedup", {"method": "incremental", "index_table": "m.d.b",
                   "grams_table": "m.d.g"}),
        ("sample", {"method": "weighted_poisson", "weight_expr": "n_chars",
                    "target_fraction": 0.3}),
        ("sample", {"method": "sequence_pack", "seq_len": 128}),
        ("knn", {"method": "bruteforce", "query_ids": [1]}),
        ("retrieval", {"query_sets": [["a"], ["b"]]}),
        ("dedup", {"method": "semantic"}),
        ("multimodal", {"method": "features"}),
        ("text", {"method": "chunk"}),
        ("text", {"method": "quality_score"}),
    ]:
        with _pytest.raises(NotImplementedError, match="PipelineRunner"):
            compile_flowgroup(fg(kind, cfg))


def test_retrieval_fusion_spec_validation():
    import pytest as _pytest

    from lakehouse_plumber_spark.models import RetrievalConfig

    RetrievalConfig(query_sets=[["a"], ["b", "c"]])
    with _pytest.raises(ValueError, match="exactly one"):
        RetrievalConfig()
    with _pytest.raises(ValueError, match="exactly one"):
        RetrievalConfig(query_terms=["a"], query_sets=[["a"], ["b"]])
    with _pytest.raises(ValueError, match=">= 2"):
        RetrievalConfig(query_sets=[["a"]])
    with _pytest.raises(ValueError, match="at least one term"):
        RetrievalConfig(query_sets=[["a"], []])
    with _pytest.raises(ValueError, match="k_rrf"):
        RetrievalConfig(query_sets=[["a"], ["b"]], k_rrf=0)


def test_knn_spec_validation():
    """KnnConfig: method whitelist, non-empty query ids, filtered needs a
    predicate, positive integer knobs."""
    import pytest as _pytest

    from lakehouse_plumber_spark.models import KnnConfig

    KnnConfig(method="bruteforce", query_ids=[1, 2])
    KnnConfig(method="filtered", query_ids=[1], predicate="label = 1")
    KnnConfig(method="ivfpq", query_ids=[1], n_centroids=8, n_probe=8)
    with _pytest.raises(ValueError, match="method"):
        KnnConfig(method="hnsw", query_ids=[1])
    with _pytest.raises(ValueError, match="query id"):
        KnnConfig(method="bruteforce", query_ids=[])
    with _pytest.raises(ValueError, match="predicate"):
        KnnConfig(method="filtered", query_ids=[1])
    with _pytest.raises(ValueError, match=">= 1"):
        KnnConfig(method="bruteforce", query_ids=[1], k=0)


def test_multimodal_spec_validation():
    import pytest as _pytest

    from lakehouse_plumber_spark.models import MultimodalConfig

    MultimodalConfig(method="features")
    MultimodalConfig(method="resize", width=64, height=64, decoder="auto")
    MultimodalConfig(method="frame_sample", every_ms=500)
    with _pytest.raises(ValueError, match="method"):
        MultimodalConfig(method="ocr")
    with _pytest.raises(ValueError, match="decoder"):
        MultimodalConfig(method="features", decoder="ffmpeg")
    with _pytest.raises(ValueError, match="source_format"):
        MultimodalConfig(method="features", source_format="images")
    with _pytest.raises(ValueError, match=">= 1"):
        MultimodalConfig(method="resize", width=0)


def test_text_spec_validation():
    import pytest as _pytest

    from lakehouse_plumber_spark.models import TextConfig

    TextConfig(method="c4_rules")
    TextConfig(method="gopher_rules", min_words=10)
    TextConfig(method="chunk", chunk_tokens=128, stride=96)
    with _pytest.raises(ValueError, match="method"):
        TextConfig(method="stem")
    with _pytest.raises(ValueError, match=">= 1"):
        TextConfig(method="c4_rules", min_kept_lines=0)
    with _pytest.raises(ValueError, match="stride <= chunk_tokens"):
        TextConfig(method="chunk", chunk_tokens=64, stride=65)


def _build_compiled(spark, spec, out):
    """Compile `spec`, check the script parses, run its build(); returns
    (the script's namespace, build()'s written tables)."""
    import ast

    src = compile_flowgroup(load_flowgroup(spec))
    ast.parse(src)
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    return ns, ns["build"](spark, str(out))


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("mode", ["dqe", "quarantine"])
def test_quoted_expectation_name_compiles_and_builds(spark, runner, tmp_path, mode):
    """An expectation name is data: a name with a quote compiles to a script
    that parses and builds the engine's rows."""
    spec = _dq_spec(mode, name="it's positive")
    engine = _rows(runner.run(load_flowgroup(spec)).resolve_view(f"m.dq.{mode}"))
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    assert _rows(written[f"m.dq.{mode}"]) == engine == [(3, 1), (4, 2), (5, 3)]
    if mode == "quarantine":
        dlq = spark.read.parquet(str(tmp_path / "gen" / "_dlq" / "m" / "dlq" / "q"))
        assert {r[0] for r in dlq.select("_dlq_failed_rules").collect()} == {
            '[{"name":"it\'s positive","constraint":"v > 0"}]'}


def test_compiled_fail_expectation_raises_engine_error(spark, runner, tmp_path):
    """A violated fail expectation raises the engine's ExpectationFailedError
    (a RuntimeError) with the same counts in the engine and the script."""
    from lakehouse_plumber_spark.expectations import ExpectationFailedError

    spec = _dq_spec("dqe", name="v_pos", action="fail")
    with pytest.raises(ExpectationFailedError) as engine:
        runner.run(load_flowgroup(spec))
    src = compile_flowgroup(load_flowgroup(spec))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    assert issubclass(ns["ExpectationFailedError"], RuntimeError)
    with pytest.raises(ns["ExpectationFailedError"]) as gen:
        ns["build"](spark, str(tmp_path / "gen"))
    assert gen.value.failures == engine.value.failures == {"v_pos": 3}


def test_compiled_incremental_mv_decimal_aggregates_match_engine(spark, runner, tmp_path):
    """Decimal sum/avg over a stream: the compiled MV has the engine's
    types (partials pinned to precision 38), its rows and its partitions."""
    import os

    land = tmp_path / "land"
    for i in range(2):
        spark.sql(f"SELECT CAST(id % 3 AS STRING) AS k, (id + {i}) / 7 AS amt FROM range(20)") \
            .coalesce(1).write.mode("append").parquet(str(land))
    spec = _imv_spec({"s": "sum(CAST(amt AS DECIMAL(18,6)))",
                      "a": "avg(CAST(amt AS DECIMAL(18,6)))", "n": "count(*)"})
    spec["actions"][0]["source"].update(
        path=str(land), options={"cloudFiles.maxFilesPerTrigger": "1"})
    spec["actions"][1]["write_target"]["partition_columns"] = ["k"]
    engine = runner.run(load_flowgroup(spec)).resolve_view("m.i.t")
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    parts = {d for d in os.listdir(tmp_path / "gen" / "m" / "i" / "t") if "=" in d}
    assert parts == {"k=0", "k=1", "k=2"}
    assert written["m.i.t"].dtypes == engine.dtypes
    assert dict(engine.dtypes)["s"] == "decimal(38,6)"
    assert _rows(written["m.i.t"]) == _rows(engine) and len(_rows(engine)) == 3


def _rescue_land(tmp_path):
    land = tmp_path / "land"
    land.mkdir()
    (land / "a.json").write_text(
        '{"id": 1, "v": 5}\n{"id": 2, "v": "x"}\n{"id": 3, "v": -1}\n{"id": 4, "v": "7"}\n')
    return land


_YAML_SCHEMA = {"columns": [{"name": "id", "type": "int"}, {"name": "v", "type": "int"}]}


@pytest.mark.parametrize("read_mode,schema", [
    ("batch", "id INT, v INT"), ("stream", "id INT, v INT"), ("stream", _YAML_SCHEMA),
    ("stream", "id INT, v INT, _rescued_data STRING")])
def test_compiled_cloudfiles_reads_with_declared_schema(spark, runner, tmp_path, read_mode, schema):
    """A compiled cloudfiles load reads with the declared schema (DDL text
    or a schema dict) and the rescue column, as the engine does; a stream
    over one file reads its directory filtered to it. The script is
    compiled before its input lands, so whether the path is a single file
    is decided when the script runs."""
    land = tmp_path / "land"
    write = ({"type": "streaming_table", "database": "m.cf", "table": "t"} if read_mode == "stream"
             else {"type": "materialized_view", "database": "m.cf", "table": "t"})
    spec = {
        "pipeline": "p", "flowgroup": "cf",
        "actions": [
            {"name": "ld", "type": "load", "target": "v", "readMode": read_mode,
             "source": {"type": "cloudfiles", "format": "json", "schema": schema,
                        "path": str(land / "a.json" if read_mode == "stream" else land)}},
            {"name": "wr", "type": "write", "source": "v", "write_target": write},
        ],
    }
    src = compile_flowgroup(load_flowgroup(spec))
    _rescue_land(tmp_path)
    (land / "other.json").write_text('{"id": 9, "v": 9}\n')
    engine = runner.run(load_flowgroup(spec)).resolve_view("m.cf.t")
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp_path / "gen"))
    assert written["m.cf.t"].dtypes == engine.dtypes == [
        ("id", "int"), ("v", "int"), ("_rescued_data", "string")]
    assert _rows(written["m.cf.t"]) == _rows(engine)
    assert len(_rows(engine)) == (4 if read_mode == "stream" else 5)


def test_compiled_quarantine_of_rescued_rows_matches_engine(spark, runner, tmp_path):
    """Rows with rescued data go through the engine's split in both paths:
    the DLQ rows carry the same keys, patched payloads, failed rules and
    columns, and the clean rows match."""
    land = _rescue_land(tmp_path)
    spec = {
        "pipeline": "p", "flowgroup": "qr",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_raw",
             "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                        "schema": "id INT, v INT"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_raw", "target": "v_clean", "mode": "quarantine",
             "quarantine": {"dlq_table": "m.dlq.r"},
             "expectations_inline": [
                 {"name": "pos", "constraint": "v > 0", "type": "expect_or_drop"}]},
            {"name": "wr", "type": "write", "source": "v_clean",
             "write_target": {"type": "streaming_table", "database": "m.qr", "table": "t"}},
        ],
    }
    clean = runner.run(load_flowgroup(spec)).resolve_view("m.qr.t")
    engine_dlq = runner.store.read("m.dlq.r").drop("_dlq_bucket")
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    dlq = spark.read.parquet(str(tmp_path / "gen" / "_dlq" / "m" / "dlq" / "r"))
    assert sorted(dlq.columns) == sorted(engine_dlq.columns)
    cols = ["_dlq_sk", "_row_data", "_dlq_failed_rules"]
    assert _rows(dlq.select(cols)) == _rows(engine_dlq.select(cols))
    # id 4's rescued "7" is patched into the payload, id 2's "x" stays parked
    assert '{"id":4,"v":7}' in {r[1] for r in _rows(dlq.select(cols))}
    assert _rows(written["m.qr.t"]) == _rows(clean) == [(1, 5, None)]


@pytest.mark.parametrize("path", ["engine", "compiled"])
def test_cluster_by_auto_mv_evaluates_its_source_once(spark, runner, tmp_path, path):
    """The Morton layout's stats and sample passes and the write read one
    persisted copy of the MV's query, so its source runs once."""
    ticks = spark.sparkContext.accumulator(0)

    def lhp_tick(x):
        ticks.add(1)
        return x

    spark.udf.register("lhp_tick", lhp_tick, "bigint")
    spec = {
        "pipeline": "p", "flowgroup": "zo1",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql",
                        "sql": "SELECT lhp_tick(id) % 97 AS a, id % 89 AS b FROM range(1000)"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.z", "table": "t",
                              "cluster_columns": ["a", "b"], "cluster_by_auto": True}},
        ],
    }
    if path == "engine":
        assert runner.run(load_flowgroup(spec)).resolve_view("m.z.t").count() == 1000
    else:
        assert _build_compiled(spark, spec, tmp_path / "gen")[1]["m.z.t"].count() == 1000
    assert ticks.value == 1000


def _stream_dq_spec(land, expectations):
    return {
        "pipeline": "p", "flowgroup": "sdq",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_raw",
             "source": {"type": "cloudfiles", "path": str(land), "format": "json",
                        "schema": "id INT, v INT"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_raw", "target": "v_ok", "expectations_inline": expectations},
            {"name": "wr", "type": "write", "source": "v_ok",
             "write_target": {"type": "streaming_table", "database": "m.sd", "table": "t"}},
        ],
    }


@pytest.mark.parametrize("path", ["engine", "compiled"])
def test_streaming_dqe_drops_rows(spark, runner, tmp_path, path):
    """Spark's Observation refuses a streaming frame, so a data_quality
    action over a stream drops rows without observing them, in the engine
    and in compiled scripts."""
    spec = _stream_dq_spec(_rescue_land(tmp_path), [
        {"name": "pos", "constraint": "v > 0", "type": "expect_or_drop"},
        {"name": "small", "constraint": "v < 6", "type": "expect"}])
    if path == "engine":
        got = runner.run(load_flowgroup(spec)).resolve_view("m.sd.t")
    else:
        got = _build_compiled(spark, spec, tmp_path / "gen")[1]["m.sd.t"]
    assert _rows(got) == [(1, 5, None)]


@pytest.mark.parametrize("path", ["engine", "compiled"])
def test_streaming_fail_expectation_is_refused(spark, runner, tmp_path, path):
    """Nothing counts a fail expectation's violations on a stream, so a
    streaming data_quality action with one is refused before any write
    runs, in the engine and in compiled scripts, instead of writing the
    rows the rule should have stopped."""
    import os

    land = _rescue_land(tmp_path)
    (land / "b.json").write_text('{"v": 7}\n')  # no id: violates has_id
    spec = _stream_dq_spec(land, [
        {"name": "pos", "constraint": "v > 0", "type": "expect_or_drop"},
        {"name": "has_id", "constraint": "id IS NOT NULL", "type": "expect_or_fail"}])
    with pytest.raises(ValueError, match=r"fail expectations \['has_id'\] are not enforced on a stream"):
        if path == "engine":
            runner.run(load_flowgroup(spec))
        else:
            _build_compiled(spark, spec, tmp_path / "gen")
    if path == "engine":
        assert not runner.store.exists("m.sd.t")
    else:
        assert not os.path.exists(tmp_path / "gen" / "m" / "sd" / "t")


def _parquet_files(root):
    import glob

    return sorted(glob.glob(str(root) + "/**/*.parquet", recursive=True))


@pytest.mark.parametrize("write", ["materialized_view", "streaming_table"])
def test_zero_row_partitioned_write_matches_engine(spark, runner, tmp_path, write):
    """A partitioned target fed zero rows builds in both paths and reads
    back the query's schema with no rows: an empty partitioned write emits
    no file, so the write falls back to one schema-bearing file."""
    spec = {
        "pipeline": "p", "flowgroup": "empty",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql", "sql": "SELECT id, CAST(id % 3 AS INT) AS b FROM range(0)"}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": write, "database": "m.e", "table": "t",
                              "partition_columns": ["b"]}},
        ],
    }
    engine = runner.run(load_flowgroup(spec)).resolve_view("m.e.t")
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    assert written["m.e.t"].dtypes == engine.dtypes == [("id", "bigint"), ("b", "int")]
    assert written["m.e.t"].count() == engine.count() == 0


def test_partitioned_clustered_mv_layout_matches_engine(spark, runner, tmp_path):
    """A partitioned and clustered MV gets the engine's layout from its
    compiled script: one file per partition value, rows sorted by the
    cluster column within each file."""
    spec = {
        "pipeline": "p", "flowgroup": "pc",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql", "sql": (
                 "SELECT id, CAST(id % 3 AS INT) AS b, (id * 7919) % 1000 AS c "
                 "FROM range(0, 1000, 1, 8)")}},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.pc", "table": "t",
                              "partition_columns": ["b"], "cluster_columns": ["c"]}},
        ],
    }
    runner.run(load_flowgroup(spec))
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    layouts = []
    for root in (runner.store.path("m.pc.t"), tmp_path / "gen" / "m" / "pc" / "t"):
        files = _parquet_files(root)
        for f in files:
            c = [r.c for r in spark.read.parquet(f).select("c").collect()]
            assert c == sorted(c), f
        layouts.append(len(files))
    assert layouts == [3, 3]
    assert written["m.pc.t"].count() == 1000


def test_compiled_cdc_partition_columns_match_engine(spark, runner, tmp_path):
    """A compiled CDC target honours partition_columns, as the engine's
    apply_changes does: k= dirs, and the engine's rows."""
    import os

    spec = _cdc_scd_spec(2)
    spec["actions"][0]["source"]["sql"] = (
        "SELECT id, id % 2 AS k, v, seq, op FROM (VALUES (1, 'a', 1, 'U'), "
        "(1, 'b', 2, 'U'), (2, 'x', 1, 'U'), (3, 'y', 1, 'U'), (2, 'x', 2, 'D')) "
        "AS t(id, v, seq, op)")
    spec["actions"][1]["write_target"]["partition_columns"] = ["k"]
    engine = runner.run(load_flowgroup(spec)).resolve_view("m.pl.t2")
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    parts = {d for d in os.listdir(tmp_path / "gen" / "m" / "pl" / "t2") if "=" in d}
    assert parts == {"k=0", "k=1"}
    cols = sorted(engine.columns)
    assert sorted(written["m.pl.t2"].columns) == cols
    got, want = ([tuple(r) for r in df.select(*cols).collect()] for df in (written["m.pl.t2"], engine))
    assert sorted(got, key=str) == sorted(want, key=str)
    assert len(want) == 4  # id 1 twice (SCD2 history), id 3, id 2 closed by its delete


def test_compiled_snapshot_cdc_of_empty_snapshots_builds(spark, runner, tmp_path, monkeypatch):
    """Snapshots that are all empty still build a table that reads back
    the engine's schema. The write's own schema-bearing fallback covers
    this, so the script never probes isEmpty(), which would run the SCD
    rebuild once more."""
    def pull(latest):
        from pyspark.sql import SparkSession
        nxt = 1 if latest is None else latest + 1
        if nxt > 2:
            return None
        return SparkSession.builder.getOrCreate().createDataFrame([], "id int, v string"), nxt

    spec = {
        "pipeline": "p", "flowgroup": "snap_empty",
        "actions": [
            {"name": "wr", "type": "write",
             "write_target": {"type": "streaming_table", "database": "m.se", "table": "t",
                              "mode": "snapshot_cdc",
                              "snapshot_cdc_config": {"keys": ["id"], "stored_as_scd_type": 2,
                                                      "source_callable": pull}}},
        ],
    }
    runner.run(load_flowgroup(spec))
    cols = ["id", "v", "__start_at", "__end_at"]
    engine = runner.store.read("m.se.t").select(*cols)
    probes = []
    cls = type(spark.range(1))
    is_empty = cls.isEmpty
    monkeypatch.setattr(cls, "isEmpty", lambda df: probes.append(1) or is_empty(df))
    _, written = _build_compiled(spark, spec, tmp_path / "gen")
    got = written["m.se.t"]
    assert got.select(*cols).dtypes == engine.dtypes
    assert got.count() == engine.count() == 0
    assert probes == []
