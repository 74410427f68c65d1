"""E2E tests for the CLI (python -m lakehouse_plumber_spark), mirroring the
reference's CLI e2e layer (reference: tests/e2e/ against a self-contained
fixture project)."""

from __future__ import annotations

import os

from lakehouse_plumber_spark.__main__ import main

PROJECT = os.path.join(os.path.dirname(__file__), "fixtures", "cli_project")


def test_cli_validate(capsys):
    rc = main(["validate", PROJECT, "--env", "dev"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "ok    bronze/customers" in out
    assert "ok    gold/summary" in out


def test_cli_deps_orders_stages(capsys):
    rc = main(["deps", PROJECT, "--env", "dev"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "stage 1: bronze/customers" in out
    assert "stage 2: gold/summary" in out
    assert "after: bronze/customers" in out


def test_cli_run_end_to_end(spark, testdata, capsys):
    rc = main(["run", PROJECT, "--env", "dev"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "main.bronze.customers rows=" in out
    assert "main.gold.customer_summary rows=" in out
    # gold summary counts segments over the full customer table
    n_customers = int(next(
        line.split("rows=")[1] for line in out.splitlines()
        if "main.bronze.customers rows=" in line
    ))
    assert n_customers == spark.table("customer").where("c_acctbal >= 0").count()
    assert "event log:" in out


def test_cli_compile_emits_standalone_source(tmp_path, capsys):
    rc = main(["compile", PROJECT, "--env", "dev", "-o", str(tmp_path)])
    out = capsys.readouterr().out
    assert rc == 0
    files = sorted(os.listdir(tmp_path))
    assert files == ["bronze__customers.py", "gold__summary.py",
                     "silver__customers_dq.py", "silver__orders_cdc.py"]
    for f in files:
        src = (tmp_path / f).read_text()
        assert "import lakehouse_plumber_spark" not in src  # standalone
        compile(src, f, "exec")  # parses as valid python
    # the quarantine flowgroup resolved its expectations_file at compile time
    assert "c_acctbal >= 0" in (tmp_path / "silver__customers_dq.py").read_text()


def test_cli_validate_catches_cycle(tmp_path, capsys):
    proj = tmp_path / "proj"
    (proj / "pipelines").mkdir(parents=True)
    (proj / "pipelines" / "bad.yaml").write_text(
        """
pipeline: p
flowgroup: bad
actions:
  - {name: a, type: transform, transform_type: sql, source: v_b, sql: "SELECT * FROM v_b", target: v_a}
  - {name: b, type: transform, transform_type: sql, source: v_a, sql: "SELECT * FROM v_a", target: v_b}
  - name: w
    type: write
    source: v_a
    write_target: {type: materialized_view, catalog: c, schema: s, table: t}
"""
    )
    rc = main(["validate", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL" in out and "cycle" in out


def test_cli_deps_dot_and_json_formats(capsys):
    """Reference serializers (core/dependencies/output.py): dot + json."""
    import json as _json

    rc = main(["deps", PROJECT, "--env", "dev", "--format", "dot"])
    out = capsys.readouterr().out
    assert rc == 0
    assert out.startswith("digraph flowgroup_dependencies {")
    assert "->" in out and out.rstrip().endswith("}")

    rc = main(["deps", PROJECT, "--env", "dev", "--format", "json"])
    out = capsys.readouterr().out
    assert rc == 0
    doc = _json.loads(out)
    assert {f["stage"] for f in doc["flowgroups"]} >= {1, 2}
    assert len(doc["stages"]) >= 2


def test_cli_diff_clean_then_changed(tmp_path, capsys):
    """Reference `lhp diff` contract (diff_command.py): plan vs on-disk tree,
    one ~/+/- line per path, --exit-code flips to 1 on a non-empty set."""
    out_dir = tmp_path / "generated"
    main(["compile", PROJECT, "--env", "dev", "-o", str(out_dir)])
    capsys.readouterr()

    rc = main(["diff", PROJECT, "--env", "dev", "-o", str(out_dir)])
    out = capsys.readouterr().out
    assert rc == 0 and "no changes" in out

    # drift one file, delete one, and the plan adds nothing new
    f = out_dir / "bronze__customers.py"
    f.write_text(f.read_text() + "\n# drifted\n")
    (out_dir / "gold__summary.py").unlink()
    rc = main(["diff", PROJECT, "--env", "dev", "-o", str(out_dir), "--exit-code"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "~ bronze__customers.py" in out
    assert "+ gold__summary.py" in out
    assert "- " not in out.replace("- drifted", "")

    # --show-details prints a unified diff for the drifted file
    rc = main(["diff", PROJECT, "--env", "dev", "-o", str(out_dir), "-s"])
    out = capsys.readouterr().out
    assert "-# drifted" in out


def test_cli_substitutions_reports_tokens_and_missing_env(capsys):
    rc = main(["substitutions", PROJECT, "--env", "dev"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "${catalog} = main" in out and "${min_balance} = 0" in out

    # reference contract: a missing env file reports an empty context, no error
    rc = main(["substitutions", PROJECT, "--env", "nope"])
    out = capsys.readouterr().out
    assert rc == 0 and "empty context" in out


def test_cli_list_presets_templates_blueprints(tmp_path, capsys):
    proj = tmp_path / "proj"
    (proj / "pipelines").mkdir(parents=True)
    (proj / "presets").mkdir()
    (proj / "templates").mkdir()
    (proj / "blueprints").mkdir()
    (proj / "presets" / "bronze.yaml").write_text("name: bronze_defaults\n")
    (proj / "templates" / "ingest.yaml").write_text(
        "name: ingest_t\nparameters:\n  - name: table\n    required: true\n"
    )
    (proj / "blueprints" / "bp.yaml").write_text(
        """
name: std_ingest
parameters:
  - name: table
    required: true
flowgroups:
  - pipeline: "p_%{table}"
    flowgroup: "fg_%{table}"
    actions: []
"""
    )
    (proj / "blueprints" / "inst.yaml").write_text(
        "use_blueprint: std_ingest\nparameters:\n  table: orders\n"
    )
    rc = main(["list", str(proj), "presets"])
    assert rc == 0 and "bronze_defaults" in capsys.readouterr().out
    rc = main(["list", str(proj), "templates"])
    out = capsys.readouterr().out
    assert rc == 0 and "ingest_t" in out and "params: table" in out
    rc = main(["list", str(proj), "blueprints", "--instances"])
    out = capsys.readouterr().out
    assert rc == 0 and "std_ingest" in out and "table=orders" in out


def test_cli_dag_aliases_deps(capsys):
    # reference renamed deps -> dag keeping deps as a hidden alias; both
    # forms must produce the identical staged output
    rc = main(["dag", PROJECT, "--env", "dev"])
    dag_out = capsys.readouterr().out
    rc2 = main(["deps", PROJECT, "--env", "dev"])
    deps_out = capsys.readouterr().out
    assert rc == rc2 == 0 and dag_out == deps_out and "stage 1:" in dag_out


def test_cli_validate_runs_field_validators(tmp_path, capsys):
    """Reference runs field validators at validate time: a typo'd cloudFiles
    option must FAIL validation (with a near-miss hint), not surface first
    at run/compile time; a kafka load without brokers must FAIL too."""
    proj = tmp_path / "proj"
    (proj / "pipelines").mkdir(parents=True)
    (proj / "pipelines" / "cf.yaml").write_text(
        """
pipeline: p
flowgroup: f
actions:
  - name: ld
    type: load
    readMode: stream
    source: {type: cloudfiles, path: /tmp/none, format: json,
             options: {cloudFiles.maxFilesPerTriger: "5"}}
    target: v
  - name: wr
    type: write
    source: v
    write_target: {type: materialized_view, database: m.s, table: t}
"""
    )
    rc = main(["validate", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1 and "did you mean cloudFiles.maxFilesPerTrigger" in out

    (proj / "pipelines" / "cf.yaml").write_text(
        """
pipeline: p
flowgroup: f
actions:
  - name: ld
    type: load
    readMode: stream
    source: {type: kafka, subscribe: topic}
    target: v
  - name: wr
    type: write
    source: v
    write_target: {type: materialized_view, database: m.s, table: t}
"""
    )
    rc = main(["validate", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1 and "kafka.bootstrap.servers is mandatory" in out


def test_cli_init_scaffolds_runnable_sample(tmp_path, spark, capsys):
    """Reference `lhp init` (api/bootstrap.py): standard directory tree,
    refusal of a non-empty target, and a --sample quickstart that validates
    AND runs end-to-end with zero external dependencies."""
    target = tmp_path / "newproj"
    rc = main(["init", str(target), "--sample"])
    out = capsys.readouterr().out
    assert rc == 0 and "scaffolded" in out
    for d in ("presets", "templates", "pipelines", "substitutions",
              "schemas", "expectations", "generated"):
        assert (target / d).is_dir()
    assert (target / "lhp.yaml").exists()

    rc = main(["validate", str(target), "--env", "dev"])
    assert rc == 0 and "ok    quickstart/customer_summary" in capsys.readouterr().out

    rc = main(["run", str(target), "--env", "dev"])
    out = capsys.readouterr().out
    assert rc == 0 and "main.gold.customer_summary rows=3" in out

    # non-empty target refused, nothing overwritten
    rc = main(["init", str(target)])
    assert rc == 1 and "not empty" in capsys.readouterr().out


def test_cli_compile_removes_stale_generated_files(tmp_path, capsys):
    """Renamed/deleted flowgroups must not leave their old generated file
    behind (reference change-aware writes clean up): otherwise
    `diff --exit-code` stays red forever after a rename."""
    out = tmp_path / "gen"
    main(["compile", PROJECT, "--env", "dev", "-o", str(out)])
    capsys.readouterr()
    stale = out / "old__flowgroup.py"
    # stale files carry the generated header (they WERE generated output)
    stale.write_text('"""Generated by lakehouse_plumber_spark.codegen — old"""\n')
    user_file = out / "notes.py"  # no '__' — never touched
    user_file.write_text("# user file\n")
    dunder = out / "__init__.py"  # __-shaped but NOT generated content
    dunder.write_text("# package marker\n")
    rc = main(["compile", PROJECT, "--env", "dev", "-o", str(out)])
    outtext = capsys.readouterr().out
    assert rc == 0 and "removed stale" in outtext
    assert not stale.exists() and user_file.exists()
    assert dunder.exists()  # content check protects non-generated files

    rc = main(["diff", PROJECT, "--env", "dev", "-o", str(out)])
    # notes.py shows as '-' (not planned) but stale generated files are gone
    assert "old__flowgroup.py" not in capsys.readouterr().out


def test_cli_compile_skips_unchanged_files(tmp_path, capsys):
    """Change-aware writes (reference _commit.py): a recompile with no spec
    change leaves byte-identical outputs untouched — mtimes only move when
    content does, so downstream watchers see real change only."""
    out = tmp_path / "gen"
    rc = main(["compile", PROJECT, "--env", "dev", "-o", str(out)])
    assert rc == 0
    capsys.readouterr()
    before = {p.name: p.stat().st_mtime_ns for p in out.glob("*__*.py")}
    assert before
    rc = main(["compile", PROJECT, "--env", "dev", "-o", str(out)])
    outtext = capsys.readouterr().out
    assert rc == 0
    assert "unchanged" in outtext and "wrote" not in outtext
    assert "removed stale" not in outtext  # unchanged files are not stale
    after = {p.name: p.stat().st_mtime_ns for p in out.glob("*__*.py")}
    assert after == before


def test_cli_run_perf_report(spark, testdata, capsys):
    """--perf prints the per-operator-category timing table (reference
    performance_timer report shape) from the already-recorded event log."""
    rc = main(["run", PROJECT, "--env", "dev", "--perf"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "[PERF] ============ operator timings" in out
    # every category row carries the five aggregates
    perf_rows = [l for l in out.splitlines()
                 if l.startswith("[PERF]   ") and "cnt=" in l and "avg=" in l]
    assert perf_rows and all("total=" in l for l in perf_rows)
    # categories are type.sub_type of real actions in the fixture project
    assert any("write.materialized_view" in l for l in perf_rows)
    assert "[PERF] Event counts:" in out
    assert "action_completed" in out
    # stage walls: the fixture's first stage runs two lanes, its second one
    stages = [l for l in out.splitlines() if l.startswith("[PERF]   stage ")]
    assert [l.split()[2] for l in stages] == ["1", "2"]
    assert "lanes=2" in stages[0] and "lanes=1" in stages[1]
    assert all("wall=" in l for l in stages)
    assert "action seconds overlap" in out


def test_cli_compile_parallel_matches_serial(tmp_path, capsys):
    """--jobs N compiles flowgroups in a spawn process pool (reference
    orchestrator pool) and must produce byte-identical output to serial."""
    serial = tmp_path / "serial"
    par = tmp_path / "par"
    assert main(["compile", PROJECT, "--env", "dev", "-o", str(serial)]) == 0
    assert main(["compile", PROJECT, "--env", "dev", "-o", str(par), "--jobs", "4"]) == 0
    capsys.readouterr()
    s = {p.name: p.read_text() for p in serial.glob("*.py")}
    p = {q.name: q.read_text() for q in par.glob("*.py")}
    assert s == p and len(s) >= 2


def test_cli_diff_only_deletes_what_compile_would(tmp_path, capsys):
    """ADVICE r4: diff must mirror compile's cleanup rule exactly — report a
    deletion ONLY for generator-owned files (top-level __-shaped .py whose
    content starts with the generated-file header). User files in the output
    tree must not keep `diff --exit-code` permanently red."""
    out_dir = tmp_path / "generated"
    main(["compile", PROJECT, "--env", "dev", "-o", str(out_dir)])
    capsys.readouterr()

    # a user file (no generated header) and a nested file: compile would
    # never delete either, so diff must not claim it would
    (out_dir / "conftest__local.py").write_text("x = 1\n")
    (out_dir / "sub").mkdir()
    (out_dir / "sub" / "stale__thing.py").write_text(
        '"""Generated by lakehouse_plumber_spark.codegen (old)"""\n'
    )
    rc = main(["diff", PROJECT, "--env", "dev", "-o", str(out_dir), "--exit-code"])
    out = capsys.readouterr().out
    assert rc == 0 and "no changes" in out

    # a stale top-level generated file IS deletable — diff reports it
    (out_dir / "renamed__old.py").write_text(
        '"""Generated by lakehouse_plumber_spark.codegen (old run)"""\n'
    )
    rc = main(["diff", PROJECT, "--env", "dev", "-o", str(out_dir), "--exit-code"])
    out = capsys.readouterr().out
    assert rc == 1 and "- renamed__old.py" in out


def test_cli_validate_flags_streaming_compaction_conflict(tmp_path, capsys):
    """Project-level validate FAILs when one flowgroup declares
    lhp.autoOptimize.maxFiles on a table another flowgroup streams from."""
    import yaml

    proj = tmp_path / "proj"
    (proj / "pipelines").mkdir(parents=True)
    writer = {
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT 1 AS id"}, "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "4"}}},
        ],
    }
    consumer = {
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "ld", "type": "load", "readMode": "stream",
             "source": {"type": "delta", "catalog": "m", "schema": "s", "table": "t"},
             "target": "v_src"},
            {"name": "wr", "type": "write", "source": "v_src",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "u"}},
        ],
    }
    (proj / "pipelines" / "w.yaml").write_text(yaml.safe_dump(writer))
    (proj / "pipelines" / "r.yaml").write_text(yaml.safe_dump(consumer))
    rc = main(["validate", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1
    assert "lhp.autoOptimize.maxFiles" in out and "'m.s.t'" in out


def test_cli_jobs_exports_staged_plan_matching_run_many(capsys, monkeypatch, spark):
    """VERDICT r4 item 6: `jobs` exports the staged orchestration plan as a
    scheduler-ready artifact, and its stage grouping must match the order
    run_many actually executes (both sides consume dag.execution_stages)."""
    import json as _json

    rc = main(["jobs", PROJECT, "--env", "dev", "--format", "json"])
    assert rc == 0
    doc = _json.loads(capsys.readouterr().out)
    assert doc["job"]["name"].endswith("_master")
    exported = [[t["task_key"] for t in s["tasks"]] for s in doc["stages"]]
    assert len(exported) >= 2  # the fixture has cross-flowgroup reads
    # depends_on keys all resolve to exported tasks
    all_keys = {k for s in exported for k in s}
    for s in doc["stages"]:
        for t in s["tasks"]:
            assert set(t["depends_on"]) <= all_keys

    # replay run_many's scheduling without running a flowgroup: record the
    # order run() is called in
    from lakehouse_plumber_spark.__main__ import _load_tokens
    from lakehouse_plumber_spark.parsers import discover_flowgroups
    from lakehouse_plumber_spark.runner import PipelineRunner

    fgs = discover_flowgroups(PROJECT, tokens=_load_tokens(PROJECT, "dev"))
    order: list[str] = []

    class _Ctx:
        pending_compactions: dict = {}

    def fake_run(self, fg, conf=None, defer_compactions=False):
        order.append(f"{fg.pipeline}__{fg.flowgroup}")
        return _Ctx()

    monkeypatch.setattr(PipelineRunner, "run", fake_run)
    runner = PipelineRunner.__new__(PipelineRunner)
    runner.base_dir = PROJECT
    # stage 1 has two lanes, which run on threads of this session
    runner.spark, runner.event_log, runner.project_config = spark, [], None
    runner.run_many(fgs)

    stage_of = {k: n for n, s in enumerate(exported, 1) for k in s}
    assert sorted(order) == sorted(stage_of)  # same task set
    seen = [stage_of[k] for k in order]
    assert seen == sorted(seen), "run_many must execute in exported stage order"


def test_cli_jobs_multi_job_grouping(tmp_path, capsys):
    """job_name groups flowgroups into named jobs; cross-job flowgroup edges
    lift to job-level depends_on (reference job_builder semantics), and
    validate enforces the all-or-nothing / one-job-per-pipeline rules."""
    import json as _json

    import yaml

    proj = tmp_path / "proj"
    (proj / "pipelines").mkdir(parents=True)
    writer = {
        "pipeline": "a", "flowgroup": "w", "job_name": "j_ingest",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT 1 AS id"}, "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "catalog": "m",
                              "schema": "s", "table": "t"}},
        ],
    }
    reader = {
        "pipeline": "b", "flowgroup": "r", "job_name": "j_serve",
        "actions": [
            {"name": "wr", "type": "write", "source": "m.s.t",
             "write_target": {"type": "materialized_view", "catalog": "m",
                              "schema": "g", "table": "agg",
                              "sql": "SELECT COUNT(*) AS n FROM m.s.t"}},
        ],
    }
    (proj / "pipelines" / "w.yaml").write_text(yaml.safe_dump(writer))
    (proj / "pipelines" / "r.yaml").write_text(yaml.safe_dump(reader))

    rc = main(["jobs", str(proj), "--format", "json"])
    doc = _json.loads(capsys.readouterr().out)
    assert rc == 0
    jobs = {j["name"]: j for j in doc["jobs"]}
    assert set(jobs) == {"j_ingest", "j_serve"}
    assert jobs["j_ingest"]["depends_on"] == []
    assert jobs["j_serve"]["depends_on"] == ["j_ingest"]
    assert jobs["j_ingest"]["stages"][0]["tasks"][0]["task_key"] == "a__w"
    # task-level depends_on stays WITHIN each job (schedulers reject dangling
    # task keys); the cross-job edge above is expressed at the job level only
    for j in doc["jobs"]:
        own_keys = {t["task_key"] for s in j["stages"] for t in s["tasks"]}
        for s in j["stages"]:
            for t in s["tasks"]:
                assert set(t["depends_on"]) <= own_keys

    # all-or-nothing: dropping one job_name fails validate AND jobs
    reader2 = dict(reader)
    reader2.pop("job_name")
    (proj / "pipelines" / "r.yaml").write_text(yaml.safe_dump(reader2))
    rc = main(["validate", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1 and "all-or-nothing" in out
    rc = main(["jobs", str(proj)])
    capsys.readouterr()
    assert rc == 1

    # a pipeline split across two jobs is rejected
    writer2 = dict(writer)
    writer2.update({"flowgroup": "w2", "job_name": "j_other"})
    writer2["actions"] = [
        {"name": "ld", "type": "load",
         "source": {"type": "sql", "sql": "SELECT 2 AS id"}, "target": "v2"},
        {"name": "wr", "type": "write", "source": "v2",
         "write_target": {"type": "materialized_view", "catalog": "m",
                          "schema": "s", "table": "t2"}},
    ]
    (proj / "pipelines" / "r.yaml").write_text(yaml.safe_dump(reader))
    (proj / "pipelines" / "w2.yaml").write_text(yaml.safe_dump(writer2))
    rc = main(["validate", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1 and "split across jobs" in out


def test_validate_warns_on_ineffective_cluster_by_auto(tmp_path, capsys):
    """cluster_by_auto with < 2 cluster_columns (no effect) or with
    partition_columns (degrades to lexicographic) surfaces at validate
    time as warnings, not silently at run time."""
    from lakehouse_plumber_spark.dag import validate_flowgroup_graph
    from lakehouse_plumber_spark.parsers import load_flowgroup

    fg = load_flowgroup({
        "pipeline": "p", "flowgroup": "f",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT 1 AS a, 2 AS b, 3 AS p"},
             "target": "v"},
            {"name": "w1", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.s",
                              "table": "t1", "cluster_by_auto": True,
                              "cluster_columns": ["a"]}},
            {"name": "w2", "type": "write", "source": "v",
             "write_target": {"type": "materialized_view", "database": "m.s",
                              "table": "t2", "cluster_by_auto": True,
                              "partition_columns": ["p"],
                              "cluster_columns": ["a", "b"]}},
        ],
    })
    warns = validate_flowgroup_graph(fg.actions)
    assert any("w1" in w and "no effect" in w for w in warns)
    assert any("w2" in w and "partitioned" in w for w in warns)


def test_cli_run_backfill_flag(tmp_path, spark, capsys):
    """`run --backfill day=...` restricts partitioned MV writes to the
    listed partition values; other partitions keep their prior content."""
    proj = tmp_path / "proj"
    (proj / "pipelines").mkdir(parents=True)
    (proj / "pipelines" / "daily.yaml").write_text(
        """
pipeline: gold
flowgroup: daily
actions:
  - {name: ld, type: load, target: v,
     source: {type: sql, sql: "SELECT CAST(id % 3 AS STRING) AS day, id FROM range(300)"}}
  - name: mv
    type: write
    source: v
    write_target:
      type: materialized_view
      database: m.g
      table: daily
      partition_columns: [day]
      sql: "SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY day"
"""
    )
    # malformed spec rejected
    rc = main(["run", str(proj), "--backfill", "nonsense"])
    assert rc == 2
    # full run, then a backfill of one partition only
    assert main(["run", str(proj)]) == 0
    capsys.readouterr()
    rc = main(["run", str(proj), "--backfill", "day=1"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "m.g.daily rows=" in out
