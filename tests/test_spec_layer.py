"""Spec-layer tests (no Spark): presets deep-merge chain, Jinja template
expansion, %{var}/${token}/${secret:...} substitution, expectation-format
aliases, and action-graph validation — the reference's compiler-test surface
(SURVEY §5) mapped onto the executing engine.
"""

from __future__ import annotations

import copy
import os

import pytest
import yaml

from lakehouse_plumber_spark.dag import CycleError
from lakehouse_plumber_spark.expectations import parse_expectations
from lakehouse_plumber_spark.models import SpecError
from lakehouse_plumber_spark.parsers import (
    _discovery_memo,
    _load_presets,
    deep_merge,
    load_flowgroup,
    load_flowgroup_file,
)
from lakehouse_plumber_spark.substitution import UnresolvedTokenError, substitute

BASE_ACTIONS = [
    {"name": "ld", "type": "load", "source": {"type": "sql", "sql": "SELECT 1"},
     "target": "v_a"},
    {"name": "wr", "type": "write", "source": "v_a",
     "write_target": {"type": "materialized_view", "database": "m.s", "table": "t"}},
]


class TestSubstitution:
    def test_tokens_variables_secrets(self, monkeypatch):
        monkeypatch.setenv("LHP_SECRET_KAFKA_PASSWORD", "s3cr3t")
        spec = {
            "path": "/data/${env}/in",
            "local": "%{prefix}_table",
            "pw": "${secret:kafka/password}",
            "nested": {"keep": 1, "deep": ["${env}"]},
        }
        out = substitute(spec, tokens={"env": "dev"}, variables={"prefix": "raw"})
        assert out["path"] == "/data/dev/in"
        assert out["local"] == "raw_table"
        assert out["pw"] == "s3cr3t"
        assert out["nested"]["deep"] == ["dev"]

    def test_unresolved_token_raises(self):
        with pytest.raises(UnresolvedTokenError):
            substitute({"p": "${missing}"}, tokens={}, variables={})

    def test_secret_value_is_inserted_verbatim(self, monkeypatch):
        """Secrets are bound after every other substitution: `${x}` and
        `%{x}` inside a secret's value are not substituted (nor refused as
        unresolved)."""
        monkeypatch.setenv("LHP_SECRET_API_TOKEN", "p${x}w%{y}")
        spec = {"pipeline": "p", "flowgroup": "f", "actions": [
            {**BASE_ACTIONS[0], "source": {"type": "sql",
                                           "sql": "SELECT '${secret:api/token}' AS t"}},
            BASE_ACTIONS[1]]}
        fg = load_flowgroup(spec)
        assert fg.actions[0].source["sql"] == "SELECT 'p${x}w%{y}' AS t"
        assert substitute("${secret:api/token}", tokens={"x": "X"}) == "p${x}w%{y}"

    def test_token_holding_a_secret_ref_resolves(self, monkeypatch):
        monkeypatch.setenv("LHP_SECRET_API_TOKEN", "s3cr3t")
        assert substitute({"pw": "${pw}"}, tokens={"pw": "${secret:api/token}"}) == \
            {"pw": "s3cr3t"}


class TestPresetsTemplates:
    def test_deep_merge_scalars_lists_dicts(self):
        base = {"a": {"x": 1, "y": 2}, "lst": [1, 2], "s": "base"}
        over = {"a": {"y": 3}, "lst": [9], "s": "win"}
        m = deep_merge(base, over)
        assert m == {"a": {"x": 1, "y": 3}, "lst": [9], "s": "win"}

    def test_merged_spec_shares_nothing_with_memoized_inputs(self, tmp_path):
        """Presets, templates and their parses are memoized per discovery;
        a merged spec must own every dict and list it holds, or a later
        change to one flowgroup's spec would reach the next one's."""
        (tmp_path / "presets").mkdir()
        (tmp_path / "presets" / "base.yaml").write_text(yaml.safe_dump(
            {"defaults": {"variables": {"tier": "bronze", "tags": ["a", "b"]},
                          "operational_metadata": ["_ingest_ts"]}}))
        memo = _discovery_memo()
        preset = _load_presets(["base"], str(tmp_path / "presets"), memo)
        spec = {"pipeline": "p", "flowgroup": "f", "variables": {"tier": "gold"},
                "actions": BASE_ACTIONS}
        merged = deep_merge(preset, spec)
        assert merged["variables"] == {"tier": "gold", "tags": ["a", "b"]}

        def mutables(o):
            if isinstance(o, (dict, list)):
                yield id(o)
                for v in (o.values() if isinstance(o, dict) else o):
                    yield from mutables(v)

        shared = set(mutables(merged)) & (
            set(mutables(memo["presets"])) | set(mutables(preset)) | set(mutables(spec)))
        assert not shared
        # resolving a spec leaves it, and the memoized preset, as they were
        before = copy.deepcopy((spec, memo["presets"]))
        for _ in range(2):
            fg = load_flowgroup({**spec, "presets": ["base"]},
                                presets_dir=str(tmp_path / "presets"), memo=memo)
        assert (spec, memo["presets"]) == before and fg.variables["tags"] == ["a", "b"]

    def test_preset_chain_with_extends(self, tmp_path):
        (tmp_path / "presets").mkdir()
        (tmp_path / "presets" / "base.yaml").write_text(
            yaml.safe_dump({"defaults": {"variables": {"tier": "bronze", "fmt": "json"}}})
        )
        (tmp_path / "presets" / "gold.yaml").write_text(
            yaml.safe_dump({"extends": "base", "defaults": {"variables": {"tier": "gold"}}})
        )
        fg = load_flowgroup(
            {"pipeline": "p", "flowgroup": "f", "presets": ["gold"],
             "actions": BASE_ACTIONS},
            presets_dir=str(tmp_path / "presets"),
        )
        # gold overrides tier, inherits fmt from base
        assert fg.variables["tier"] == "gold" and fg.variables["fmt"] == "json"

    def test_template_expansion_with_parameters(self, tmp_path):
        (tmp_path / "templates").mkdir()
        (tmp_path / "templates" / "ingest.yaml").write_text(
            """
pipeline: "{{ pipe }}"
flowgroup: "{{ table }}_ingest"
actions:
  - name: ld
    type: load
    source: {type: sql, sql: "SELECT * FROM {{ table }}"}
    target: v_raw
  - name: wr
    type: write
    source: v_raw
    write_target: {type: materialized_view, database: m.s, table: "{{ table }}_mv"}
"""
        )
        fg = load_flowgroup(
            {"use_template": "ingest", "template_parameters": {"pipe": "bronze", "table": "nation"}},
            templates_dir=str(tmp_path / "templates"),
        )
        assert fg.flowgroup == "nation_ingest"
        assert fg.actions[0].source["sql"] == "SELECT * FROM nation"
        assert fg.actions[1].write_target.table == "nation_mv"

    def test_template_parameter_defaults_and_required(self, tmp_path):
        """Reference template_engine.py:106,129-155: declared defaults are
        applied when a parameter is omitted; a missing required parameter is
        a clean error, not a raw Jinja undefined failure."""
        (tmp_path / "templates").mkdir()
        (tmp_path / "templates" / "ingest.yaml").write_text(
            """
pipeline: "{{ pipe }}"
flowgroup: "{{ table }}_ingest"
parameters:
  - name: table
    required: true
  - name: pipe
    default: bronze
actions:
  - name: ld
    type: load
    source: {type: sql, sql: "SELECT * FROM {{ table }}"}
    target: v_raw
  - name: wr
    type: write
    source: v_raw
    write_target: {type: materialized_view, database: m.s, table: "{{ table }}_mv"}
"""
        )
        fg = load_flowgroup(
            {"use_template": "ingest", "template_parameters": {"table": "nation"}},
            templates_dir=str(tmp_path / "templates"),
        )
        assert fg.pipeline == "bronze"  # default applied

        with pytest.raises(ValueError, match="missing required.*table"):
            load_flowgroup(
                {"use_template": "ingest", "template_parameters": {"pipe": "x"}},
                templates_dir=str(tmp_path / "templates"),
            )

    def test_file_loader_finds_sibling_dirs(self, tmp_path):
        (tmp_path / "presets").mkdir()
        (tmp_path / "presets" / "std.yaml").write_text(
            yaml.safe_dump({"defaults": {"variables": {"who": "std"}}})
        )
        (tmp_path / "pipelines").mkdir()
        fgf = tmp_path / "pipelines" / "fg.yaml"
        fgf.write_text(
            yaml.safe_dump({"pipeline": "p", "flowgroup": "f", "presets": ["std"],
                            "actions": BASE_ACTIONS})
        )
        fg = load_flowgroup_file(str(fgf))
        assert fg.variables["who"] == "std"


class TestGraphValidation:
    def test_cycle_detected(self):
        actions = [
            {"name": "a", "type": "transform", "transform_type": "sql",
             "source": "v_b", "sql": "SELECT * FROM v_b", "target": "v_a"},
            {"name": "b", "type": "transform", "transform_type": "sql",
             "source": "v_a", "sql": "SELECT * FROM v_a", "target": "v_b"},
            {"name": "wr", "type": "write", "source": "v_a",
             "write_target": {"type": "materialized_view", "database": "m.s", "table": "t"}},
        ]
        with pytest.raises(CycleError):
            load_flowgroup({"pipeline": "p", "flowgroup": "f", "actions": actions})


class TestExpectationFormats:
    def test_reference_aliases(self):
        exps = parse_expectations(
            [
                {"name": "a", "constraint": "x > 0", "failureAction": "drop"},
                {"message": "b", "expression": "y IS NOT NULL", "type": "expect_or_fail"},
                {"expression": "z < 9"},
            ]
        )
        assert [(e.name, e.constraint, e.action) for e in exps] == [
            ("a", "x > 0", "drop"),
            ("b", "y IS NOT NULL", "fail"),
            ("z < 9", "z < 9", "warn"),
        ]

    def test_dict_forms(self):
        native = parse_expectations({"pk_set": {"constraint": "id IS NOT NULL", "action": "fail"}})
        assert native[0].name == "pk_set" and native[0].action == "fail"
        refstyle = parse_expectations({"id > 0": {"name": "positive", "failureAction": "drop"}})
        assert refstyle[0].constraint == "id > 0"
        assert refstyle[0].name == "positive" and refstyle[0].action == "drop"

    @pytest.mark.parametrize("ext", ["yaml", "json"])
    def test_file_parse_follows_content(self, tmp_path, ext):
        """The file parse is memoized on the bytes: each call gets its own
        list, and an edited file is re-parsed."""
        import json

        from lakehouse_plumber_spark.expectations import load_expectations_file

        path = tmp_path / f"dq.{ext}"
        dump = json.dumps if ext == "json" else yaml.safe_dump
        path.write_text(dump([{"name": "a", "constraint": "x > 0", "type": "expect_or_drop"}]))
        first = load_expectations_file(str(path))
        first.append("caller's own")
        second = load_expectations_file(str(path))
        assert [(e.name, e.constraint, e.action) for e in second] == [("a", "x > 0", "drop")]
        path.write_text(dump([{"name": "b", "constraint": "y > 1"}]))
        assert [e.name for e in load_expectations_file(str(path))] == ["b"]


class TestCdcCompatibilityValidators:
    """Reference compatibility/cdc_fanin.py + cdc_schema.py: invalid CDC
    fan-in specs must fail validation, not run."""

    @staticmethod
    def _cdc_write(name, tbl="s.t", create=True, scd=1, keys=("id",), seq="seq", **wt_extra):
        return {
            "name": name, "type": "write", "source": f"v_{name}",
            "write_target": {
                "type": "streaming_table", "database": tbl.rsplit(".", 1)[0],
                "table": tbl.rsplit(".", 1)[1], "create_table": create, "mode": "cdc",
                "cdc_config": {"keys": list(keys), "sequence_by": seq, "scd_type": scd},
                **wt_extra,
            },
        }

    @staticmethod
    def _load(view):
        return {"name": f"ld_{view}", "type": "load", "target": view,
                "source": {"type": "sql", "sql": "SELECT 1 AS id, 1 AS seq"}}

    def _fg(self, actions):
        loads = [self._load(a["source"]) for a in actions if a["type"] == "write"]
        return load_flowgroup({"pipeline": "p", "flowgroup": "f", "actions": loads + actions})

    def test_mode_mix_rejected(self):
        std = {"name": "w_std", "type": "write", "source": "v_w_std",
               "write_target": {"type": "streaming_table", "database": "s",
                                "table": "t", "create_table": False, "mode": "standard"}}
        with pytest.raises(ValueError, match="mixes cdc"):
            self._fg([self._cdc_write("w_cdc", "s.t"), std])

    def test_shared_cdc_field_mismatch_rejected(self):
        with pytest.raises(ValueError, match="sequence_by"):
            self._fg([
                self._cdc_write("w1", "s.t"),
                self._cdc_write("w2", "s.t", create=False, seq="other_seq"),
            ])

    def test_shared_target_field_mismatch_rejected(self):
        with pytest.raises(ValueError, match="partition_columns"):
            self._fg([
                self._cdc_write("w1", "s.t", partition_columns=["id"]),
                self._cdc_write("w2", "s.t", create=False),
            ])

    def test_compatible_fanin_accepted(self):
        fg = self._fg([
            self._cdc_write("w1", "s.t"),
            self._cdc_write("w2", "s.t", create=False),
        ])
        assert len(fg.actions) == 4

    def test_scd2_schema_missing_interval_columns_rejected(self):
        with pytest.raises(ValueError, match="__start_at"):
            self._fg([self._cdc_write(
                "w1", "s.t", scd=2,
                table_schema="id BIGINT, seq BIGINT, v STRING",
            )])

    def test_scd2_schema_with_interval_columns_accepted(self):
        fg = self._fg([self._cdc_write(
            "w1", "s.t", scd=2,
            table_schema="id BIGINT, seq BIGINT, v STRING, __start_at BIGINT, __end_at BIGINT",
        )])
        assert len(fg.actions) == 2


class TestCloudFilesOptionValidation:
    """Reference cloudfiles.py:30-55: unknown cloudFiles.* keys are spec
    errors; known-but-unhonored keys are surfaced, not silently dropped."""

    def test_unknown_option_rejected(self):
        from lakehouse_plumber_spark.operators.load import validate_cloudfiles_options

        with pytest.raises(ValueError, match="maxFilesPerTriger"):
            validate_cloudfiles_options({"cloudFiles.maxFilesPerTriger": "10"}, "a")

    def test_unknown_option_suggests_near_miss(self):
        # reference field-suggestion layer: the typo points at the real key
        from lakehouse_plumber_spark.operators.load import validate_cloudfiles_options

        with pytest.raises(ValueError, match="did you mean cloudFiles.maxFilesPerTrigger"):
            validate_cloudfiles_options({"cloudFiles.maxFilesPerTriger": "10"}, "a")

    def test_known_unhonored_reported_not_dropped(self):
        from lakehouse_plumber_spark.operators.load import validate_cloudfiles_options

        ignored = validate_cloudfiles_options(
            {"cloudFiles.maxFilesPerTrigger": "10", "cloudFiles.useNotifications": "true"}, "a"
        )
        assert ignored == ["cloudFiles.useNotifications"]

    def test_validate_options_escape_hatch(self):
        from lakehouse_plumber_spark.operators.load import validate_cloudfiles_options

        assert validate_cloudfiles_options(
            {"cloudFiles.validateOptions": "false", "cloudFiles.bogus": "1"}, "a"
        ) == []


class TestParseCache:
    """Content-hash parse cache (reference src/lhp/parsers/parse_cache.py):
    same bytes hit, edited bytes miss, corrupt entries fall back."""

    def _proj(self, tmp_path):
        proj = tmp_path / "proj"
        (proj / "pipelines").mkdir(parents=True)
        (proj / "pipelines" / "fg.yaml").write_text(
            "pipeline: p\nflowgroup: f\nactions:\n"
            "  - {name: ld, type: load, target: v,\n"
            "     source: {type: sql, sql: 'SELECT 1 AS x'}}\n"
            "  - name: wr\n    type: write\n    source: v\n"
            "    write_target: {type: materialized_view, catalog: c, schema: s, table: t}\n"
        )
        return proj

    def test_second_discovery_hits_cache(self, tmp_path):
        import os

        from lakehouse_plumber_spark.parsers import discover_flowgroups

        proj = self._proj(tmp_path)
        fgs1 = discover_flowgroups(str(proj))
        cache_dir = proj / ".lhp" / "cache" / "parse"
        entries = [f for f in os.listdir(cache_dir) if f.endswith(".pkl")]
        assert len(entries) == 1
        # poison the yaml file mtime-style edit is irrelevant: same bytes ->
        # same key; discovery must return the identical flowgroup from cache
        fgs2 = discover_flowgroups(str(proj))
        assert fgs1[0].model_dump() == fgs2[0].model_dump()

    def test_edited_file_misses_and_reparses(self, tmp_path):
        import os

        from lakehouse_plumber_spark.parsers import discover_flowgroups

        proj = self._proj(tmp_path)
        discover_flowgroups(str(proj))
        (proj / "pipelines" / "fg.yaml").write_text(
            (proj / "pipelines" / "fg.yaml").read_text().replace(
                "table: t", "table: t2")
        )
        fgs = discover_flowgroups(str(proj))
        assert fgs[0].actions[1].write_target.table == "t2"
        cache_dir = proj / ".lhp" / "cache" / "parse"
        # the edited file's old entry is pruned by the whole-project discovery
        assert len([f for f in os.listdir(cache_dir) if f.endswith(".pkl")]) == 1

    def test_corrupt_entry_falls_back_to_parse(self, tmp_path):
        import os

        from lakehouse_plumber_spark.parsers import discover_flowgroups

        proj = self._proj(tmp_path)
        discover_flowgroups(str(proj))
        cache_dir = proj / ".lhp" / "cache" / "parse"
        entry = next(f for f in os.listdir(cache_dir) if f.endswith(".pkl"))
        (cache_dir / entry).write_bytes(b"not a pickle")
        fgs = discover_flowgroups(str(proj))
        assert fgs[0].actions[1].write_target.table == "t"

    def test_opt_out_env_var(self, tmp_path, monkeypatch):
        import os

        from lakehouse_plumber_spark.parsers import discover_flowgroups

        monkeypatch.setenv("LHP_NO_PARSE_CACHE", "1")
        proj = self._proj(tmp_path)
        discover_flowgroups(str(proj))
        assert not (proj / ".lhp").exists()

    def _shared_proj(self, tmp_path, n):
        """`n` flowgroups that all use one template (unquoted Jinja scalars,
        so its full-text pre-parse fails) and a two-level preset chain."""
        proj = tmp_path / "shared"
        for d in ("pipelines", "presets", "templates"):
            (proj / d).mkdir(parents=True)
        (proj / "presets" / "base.yaml").write_text(
            "defaults:\n  variables: {layer: bronze, tier: raw}\n")
        (proj / "presets" / "silver.yaml").write_text(
            "extends: base\ndefaults:\n  variables: {layer: silver}\n")
        (proj / "templates" / "agg.yaml").write_text(
            "parameters:\n  - {name: out, required: true}\n  - {name: lim, default: 7}\n"
            "pipeline: p\nflowgroup: {{ out }}\nactions:\n"
            "  - {name: ld, type: load, target: v,\n"
            "     source: {type: sql, sql: 'SELECT %{layer} AS x LIMIT {{ lim }}'}}\n"
            "  - name: wr\n    type: write\n    source: v\n"
            "    write_target: {type: materialized_view, database: m.s, table: {{ out }}}\n")
        for i in range(n):
            (proj / "pipelines" / f"fg{i:03d}.yaml").write_text(
                f"use_template: agg\ntemplate_parameters: {{out: t{i}}}\n"
                "presets: [silver]\n")
        return proj

    @staticmethod
    def _count_parses(monkeypatch):
        """Record the text of every yaml.safe_load and the number of
        jinja2.Template compiles."""
        import jinja2

        texts, compiles = [], []
        real_load, real_template = yaml.safe_load, jinja2.Template

        def safe_load(stream):
            text = stream.read() if hasattr(stream, "read") else stream
            texts.append(text.decode() if isinstance(text, bytes) else text)
            return real_load(text)

        def template(*a, **kw):
            compiles.append(a[0])
            return real_template(*a, **kw)

        monkeypatch.setattr(yaml, "safe_load", safe_load)
        monkeypatch.setattr(jinja2, "Template", template)
        return texts, compiles

    def test_shared_inputs_parsed_once_per_discovery(self, tmp_path, monkeypatch):
        """Each preset and template file is parsed and compiled once per
        discovery, however many flowgroups name it; a warm second discovery
        reuses every resolved flowgroup and parses and compiles nothing."""
        from lakehouse_plumber_spark.parsers import discover_flowgroups

        n = 40
        proj = self._shared_proj(tmp_path, n)
        shared = [(proj / "presets" / "base.yaml").read_text(),
                  (proj / "presets" / "silver.yaml").read_text(),
                  (proj / "templates" / "agg.yaml").read_text()]
        texts, compiles = self._count_parses(monkeypatch)
        fgs = discover_flowgroups(str(proj))
        assert len(fgs) == n
        assert fgs[5].flowgroup == "t5" and fgs[5].variables == {"layer": "silver", "tier": "raw"}
        assert fgs[5].actions[0].source["sql"] == "SELECT silver AS x LIMIT 7"
        assert [texts.count(t) for t in shared] == [1, 1, 1]
        assert len(compiles) == 1
        # cold: the n flowgroup files, the n rendered templates, the three
        # shared files and the template's textual `parameters:` block
        assert len(texts) == 2 * n + 4

        texts.clear()
        compiles.clear()
        assert [fg.model_dump() for fg in discover_flowgroups(str(proj))] == \
            [fg.model_dump() for fg in fgs]
        assert texts == [] and compiles == []

    def test_edits_leave_one_entry_per_live_input(self, tmp_path):
        """Ten edit steps, each followed by a whole-project discovery, leave
        exactly one entry per live input (each flowgroup file and each
        rendered template); a discovery narrowed by `include` prunes
        nothing."""
        import os

        from lakehouse_plumber_spark.parsers import discover_flowgroups

        n = 6
        proj = self._shared_proj(tmp_path, n)
        cache_dir = proj / ".lhp" / "cache" / "parse"

        def entries():
            return len([f for f in os.listdir(cache_dir) if f.endswith(".pkl")])

        def edit(step):
            fg = proj / "pipelines" / f"fg{step % n:03d}.yaml"
            fg.write_text(f"use_template: agg\ntemplate_parameters: {{out: t{step % n}, "
                          f"lim: {100 + step}}}\npresets: [silver]\n")

        discover_flowgroups(str(proj))
        assert entries() == 2 * n
        for step in range(10):
            edit(step)
            fgs = discover_flowgroups(str(proj))
            assert fgs[step % n].actions[0].source["sql"].endswith(f"LIMIT {100 + step}")
            assert entries() == 2 * n
        edit(10)
        discover_flowgroups(str(proj), include=["pipelines/fg004.yaml"])
        assert entries() == 2 * n + 2
        discover_flowgroups(str(proj))
        assert entries() == 2 * n

    @pytest.mark.parametrize("edited", ["preset", "template"])
    def test_shared_input_edit_seen_by_next_discovery(self, tmp_path, edited):
        from lakehouse_plumber_spark.parsers import discover_flowgroups

        proj = self._shared_proj(tmp_path, 3)
        before = discover_flowgroups(str(proj))
        assert before[0].actions[0].source["sql"] == "SELECT silver AS x LIMIT 7"
        if edited == "preset":
            path, old, new = proj / "presets" / "base.yaml", "tier: raw", "tier: cooked"
        else:
            path, old, new = proj / "templates" / "agg.yaml", "default: 7", "default: 9"
        path.write_text(path.read_text().replace(old, new))
        after = discover_flowgroups(str(proj))
        if edited == "preset":
            assert {fg.variables["tier"] for fg in after} == {"cooked"}
        else:
            assert {fg.actions[0].source["sql"] for fg in after} == {"SELECT silver AS x LIMIT 9"}

    def test_golden_project_same_with_and_without_cache(self, tmp_path, monkeypatch):
        import shutil

        from lakehouse_plumber_spark.__main__ import _load_tokens
        from lakehouse_plumber_spark.parsers import discover_flowgroups

        proj = tmp_path / "golden"
        shutil.copytree(
            os.path.join(os.path.dirname(__file__), "fixtures", "golden_project"), proj,
            ignore=shutil.ignore_patterns(".lhp"))
        tokens = _load_tokens(str(proj), "dev")
        monkeypatch.setenv("LHP_SECRET_API_INGEST_TOKEN", "tok")

        def dumps():
            return [fg.model_dump() for fg in discover_flowgroups(str(proj), tokens=tokens)]

        cold, warm = dumps(), dumps()
        monkeypatch.setenv("LHP_NO_PARSE_CACHE", "1")
        assert cold == warm == dumps()

    def test_template_defaults_apply_with_unquoted_jinja_scalars(self, tmp_path):
        """The common unquoted `{{ x }}` form breaks a full-file YAML
        pre-parse; declared defaults/required must still be honored via the
        parameters-block extraction, and an undefined parameter must raise a
        clean ValueError, not a raw Jinja traceback."""
        (tmp_path / "templates").mkdir()
        (tmp_path / "templates" / "ingest.yaml").write_text(
            """
pipeline: {{ pipe }}
flowgroup: {{ table }}_ingest
parameters:
  - name: table
    required: true
  - name: pipe
    default: bronze
actions:
  - name: ld
    type: load
    source: {type: sql, sql: "SELECT 1 AS x"}
    target: v_raw
  - name: wr
    type: write
    source: v_raw
    write_target: {type: materialized_view, database: m.s, table: {{ table }}_mv}
"""
        )
        fg = load_flowgroup(
            {"use_template": "ingest", "template_parameters": {"table": "nation"}},
            templates_dir=str(tmp_path / "templates"),
        )
        assert fg.pipeline == "bronze" and fg.flowgroup == "nation_ingest"

        memo = _discovery_memo()
        for params in ({}, {"table": "region"}, {}):
            if "table" in params:  # a good flowgroup between two bad ones
                fg = load_flowgroup(
                    {"use_template": "ingest", "template_parameters": params},
                    templates_dir=str(tmp_path / "templates"), memo=memo,
                )
                assert fg.flowgroup == "region_ingest"
                continue
            with pytest.raises(SpecError, match="missing required.*table"):
                load_flowgroup(
                    {"use_template": "ingest", "template_parameters": params},
                    templates_dir=str(tmp_path / "templates"), memo=memo,
                )

    def test_template_undefined_param_is_clean_error(self, tmp_path):
        (tmp_path / "templates").mkdir()
        # no parameters block at all: StrictUndefined failures must still be
        # surfaced as ValueError so validate reports FAIL, not a traceback
        (tmp_path / "templates" / "t.yaml").write_text(
            "pipeline: p\nflowgroup: {{ oops }}\nactions: []\n"
        )
        with pytest.raises(ValueError, match="oops"):
            load_flowgroup(
                {"use_template": "t", "template_parameters": {}},
                templates_dir=str(tmp_path / "templates"),
            )

    def test_template_parameters_block_zero_indent_and_comments(self, tmp_path):
        """The zero-indent list style and column-0 comments are valid YAML
        inside the parameters block — the textual fallback must keep them."""
        (tmp_path / "templates").mkdir()
        (tmp_path / "templates" / "t.yaml").write_text(
            """
pipeline: {{ pipe }}
flowgroup: f
parameters:
- name: pipe
  default: bronze
# a comment at column 0 inside the block
- name: extra
  default: x
actions:
  - name: ld
    type: load
    source: {type: sql, sql: "SELECT 1 AS x"}
    target: v
  - name: wr
    type: write
    source: v
    write_target: {type: materialized_view, database: m.s, table: t}
"""
        )
        fg = load_flowgroup(
            {"use_template": "t", "template_parameters": {}},
            templates_dir=str(tmp_path / "templates"),
        )
        assert fg.pipeline == "bronze"

    def test_template_syntax_error_is_clean_error(self, tmp_path):
        (tmp_path / "templates").mkdir()
        (tmp_path / "templates" / "bad.yaml").write_text(
            "pipeline: p\nflowgroup: f\nactions: []\n{% endfor %}\n"
        )
        # every flowgroup of one discovery that names the template fails the
        # same way: a failed compile is not memoized as a success
        memo = _discovery_memo()
        for _ in range(3):
            with pytest.raises(SpecError, match="template 'bad'"):
                load_flowgroup(
                    {"use_template": "bad", "template_parameters": {}},
                    templates_dir=str(tmp_path / "templates"),
                    memo=memo,
                )


class TestResolvedCache:
    """The resolved-flowgroup cache (`.lhp/cache/resolved`): a warm
    discovery reuses each flowgroup's resolved spec while every input of its
    resolution is unchanged, and gives what a fresh resolution gives."""

    SECRET = "tok-4f1c9e"

    def _proj(self, tmp_path, monkeypatch):
        """A flowgroup resolved through a template, a two-level preset chain
        and a token; one with a secret ref; one expanded from a blueprint."""
        monkeypatch.setenv("LHP_SECRET_API_TOKEN", self.SECRET)
        proj = tmp_path / "proj"
        files = {
            "substitutions/dev.yaml": "dev: {catalog: main}\n",
            "presets/base.yaml": "defaults:\n  variables: {layer: bronze, tier: raw}\n",
            "presets/silver.yaml": "extends: base\ndefaults:\n  variables: {layer: silver}\n",
            "templates/agg.yaml": (
                "parameters:\n  - {name: out, required: true}\n  - {name: lim, default: 7}\n"
                "pipeline: p\nflowgroup: {{ out }}\nactions:\n"
                "  - {name: ld, type: load, target: v, source: {type: sql,\n"
                "     sql: 'SELECT %{tier} AS t FROM ${catalog}.s.src LIMIT {{ lim }}'}}\n"
                "  - name: wr\n    type: write\n    source: v\n"
                "    write_target: {type: materialized_view, database: m.s, table: {{ out }}}\n"),
            "pipelines/fg.yaml": "use_template: agg\ntemplate_parameters: {out: t0}\n"
                                 "presets: [silver]\n",
            "pipelines/secret.yaml": (
                "pipeline: p\nflowgroup: sec\nactions:\n"
                "  - {name: ld, type: load, target: v, source: {type: sql,\n"
                "     sql: \"SELECT '${secret:api/token}' AS tok\"}}\n"
                "  - name: wr\n    type: write\n    source: v\n"
                "    write_target: {type: materialized_view, database: m.s, table: sec}\n"),
            "blueprints/ingest.yaml": yaml.safe_dump({
                "name": "ingest", "parameters": [{"name": "dom", "required": True}],
                "flowgroups": [{"pipeline": "b_%{dom}", "flowgroup": "ingest_%{dom}", "actions": [
                    {**BASE_ACTIONS[0], "source": {"type": "sql", "sql": "SELECT 1 LIMIT 5"}},
                    {**BASE_ACTIONS[1], "write_target": {
                        "type": "materialized_view", "database": "m.s", "table": "%{dom}"}}]}]}),
            "pipelines/inst.yaml": "use_blueprint: ingest\nparameters: {dom: d0}\n",
        }
        for rel, text in files.items():
            (proj / rel).parent.mkdir(parents=True, exist_ok=True)
            (proj / rel).write_text(text)
        return proj

    @staticmethod
    def _dumps(proj):
        from lakehouse_plumber_spark.__main__ import _load_tokens
        from lakehouse_plumber_spark.parsers import discover_flowgroups

        fgs = discover_flowgroups(str(proj), tokens=_load_tokens(str(proj), "dev"))
        return [fg.model_dump() for fg in fgs]

    def _fresh(self, proj, monkeypatch):
        with monkeypatch.context() as m:
            m.setenv("LHP_NO_PARSE_CACHE", "1")
            return self._dumps(proj)

    @staticmethod
    def _entries(proj, kind="resolved"):
        d = proj / ".lhp" / "cache" / kind
        return sorted(d / f for f in os.listdir(d) if f.endswith(".pkl"))

    @pytest.mark.parametrize("edited", [
        "flowgroup", "parent_preset", "template", "tokens", "secret", "blueprint", "code_stamp"])
    def test_next_discovery_sees_each_input_edit(self, tmp_path, monkeypatch, edited):
        from lakehouse_plumber_spark import parsers

        proj = self._proj(tmp_path, monkeypatch)
        before = self._dumps(proj)
        assert self._dumps(proj) == before == self._fresh(proj, monkeypatch)
        edits = {
            "flowgroup": ("pipelines/fg.yaml", "out: t0", "out: t1"),
            "parent_preset": ("presets/base.yaml", "tier: raw", "tier: cooked"),
            "template": ("templates/agg.yaml", "default: 7", "default: 9"),
            "tokens": ("substitutions/dev.yaml", "catalog: main", "catalog: other"),
            "blueprint": ("blueprints/ingest.yaml", "LIMIT 5", "LIMIT 6"),
        }
        if edited in edits:
            rel, old, new = edits[edited]
            (proj / rel).write_text((proj / rel).read_text().replace(old, new))
        elif edited == "secret":
            monkeypatch.setenv("LHP_SECRET_API_TOKEN", "tok-rotated")
        else:
            # a change to the resolution code: unseen while the stamp is the
            # same, seen as soon as the stamp moves
            real = parsers._expand_variable_definitions
            monkeypatch.setattr(parsers, "_expand_variable_definitions",
                                lambda v: {**real(v), "tier": "patched"})
            assert self._dumps(proj) == before
            monkeypatch.setattr(parsers, "_code_stamp", lambda: "another build")
        after = self._dumps(proj)
        assert after != before
        assert after == self._fresh(proj, monkeypatch)

    def test_warm_hit_reruns_graph_checks_only_for_bound_secrets(self, tmp_path, monkeypatch):
        from lakehouse_plumber_spark import parsers

        proj = self._proj(tmp_path, monkeypatch)
        self._dumps(proj)
        calls = []
        real = parsers.validate_flowgroup_graph
        monkeypatch.setattr(parsers, "validate_flowgroup_graph",
                            lambda actions: calls.append(actions) or real(actions))
        self._dumps(proj)
        assert [a[0].source["sql"] for a in calls] == [f"SELECT '{self.SECRET}' AS tok"]

    def test_one_entry_per_live_flowgroup_and_no_secret_on_disk(self, tmp_path, monkeypatch):
        proj = self._proj(tmp_path, monkeypatch)
        fgs = self._dumps(proj)
        assert any(self.SECRET in str(fg) for fg in fgs)
        for step in range(3):
            fg = proj / "pipelines" / "fg.yaml"
            fg.write_text(fg.read_text().replace(f"out: t{step}", f"out: t{step + 1}"))
            assert len(self._dumps(proj)) == len(fgs) == len(self._entries(proj)) == 3
        for base, _, files in os.walk(proj / ".lhp"):
            for f in files:
                with open(os.path.join(base, f), "rb") as fh:
                    assert self.SECRET.encode() not in fh.read(), f

    def test_truncated_entry_falls_back_to_fresh_resolution(self, tmp_path, monkeypatch):
        proj = self._proj(tmp_path, monkeypatch)
        before = self._dumps(proj)
        for entry in self._entries(proj):
            entry.write_bytes(entry.read_bytes()[:40])
        assert self._dumps(proj) == before
        # the fresh resolutions were stored again, whole
        import pickle

        assert all(pickle.loads(e.read_bytes())["spec"] for e in self._entries(proj))

    def test_compile_project_same_warm_cold_and_uncached(self, tmp_path, monkeypatch):
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
        try:
            import gen
        finally:
            sys.path.pop(0)
        from lakehouse_plumber_spark.__main__ import _load_tokens
        from lakehouse_plumber_spark.parsers import discover_flowgroups

        proj = tmp_path / "compile"
        gen.make_compile_project(7, str(proj))
        monkeypatch.setenv("LHP_SECRET_API_TOKEN", "bench-token")
        tokens = _load_tokens(str(proj), "bench")

        def dumps():
            return [fg.model_dump() for fg in discover_flowgroups(str(proj), tokens=tokens)]

        cold, warm = dumps(), dumps()
        assert len(cold) == len(self._entries(proj)) == 200
        monkeypatch.setenv("LHP_NO_PARSE_CACHE", "1")
        assert cold == warm == dumps()


class TestTableReadEdges:
    def test_self_referential_delta_load_is_not_a_cycle(self):
        """A flowgroup that delta-loads the table it also writes reads the
        PRE-RUN content (the incremental self-reference pattern) — the
        table read must not create an intra-flowgroup edge, or topo_sort
        would report a false cycle."""
        spec = {
            "pipeline": "p", "flowgroup": "f",
            "actions": [
                {"name": "ld", "type": "load",
                 "source": {"type": "delta", "catalog": "m", "schema": "s", "table": "t"},
                 "target": "v_prev"},
                {"name": "tr", "type": "transform", "transform_type": "sql",
                 "source": "v_prev", "sql": "SELECT * FROM v_prev", "target": "v_next"},
                {"name": "wr", "type": "write", "source": "v_next",
                 "write_target": {"type": "streaming_table", "catalog": "m",
                                  "schema": "s", "table": "t"}},
            ],
        }
        fg = load_flowgroup(spec)  # must not raise CycleError
        # but the read IS a cross-flowgroup edge via table_reads —
        # fully-qualified spelling only (no bare-leaf false matches)
        assert fg.actions[0].table_reads() == ["m.s.t"]
        assert "m.s.t" not in fg.actions[0].source_views()

    def test_jdbc_table_is_not_a_dependency_edge(self):
        a = load_flowgroup({
            "pipeline": "p", "flowgroup": "f",
            "actions": [
                {"name": "ld", "type": "load",
                 "source": {"type": "jdbc", "url": "jdbc:derby:x", "table": "orders"},
                 "target": "v"},
                {"name": "wr", "type": "write", "source": "v",
                 "write_target": {"type": "materialized_view", "database": "m.s",
                                  "table": "t"}},
            ],
        }).actions[0]
        # a jdbc `table:` names an external RDBMS table no flowgroup produces
        assert a.table_reads() == []
        assert "orders" not in a.source_views()

    def test_unqualified_delta_table_emits_bare_leaf(self):
        a = load_flowgroup({
            "pipeline": "p", "flowgroup": "f",
            "actions": [
                {"name": "ld", "type": "load",
                 "source": {"type": "delta", "table": "t"}, "target": "v"},
                {"name": "wr", "type": "write", "source": "v",
                 "write_target": {"type": "materialized_view", "database": "m.s",
                                  "table": "x"}},
            ],
        }).actions[0]
        assert a.table_reads() == ["t"]


class TestSchemaTransformFileShapes:
    """The reference's schema_transforms/ files come in three shapes; all
    normalize to the same rename->cast->enforce flow (reference
    tests/e2e/fixtures/testing_project/schema_transforms/)."""

    def _run(self, spark, spec):
        from lakehouse_plumber_spark.parsers import load_flowgroup
        from lakehouse_plumber_spark.runner import PipelineRunner

        fg = load_flowgroup({
            "pipeline": "p", "flowgroup": "f",
            "actions": [
                {"name": "ld", "type": "load",
                 "source": {"type": "sql",
                            "sql": "SELECT 7 AS l_orderkey, '9.5' AS l_quantity, 'x' AS extra"},
                 "target": "v"},
                {"name": "sc", "type": "transform", "transform_type": "schema",
                 "source": "v", "target": "v2", "enforcement": "strict",
                 "schema_inline": spec},
                {"name": "wr", "type": "write", "source": "v2",
                 "write_target": {"type": "materialized_view", "catalog": "m",
                                  "schema": "s", "table": "t"}},
            ],
        })
        runner = PipelineRunner(spark)
        return runner.run(fg).resolve_view("m.s.t")

    def test_arrow_string_shape(self, spark):
        out = self._run(spark, {"columns": [
            "l_orderkey -> order_id: BIGINT",
            "l_quantity -> quantity: DECIMAL(18,2)",
        ]})
        assert out.columns == ["order_id", "quantity"]
        row = out.collect()[0]
        assert row.order_id == 7 and float(row.quantity) == 9.5

    def test_mapping_and_casting_blocks(self, spark):
        out = self._run(spark, {
            "column_mapping": {"l_orderkey": "order_id", "l_quantity": "quantity"},
            "type_casting": {"quantity": "DOUBLE"},
        })
        assert out.columns == ["order_id", "quantity"]
        row = out.collect()[0]
        assert row.order_id == 7 and row.quantity == 9.5

    def test_cast_only_string_entry(self, spark):
        out = self._run(spark, {"columns": [
            "l_orderkey: STRING",
            "l_quantity -> quantity: DOUBLE",
        ]})
        row = out.collect()[0]
        assert row.l_orderkey == "7" and row.quantity == 9.5

    def test_mapping_conflicting_with_columns_entry_merges(self, spark):
        """A column_mapping rename whose target is also declared under
        columns must merge (rename preserved), not be dropped."""
        out = self._run(spark, {
            "columns": [{"name": "order_id", "type": "BIGINT"}],
            "column_mapping": {"l_orderkey": "order_id"},
        })
        assert out.columns == ["order_id"]
        assert out.collect()[0].order_id == 7

    def test_duplicate_mapping_targets_and_cast_on_merge(self, spark):
        from lakehouse_plumber_spark.operators.transform import _normalize_schema_columns

        # two mappings to one target: no crash, first rename wins
        out = _normalize_schema_columns({"column_mapping": {"a": "x", "b": "x"}})
        assert out == [{"name": "x", "rename_from": "a"}]
        # mapping merged into a columns entry keeps its type_casting
        out = _normalize_schema_columns({
            "columns": [{"name": "order_id"}],
            "column_mapping": {"l_orderkey": "order_id"},
            "type_casting": {"order_id": "BIGINT"},
        })
        assert out == [{"name": "order_id", "rename_from": "l_orderkey",
                        "type": "BIGINT"}]
