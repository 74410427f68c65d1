"""Property-based tests (hypothesis): the distributed implementations must
agree with trivially-correct in-memory reference implementations on random
inputs. Complements the fixed-fixture oracle gate with adversarial shapes
(ties, empty groups, singletons, dense collisions)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakehouse_plumber_spark.functions.asof import asof_join
from lakehouse_plumber_spark.functions.ranges import interval_self_join
from lakehouse_plumber_spark.llm.dedup import dedup_connected_components

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

edges_st = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@given(edges=edges_st)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    pairs = [(min(a, b), max(a, b)) for a, b in edges]
    # in-memory union-find reference
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r.doc_id: r.cluster_id for r in dedup_connected_components(df).collect()}
    assert got == expected


events_st = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
    min_size=1,
    max_size=30,
)


@given(left=events_st, right=events_st, tol=st.one_of(st.none(), st.integers(1, 20)))
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right, tol):
    ldf = spark.createDataFrame(left, ["k", "ts", "lv"])
    rdf = spark.createDataFrame(right, ["k", "ts", "rv"])
    out = asof_join(ldf, rdf, keys=["k"], left_ts="ts", right_ts="ts", tolerance=tol)
    got = {
        (r.k, r.ts, r.lv): r.asof_ts
        for r in out.collect()
    }
    # brute-force: latest right ts <= left ts (within tolerance) per key;
    # dict keyed like the join output (duplicate (k, ts, lv) rows collapse
    # identically on both sides)
    for (k, ts, lv), asof_ts in got.items():
        cand = [rts for (rk, rts, _) in right if rk == k and rts <= ts
                and (tol is None or rts >= ts - tol)]
        assert asof_ts == (max(cand) if cand else None)
    assert len(got) == len({(k, ts, lv) for (k, ts, lv) in left})


@given(rows=events_st, window=st.integers(1, 25))
@settings(**_SETTINGS)
def test_interval_self_join_matches_bruteforce(spark, rows, window):
    # unique (k, ts) rows: the pair semantics are per timestamp-pair
    uniq = {(k, ts): v for k, ts, v in rows}
    data = [(k, ts, v) for (k, ts), v in uniq.items()]
    df = spark.createDataFrame(data, ["k", "ts", "v"])
    out = interval_self_join(df, keys=["k"], ts_col="ts", window=window)
    got = {(r.k, r["ts"], r["ts_r"]) for r in out.collect()}
    expected = {
        (ka, ta, tb)
        for (ka, ta) in uniq
        for (kb, tb) in uniq
        if ka == kb and 0 < tb - ta <= window
    }
    assert got == expected


# --- compiled CDC vs engine parity on random event streams -----------------

cdc_events_st = st.lists(
    # (key, value, seq, is_delete)
    st.tuples(st.integers(1, 5), st.integers(0, 9), st.integers(1, 6), st.booleans()),
    min_size=1,
    max_size=18,
)


@given(batches=st.lists(cdc_events_st, min_size=1, max_size=3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_compiled_cdc_scd2_matches_engine_on_random_streams(spark, tmp_path_factory, batches):
    """One SCD2 rebuild over two storage layouts — the engine's
    bucket-merged table with its hidden event log, and the generated
    script's append-only raw-events table rebuilt whole on every run — must
    produce the same visible history for ANY batch split of any event
    stream (dedup ties, delete/reinsert, late arrivals included)."""
    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner
    from lakehouse_plumber_spark.tables import ParquetTableStore

    tmp = tmp_path_factory.mktemp("cdcprop")

    def spec(batch_rows):
        values = ", ".join(
            f"({k}, {v}, {s}, {str(d).lower()})" for k, v, s, d in batch_rows
        )
        return load_flowgroup({
            "pipeline": "p", "flowgroup": "cdcp",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_ev",
                 "source": {"type": "sql",
                            "sql": f"SELECT * FROM (VALUES {values}) AS t(id, v, seq, del)"}},
                {"name": "wr", "type": "write", "source": "v_ev",
                 "write_target": {"type": "streaming_table", "database": "m.pp",
                                  "table": "scd2p", "mode": "cdc",
                                  "cdc_config": {"keys": ["id"], "sequence_by": "seq",
                                                 "scd_type": 2,
                                                 "apply_as_deletes": "del",
                                                 "except_column_list": ["del"]}}},
            ],
        })

    runner = PipelineRunner(spark, store=ParquetTableStore(spark=spark, root=str(tmp / "wh")))
    for b in batches:
        runner.run(spec(b))
    cols = ["id", "v", "seq", "__start_at", "__end_at"]
    engine = sorted(
        tuple(r) for r in runner.store.read("m.pp.scd2p")
        .filter("NOT __tombstone").select(*cols).collect()
    )

    out = tmp / "gen"
    for b in batches:
        src = compile_flowgroup(spec(b))
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(out))
    gen = sorted(tuple(r) for r in written["m.pp.scd2p"].select(*cols).collect())
    assert engine == gen


@given(batches=st.lists(cdc_events_st, min_size=1, max_size=3))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_compiled_cdc_scd1_matches_engine_on_random_streams(spark, tmp_path_factory, batches):
    """SCD1 variant of the parity property: the shared SCD1 rebuild over
    the engine's merged state and over the generated script's raw-events
    table must agree on the latest visible row per key for any stream."""
    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner
    from lakehouse_plumber_spark.tables import ParquetTableStore

    tmp = tmp_path_factory.mktemp("cdcprop1")

    def spec(batch_rows):
        values = ", ".join(
            f"({k}, {v}, {s}, {str(d).lower()})" for k, v, s, d in batch_rows
        )
        return load_flowgroup({
            "pipeline": "p", "flowgroup": "cdcp1",
            "actions": [
                {"name": "ld", "type": "load", "target": "v_ev",
                 "source": {"type": "sql",
                            "sql": f"SELECT * FROM (VALUES {values}) AS t(id, v, seq, del)"}},
                {"name": "wr", "type": "write", "source": "v_ev",
                 "write_target": {"type": "streaming_table", "database": "m.p1",
                                  "table": "scd1p", "mode": "cdc",
                                  "cdc_config": {"keys": ["id"], "sequence_by": "seq",
                                                 "scd_type": 1,
                                                 "apply_as_deletes": "del",
                                                 "except_column_list": ["del"]}}},
            ],
        })

    runner = PipelineRunner(spark, store=ParquetTableStore(spark=spark, root=str(tmp / "wh")))
    for b in batches:
        runner.run(spec(b))
    cols = ["id", "v", "seq"]
    engine = sorted(
        tuple(r) for r in runner.store.read("m.p1.scd1p")
        .filter("NOT __tombstone").select(*cols).collect()
    )

    out = tmp / "gen"
    for b in batches:
        src = compile_flowgroup(spec(b))
        ns: dict = {}
        exec(compile(src, "<generated>", "exec"), ns)
        written = ns["build"](spark, str(out))
    gen = sorted(tuple(r) for r in written["m.p1.scd1p"].select(*cols).collect())
    assert engine == gen


snap_st = st.lists(
    st.dictionaries(st.integers(1, 4), st.integers(0, 5), max_size=4),
    min_size=1,
    max_size=4,
)


@given(snaps=snap_st)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_compiled_snapshot_cdc_matches_engine_on_random_snapshots(
    spark, tmp_path_factory, monkeypatch, snaps
):
    """Random full-snapshot sequences (keys appearing, vanishing,
    reappearing, changing) must produce identical SCD2 history through the
    engine's apply_snapshot and the generated script's presence-grid
    derivation."""
    import json
    import os

    from lakehouse_plumber_spark.codegen import compile_flowgroup
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner
    from lakehouse_plumber_spark.tables import ParquetTableStore

    tmp = tmp_path_factory.mktemp("snapprop")
    snap_file = tmp / "snaps.json"
    snap_file.write_text(json.dumps(
        {str(i + 1): sorted(d.items()) for i, d in enumerate(snaps)}
    ))
    monkeypatch.setenv("LHP_PROP_SNAPS", str(snap_file))

    # self-contained (no closures): reads the example's snapshots via env var
    def pull(latest):
        import json as _json
        import os as _os
        from pyspark.sql import SparkSession
        with open(_os.environ["LHP_PROP_SNAPS"]) as fh:
            snaps_d = {int(k): v for k, v in _json.load(fh).items()}
        nxt = 1 if latest is None else latest + 1
        if nxt not in snaps_d:
            return None
        sp = SparkSession.builder.getOrCreate()
        rows = [tuple(r) for r in snaps_d[nxt]]
        return sp.createDataFrame(rows, "id int, v int"), nxt

    def spec():
        return {
            "pipeline": "p", "flowgroup": "snapp",
            "actions": [
                {"name": "wr", "type": "write",
                 "write_target": {"type": "streaming_table", "database": "m.sp",
                                  "table": "t", "mode": "snapshot_cdc",
                                  "snapshot_cdc_config": {"keys": ["id"],
                                                          "stored_as_scd_type": 2,
                                                          "source_callable": pull}}},
            ],
        }

    runner = PipelineRunner(spark, store=ParquetTableStore(spark=spark, root=str(tmp / "wh")))
    runner.run(load_flowgroup(spec()))
    cols = ["id", "v", "__start_at", "__end_at"]
    engine = sorted(
        tuple(r) for r in runner.store.read("m.sp.t")
        .filter("NOT __tombstone").select(*cols).collect()
    )

    src = compile_flowgroup(load_flowgroup(spec()))
    ns: dict = {}
    exec(compile(src, "<generated>", "exec"), ns)
    written = ns["build"](spark, str(tmp / "gen"))
    gen = sorted(tuple(r) for r in written["m.sp.t"].select(*cols).collect())
    assert engine == gen


imv_batches_st = st.lists(
    st.lists(st.tuples(st.sampled_from(["a", "b", "c", "d"]),
                       st.integers(-50, 50)),
             min_size=0, max_size=12),
    min_size=1,
    max_size=4,
)


@given(batches=imv_batches_st)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_incremental_mv_equals_full_recompute_on_random_batches(spark, tmp_path_factory, batches):
    """The IMV contract, adversarially: for ANY batch split (including empty
    batches) the bucketed partial-aggregate state must finalize to exactly
    the full recompute over everything seen. Integer values keep every
    aggregate exact, so equality is bitwise."""
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.operators.incremental import (
        finalize_incremental,
        incremental_update,
    )
    from lakehouse_plumber_spark.tables import ParquetTableStore

    tmp = tmp_path_factory.mktemp("imvprop")
    store = ParquetTableStore(spark=spark, root=str(tmp / "wh"))
    aggs = {"n": "count(*)", "total": "sum(v)", "lo": "min(v)", "hi": "max(v)"}

    def mk(rows):
        return spark.createDataFrame(rows or [("zz", 0)], "k string, v long").filter(
            F.lit(bool(rows))
        )

    for b in batches:
        incremental_update(store, "t.state", mk(b), ["k"], aggs)
    finalize_incremental(store, "t.mv", "t.state", ["k"], aggs)

    allrows = [r for b in batches for r in b]
    got = sorted(
        (r.k, r.n, r.total, r.lo, r.hi) for r in store.read("t.mv").collect()
    )
    if not allrows:
        assert got == []
        return
    want = sorted(
        (r.k, r.n, r.total, r.lo, r.hi)
        for r in spark.createDataFrame(allrows, "k string, v long")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
             F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    assert got == want


mixture_rows_st = st.lists(
    st.tuples(st.integers(0, 400), st.sampled_from(["a", "b", "c"])),
    min_size=3, max_size=120, unique_by=lambda r: r[0],
)
mixture_parts_st = st.fixed_dictionaries(
    {"a": st.integers(0, 4), "b": st.integers(0, 4), "c": st.integers(0, 4)}
).filter(lambda p: sum(p.values()) > 0)


@given(rows=mixture_rows_st, parts=mixture_parts_st)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_mixture_sample_matches_python_model(spark, rows, parts):
    """The engine's sample must equal an independent pure-Python evaluation
    of the spec: thresholds in exact integer arithmetic, salted-md5 bucket
    per row, survivors = bucket < thr[stratum]."""
    import hashlib

    from lakehouse_plumber_spark.llm.sampling import SAMPLE_MOD, mixture_weighted_sample

    present = {s for _, s in rows}
    if any(p > 0 and s not in present for s, p in parts.items()):
        return  # engine raises for absent strata; covered by the unit test

    df = spark.createDataFrame(rows, "doc_id long, src string")
    got = sorted(r.doc_id for r in mixture_weighted_sample(df, "src", parts, id_col="doc_id").collect())

    counts: dict[str, int] = {}
    for _, s in rows:
        counts[s] = counts.get(s, 0) + 1
    total = sum(parts.values())
    pos = {k: p for k, p in sorted(parts.items()) if p > 0}
    n = min(counts[k] * total // p for k, p in pos.items())
    thr = {k: p * n * SAMPLE_MOD // (total * counts[k]) for k, p in pos.items()}

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"sample:{doc_id}".encode()).hexdigest()[:15]
        return int(h, 16) % SAMPLE_MOD

    want = sorted(i for i, s in rows if s in thr and bucket(i) < thr[s])
    assert got == want


# --- r6 curation operators vs in-memory reference models ---------------

_words_st = st.sampled_from(
    ["alpha", "beta", "Gamma", "the", "of", "delta", "JavaScript",
     "lorem", "ipsum", "brace{y", "words", "enough", "here",
     # whitespace beyond plain spaces: Spark's trim() strips SPACES only,
     # while \s+ collapsing covers tabs/CR — the models below must agree
     # with that exact combination, so the generator must reach it
     "tab\there", "\t", "end\r"]
)
_line_st = st.tuples(
    st.lists(_words_st, min_size=0, max_size=8),
    st.sampled_from(["", ".", "?", '"', "!"]),
).map(lambda t: " ".join(t[0]) + t[1])
_doc_st = st.lists(_line_st, min_size=0, max_size=6).map("\n".join)


def _norm_line(line: str) -> str:
    import re

    # strip(' '): Spark F.trim removes ASCII spaces only, NOT tabs/CR —
    # a leading '\t' survives the trim and the \s+ collapse turns it into
    # a leading single space, and the model must reproduce exactly that
    return re.sub(r"\s+", " ", line.strip(" ").lower())


@given(texts=st.lists(_doc_st, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_line_dedup_matches_python_model(spark, texts):
    from lakehouse_plumber_spark.llm.dedup import line_dedup

    rows = list(enumerate(texts))
    # reference: a normalized line in >1 distinct docs is removed everywhere
    docs_of: dict[str, set[int]] = {}
    for i, t in rows:
        for l in t.split("\n"):
            docs_of.setdefault(_norm_line(l), set()).add(i)
    want = {}
    for i, t in rows:
        lines = t.split("\n")
        kept = [l for l in lines if len(docs_of[_norm_line(l)]) <= 1]
        want[i] = (len(lines), len(lines) - len(kept), "\n".join(kept))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.cleaned_text)
        for r in line_dedup(df).collect()
    }
    assert got == want


@given(texts=st.lists(_doc_st, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_c4_rules_matches_python_model(spark, texts):
    import re

    from lakehouse_plumber_spark.llm.text import c4_rules

    rows = list(enumerate(texts))

    def model(t: str):
        lines = t.split("\n")
        # strip(' ') mirrors Spark's space-only trim(); split(' ') mirrors
        # the ' +' regex split (tab-joined tokens stay one "word")
        kept = [
            l for l in lines
            if len([w for w in l.strip(" ").split(" ") if w]) >= 5
            and re.search(r'[.!?"]$', l.strip(" "))
            and "javascript" not in l.lower()
        ]
        has_lorem = "lorem ipsum" in t.lower()
        has_brace = "{" in t
        return (
            len(lines), len(kept), has_lorem, has_brace,
            len(kept) >= 3 and not has_lorem and not has_brace,
        )

    want = {i: model(t) for i, t in rows}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.has_lorem, r.has_brace, r.keep)
        for r in c4_rules(df).collect()
    }
    assert got == want


texts_chunk_st = st.lists(
    st.text(alphabet="ab \t\n", min_size=0, max_size=60),
    min_size=1,
    max_size=12,
)


@given(texts=texts_chunk_st, chunk=st.integers(1, 9), stride_off=st.integers(0, 8))
@settings(**_SETTINGS)
def test_chunk_documents_matches_python_model(spark, texts, chunk, stride_off):
    from lakehouse_plumber_spark.llm.text import chunk_documents

    stride = max(1, chunk - stride_off)
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
    }
    expected = {}
    for i, t in rows:
        toks = t.split()
        if not toks:
            continue
        n_chunks = 1 + -(-max(len(toks) - chunk, 0) // stride)
        for c in range(n_chunks):
            piece = toks[c * stride : c * stride + chunk]
            expected[(i, c)] = (len(piece), " ".join(piece))
    assert got == expected


kmv_vals_st = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=80
)


@given(vals=kmv_vals_st, k=st.integers(2, 12))
@settings(**_SETTINGS)
def test_kmv_sketch_matches_python_model(spark, vals, k):
    import hashlib

    from lakehouse_plumber_spark.llm.sketches import kmv_sketch

    df = spark.createDataFrame(vals, "g int, v int")
    got = {r.stratum: r.mins for r in kmv_sketch(df, "g", "v", k=k, fanout=8).collect()}

    def h(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    expected: dict[int, list[int]] = {}
    for g in {g for g, _ in vals}:
        hashes = sorted({h(v) for gg, v in vals if gg == g})
        expected[g] = hashes[:k]
    assert got == expected


bm25_docs_st = st.lists(
    st.lists(st.sampled_from(["apple", "banana", "cherry", "date", "kiwi"]),
             min_size=0, max_size=12),
    min_size=1,
    max_size=10,
)


@given(docs=bm25_docs_st)
@settings(**_SETTINGS)
def test_bm25_matches_python_model(spark, docs):
    import math

    from lakehouse_plumber_spark.llm.search import bm25_topk

    terms, k1, b = ["apple", "cherry"], 1.2, 0.75
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_id, r.n_terms_hit, r.score)
           for r in bm25_topk(df, terms, k=20, k1=k1, b=b).collect()]

    n = len(docs)
    total_dl = sum(len(t) for t in docs)
    dfreq = {t: sum(1 for d in docs if t in d) for t in terms}
    expect = {}
    for i, toks in enumerate(docs):
        dl, parts, hits = len(toks), 0.0, 0
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            hits += 1
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            part = idf * (tf * (1.0 + k1)) / (
                tf + k1 * (1.0 - b + b * dl * float(n) / total_dl))
            parts += round(part, 6)  # the DECIMAL(18,6) cast
        if hits:
            expect[i] = (hits, parts)
    assert {g[0] for g in got} == set(expect)
    for doc_id, hits, score in got:
        eh, es = expect[doc_id]
        assert hits == eh
        assert abs(score - es) < 1e-9
    # rank order: score desc, doc_id asc
    keys = [(-s, d) for d, _, s in got]
    assert keys == sorted(keys)


conc_events_st = st.lists(
    st.tuples(st.integers(0, 5000), st.integers(30, 7200)),  # (offset_s, dur_s)
    min_size=1,
    max_size=25,
)


@given(events=conc_events_st)
@settings(**_SETTINGS)
def test_peak_concurrency_matches_python_sweep(spark, events):
    import datetime as dt

    from lakehouse_plumber_spark.functions import peak_concurrency

    base = dt.datetime(2024, 3, 1, 22, 0, 0)  # near midnight to force clipping
    rows = [(i, base + dt.timedelta(seconds=off)) for i, (off, _) in enumerate(events)]
    dur = events[0][1]  # one shared duration (the operator takes a scalar)
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {r.day: (r.peak_concurrent, r.n_started)
           for r in peak_concurrency(df, "ts", dur).collect()}

    # python sweep: clip per day, (+1 before -1, then id) at equal instants
    per_day: dict[str, list] = {}
    starts: dict[str, int] = {}
    for i, (off, _) in enumerate(events):
        s = base + dt.timedelta(seconds=off)
        e = s + dt.timedelta(seconds=dur)
        day = s.date()
        starts[str(day)] = starts.get(str(day), 0) + 1
        d = s.date()
        while d <= e.date():
            lo = max(s, dt.datetime.combine(d, dt.time.min))
            hi = min(e, dt.datetime.combine(d, dt.time.min) + dt.timedelta(days=1))
            if lo < hi:
                per_day.setdefault(str(d), []).extend(
                    [(lo, 0, i, 1), (hi, 1, i, -1)])  # 0 sorts +1 first
            d += dt.timedelta(days=1)
    for day, evs in per_day.items():
        evs.sort()
        acc = peak = 0
        for _, _, _, delta in evs:
            acc += delta
            peak = max(peak, acc)
        assert got[day] == (peak, starts.get(day, 0)), day
    assert set(got) == set(per_day)


lm_texts_st = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8),
    min_size=1,
    max_size=8,
)


@given(texts=lm_texts_st)
@settings(**_SETTINGS)
def test_bigram_logprob_matches_python_model(spark, texts):
    import math
    from collections import Counter

    from lakehouse_plumber_spark.llm.text import bigram_logprob

    rows = [(i, " ".join(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni = Counter(w for t in texts for w in t)
    if not uni:
        import pytest as _pytest

        with _pytest.raises(ValueError):
            bigram_logprob(df)
        return
    bigrams = Counter((t[j], t[j + 1]) for t in texts for j in range(len(t) - 1))
    V, k = len(uni), 0.5
    got = {r.doc_id: (r.n_bigrams, r.mean_logprob)
           for r in bigram_logprob(df).collect()}
    expect = {}
    for i, t in enumerate(texts):
        bgs = [(t[j], t[j + 1]) for j in range(len(t) - 1)]
        if not bgs:
            continue
        total = sum(
            round(math.log2((bigrams[g] + k) / (uni[g[0]] + k * V)), 6)
            for g in bgs
        )
        expect[i] = (len(bgs), total / len(bgs))
    assert set(got) == set(expect)
    for i, (nb, mean) in got.items():
        assert nb == expect[i][0]
        assert abs(mean - expect[i][1]) < 1e-9


docs_st = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=8),
    min_size=1,
    max_size=12,
)


@given(docs=docs_st, k=st.integers(1, 3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_tfidf_keywords_matches_inmemory_model(spark, docs, k):
    """tfidf_keywords == a trivially-correct python TF-IDF over random tiny
    corpora (ties, empty docs, dense term collisions)."""
    import math

    from lakehouse_plumber_spark.llm.text import tfidf_keywords

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    out = tfidf_keywords(
        spark.createDataFrame(rows, "doc_id long, text string"), k=k, min_len=1
    )
    got = {(r.doc_id, r.rank): (r.term, r.tf) for r in out.collect()}

    # reference model
    tf = {}
    for i, toks in enumerate(docs):
        for t in toks:
            tf[(i, t)] = tf.get((i, t), 0) + 1
    df_t = {}
    for (_, t) in tf:
        df_t[t] = df_t.get(t, 0) + 1
    n = len(docs)
    want = {}
    per_doc = {}
    for (i, t), c in tf.items():
        per_doc.setdefault(i, []).append(
            (-(c * (math.log((n + 1.0) / (df_t[t] + 1.0)) + 1.0)), t, c)
        )
    for i, items in per_doc.items():
        for rank, (_, t, c) in enumerate(sorted(items)[:k], start=1):
            want[(i, rank)] = (t, c)
    assert got == want


@given(docs=st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=2, max_size=6),
    min_size=4, max_size=10,
))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_perplexity_buckets_value_threshold_invariants(spark, docs):
    """Bucket labels are a value-threshold partition of the score axis: every
    head score >= every middle score >= every tail score, all scored docs are
    labeled, and equal scores always share a bucket."""
    from lakehouse_plumber_spark.llm.text import perplexity_buckets

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    out = perplexity_buckets(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()
    assert out  # every doc here has >= 1 bigram
    order = {"head": 2, "middle": 1, "tail": 0}
    by_score = {}
    for r in out:
        by_score.setdefault(r.mean_logprob, set()).add(r.bucket)
    for s, buckets in by_score.items():
        assert len(buckets) == 1, f"tied score {s} split across {buckets}"
    ranked = sorted(out, key=lambda r: -r.mean_logprob)
    labels = [order[r.bucket] for r in ranked]
    assert labels == sorted(labels, reverse=True)


# --------------------------------------------------------------------------
# r9 operators: property models
# --------------------------------------------------------------------------

rankings_st = st.lists(
    st.lists(st.integers(0, 30), min_size=1, max_size=12, unique=True),
    min_size=2,
    max_size=4,
)


@given(lists=rankings_st)
@settings(**_SETTINGS)
def test_rrf_fuse_matches_python_model(spark, lists):
    """Fused ranking == in-memory RRF over the same lists (rank order within
    each input list is its element order)."""
    from lakehouse_plumber_spark.llm.search import rrf_fuse

    dfs = [
        spark.createDataFrame(
            [(doc, i + 1) for i, doc in enumerate(lst)], "doc_id long, rank int"
        )
        for lst in lists
    ]
    k = 50
    got = [
        (r.rank, r.doc_id, r.n_lists)
        for r in rrf_fuse(dfs, k=k).orderBy("rank").collect()
    ]
    # in-memory model
    scores: dict[int, float] = {}
    hits: dict[int, int] = {}
    for lst in lists:
        for i, doc in enumerate(lst):
            scores[doc] = scores.get(doc, 0.0) + 1.0 / (60 + i + 1)
            hits[doc] = hits.get(doc, 0) + 1
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:k]
    assert [(g[1], g[2]) for g in got] == [(d, hits[d]) for d in expect]
    assert [g[0] for g in got] == list(range(1, len(expect) + 1))


kmv_sets_st = st.tuples(
    st.sets(st.integers(0, 400), min_size=1, max_size=120),
    st.sets(st.integers(0, 400), min_size=1, max_size=120),
)


@given(ab=kmv_sets_st)
@settings(**_SETTINGS)
def test_kmv_overlap_exact_below_k_matches_set_algebra(spark, ab):
    """With both sides below k the KMV estimates are exact, so the
    inclusion-exclusion must equal true set algebra."""
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.llm.sketches import kmv_overlap, kmv_sketch

    a_vals, b_vals = ab
    a = spark.createDataFrame([("g", v) for v in a_vals], "g string, v long")
    b = spark.createDataFrame([("g", v) for v in b_vals], "g string, v long")
    row = kmv_overlap(
        kmv_sketch(a, "g", "v", k=256), kmv_sketch(b, "g", "v", k=256), k=256
    ).collect()[0]
    inter = len(a_vals & b_vals)
    union = len(a_vals | b_vals)
    assert (row.est_a, row.est_b, row.est_union, row.est_intersection) == (
        len(a_vals), len(b_vals), union, inter
    )
    assert abs(row.jaccard - round(inter / union, 6)) < 1e-12


vals_groups_st = st.lists(
    st.tuples(st.integers(0, 2), st.floats(-1e6, 1e6, allow_nan=False)),
    min_size=4,
    max_size=80,
)


@given(rows=vals_groups_st)
@settings(**_SETTINGS)
def test_winsorize_bounds_and_interior_identity(spark, rows):
    """Winsorized values always lie within [group p_lo, group p_hi]; rows
    strictly inside the thresholds pass through unchanged; flags are
    consistent with the movement."""
    from lakehouse_plumber_spark.functions.features import winsorize

    df = spark.createDataFrame(
        [(i, str(g), float(v)) for i, (g, v) in enumerate(rows)],
        "id long, g string, v double",
    )
    out = winsorize(df, "g", "v", 0.1, 0.9).collect()
    assert len(out) == len(rows)
    for r in out:
        if r.clipped_low:
            assert r.value_w > r.v
        elif r.clipped_high:
            assert r.value_w < r.v
        else:
            assert r.value_w == r.v


texts_sent_st = st.lists(
    st.lists(
        st.tuples(st.integers(1, 9), st.sampled_from([".", "!", "?"])),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=10,
)


@given(docs=texts_sent_st)
@settings(**_SETTINGS)
def test_sentence_chunks_conserve_tokens_and_sentences(spark, docs):
    """Sentence chunking conserves every token and every sentence, chunk
    ids are the prefix-sum bins, and per-doc chunk token counts sum to the
    doc's token count."""
    from lakehouse_plumber_spark.llm.text import chunk_documents_sentences

    rows = []
    truth = {}
    for d, sents in enumerate(docs):
        parts = [
            " ".join(f"w{d}_{i}_{j}" for j in range(n)) + p
            for i, (n, p) in enumerate(sents)
        ]
        rows.append((d, " ".join(parts)))
        truth[d] = sum(n for n, _ in sents)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents_sentences(df, chunk_tokens=5).collect()
    per_doc_tokens: dict[int, int] = {}
    per_doc_sents: dict[int, int] = {}
    for r in out:
        per_doc_tokens[r.doc_id] = per_doc_tokens.get(r.doc_id, 0) + r.n_chunk_tokens
        per_doc_sents[r.doc_id] = per_doc_sents.get(r.doc_id, 0) + r.n_sentences
    assert per_doc_tokens == truth
    assert per_doc_sents == {d: len(s) for d, s in enumerate(docs)}


cont_docs_st = st.lists(
    st.lists(st.integers(0, 12), min_size=3, max_size=14),
    min_size=2,
    max_size=8,
)


@given(docs=cont_docs_st)
@settings(**_SETTINGS)
def test_containment_matches_set_model_and_dominates_jaccard(spark, docs):
    """containment_dedup == an in-memory distinct-shingle set model, and
    containment >= jaccard on every emitted pair (min <= union)."""
    from lakehouse_plumber_spark.llm.dedup import SHINGLE_N, containment_dedup

    texts = [" ".join(f"w{t}" for t in toks) for toks in docs]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def shingles(toks):
        return {
            " ".join(f"w{t}" for t in toks[i:i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)
        }

    sets = {i: shingles(t) for i, t in enumerate(docs) if len(t) >= SHINGLE_N}
    expect = {}
    ids = sorted(sets)
    for x in ids:
        for y in ids:
            if x < y and sets[x] and sets[y]:
                inter = len(sets[x] & sets[y])
                cont = round(inter / min(len(sets[x]), len(sets[y])), 6)
                if inter and cont >= 0.8:
                    expect[(x, y)] = cont
    got = {
        (r.id_a, r.id_b): (r.containment, r.jaccard)
        for r in containment_dedup(df, containment_threshold=0.8).collect()
    }
    assert {k: v[0] for k, v in got.items()} == expect
    for cont, jac in got.values():
        assert cont >= jac
