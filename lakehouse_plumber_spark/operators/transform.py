"""Transform operators. Reference inventory: SURVEY §2.2."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_plumber_spark.context import BuildContext
from lakehouse_plumber_spark.expectations import (
    apply_expectations,
    load_expectations_file,
    parse_expectations,
)
from lakehouse_plumber_spark.models import Action
from lakehouse_plumber_spark.operators.load import _import_module
from lakehouse_plumber_spark.schema_parser import coerce_schema


def resolve_sql_tables(ctx: BuildContext, query: str) -> str:
    """Make dotted table refs in SQL resolvable.

    Temp views fold dots (main.x.t -> main__x__t), so SQL referencing a
    3-part table written by an earlier flowgroup (same store) would miss it.
    For each referenced dotted name that exists in the store but not in the
    catalog, register a read (internals stripped) and rewrite the reference.
    """
    import re

    from lakehouse_plumber_spark.dag import sql_table_refs
    from lakehouse_plumber_spark.operators.load import _rewrite_stream_refs  # noqa: local to avoid cycle

    q = _rewrite_stream_refs(query)
    # Delta SQL surface on the store's CDF emulation:
    # table_changes('t', start[, end]) -> a registered view over
    # store.read_changes (version-bounded, partition-pruned). With a Delta
    # store this maps 1:1 onto the native table-valued function.
    def _tc(m: "re.Match") -> str:
        name, s_, e_ = m.group(1), m.group(2), m.group(3)
        if not ctx.store.has_changes(name):
            # no change log for this name: leave the text verbatim (it may
            # be inside a comment/string, which this scan can't see; a real
            # executed ref then gets Spark's own resolution error)
            return m.group(0)
        view = f"__cdf__{name.replace('.', '__')}__{s_}_{e_ or 'latest'}"
        df = ctx.store.read_changes(name, int(s_), int(e_) if e_ else None)
        ctx.register(view, df)
        return view

    q = re.sub(
        r"\btable_changes\s*\(\s*'([A-Za-z_][\w.]*)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
        _tc, q, flags=re.I,
    )
    # IDENTIFIER('cat.sch.t') over a STORE-managed table: Spark resolves
    # IDENTIFIER against its own catalog, which doesn't hold our tables —
    # unwrap to the bare dotted name so the registration loop below folds it
    # into the temp view it registers. Non-store uses pass through to
    # Spark's native IDENTIFIER clause untouched.
    q = re.sub(
        r"\bIDENTIFIER\s*\(\s*'([A-Za-z_][\w.]*)'\s*\)",
        lambda m: m.group(1) if ctx.store.exists(m.group(1)) else m.group(0),
        q, flags=re.I,
    )
    for name in sql_table_refs(q):
        if "." in name and ctx.store.exists(name):
            ctx.register(name, ctx.strip_internal(ctx.store.read(name)))
            q = re.sub(
                rf"(?<![\w.]){re.escape(name)}(?![\w.])", name.replace(".", "__"), q
            )
    return q


def transform_sql(ctx: BuildContext, action: Action) -> DataFrame:
    """Arbitrary SQL over upstream views (reference transform/sql.py).

    The whole relational algebra is delegated to Spark SQL -> Catalyst does
    pushdown/pruning/join-selection; no hand-planning here by design.
    """
    query = action.sql
    if not query and action.sql_path:
        with open(ctx.resolve_path(action.sql_path)) as f:
            query = f.read()
    if not query:
        raise ValueError(f"sql transform {action.name!r} missing sql/sql_path")
    # make sure upstream views are registered (runner does this on produce)
    return ctx.spark.sql(resolve_sql_tables(ctx, query))


def transform_python(ctx: BuildContext, action: Action) -> DataFrame:
    """User function over 0/1/N source DataFrames (reference transform/python.py:1-133).

    Call shapes: f(df, spark, params) | f([dfs], spark, params) | f(spark, params).
    """
    params = action.parameters or {}
    fn = action.callable_fn
    if fn is None:
        mod = _import_module(ctx.resolve_path(action.module_path), f"lhp_tf_{action.name}")
        fn = getattr(mod, action.function_name)
    sources = action.source
    if sources is None:
        df = fn(ctx.spark, params)
    elif isinstance(sources, str):
        df = fn(ctx.resolve_view(sources), ctx.spark, params)
    else:
        df = fn([ctx.resolve_view(s) for s in sources], ctx.spark, params)
    if not isinstance(df, DataFrame):
        raise TypeError(f"python transform {action.name!r} must return a DataFrame")
    return df


def transform_retrieval(ctx: BuildContext, action: Action) -> DataFrame:
    """BM25 top-k retrieval as a declarative action (engine extension; the
    reference expresses every user operation as an action, so the extension
    family does too).  Spec: `retrieval: {query_terms, k, k1, b, text_col,
    id_col, plan}`; executor is llm/search.py — "auto" resolves to the
    unrolled plan up to the measured ≈8-term crossover, the |Q|-flat
    postings plan above it; both emit identical rows and scores."""
    from lakehouse_plumber_spark.llm.search import (
        bm25_choose_plan,
        bm25_topk,
        bm25_topk_postings,
    )

    cfg = action.retrieval
    if cfg is None:
        raise ValueError(
            f"retrieval transform {action.name!r} missing `retrieval:` config"
        )
    if not action.source or not isinstance(action.source, str):
        raise ValueError(
            f"retrieval transform {action.name!r} needs a single source view"
        )
    df = ctx.resolve_view(action.source)
    if df.isStreaming:
        raise ValueError(
            f"retrieval transform {action.name!r} needs a BATCH source "
            "(BM25's corpus statistics are a global aggregate)"
        )
    if cfg.query_sets is not None:
        # hybrid fusion: one BM25 ranking per set (plan resolved per set),
        # RRF-merged — the fusion joins only k-bounded rankings
        from lakehouse_plumber_spark.llm.search import rrf_fuse

        rankings = []
        plans = []
        for terms in cfg.query_sets:
            plan = bm25_choose_plan(terms, cfg.plan)
            fn = bm25_topk if plan == "unrolled" else bm25_topk_postings
            rankings.append(
                fn(df, terms, k=cfg.k, k1=cfg.k1, b=cfg.b,
                   text_col=cfg.text_col, id_col=cfg.id_col)
            )
            plans.append(plan)
        out = rrf_fuse(rankings, k=cfg.k, k_rrf=cfg.k_rrf, id_col=cfg.id_col)
        ctx.log(action.name, "retrieval_rrf", plans=plans, n_sets=len(plans))
        return out
    plan = bm25_choose_plan(cfg.query_terms, cfg.plan)
    fn = bm25_topk if plan == "unrolled" else bm25_topk_postings
    out = fn(
        df, cfg.query_terms, k=cfg.k, k1=cfg.k1, b=cfg.b,
        text_col=cfg.text_col, id_col=cfg.id_col,
    )
    ctx.log(action.name, "retrieval_plan", plan=plan, n_terms=len(cfg.query_terms))
    return out


def _bucket_cap_kwargs(v: int | None) -> dict:
    """Uniform `max_bucket_size` spec semantics for EVERY dedup method
    (r12, ADVICE r11): unset -> omit the kwarg so the executor's own
    engine default applies (LSH_MAX_BUCKET for minhash/incremental, no cap
    for embedding_lsh — each documented at its definition); 0 -> the
    explicit opt-out, clique guard OFF; n >= 1 -> cap at n."""
    if v is None:
        return {}
    return {"max_bucket_size": None if v == 0 else v}


def transform_dedup(ctx: BuildContext, action: Action) -> DataFrame:
    """Corpus deduplication as a declarative action (engine extension; spec
    `dedup: {method, text_col, id_col, ...}` — see models.DedupConfig).
    Executors are llm/dedup.py's verified operators: exact (one hash
    aggregation), lines (RefinedWeb boilerplate removal), and
    minhash_survivors (LSH pairs -> connected components -> best-quality
    survivor per group)."""
    from lakehouse_plumber_spark.llm import dedup as _dedup

    cfg = action.dedup
    if cfg is None:
        raise ValueError(f"dedup transform {action.name!r} missing `dedup:` config")
    if not action.source or not isinstance(action.source, str):
        raise ValueError(f"dedup transform {action.name!r} needs a single source view")
    df = ctx.resolve_view(action.source)
    if df.isStreaming:
        raise ValueError(
            f"dedup transform {action.name!r} needs a BATCH source "
            "(dedup relations are corpus-global; for streams, dedup each "
            "micro-batch against a persisted index — method 'incremental' "
            "under foreachBatch)"
        )
    if cfg.method == "exact":
        out = _dedup.exact_dedup(df, cfg.text_col, cfg.id_col)
    elif cfg.method == "lines":
        out = _dedup.line_dedup(df, cfg.text_col, cfg.id_col, max_docs=cfg.max_docs)
    elif cfg.method == "containment":
        out = _dedup.containment_dedup(
            df, cfg.text_col, cfg.id_col,
            containment_threshold=cfg.containment_threshold,
            max_doc_freq=cfg.max_doc_freq,
        )
    elif cfg.method == "embedding_lsh":
        out = _dedup.embedding_near_dup_lsh(
            df, cfg.vec_col, cfg.id_col,
            threshold=cfg.cosine_threshold,
            rows_per_band=cfg.rows_per_band,
            **_bucket_cap_kwargs(cfg.max_bucket_size),
        )
    elif cfg.method == "incremental":
        # the source IS the arriving batch; probe + append the persisted
        # index named in the spec (models.DedupConfig validates the names)
        out = _dedup.incremental_dedup_batch(
            df, ctx.store, cfg.index_table, cfg.grams_table,
            text_col=cfg.text_col, id_col=cfg.id_col,
            jaccard_threshold=cfg.jaccard_threshold,
            retry=cfg.retry,
            cap_check=cfg.cap_check,
            **_bucket_cap_kwargs(cfg.max_bucket_size),
        )
    elif cfg.method == "semantic":
        from lakehouse_plumber_spark.llm.similarity import semantic_dedup

        out = semantic_dedup(
            df, threshold=cfg.cosine_threshold,
            n_centroids=cfg.n_centroids,
            vec_col=cfg.vec_col, id_col=cfg.id_col,
        )
    else:
        if not cfg.quality_col:
            raise ValueError(
                f"dedup transform {action.name!r}: method minhash_survivors "
                "requires quality_col"
            )
        pairs = _dedup.minhash_lsh_dedup(
            df, cfg.text_col, cfg.id_col, jaccard_threshold=cfg.jaccard_threshold
        )
        out = _dedup.dedup_survivors(df, pairs, cfg.quality_col, id_col=cfg.id_col)
    ctx.log(action.name, "dedup_applied", method=cfg.method)
    return out


def transform_sample(ctx: BuildContext, action: Action) -> DataFrame:
    """Deterministic sampling / data mixing as a declarative action (engine
    extension; spec `sample: {method, ...}` — see models.SampleConfig).
    Executors are llm/sampling.py's verified operators; every method is a
    pure per-row hash filter after a metadata-sized threshold step, so the
    sample is stable under re-partitioning, retries, and engine choice."""
    from lakehouse_plumber_spark.llm import sampling as _sampling

    cfg = action.sample
    if cfg is None:
        raise ValueError(f"sample transform {action.name!r} missing `sample:` config")
    if not action.source or not isinstance(action.source, str):
        raise ValueError(f"sample transform {action.name!r} needs a single source view")
    df = ctx.resolve_view(action.source)
    if df.isStreaming and cfg.method in (
        "mixture", "temperature", "weighted_poisson", "sequence_pack"
    ):
        raise ValueError(
            f"sample transform {action.name!r}: method {cfg.method!r} "
            "derives thresholds from corpus counts (or a per-shard running "
            "sum) and needs a BATCH source (hash_split/stratified are pure "
            "per-row filters and work on streams)"
        )
    if cfg.method == "hash_split":
        out = _sampling.hash_split(df, cfg.weights, id_col=cfg.id_col, out=cfg.out_col)
    elif cfg.method == "stratified":
        out = _sampling.stratified_sample(
            df, cfg.strata_col, cfg.rates,
            default_rate=cfg.default_rate, id_col=cfg.id_col,
        )
    elif cfg.method == "mixture":
        out = _sampling.mixture_weighted_sample(
            df, cfg.strata_col, cfg.parts,
            target_rows=cfg.target_rows, id_col=cfg.id_col,
        )
    elif cfg.method == "weighted_poisson":
        out = _sampling.weighted_poisson_sample(
            df, cfg.weight_expr, cfg.target_fraction, id_col=cfg.id_col
        )
    elif cfg.method == "sequence_pack":
        if cfg.token_col not in df.columns:
            raise ValueError(
                f"sample transform {action.name!r}: sequence_pack needs "
                f"token column {cfg.token_col!r} on the source view "
                f"(have: {df.columns})"
            )
        out = _sampling.pack_sequences(
            df, cfg.seq_len, shards=cfg.shards,
            token_col=cfg.token_col, id_col=cfg.id_col,
        )
    else:
        out = _sampling.temperature_sample(
            df, cfg.strata_col, alpha=cfg.alpha,
            target_rows=cfg.target_rows, id_col=cfg.id_col,
        )
    ctx.log(action.name, "sample_applied", method=cfg.method)
    return out


def transform_knn(ctx: BuildContext, action: Action) -> DataFrame:
    """Vector similarity search as a declarative action (engine extension;
    spec `knn: {method, query_ids, k, ...}` — see models.KnnConfig).
    Executors are llm/similarity.py's verified operators: bruteforce
    (exact-recall baseline), filtered (predicate pre-filter, exact
    recall), ivfpq (the compression scale rung; n_probe == n_centroids is
    exhaustive)."""
    from lakehouse_plumber_spark.llm import similarity as _sim

    cfg = action.knn
    if cfg is None:
        raise ValueError(f"knn transform {action.name!r} missing `knn:` config")
    if not action.source or not isinstance(action.source, str):
        raise ValueError(f"knn transform {action.name!r} needs a single source view")
    df = ctx.resolve_view(action.source)
    if df.isStreaming:
        raise ValueError(
            f"knn transform {action.name!r} needs a BATCH source (top-k is "
            "a corpus-global ranking; for arriving vectors maintain a "
            "persisted index — see ivf_index_build/append/search)"
        )
    if cfg.method == "bruteforce":
        out = _sim.knn_bruteforce(
            df, cfg.query_ids, k=cfg.k, vec_col=cfg.vec_col, id_col=cfg.id_col
        )
    elif cfg.method == "filtered":
        out = _sim.knn_filtered(
            df, cfg.query_ids, cfg.predicate, k=cfg.k,
            vec_col=cfg.vec_col, id_col=cfg.id_col,
        )
    else:
        out = _sim.ivfpq_search(
            df, cfg.query_ids, k=cfg.k,
            n_centroids=cfg.n_centroids, n_probe=cfg.n_probe,
            vec_col=cfg.vec_col, id_col=cfg.id_col,
        )
    ctx.log(action.name, "knn_applied", method=cfg.method, k=cfg.k)
    return out


def transform_text(ctx: BuildContext, action: Action) -> DataFrame:
    """Text curation as a declarative action (engine extension; spec
    `text: {method, ...}` — see models.TextConfig).  Executors are
    llm/text.py's verified narrow-scan operators — every method is one
    codegen'd projection (plus chunk's bounded explode); they work on
    streaming sources too, being pure per-row."""
    from lakehouse_plumber_spark.llm import text as _text

    cfg = action.text
    if cfg is None:
        raise ValueError(f"text transform {action.name!r} missing `text:` config")
    if not action.source or not isinstance(action.source, str):
        raise ValueError(f"text transform {action.name!r} needs a single source view")
    df = ctx.resolve_view(action.source)
    if cfg.method == "token_count":
        out = _text.with_token_count(df, cfg.text_col)
    elif cfg.method == "quality_score":
        out = _text.with_quality_score(df, cfg.text_col)
    elif cfg.method == "lang_id":
        out = _text.with_lang_id(df, cfg.text_col)
    elif cfg.method == "pii_redact":
        out = _text.with_pii_redaction(df, cfg.text_col)
    elif cfg.method == "c4_rules":
        out = _text.c4_rules(
            df, cfg.text_col, cfg.id_col,
            min_words_per_line=cfg.min_words_per_line,
            min_kept_lines=cfg.min_kept_lines,
        )
    elif cfg.method == "gopher_rules":
        out = _text.gopher_rules(
            df, cfg.text_col, cfg.id_col, min_words=cfg.min_words
        )
    else:
        out = _text.chunk_documents(
            df, chunk_tokens=cfg.chunk_tokens, stride=cfg.stride,
            text_col=cfg.text_col, id_col=cfg.id_col,
        )
    ctx.log(action.name, "text_applied", method=cfg.method)
    return out


def transform_multimodal(ctx: BuildContext, action: Action) -> DataFrame:
    """Binary-asset processing as a declarative action (engine extension;
    spec `multimodal: {method, decoder, ...}` — see
    models.MultimodalConfig).  Executors are llm/multimodal.py's
    Arrow-batched mapInPandas operators; the decoder seam resolves
    driver-side so executors fail loudly rather than mixing stub and real
    decodes."""
    from lakehouse_plumber_spark.llm import multimodal as _mm

    cfg = action.multimodal
    if cfg is None:
        raise ValueError(
            f"multimodal transform {action.name!r} missing `multimodal:` config"
        )
    if not action.source or not isinstance(action.source, str):
        raise ValueError(
            f"multimodal transform {action.name!r} needs a single source view"
        )
    df = ctx.resolve_view(action.source)
    if cfg.source_format == "documents":
        df = _mm.documents_as_assets(df)
    if cfg.method == "features":
        out = _mm.extract_features(
            df, batch_size=cfg.batch_size, decoder=cfg.decoder
        )
    elif cfg.method == "resize":
        out = _mm.resize_images(
            df, width=cfg.width, height=cfg.height, decoder=cfg.decoder
        )
    else:
        out = _mm.frame_sample_plan(df, every_ms=cfg.every_ms)
    ctx.log(action.name, "multimodal_applied", method=cfg.method,
            decoder=cfg.decoder)
    return out


def transform_schema(ctx: BuildContext, action: Action) -> DataFrame:
    """Rename map -> cast map -> enforcement select (reference transform/schema.py.j2:10-47).

    strict: exact select of schema columns (drops extras, errors on missing);
    permissive: renames/casts applied, extra columns kept.
    """
    df = ctx.resolve_view(str(action.source))
    spec = action.schema_inline
    if spec is None and action.schema_file:
        import yaml

        with open(ctx.resolve_path(action.schema_file)) as f:
            spec = yaml.safe_load(f)
    if spec is None:
        raise ValueError(f"schema transform {action.name!r} missing schema")

    columns = _normalize_schema_columns(spec)
    renames: dict[str, str] = {}
    casts: dict[str, str] = {}
    ordered: list[str] = []
    for col in columns:
        name = col["name"]
        ordered.append(name)
        if col.get("rename_from"):
            renames[col["rename_from"]] = name
        if col.get("type"):
            casts[name] = str(col["type"])
    for old, new in renames.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    for name, typ in casts.items():
        if name in df.columns:
            df = df.withColumn(name, F.col(name).cast(coerce_schema_type(typ)))
    if (action.enforcement or "strict") == "strict":
        missing = [c for c in ordered if c not in df.columns]
        if missing:
            raise ValueError(f"schema transform {action.name!r}: missing columns {missing}")
        df = df.select(*ordered)
    return df


def _normalize_schema_columns(spec) -> list[dict]:
    """Normalize the reference's THREE schema-transform file shapes to one
    canonical column list (reference schema_transforms/ fixtures):

    1. dicts: ``columns: [{name, type, rename_from}]`` (the engine's native
       form);
    2. arrow strings: ``columns: ["l_orderkey -> order_id: BIGINT",
       "last_modified_dt: TIMESTAMP"]``;
    3. block maps: ``column_mapping: {old: new}`` + ``type_casting:
       {col: TYPE}``.
    """
    if not isinstance(spec, dict):
        spec = {"columns": spec}
    cols: list[dict] = []
    for col in spec.get("columns") or []:
        if isinstance(col, str):
            left, _, typ = col.partition(":")
            entry: dict = {"name": left.strip()}
            if "->" in left:
                old, _, new = left.partition("->")
                entry = {"name": new.strip(), "rename_from": old.strip()}
            if typ.strip():
                entry["type"] = typ.strip()
            cols.append(entry)
        else:
            cols.append(col)
    casting = dict(spec.get("type_casting") or {})
    by_name = {c["name"]: c for c in cols}
    for old, new in (spec.get("column_mapping") or {}).items():
        new = str(new)
        if new in by_name:
            # the rename's target already has an entry (declared under
            # columns, or synthesized by an earlier mapping): merge INTO it —
            # dropping the rename would silently break the cast/strict-select
            entry = by_name[new]
            entry.setdefault("rename_from", str(old))
        else:
            entry = {"name": new, "rename_from": str(old)}
            cols.append(entry)
            by_name[new] = entry
        if new in casting:
            # the type_casting for a mapped column applies regardless of
            # which branch created the entry (a columns-declared type wins)
            entry.setdefault("type", str(casting.pop(new)))
    for name, typ in casting.items():
        if str(name) not in by_name:
            cols.append({"name": str(name), "type": str(typ)})
    return cols


def coerce_schema_type(t: str):
    from lakehouse_plumber_spark.schema_parser import parse_type

    return parse_type(t)


def transform_temp_table(ctx: BuildContext, action: Action) -> DataFrame:
    """Persist an intermediate as a temporary pipeline table
    (reference transform/temp_table.py.j2). Materializes to the store's `_tmp`
    schema — a real barrier (cuts lineage / enables reuse across flows)."""
    if action.sql:
        df = ctx.spark.sql(resolve_sql_tables(ctx, action.sql))
    else:
        df = ctx.resolve_view(str(action.source))
    name = f"_tmp.{ctx.flowgroup.flowgroup}.{action.target or action.name}"
    if df.isStreaming:
        ctx.for_each_batch(
            df, lambda b, _e: ctx.store.append(name, b), "tmp", action.name,
            replay_guard=name,
        )
    else:
        ctx.store.overwrite(name, df)
    return ctx.store.read(name)


def transform_data_quality(ctx: BuildContext, action: Action) -> DataFrame:
    """Expectations transform — dqe or quarantine mode
    (reference transform/data_quality.py:24-211)."""
    df = ctx.resolve_view(str(action.source))
    if action.expectations_inline is not None:
        exps = parse_expectations(action.expectations_inline)
    elif action.expectations_file:
        exps = load_expectations_file(ctx.resolve_path(action.expectations_file))
    else:
        raise ValueError(f"data_quality {action.name!r} missing expectations")

    mode = action.mode or "dqe"
    if mode == "quarantine":
        from lakehouse_plumber_spark.operators.quarantine import run_quarantine

        return run_quarantine(ctx, action, df, exps)

    out, obs, fail_exps = apply_expectations(df, exps, observation_name=f"dq_{action.name}")
    if obs is not None:
        ctx.pending_checks.append((action.name, obs, fail_exps))
    ctx.log(action.name, "expectations_attached", rules=[e.name for e in exps], mode=mode)
    return out
