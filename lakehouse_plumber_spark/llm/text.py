"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All JVM-side expressions (no UDFs) — at 100 TB these
run inside whole-stage codegen directly over the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_plumber_spark.llm.hashing import tokens_spark

# marker stopwords per language for the n-gram/stopword heuristic language ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "that", "it", "for"),
    "es": ("el", "la", "de", "y", "que", "los", "las", "un", "una", "es"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"),
    "fr": ("le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ("was", "on", "are", "as", "with", "at", "by")


def token_count_expr(text_col: str = "text") -> str:
    """Whitespace token count as a Spark-SQL expr string — shared by the
    DataFrame operator and compile-to-source (codegen.py renders it into
    the generated file, so both paths evaluate the identical expression)."""
    return f"size({tokens_spark(text_col)})"


def with_token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count (empty-safe)."""
    return df.withColumn(out, F.expr(token_count_expr(text_col)))


BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def with_bpe_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish sub-word unit count: letter runs, digit runs, and single
    punctuation marks (the GPT-2 pre-tokenizer shape, ASCII-simplified so the
    regex evaluates identically under Java regex and RE2). A real tokenizer's
    count correlates ~1:1.3 with this; it's the cheap JVM-side estimator for
    data-mix budgeting."""
    # function API, not SQL text: Spark SQL string literals eat the \s escape
    return df.withColumn(
        out,
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))).cast("long"),
    )


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Normalized-content fingerprint: md5 of lowercased, whitespace-collapsed text."""
    return df.withColumn(
        out, F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))
    )


def quality_score_expr(text_col: str = "text") -> str:
    """Deterministic [0,1] quality score from cheap surface statistics.

    Components (each in [0,1]):
    - length_score: min(n_chars / 500, 1)
    - alpha_ratio: alphanumeric+space chars / total chars
    - stopword_score: min(stopword_ratio * 5, 1) — natural text has ~40%+
    """
    from lakehouse_plumber_spark.llm.hashing import let_spark

    stop_list = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    stop_score = let_spark(
        tokens_spark(text_col),
        "tk",
        f"least(size(filter(tk, t -> t IN ({stop_list}))) * 5.0 / greatest(size(tk), 1), 1.0)",
    )
    return (
        f"round(("
        f"  least(length({text_col}) / 500.0, 1.0)"
        f"  + (length(regexp_replace({text_col}, '[^a-zA-Z0-9 ]', '')) / greatest(length({text_col}), 1))"
        f"  + {stop_score}"
        f") / 3.0, 6)"
    )


def with_quality_score(df: DataFrame, text_col: str = "text", out: str = "quality_score") -> DataFrame:
    return df.withColumn(out, F.expr(quality_score_expr(text_col)))


def lang_id_expr(text_col: str = "text") -> str:
    """Stopword-marker language classifier; deterministic tie-break by language code.

    Scores = count of language-marker tokens; winner = max score (ties resolve
    to the lexicographically smallest language code); 'und' when all zero.
    """
    from lakehouse_plumber_spark.llm.hashing import let_spark

    struct_entries = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        struct_entries.append(
            f"named_struct('score', size(filter(tk, t -> t IN ({markers}))), 'lang', '{lang}')"
        )
    arr = ", ".join(struct_entries)
    # array_max on (score, lang) structs orders by score then lang — we want
    # max score, tie -> smallest lang, so compare on (score, negated lang) is
    # not expressible; instead reduce explicitly. Tokenization (tk) and the
    # winning struct (best) are let-bound: one evaluation per row each.
    best = (
        f"aggregate(array({arr}), named_struct('score', -1, 'lang', 'und'), "
        f"(acc, x) -> CASE WHEN x.score > acc.score THEN x ELSE acc END)"
    )
    return let_spark(
        tokens_spark(text_col),
        "tk",
        let_spark(best, "best", "CASE WHEN best.score <= 0 THEN 'und' ELSE best.lang END"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    return df.withColumn(out, F.expr(lang_id_expr(text_col)))


def with_rolling_hash_fingerprint(
    df: DataFrame, text_col: str = "text", window: int = 8, out: str = "winnow_fp"
) -> DataFrame:
    """Winnowing-style document fingerprint: min token-ngram hash per document.

    The classic robust fingerprint for near-exact matching; here the global
    minimum of 8-token shingle hashes (cheap, order-invariant to edits far
    from the minimum).
    """
    from lakehouse_plumber_spark.llm.hashing import md5int_spark, word_ngrams_spark

    grams = word_ngrams_spark(text_col, window)
    return df.withColumn(
        out, F.expr(f"array_min(transform({grams}, g -> {md5int_spark('g')}))")
    )


# --- repetition quality metrics (Gopher-style, Rae et al. 2021 §A1.1) -------

REP_TOP_N = 2   # "fraction of tokens in the most common 2-gram"
REP_DUP_N = 5   # "fraction of duplicated 5-grams"


def dup_ngram_fraction_expr(text_col: str = "text", n: int = REP_DUP_N) -> str:
    """Per-row duplicated-n-gram fraction (1 - distinct/total) — pure
    whole-stage-codegen array expression, composable into any projection."""
    from lakehouse_plumber_spark.llm.hashing import word_ngrams_all_spark

    g = word_ngrams_all_spark(text_col, n)
    return f"round(1.0 - size(array_distinct({g})) / cast(size({g}) as double), 6)"


def top_ngram_fraction_expr(text_col: str = "text", n: int = REP_TOP_N) -> str:
    """Per-row most-frequent-n-gram fraction as a Spark-SQL expr string:
    sort the gram array, take the longest equal-run with one `aggregate`
    fold — O(g log g) per row inside whole-stage codegen, ZERO shuffle.

    This replaces the explode → count(doc, gram) → max/sum two-level
    aggregate (r14): that plan shipped the corpus' gram stream through two
    exchanges plus a join back per caller, while the mode of a multiset is
    computable per row once the array is sorted (the docstring fear of a
    per-row O(g²) mode scan does not apply to the sorted-run form).  The
    run/best counts are the same exact integers the relational aggregate
    produced and the denominator is size(grams) = sum of the counts, so the
    division and round are bit-identical to the oracle's relational SQL.

    Membership note: every document emits >= 1 gram (empty text folds to
    [''], null text to [null] — `word_ngrams_all_spark`'s degenerate gram),
    so the old explode → aggregate kept every doc_id and this per-row form
    does too; nulls group with nulls under the null-safe `<=>` just as the
    relational GROUP BY grouped them."""
    from lakehouse_plumber_spark.llm.hashing import let_spark, word_ngrams_all_spark

    run = "CASE WHEN acc.prev <=> x THEN acc.run + 1L ELSE 1L END"
    fold = (
        "aggregate(array_sort(G), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, "
        f"'best', greatest(acc.best, {run})), "
        "acc -> acc.best)"
    )
    return let_spark(
        word_ngrams_all_spark(text_col, n),
        "G",
        f"round({fold} / cast(size(G) as double), 6)",
    )


def repetition_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition scores used by training-data quality filters:

    - `top2_frac`: occurrences of the most frequent word 2-gram / total
      2-grams (boilerplate detector);
    - `dup5_frac`: fraction of word 5-grams that are repeats of an earlier
      5-gram, i.e. 1 - distinct/total (copy-paste detector).

    Both metrics are per-row array expressions as of r14 (top2 via the
    sorted-run fold in `top_ngram_fraction_expr`): ONE whole-stage-codegen
    projection over the scan, no shuffle, no join.
    """
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    return spread_for_compute(df, [id_col, text_col]).select(
        F.col(id_col),
        F.expr(top_ngram_fraction_expr(text_col)).alias("top2_frac"),
        F.expr(dup_ngram_fraction_expr(text_col)).alias("dup5_frac"),
    )


# --- PII redaction ----------------------------------------------------------

# Patterns valid and identical under Java regex (Spark) and RE2 (DuckDB):
# no backreferences, no lookaround.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_PATTERN = "\\+[0-9]{1,3} [0-9]{3}-[0-9]{4}"


def with_pii_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and mask email addresses and international-format phone numbers.

    Adds `n_emails`, `n_phones`, and `redacted` (emails → [EMAIL],
    phones → [PHONE]). Pure JVM regex over the scan — the shape of a
    real PII scrub pass (swap in stricter patterns / an NER UDF stage for
    production); at 100 TB this is the embarrassingly-parallel no-shuffle
    pass it should be.
    """
    c = F.col(text_col)
    return (
        df.withColumn(
            "n_emails",
            F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), F.lit(0))).cast("long"),
        )
        .withColumn(
            "n_phones",
            F.size(F.regexp_extract_all(c, F.lit(PHONE_PATTERN), F.lit(0))).cast("long"),
        )
        .withColumn(
            "redacted",
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]"),
                PHONE_PATTERN,
                "[PHONE]",
            ),
        )
    )


def mean_token_frequency(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document mean corpus frequency of its tokens — the integer-exact
    proxy for LM-perplexity filtering (CCNet-style): documents made of rare
    tokens (gibberish, encoding noise, exotic boilerplate) score low,
    natural-language documents score near the corpus mean.

    All arithmetic before the final division is exact 64-bit integers, so
    the score is bit-reproducible across engines and partitionings (a float
    log-prob average would drift with summation order).

    Plan: explode tokens -> corpus term frequencies (one map-side-combinable
    aggregate; the result IS the vocabulary, small at any corpus size ->
    broadcast back) -> per-doc exact sum/count. Returns
    (doc_id, n_tokens, sum_freq, mean_freq).
    """
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute
    from lakehouse_plumber_spark.llm.hashing import tokens_spark

    toks = (
        spread_for_compute(df, [id_col, text_col])
        .select(F.col(id_col), F.explode(F.expr(tokens_spark(text_col))).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("tf").cast("long").alias("sum_freq"),
        )
        .withColumn("mean_freq", F.round(F.col("sum_freq") / F.col("n_tokens"), 6))
    )


def corpus_stats(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum corpus report: doc count, token totals/means, and exact
    rank-based length quantiles (lower median, ceil-p90 of n_chars).

    The quantiles are exact order statistics — the (cnt+1)//2-th and
    ceil(0.9*cnt)-th smallest lengths, ties broken by id — so the DuckDB
    oracle reproduces every value bit-for-bit (mean is one correctly-rounded
    double division in both engines).

    Plan/scale: ONE hash exchange on the stratum key serves both the
    ranking window and the final aggregate (same partitioning, Catalyst
    reuses it); everything else is narrow. A giant stratum makes the window
    sort that stratum's partition — at 100 TB swap the exact rank-select
    for approx_percentile in the same query shape; exactness here is what
    the cross-engine correctness gate buys.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(strata_col).alias("stratum"),
        F.col(id_col).alias("__id"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.expr(f"size({tokens_spark(text_col)})").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("stratum")
    ranked = base.withColumn(
        "rn", F.row_number().over(w.orderBy("n_chars", "__id"))
    ).withColumn("cnt", F.count(F.lit(1)).over(w))
    return (
        ranked.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max(
                F.when(F.expr("rn = (cnt + 1) DIV 2"), F.col("n_chars"))
            ).alias("median_chars"),
            F.max(
                F.when(F.expr("rn = (9 * cnt + 9) DIV 10"), F.col("n_chars"))
            ).alias("p90_chars"),
        )
        .withColumn("mean_tokens", F.round(F.col("total_tokens") / F.col("n_docs"), 6))
    )


# Thresholds from Rae et al. 2021 (Gopher), "Quality filtering" appendix —
# the rule battery most training-data pipelines start from. min_words is the
# paper's 50; callers tune per corpus.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_struct_expr(text_col: str = "text") -> str:
    """The Gopher metric struct as one Spark-SQL expr string (one let-bound
    tokenization) — shared by `gopher_rules` and compile-to-source, so the
    generated file evaluates the identical expression."""
    from lakehouse_plumber_spark.llm.hashing import let_spark

    stop_list = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    hashes = f"length({text_col}) - length(replace({text_col}, '#', ''))"
    dots = f"(length({text_col}) - length(replace({text_col}, '...', ''))) / 3"
    body = (
        "named_struct("
        "'n_words', size(tk), "
        "'mean_word_len', aggregate(tk, 0, (a, w) -> a + length(w)) / cast(greatest(size(tk), 1) as double), "
        f"'symbol_word_ratio', ({hashes} + {dots}) / cast(greatest(size(tk), 1) as double), "
        "'alpha_word_frac', size(filter(tk, w -> w rlike '[A-Za-z]')) / cast(greatest(size(tk), 1) as double), "
        f"'n_stopwords', size(filter(tk, w -> lower(w) IN ({stop_list})))"
        ")"
    )
    return let_spark(tokens_spark(text_col), "tk", body)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = GOPHER_MIN_WORDS,
) -> DataFrame:
    """Gopher-style heuristic quality filter battery (Rae et al. 2021):
    word-count bounds, mean word length bounds, symbol-to-word ratio
    ('#' and '...'), alphabetic-word fraction, and a minimum stopword
    count — the standard pre-filter a web-scale corpus build runs before
    any model-based scoring.

    Pure narrow per-row expressions (one tokenization, let-bound) — no
    shuffle, no UDF; at 100 TB this is a single codegen'd scan. Every ratio
    is one integer division in both engines, so the DuckDB oracle
    reproduces each value and the keep verdict bit-for-bit.

    Returns (id, n_words, mean_word_len, symbol_word_ratio,
    alpha_word_frac, n_stopwords, keep).
    """
    g = gopher_struct_expr(text_col)
    return (
        df.select(F.col(id_col), F.expr(g).alias("g"))
        .select(
            id_col,
            F.col("g.n_words").cast("int").alias("n_words"),
            F.round("g.mean_word_len", 6).alias("mean_word_len"),
            F.round("g.symbol_word_ratio", 6).alias("symbol_word_ratio"),
            F.round("g.alpha_word_frac", 6).alias("alpha_word_frac"),
            F.col("g.n_stopwords").cast("int").alias("n_stopwords"),
            (
                F.col("g.n_words").between(min_words, GOPHER_MAX_WORDS)
                & F.col("g.mean_word_len").between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
                & (F.col("g.symbol_word_ratio") < GOPHER_MAX_SYMBOL_RATIO)
                & (F.col("g.alpha_word_frac") > GOPHER_MIN_ALPHA_FRAC)
                & (F.col("g.n_stopwords") >= GOPHER_MIN_STOPWORDS)
            ).alias("keep"),
        )
    )


# C4 (Raffel et al. 2020, §2.2) line-level cleaning rules; RefinedWeb
# (Penedo et al. 2023) applies the same family. Callers tune per corpus.
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL_PUNCT = '[.!?"]$'


def c4_struct_expr(
    text_col: str = "text", min_words_per_line: int = C4_MIN_WORDS_PER_LINE
) -> str:
    """The C4 line-survival struct as one Spark-SQL expr string (one
    let-bound line split) — shared by `c4_rules` and compile-to-source, so
    the generated file evaluates the identical expression."""
    from lakehouse_plumber_spark.llm.hashing import let_spark

    kept = (
        "filter(ls, l -> "
        f"size(filter(split(trim(l), ' +'), w -> w != '')) >= {min_words_per_line} "
        f"AND trim(l) rlike '{C4_TERMINAL_PUNCT}' "
        "AND NOT contains(lower(l), 'javascript'))"
    )
    body = (
        "named_struct("
        "'n_lines', size(ls), "
        f"'n_kept_lines', size({kept})"
        ")"
    )
    return let_spark(f"split({text_col}, '\\n')", "ls", body)


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate filter (Raffel et al.
    2020): a line survives only if it ends in terminal punctuation, has at
    least `min_words_per_line` words, and does not mention "javascript"
    (the cookies/JS-notice drop); the document survives only if at least
    `min_kept_lines` lines survive, it contains no "lorem ipsum", and no
    curly brace (code markers). The standard web-text cleanup run before
    Gopher-style scoring.

    Pure narrow per-row expressions over one line-split (let-bound so the
    split happens once) — no shuffle, no UDF; a single codegen'd scan at
    100 TB, same shape as `gopher_rules`. Counts and the kept-fraction are
    integer arithmetic, so a DuckDB oracle reproduces the keep verdict
    bit-for-bit.

    Returns (id, n_lines, n_kept_lines, kept_frac, has_lorem, has_brace,
    keep).
    """
    g = c4_struct_expr(text_col, min_words_per_line)
    return (
        df.select(
            F.col(id_col),
            F.expr(g).alias("g"),
            F.col(text_col).contains("{").alias("has_brace"),
            F.lower(F.col(text_col)).contains("lorem ipsum").alias("has_lorem"),
        )
        .select(
            id_col,
            F.col("g.n_lines").cast("int").alias("n_lines"),
            F.col("g.n_kept_lines").cast("int").alias("n_kept_lines"),
            F.round(
                F.col("g.n_kept_lines")
                / F.greatest(F.col("g.n_lines"), F.lit(1)).cast("double"),
                6,
            ).alias("kept_frac"),
            "has_lorem",
            "has_brace",
            (
                (F.col("g.n_kept_lines") >= min_kept_lines)
                & ~F.col("has_lorem")
                & ~F.col("has_brace")
            ).alias("keep"),
        )
    )


def ngram_doc_topk(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-k word n-grams by DOCUMENT frequency — the "what boilerplate is
    my corpus full of" audit report run before choosing line-dedup /
    decontamination rules (Lee et al. 2022 inspect exactly this table).

    Plan: explode per-document DISTINCT n-grams (one let-bound
    tokenization), ONE map-side-combinable hash aggregation keyed on the
    n-gram, then a global top-k that Spark executes as TakeOrderedAndProject
    — per-partition heaps of size k merged on the driver, never a full
    sort, so the k rows are the only driver traffic at any corpus size.
    Ties break on the n-gram string for a deterministic report.

    Returns (ngram, n_docs, rank) with rank 1..k.
    """
    from pyspark.sql import Window

    from lakehouse_plumber_spark.llm.hashing import word_ngrams_spark

    grams = df.select(
        F.explode(F.expr(word_ngrams_spark(text_col, n))).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    topk = counts.orderBy(F.desc("n_docs"), F.asc("ngram")).limit(k)
    # rank over k rows only — the window's single partition is k-bounded
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n_docs"), F.asc("ngram"))),
    )


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    blocked_domains: tuple[str, ...] = (),
    blocked_url_terms: tuple[str, ...] = (),
) -> DataFrame:
    """RefinedWeb/C4-style URL curation (Penedo et al. 2023 §3.1; Raffel et
    al. 2020 dedupe-by-URL): drop documents whose domain is on a blocklist
    or whose URL contains a blocked term, and keep only ONE document per
    normalized URL (the smallest id — a deterministic survivor, same
    convention as exact_dedup).

    Scale shape: domain/term checks are narrow per-row expressions; the
    canonical-per-URL bit is a min(id) window partitioned by the normalized
    URL — ONE hash exchange on the URL, the minimal shuffle any URL dedup
    needs, with map-side partial aggregation. Blocklists broadcast as IN
    literals (they are small by construction).

    Returns (id, domain, domain_blocked, term_blocked, is_canonical, keep).
    """
    from pyspark.sql import Window

    # strip the fragment first, THEN any trailing slash — sequential single
    # replaces keep the semantics identical in Spark and DuckDB oracles
    norm = F.lower(
        F.regexp_replace(
            F.regexp_replace(F.col(url_col), r"#.*$", ""), r"/$", ""
        )
    )
    domain = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1)),
        r"^www\.",
        "",
    )
    term_hit = (
        F.lit(False)
        if not blocked_url_terms
        else F.exists(
            F.array(*[F.lit(t) for t in blocked_url_terms]),
            lambda t: F.contains(F.lower(F.col(url_col)), t),
        )
    )
    base = df.select(
        F.col(id_col),
        norm.alias("_norm_url"),
        domain.alias("domain"),
        domain.isin(*blocked_domains).alias("domain_blocked")
        if blocked_domains
        else F.lit(False).alias("domain_blocked"),
        term_hit.alias("term_blocked"),
    )
    w = Window.partitionBy("_norm_url")
    return (
        base.withColumn(
            "is_canonical", F.col(id_col) == F.min(id_col).over(w)
        )
        .select(
            id_col,
            "domain",
            "domain_blocked",
            "term_blocked",
            "is_canonical",
            (
                ~F.col("domain_blocked")
                & ~F.col("term_blocked")
                & F.col("is_canonical")
            ).alias("keep"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-prep chunking: split each document into fixed-size overlapping
    token windows (`chunk_tokens` wide, advancing by `stride`), emitting
    `(doc_id, chunk_idx, n_chunk_tokens, chunk_text, chunk_hash)` — the
    chunk table an embedding/indexing pipeline consumes.  Empty/NULL
    documents produce no chunks; the final window may be shorter than
    `chunk_tokens`.

    Plan/scale: entirely NARROW — tokenize once (let-bound), a bounded
    `explode(sequence(...))` of ceil((n_tokens-chunk)/stride)+1 per row, and
    per-chunk slicing/hashing; no shuffle at any size.  The md5 chunk hash
    keys downstream chunk-level exact dedup without re-reading text.
    """
    from lakehouse_plumber_spark.llm.hashing import let_spark

    if chunk_tokens < 1 or stride < 1 or stride > chunk_tokens:
        raise ValueError(
            f"need 1 <= stride <= chunk_tokens, got stride={stride}, "
            f"chunk_tokens={chunk_tokens}"
        )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(tokens_spark(f"coalesce({text_col}, '')")).alias("__toks"),
    ).withColumn("__nt", F.expr("size(__toks)"))
    n_chunks = f"1 + (greatest(__nt - {chunk_tokens}, 0) + {stride} - 1) DIV {stride}"
    exploded = base.where("__nt > 0").selectExpr(
        "doc_id",
        "__toks",
        f"explode(sequence(0, {n_chunks} - 1)) AS chunk_idx",
    )
    # nested lets: the slice (c) and its joined string (s) are each computed
    # exactly once per chunk
    chunk = let_spark(
        f"slice(__toks, chunk_idx * {stride} + 1, {chunk_tokens})",
        "c",
        let_spark(
            "array_join(c, ' ')",
            "s",
            "named_struct('text', s, 'hash', md5(s), 'n', size(c))",
        ),
    )
    return exploded.selectExpr(
        "doc_id",
        "cast(chunk_idx AS int) AS chunk_idx",
        f"{chunk} AS __c",
    ).selectExpr(
        "doc_id",
        "chunk_idx",
        "cast(__c.n AS int) AS n_chunk_tokens",
        "__c.text AS chunk_text",
        "__c.hash AS chunk_hash",
    )


def chunk_documents_duck(
    table: str = "documents",
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for `chunk_documents` — same integer window arithmetic,
    same slicing, same md5 chunk hash.  Kept next to the Spark
    implementation so the two can only drift together."""
    from lakehouse_plumber_spark.llm.hashing import tokens_duck

    toks = tokens_duck(f"coalesce({text_col}, '')")
    n_chunks = (
        f"1 + (greatest(nt - {chunk_tokens}, 0) + {stride} - 1) // {stride}"
    )
    return f"""
    WITH t AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
    n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks,
                 unnest(range(0, {n_chunks})) AS chunk_idx
          FROM n),
    s AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                 list_slice(toks, chunk_idx * {stride} + 1,
                            chunk_idx * {stride} + {chunk_tokens}) AS ct
          FROM c)
    SELECT doc_id, chunk_idx, CAST(len(ct) AS INT) AS n_chunk_tokens,
           array_to_string(ct, ' ') AS chunk_text,
           md5(array_to_string(ct, ' ')) AS chunk_hash
    FROM s
    """


_SENT_SEP = "\x1e"  # unit separator: never appears in text corpora


def chunk_documents_sentences(
    df: DataFrame,
    chunk_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-ALIGNED RAG chunking: segment each document at sentence
    boundaries (`[.!?]` + space), then bin consecutive sentences into
    chunks of ~`chunk_tokens` — the retrieval-quality sibling of the
    fixed-window `chunk_documents` (no mid-sentence cuts, no overlap).
    Output: (doc_id, chunk_idx, n_sentences, n_chunk_tokens, chunk_text,
    chunk_hash).

    Binning convention (deterministic and prefix-sum expressible, so the
    DuckDB oracle reproduces it exactly): sentence s joins chunk
    floor(tokens_before_s / chunk_tokens).  A chunk may overrun the budget
    by its final sentence — sentences are never split — and a single
    over-budget sentence occupies its own chunk.  True greedy close-at-
    budget packing is a sequential recurrence (not window-expressible);
    the binned convention differs from it only in where overrun lands.

    Plan/scale: segmentation + token counts are narrow; ONE exchange on
    doc_id for the running-count window + the per-(doc, chunk) rollup
    (same key, no second shuffle); string_agg ordering is by explicit
    sentence position, so results are partitioning-invariant.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    marked = (
        f"regexp_replace(coalesce({text_col}, ''), '([.!?]) +', '$1{_SENT_SEP}')"
    )
    sent = df.selectExpr(
        f"{id_col} AS doc_id",
        f"posexplode(split({marked}, '{_SENT_SEP}')) AS (pos, sentence)",
    ).where("trim(sentence) <> ''")
    toks = tokens_spark("sentence")
    counted = sent.selectExpr(
        "doc_id", "pos", "trim(sentence) AS sentence", f"size({toks}) AS n_tok"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = counted.withColumn(
        "chunk_idx",
        (F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / chunk_tokens)
        .cast("bigint")
        .cast("int"),
    )
    return (
        binned.groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_sentences"),
            F.sum("n_tok").cast("int").alias("n_chunk_tokens"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "named_struct('pos', pos, 's', sentence))), x -> x.s), ' ')"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_hash", F.md5("chunk_text"))
        .select(
            "doc_id", "chunk_idx", "n_sentences", "n_chunk_tokens",
            "chunk_text", "chunk_hash",
        )
    )


def chunk_documents_sentences_duck(
    table: str = "documents",
    chunk_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for `chunk_documents_sentences`: same boundary marking
    (RE2 replacement with the same unit-separator byte, 'g' flag for
    Spark's replace-all semantics), same prefix-sum binning, same ordered
    join + md5."""
    from lakehouse_plumber_spark.llm.hashing import tokens_duck

    marked = (
        f"regexp_replace(coalesce({text_col}, ''), '([.!?]) +', "
        f"'\\1' || chr(30), 'g')"
    )
    toks = tokens_duck("sentence")
    return f"""
    WITH sents AS (
      SELECT {id_col} AS doc_id, string_split({marked}, chr(30)) AS ss
      FROM {table}),
    sent AS (
      SELECT doc_id, unnest(range(len(ss))) AS pos, unnest(ss) AS sentence
      FROM sents),
    counted AS (
      SELECT doc_id, pos, trim(sentence) AS sentence,
             len({toks}) AS n_tok
      FROM sent WHERE trim(sentence) <> ''),
    binned AS (
      SELECT doc_id, pos, sentence, n_tok,
             CAST(CAST(coalesce(sum(n_tok) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {chunk_tokens} AS BIGINT) AS INT) AS chunk_idx
      FROM counted),
    agg AS (
      SELECT doc_id, chunk_idx,
             CAST(count(*) AS INT) AS n_sentences,
             CAST(sum(n_tok) AS INT) AS n_chunk_tokens,
             string_agg(sentence, ' ' ORDER BY pos) AS chunk_text
      FROM binned GROUP BY doc_id, chunk_idx)
    SELECT doc_id, chunk_idx, n_sentences, n_chunk_tokens, chunk_text,
           md5(chunk_text) AS chunk_hash
    FROM agg
    """


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.5,
) -> DataFrame:
    """CCNet-style statistical-LM quality filter (Wenzek et al. 2020), with
    the KenLM 5-gram model replaced by an add-k-smoothed corpus bigram model
    — the relational analogue that needs no external model artifact: train
    on the corpus itself, score each document by its mean bigram
    log2-probability; low scores flag gibberish/boilerplate, high scores
    flag degenerate repetition.  Output: (doc_id, n_bigrams, mean_logprob)
    for documents with ≥1 bigram.

    p(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V),  V = corpus vocabulary size.

    Scale design: counts build as two hash aggregates over exploded grams
    (map-side combined); the per-bigram log-probability is attached to the
    DISTINCT-bigram model table (model-sized work, not occurrence-sized),
    which then equi-joins the document bigrams — broadcast when the model
    fits, AQE's call otherwise; scoring re-aggregates on doc_id.  V ships
    as a collected literal from an eager count of the unigram aggregate;
    that aggregate is deliberately NOT cached — it recomputes once inside
    the scoring job, which measures cheaper than either caching it (leaks
    executor storage until unpersist) or checkpointing the model (pays a
    materialization write).  The bigram explode itself runs twice — once
    into the model counts, once into the scoring join — which is the floor
    without materializing the occurrence-sized gram stream (same two-pass
    shape as BM25's stats/score split).

    Determinism: every count is an exact integer; each bigram's log2 term
    is one double expression from identical integers, cast to
    DECIMAL(18,6); per-document sums are exact decimal, so the DuckDB
    oracle reproduces scores bit-for-bit.
    """
    # NB (r14): checkpointing the per-doc token arrays to share one
    # tokenization across the three consumers was TRIED and reverted —
    # the interleaved A/B at sf0.1 read 1.46x SLOWER (the checkpoint
    # write/read of a text-sized intermediate costs more than the saved
    # split+slice recompute; unlike the minhash/simhash paths there is no
    # per-gram md5 to amortize).  The re-tokenization below is the
    # measured floor, consistent with the earlier uncached-`uni` record.
    from lakehouse_plumber_spark.llm.hashing import word_ngrams_all_spark

    toks = tokens_spark(f"lower({text_col})")
    uni = (
        df.select(F.explode(F.expr(toks)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    vocab = uni.count()  # V as a literal; uni recomputes once in the job
    if not vocab:
        raise ValueError(f"no tokens in {text_col!r}; cannot train a bigram model")
    big = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(word_ngrams_all_spark(f"lower({text_col})", 2))).alias("g"),
    ).where("g LIKE '% %'")  # docs with one token emit a degenerate 1-gram
    model = (
        big.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
        .withColumn("w1", F.expr("substring_index(g, ' ', 1)"))
        .join(uni, F.col("w1") == F.col("w"))
        .selectExpr(
            "g",
            # cast to double BEFORE dividing: decimal/decimal division
            # rounds differently across engines
            f"CAST(log2((CAST(cb AS DOUBLE) + {k_smooth}) / "
            f"(CAST(cu AS DOUBLE) + {k_smooth} * {vocab})) "
            "AS DECIMAL(18,6)) AS logp",
        )
    )
    return (
        big.join(model, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            # exact decimal sum / integer count, UNROUNDED: the division of
            # identical inputs is one IEEE op in both engines, whereas
            # round() near a half-boundary diverges (Spark's BigDecimal
            # HALF_UP vs DuckDB's scaled-multiply round — hit at sf0.1)
            F.expr("CAST(SUM(logp) AS DOUBLE) / COUNT(*)").alias("mean_logprob"),
        )
    )


def bigram_logprob_duck(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.5,
) -> str:
    """DuckDB oracle for `bigram_logprob` — same counts, same smoothed
    log2 expression, same exact-decimal per-document sum."""
    from lakehouse_plumber_spark.llm.hashing import (
        tokens_duck,
        word_ngrams_all_duck,
    )

    toks = tokens_duck(f"lower({text_col})")
    grams = word_ngrams_all_duck(f"lower({text_col})", 2)
    return f"""
    WITH uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cu
      FROM (SELECT unnest({toks}) AS w FROM {table}) GROUP BY w),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
    big AS (
      SELECT {id_col} AS doc_id, g
      FROM (SELECT {id_col}, unnest({grams}) AS g FROM {table})
      WHERE g LIKE '% %'),
    model AS (
      SELECT b.g,
             CAST(log2((CAST(b.cb AS DOUBLE) + {k_smooth}) /
                       (CAST(uni.cu AS DOUBLE) + {k_smooth} * v.vocab))
                  AS DECIMAL(18,6)) AS logp
      FROM (SELECT g, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY g) b
      JOIN uni ON split_part(b.g, ' ', 1) = uni.w
      CROSS JOIN v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS mean_logprob
    FROM big JOIN model USING (g)
    GROUP BY doc_id
    """


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    head: float = 0.3,
    middle: float = 0.3,
    k_smooth: float = 0.5,
    cutoffs: str = "exact",
    sketch_k: int = 4096,
) -> DataFrame:
    """CCNet head/middle/tail quality bucketing (Wenzek et al. 2020 §4.4):
    score each document with the corpus bigram LM (`bigram_logprob`), then
    label the most-fluent `head` fraction "head", the next `middle` fraction
    "middle", the rest "tail" — the split CCNet uses to keep/downsample/drop
    web text by LM perplexity.  Output: (doc_id, mean_logprob, bucket).

    Bucketing is by VALUE thresholds at the exact interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont` on identical doubles: an
    interpolated cutoff lies strictly inside the gap between adjacent
    distinct scores, so a last-ulp formula difference can never flip a
    document's comparison; ties share a bucket, so realized fractions are
    approximate under heavy ties — the CCNet convention).

    `cutoffs` picks how the two thresholds are computed:

    - ``"exact"`` (default, oracle-checkable): Spark's exact `percentile`
      aggregate.  CAVEAT at corpus scale: exact `percentile` buffers EVERY
      doc-level score in the final aggregation buffer — at 10^9 documents
      that is GBs on a single task (the same single-buffer shape
      `corpus_stats` documents for its approx swap).  Fine up to ~10^8
      docs; beyond that use ``"sketch"``.
    - ``"sketch"``: thresholds from the mergeable bottom-k row sample
      (`llm/sketches.py:kmv_quantile_sketch`, keyed by `id_col` — a unique
      doc id satisfies its unique-row-key precondition).  Per-task state is
      bounded by `sketch_k` structs regardless of corpus size; realized
      bucket fractions land within O(1/sqrt(sketch_k)) of the targets
      (±1.6% at the default 4096), which is inside CCNet's tolerance —
      the cutoffs are heuristics, not contracts.

    Scale: `bigram_logprob`'s model-sized joins, then one 1-row cutoff
    aggregate over the doc-level scores broadcast onto a narrow labeling
    projection — no global sort, no single-partition window.
    """
    if not (0 < head and 0 < middle and head + middle < 1):
        raise ValueError(
            f"head and middle must be positive with head+middle < 1, "
            f"got head={head} middle={middle}"
        )
    if cutoffs not in ("exact", "sketch"):
        raise ValueError(f"cutoffs must be 'exact' or 'sketch', got {cutoffs!r}")
    scored = bigram_logprob(df, text_col, id_col, k_smooth).select(
        "doc_id", "mean_logprob"
    )
    if cutoffs == "sketch":
        from .sketches import kmv_quantile_estimate, kmv_quantile_sketch

        sk = kmv_quantile_sketch(
            scored.select(F.lit("all").alias("g"), "doc_id", "mean_logprob"),
            "g",
            "mean_logprob",
            ["doc_id"],
            k=sketch_k,
        )
        est = kmv_quantile_estimate(sk, quantiles=(1.0 - head - middle, 1.0 - head))
        t_mid_col, t_head_col = [c for c in est.columns if c.startswith("q_")]
        cuts = est.select(
            F.col(t_head_col).alias("t_head"), F.col(t_mid_col).alias("t_mid")
        )
    else:
        cuts = scored.agg(
            F.expr(f"percentile(mean_logprob, {1.0 - head!r})").alias("t_head"),
            F.expr(f"percentile(mean_logprob, {1.0 - head - middle!r})").alias("t_mid"),
        )
    return scored.crossJoin(F.broadcast(cuts)).selectExpr(
        "doc_id",
        "mean_logprob",
        "CASE WHEN mean_logprob >= t_head THEN 'head' "
        "WHEN mean_logprob >= t_mid THEN 'middle' "
        "ELSE 'tail' END AS bucket",
    )


def perplexity_buckets_duck(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    head: float = 0.3,
    middle: float = 0.3,
    k_smooth: float = 0.5,
) -> str:
    """DuckDB oracle for `perplexity_buckets`: the bigram-LM score CTE plus
    `quantile_cont` cutoffs and the same value-threshold CASE."""
    scores = bigram_logprob_duck(table, text_col, id_col, k_smooth)
    return f"""
    WITH scored AS (SELECT doc_id, mean_logprob FROM ({scores})),
    cuts AS (SELECT quantile_cont(mean_logprob, {1.0 - head!r}) AS t_head,
                    quantile_cont(mean_logprob, {1.0 - head - middle!r}) AS t_mid
             FROM scored)
    SELECT doc_id, mean_logprob,
           CASE WHEN mean_logprob >= t_head THEN 'head'
                WHEN mean_logprob >= t_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored CROSS JOIN cuts
    """


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_len: int = 3,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the top-`k` most
    characteristic terms of each document — the classic summarization /
    routing / weak-labeling primitive next to the corpus-level
    `ngram_topk`.  Output: (doc_id, rank, term, tf, score).

    score = tf · (ln((N+1)/(df+1)) + 1)  — smoothed idf, always positive so
    corpus-universal terms still rank below distinctive ones rather than
    zeroing out.  Terms shorter than `min_len` are dropped (articles and
    punctuation fragments dominate tf otherwise).

    Scale: one explode → (doc, term) hash aggregate (map-side combined),
    term document-frequencies as a model-sized aggregate joined back
    (broadcast when small, AQE otherwise), then a per-document window for
    the top-k — partitioned by doc_id, so no global sort.  Determinism:
    tf/df/N are exact integers; score is one double expression from them,
    identical text in the DuckDB oracle; ties rank by term asc.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    toks = tokens_spark(f"lower({text_col})")
    terms = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.expr(toks)).alias("term"))
        .where(F.length("term") >= min_len)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = df.select(F.countDistinct(id_col).alias("n")).collect()[0][0]
    dfs = terms.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_t"))
    scored = terms.join(dfs, "term").selectExpr(
        "doc_id", "term", "tf",
        f"tf * (ln(({n_docs} + 1.0) / (df_t + 1.0)) + 1.0) AS score",
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "score")
    )


def tfidf_keywords_duck(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_len: int = 3,
) -> str:
    """DuckDB oracle for `tfidf_keywords`: same counts, same smoothed-idf
    double expression, same (score desc, term asc) per-document ranking."""
    from lakehouse_plumber_spark.llm.hashing import tokens_duck

    toks = tokens_duck(f"lower({text_col})")
    return f"""
    WITH terms AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table})
      WHERE length(term) >= {min_len}
      GROUP BY doc_id, term),
    n AS (SELECT CAST(count(DISTINCT {id_col}) AS BIGINT) AS n_docs FROM {table}),
    dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM terms GROUP BY term),
    scored AS (
      SELECT doc_id, term, tf,
             tf * (ln((n.n_docs + 1.0) / (df_t + 1.0)) + 1.0) AS score
      FROM terms JOIN dfs USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
      FROM scored)
    SELECT doc_id, rank, term, tf, score FROM ranked WHERE rank <= {k}
    """


LQF_DIM = 256


def _lqf_weights(dim: int, scale: int = 1_000_000) -> list[int]:
    """Deterministic md5-derived stub weights in integer MILLIONTHS
    (uniform in [-0.5, 0.5]) — the same reproducible-pseudo-model device as
    similarity.hyperplane_weights.  Swap in a trained model's weights
    (times 1e6, rounded) for a real filter; the plan is identical."""
    import hashlib

    return [
        int(hashlib.md5(f"lqf:{j}".encode()).hexdigest()[:15], 16)
        % (scale + 1) - scale // 2
        for j in range(dim)
    ]


def linear_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LQF_DIM,
    weights: list[int] | None = None,
) -> DataFrame:
    """Model-based quality filtering, the fasttext/DCLM classifier shape:
    hashed bag-of-tokens features (token -> md5 bucket in [0, dim)), a
    linear model over the buckets, keep iff the margin is non-negative.
    Output: (doc_id, n_tokens, score_sum, keep).

    The default model is a deterministic md5-derived STUB (the multimodal
    decoder convention: the PLUMBING — feature hashing, broadcast weight
    lookup, per-doc margin — is real and oracle-verified; plug a trained
    model's weights in via `weights`, integer millionths).

    Cross-engine exactness: weights NEVER leave integer space — they are
    integer millionths end-to-end, each token contributes its bucket
    weight once (tf-weighted), and the per-doc dot product is an exact
    BIGINT SUM (order-independent), so both `score_sum` (the raw dot in
    integer millionths) and `keep` (dot >= 0) are exact AND
    rendering-proof (a DECIMAL(18,6) output measured r10 to carry
    trailing-zero renderings that hash differently across engines even
    when numerically identical; integers render identically everywhere).
    No division and no sigmoid in the output: engines' round() and exp()
    differ in the last ulp, and both are monotone in the dot — divide by
    1e6 * n_tokens downstream if a length-normalized margin is wanted.

    Scale: one explode -> (doc, bucket-weight) hash aggregate, map-side
    combined; the dim-entry weight array is a plan literal (no join).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    w = weights if weights is not None else _lqf_weights(dim)
    if len(w) != dim:
        raise ValueError(f"weights must have dim={dim} entries, got {len(w)}")
    arr = "array(" + ", ".join(f"CAST({v} AS BIGINT)" for v in w) + ")"
    toks = tokens_spark(f"lower(coalesce({text_col}, ''))")
    from lakehouse_plumber_spark.llm.hashing import md5int_spark

    bucket = f"pmod({md5int_spark('t')}, {dim})"
    exploded = df.selectExpr(
        f"{id_col} AS doc_id", f"explode({toks}) AS t"
    ).selectExpr("doc_id", f"element_at({arr}, CAST({bucket} AS INT) + 1) AS w")
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("__dot"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "__dot AS score_sum",
            "__dot >= 0 AS keep",
        )
    )


def linear_quality_filter_duck(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LQF_DIM,
    weights: list[int] | None = None,
) -> str:
    """DuckDB oracle for `linear_quality_filter`: same md5 buckets, same
    integer-millionth BIGINT weight literals, same exact integer sum and
    threshold (integers render identically on every engine's hash path)."""
    from lakehouse_plumber_spark.llm.hashing import md5int_duck, tokens_duck

    w = weights if weights is not None else _lqf_weights(dim)
    arr = "[" + ", ".join(f"{v}::BIGINT" for v in w) + "]"
    toks = tokens_duck(f"lower(coalesce({text_col}, ''))")
    bucket = f"(({md5int_duck('t')}) % {dim})"
    return f"""
    WITH tok AS (SELECT {id_col} AS doc_id, unnest({toks}) AS t FROM {table}),
    wtd AS (SELECT doc_id, ({arr})[CAST({bucket} AS INT) + 1] AS w FROM tok),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(w) AS BIGINT) AS dot
            FROM wtd GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           dot AS score_sum,
           dot >= 0 AS keep
    FROM agg
    """
