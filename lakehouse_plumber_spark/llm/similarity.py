"""Similarity search over embedding columns: brute-force cosine top-k baseline
plus a hyperplane-LSH bucketed variant as the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from lakehouse_plumber_spark.materialize import materialize_once, materialize_pinned

from lakehouse_plumber_spark.llm.hashing import md5int_spark


def _input_is_bare_scan(df: DataFrame) -> bool:
    """True when re-executing `df`'s plan costs one storage scan (see
    dedup._plan_is_bare_scan) — the gate for Lloyd-loop base
    materialization: only computed inputs pay their plan per round."""
    from lakehouse_plumber_spark.llm.dedup import _plan_is_bare_scan

    return _plan_is_bare_scan(df)

NUM_HYPERPLANES = 8


def cosine_expr(a: str, b: str) -> str:
    """Sequential-fold cosine of two array<double> columns — deterministic
    (left-to-right) so the DuckDB oracle computes the identical double."""
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    na = f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"
    nb = f"sqrt(aggregate({b}, 0D, (acc, x) -> acc + x * x))"
    return f"({dot}) / (({na}) * ({nb}))"


def knn_bruteforce(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for the given query ids.

    Plan: broadcast the (tiny) query side against the full collection, window
    top-k per query. O(|Q| x N) — with Q small this is one scan, and the
    broadcast avoids shuffling the big side entirely; at 100 TB this is the
    right plan whenever Q fits in memory.
    """
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    base = spread_for_compute(df, [id_col, vec_col]).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(cosine_expr("qv", "v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def hyperplane_weights(planes: int, dim: int) -> list[list[float]]:
    """Plane p's weight for dimension i: +1/-1 from md5("p:i") — reproducible
    in any engine (the DuckDB oracle derives the identical weights), no stored
    model."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1.0
            for i in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_bucket_expr(vec_col: str, planes: int = NUM_HYPERPLANES, dim: int = 64) -> str:
    """Deterministic random-hyperplane LSH bucket id; bit_p = sign(dot).

    Weights are row-independent, so they are precomputed in Python and
    emitted as literal arrays — the per-row work is `dim` multiply-adds per
    plane, with no per-row hashing.
    """
    bits = []
    for p, w in enumerate(hyperplane_weights(planes, dim)):
        arr = "array(" + ", ".join(f"{x:.1f}D" for x in w) + ")"
        dot = f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        bits.append(f"CASE WHEN ({dot}) > 0 THEN shiftleft(1L, {p}) ELSE 0L END")
    return " + ".join(bits)


def with_hyperplane_sig(
    df: DataFrame, v_col: str, planes: int, dim: int, out_col: str
) -> DataFrame:
    """Attach the packed hyperplane-sign signature as `out_col` WITHOUT
    inlining the planes*dim weight literals into the expression tree.

    Bit-identical to `F.expr(hyperplane_bucket_expr(v_col, planes, dim))`
    — same md5-derived weights, same left-to-right dot-product fold, same
    sign rule, same bit order — but the weights enter the plan as ONE
    broadcast single-row relation (array<array<double>>) cross-joined onto
    the input, and the signature folds over that COLUMN with two nested
    higher-order functions.  Catalyst then analyzes a ~10-node expression
    instead of a planes*dim-literal tree: at the corpus-scaled geometry
    (4 bands x 14 rows = 56 planes x 64 dims = 3.5k literals) the literal
    form cost driver-side MINUTES of plan analysis per call on complex
    input plans (measured r12: 171 s/call at factor 100,
    scripts_scale_emb_lsh.py; r13 before/after in BASELINE.md).  The
    1-row broadcast join is a constant-cost BroadcastNestedLoopJoin.
    `hyperplane_bucket_expr` remains for small-plane callers (knn_lsh at 8
    planes) and as the cross-engine oracle's reference formulation.

    All lambda variables in the generated SQL carry the `__lhp_` prefix so
    a caller's `v_col` can never be shadowed inside the nested lambdas
    (r14, ADVICE r13: a `v_col` named `w` or `p` would have silently bound
    to the lambda variable and produced a garbage signature); `out_col`
    overwriting an existing column raises for the same
    silent-clobber reason."""
    if "__lhp_hw" in df.columns:
        raise ValueError(
            "with_hyperplane_sig: input already carries the reserved "
            "weights column '__lhp_hw'"
        )
    if v_col.startswith("__lhp_"):
        raise ValueError(
            f"with_hyperplane_sig: v_col {v_col!r} collides with the "
            "reserved '__lhp_' lambda-variable namespace"
        )
    if out_col in df.columns:
        raise ValueError(
            f"with_hyperplane_sig: out_col {out_col!r} already exists on "
            "the input — it would be silently replaced"
        )
    spark = df.sparkSession
    w = hyperplane_weights(planes, dim)
    wdf = spark.createDataFrame([(w,)], "__lhp_hw array<array<double>>")
    dot = (
        f"aggregate(zip_with({v_col}, __lhp_w, "
        "(__lhp_x, __lhp_y) -> __lhp_x * __lhp_y), 0D, "
        "(__lhp_a, __lhp_z) -> __lhp_a + __lhp_z)"
    )
    sig = (
        f"aggregate(zip_with(__lhp_hw, sequence(0, {planes - 1}), "
        f"(__lhp_w, __lhp_p) -> CASE WHEN ({dot}) > 0 "
        "THEN shiftleft(1L, __lhp_p) ELSE 0L END), "
        "0L, (__lhp_acc, __lhp_b) -> __lhp_acc + __lhp_b)"
    )
    return (
        df.crossJoin(F.broadcast(wdf))
        .withColumn(out_col, F.expr(sig))
        .drop("__lhp_hw")
    )


def knn_lsh(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = NUM_HYPERPLANES,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket(s).

    Scale path: bucket id is a grouping key — candidate generation is an
    equi-join on bucket, shuffling each side once by bucket instead of
    broadcasting/scanning all pairs. `multi_probe` is the recall knob: it
    additionally probes every bucket within that Hamming distance of the
    query's (flipping the least-confident hyperplane bits first is the
    classic refinement; this probes all of them). Probing expands only the
    tiny QUERY side — multi_probe=1 makes it |Q| x (planes+1) rows — while
    the collection side still shuffles exactly once by bucket, so recall is
    bought without touching the big side's plan.
    """
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    base = spread_for_compute(df, [id_col, vec_col]).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    probe = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if probe is None:
        raise ValueError("knn_lsh: collection has no non-null vectors")
    dim = len(probe[0])
    base = base.withColumn("bucket", F.expr(hyperplane_bucket_expr("v", planes, dim)))
    q = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("bucket")
    )
    if multi_probe > 0:
        # all bit-flip masks with popcount <= multi_probe, precomputed in
        # Python (planes is small) and exploded on the query side only
        masks = [m for m in range(1 << planes) if bin(m).count("1") <= multi_probe]
        q = q.withColumn(
            "bucket",
            F.explode(F.expr(
                "transform(array(" + ", ".join(f"{m}L" for m in masks) + "), "
                "m -> cast(bucket ^ m as bigint))"
            )),
        )
    scored = (
        base.join(q, on="bucket")
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(cosine_expr("qv", "v")), 6))
    )
    if multi_probe > 0:
        # a candidate can surface through several probed buckets: dedup before
        # ranking so rank positions are unique per (query, neighbor)
        scored = scored.dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def _centroid_struct_array(cents: list[tuple[int, list[float]]]) -> str:
    """The centroid set as an array<struct<cid,cv>> LITERAL (repr round-trips
    doubles exactly, so collected centroids re-enter the plan bit-identical)."""
    return "array(" + ", ".join(
        "named_struct('cid', {c}L, 'cv', array({vs}))".format(
            c=cid, vs=", ".join(f"{x!r}D" for x in cv)
        )
        for cid, cv in cents
    ) + ")"


def centroid_distances_expr(cents: list[tuple[int, list[float]]], v_col: str) -> str:
    """Per-centroid squared distances of one vector column, as
    array<struct<d,cid>> — the shared kernel of argmin assignment and
    nearest-list probing. Struct comparison orders by d then cid, i.e.
    exactly the ORDER BY d, cid tie-break of the window formulation."""
    dist = (
        f"aggregate(zip_with({v_col}, c.cv, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, x) -> acc + x)"
    )
    return (
        f"transform({_centroid_struct_array(cents)}, "
        f"c -> named_struct('d', {dist}, 'cid', c.cid))"
    )


def centroid_argmin_expr(cents: list[tuple[int, list[float]]], v_col: str = "v") -> str:
    """Nearest-centroid id in ONE narrow projection: no explode, no window,
    no exchange (VERDICT r4 item 5 — replaces crossJoin+row_number argmin,
    which shuffled an N x n_centroids expansion per Lloyd round)."""
    return f"array_min({centroid_distances_expr(cents, v_col)}).cid"


def _collect_centroids(df) -> list[tuple[int, list[float]]]:
    """Bounded collect (n_centroids rows) of (id, vector) rows, sorted by id
    for stable expr text. Positional: callers select (id, vector) in order."""
    return sorted((r[0], list(r[1])) for r in df.collect())


def ivf_build_and_search(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 3,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer, probe the n_probe nearest lists.

    Centroids are trained with a few Lloyd iterations (deterministic init:
    lowest ids). The centroid set is tiny, so it is carried as a LITERAL in
    the plan: assignment is a narrow argmin projection (no join, no window —
    each Lloyd round is one map + one groupBy(cid) partial agg), and the big
    side shuffles once on assigned list id at build time, exactly how a
    production IVF index partitions a 100 TB corpus.
    """
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    cents = _collect_centroids(
        base.orderBy(id_col).limit(n_centroids).select(id_col, "v")
    )
    # spread the argmin inputs (r15): every Lloyd round and the final
    # assignment run the n_centroids*dim distance fold per row; a
    # single-row-group input serializes that onto one core (no-op when
    # the input is already split — the 100 TB case)
    spread = spread_for_compute(base)
    # transformed inputs ONLY: materialize the spread base so the Lloyd
    # rounds + final assignment read blocks instead of re-running the
    # producing plan each round (VERDICT r14 item #5 retest: bare parquet
    # scan re-reads are page-cache-neutral — cold-cache A/B 0.975, warm
    # 1.06 — but a computed input pays its plan per round: 0.85 on a
    # 10x-union view).  Same gating machinery as embedding_near_dup_lsh.
    if not _input_is_bare_scan(df):
        from lakehouse_plumber_spark.materialize import materialize_once

        spread = materialize_once(spread)
    dim = len(cents[0][1]) if cents else 0
    for _ in range(max_iter):
        asg = spread.select(
            F.expr(centroid_argmin_expr(cents)).alias("cid"), "v"
        )
        cents = _collect_centroids(
            asg.groupBy("cid").agg(
                F.array(*[F.avg(F.col("v")[i]) for i in range(dim)]).alias("cv")
            )
        )
    assigned = spread.select(
        id_col, "v", F.expr(centroid_argmin_expr(cents)).alias("list_id")
    )
    probes = (
        base.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"))
        .withColumn(
            "p",
            F.explode(F.expr(
                f"slice(array_sort({centroid_distances_expr(cents, 'qv')}), 1, {n_probe})"
            )),
        )
        .select("query_id", "qv", F.col("p.cid").alias("list_id"))
    )
    scored = (
        assigned.join(F.broadcast(probes), on="list_id")
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(cosine_expr("qv", "v")), 6))
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def ivfpq_search(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    m_subvectors: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine: int = 0,
) -> DataFrame:
    """IVF-PQ: coarse inverted lists + product-quantized codes with ADC
    scoring (Jégou et al. 2011) — the memory-compression rung of the ANN
    ladder above int8: each vector stores `m_subvectors` small codes
    (8 bytes here vs 512 for the float64 pipeline, a 64x reduction), so at
    100 TB the candidate scan reads codes only and never touches the raw
    vectors.

    `refine > 0` adds the standard exact re-ranking stage (IVFADC+R, Jégou
    et al. 2011 §V): the ADC scan shortlists `refine*k` candidates per
    query, whose RAW vectors are then fetched (broadcast-join of the tiny
    shortlist against the collection — one pruned scan of the vector column
    for shortlist rows only) and re-ranked by exact distance.  Recall
    approaches the IVF rung's at the cost of `refine*k*|Q|` full-vector
    reads; the code scan itself still never touches raw vectors.

    Deterministic quantizers (lowest-id seeds for both the coarse lists and
    every per-subspace codebook) keep the whole pipeline single-pass and
    cross-engine reproducible — the trained-quantizer variant is
    ivf_build_and_search's Lloyd loop, unchanged here by design.

    Plan/scale: encoding is ONE narrow projection over codebook literals
    (no join, no exchange — same argmin-fold shape as centroid_argmin_expr);
    the query side is driver-bounded (|Q| rows): probe selection and the
    per-query ADC distance tables are computed in Python from the collected
    query vectors and broadcast as a tiny (query, probed-list, tables)
    frame; scoring a candidate is `m_subvectors` array LOOKUPS — that is
    the asymmetric-distance trick — followed by one top-k window per query.
    Collection-side work: one scan + one bucket equi-join, nothing else.

    Returns (query_id, neighbor_id, rank, adc_dist): rank ascending by
    quantized L2 distance, ties to the lower id.
    """
    if refine < 0:
        raise ValueError(f"refine must be >= 0, got {refine}")
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    if "__lhp_isq" in base.columns:
        raise ValueError(
            f"ivfpq_search: id column {id_col!r} collides with the reserved "
            "'__lhp_isq' marker column"
        )
    n_seeds = max(n_centroids, n_codes)
    # Seed rows and query vectors come back in ONE driver job: the
    # lowest-id seed side (a per-partition top-n + driver merge) and the
    # query-filter side are unioned with a marker column and collected
    # together.  Previously two separate .collect()s each paid a scan plus
    # a driver job dispatch for |seeds|+|Q| metadata-sized rows; a row that
    # is both seed and query surfaces once per side, exactly as the two
    # collects returned it.
    marked = (
        base.orderBy(id_col).limit(n_seeds)
        .withColumn("__lhp_isq", F.lit(False))
        .unionByName(
            base.where(F.col(id_col).isin(query_ids))
            .withColumn("__lhp_isq", F.lit(True))
        )
    )
    seeds, q_rows = [], {}
    # named access (r15, ADVICE r14): positional r[0]/r[1]/r[2] was
    # implicitly coupled to base's column order surviving the unionByName —
    # a future reorder or extra projected column would silently swap seed
    # and query rows
    for r in marked.collect():
        if r["__lhp_isq"]:
            q_rows[r[id_col]] = list(r["v"])
        else:
            seeds.append((r[id_col], list(r["v"])))
    seeds.sort()
    if len(seeds) < n_seeds:
        raise ValueError(
            f"ivfpq_search needs at least max(n_centroids, n_codes)={n_seeds} "
            f"vectors to seed its quantizers; the table has {len(seeds)} — "
            "lower n_centroids/n_codes for tiny collections"
        )
    dim = len(seeds[0][1])
    if dim % m_subvectors:
        raise ValueError(f"dim {dim} not divisible by m_subvectors {m_subvectors}")
    d = dim // m_subvectors
    cents = seeds[:n_centroids]

    # per-subspace codebooks: entry j of book m is the m-th subvector of the
    # j-th lowest-id seed; codes are POSITIONS (0..n_codes-1), not ids
    books = [
        [(j, seeds[j][1][m * d:(m + 1) * d]) for j in range(n_codes)]
        for m in range(m_subvectors)
    ]
    code_exprs = [
        "array_min(" + centroid_distances_expr(books[m], f"slice(v, {m * d + 1}, {d})") + ").cid"
        for m in range(m_subvectors)
    ]
    # spread the ENCODE input (r15): the coarse argmin + m_subvectors code
    # argmins are the most expensive per-row expression in this family
    # (~n_centroids*dim + m*n_codes*d multiply-adds/row through interpreted
    # higher-order functions), and a small single-row-group parquet arrives
    # as ONE scan partition — serializing the whole encode onto one core.
    # Round-robin spread is a no-op when the input is already split (the
    # 100 TB case).  Interleaved A/B at sf0.1 (OPTIMIZATION_r15.md, change
    # #1): 0.76x end-to-end, outputs bit-identical.
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    encoded = spread_for_compute(base).select(
        id_col,
        F.expr(centroid_argmin_expr(cents)).alias("list_id"),
        F.expr("array(" + ", ".join(code_exprs) + ")").alias("codes"),
    )

    def _sqdist(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):  # sequential fold, matching the SQL engines
            acc += (x - y) * (x - y)
        return acc

    missing = sorted(set(query_ids) - set(q_rows))
    if missing:
        # same contract as ivf_index_search: an unknown id must not just
        # vanish from the output — the caller could not tell it from a
        # query with no neighbors
        raise KeyError(f"ivfpq_search: query ids not in collection: {missing}")
    probe_rows = []
    for qid in sorted(q_rows):
        qv = q_rows[qid]
        nearest = sorted((_sqdist(qv, cv), cid) for cid, cv in cents)[:n_probe]
        tables = [
            [_sqdist(qv[m * d:(m + 1) * d], bv) for _, bv in books[m]]
            for m in range(m_subvectors)
        ]
        for _, cid in nearest:
            probe_rows.append((qid, cid, tables))
    probes = df.sparkSession.createDataFrame(
        probe_rows, "query_id long, list_id long, tabs array<array<double>>"
    )
    adc = (
        "aggregate(zip_with(codes, tabs, (c, t) -> element_at(t, cast(c + 1 as int))), "
        "0D, (acc, x) -> acc + x)"
    )
    scored = (
        encoded.join(F.broadcast(probes), on="list_id")
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn("adc", F.expr(adc))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col(id_col))
    if not refine:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id",
                F.col(id_col).alias("neighbor_id"),
                "rank",
                F.round("adc", 6).alias("adc_dist"),
            )
        )
    shortlist = (
        scored.withColumn("__r0", F.row_number().over(w))
        .where(F.col("__r0") <= refine * k)
        .select("query_id", id_col)
    )
    qv_df = df.sparkSession.createDataFrame(
        [(qid, q_rows[qid]) for qid in sorted(q_rows)],
        "query_id long, qv array<double>",
    )
    exact_d = (
        "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, x) -> acc + x)"
    )
    refined = (
        base.join(F.broadcast(shortlist), on=id_col)
        .join(F.broadcast(qv_df), on="query_id")
        .withColumn("dist", F.expr(exact_d))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col(id_col))
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "rank",
            F.round("dist", 6).alias("adc_dist"),
        )
    )


INT8_LEVELS = 127


def int8_codes_spark(vec_col: str) -> str:
    """Symmetric per-vector int8 scalar quantization: code_i = rhu(x_i / s),
    s = max|x| / 127 (rhu = round-half-up via floor(x+0.5), which evaluates
    bit-identically in Spark and DuckDB — their round() builtins do not).

    4x memory/bandwidth vs float32 (16x vs the double pipeline) with ~1e-2
    cosine error at dim 64 — the standard first rung of ANN compression; at
    100 TB the collection scan becomes byte-sized and cache-resident.
    """
    from lakehouse_plumber_spark.llm.hashing import let_spark

    v = f"cast({vec_col} as array<double>)"
    mx = f"aggregate({v}, 0D, (acc, x) -> greatest(acc, abs(x)))"
    return let_spark(
        f"greatest({mx}, 1e-30) / {INT8_LEVELS}",
        "s",
        f"transform({v}, x -> cast(floor(x / s + 0.5) as bigint))",
    )


def knn_int8(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine over int8 codes.

    The per-vector scales cancel in cosine(a, b) = dot(qa, qb) /
    (|qa| * |qb|), so scoring is INTEGER dot products and square-sums —
    exact under any evaluation order (no float-fold nondeterminism) and
    cross-engine reproducible; floats appear only in the final division.
    Same broadcast + window-top-k plan as the float brute force.
    """
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    base = spread_for_compute(df, [id_col, vec_col]).select(
        F.col(id_col), F.expr(int8_codes_spark(vec_col)).alias("q")
    )
    qs = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )
    dot = "aggregate(zip_with(qq, q, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
    nrm = lambda c: f"sqrt(cast(aggregate({c}, 0L, (acc, x) -> acc + x * x) as double))"  # noqa: E731
    scored = base.join(F.broadcast(qs), F.col(id_col) != F.col("query_id")).withColumn(
        "cosine_q",
        F.round(F.expr(f"({dot}) / ({nrm('qq')} * {nrm('q')})"), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_q").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine_q")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then retire any
    document with a lower-id near-duplicate (cosine >= threshold) inside its
    cluster — semantic dedup without an all-pairs scan.

    Quantizer: deterministic lowest-id centroids (the trained-quantizer
    variant is ivf_build_and_search; determinism here keeps the whole
    operator single-pass SQL so the DuckDB oracle replicates it exactly).

    Scale plan: centroid set broadcasts; assignment is one narrow argmin
    projection; candidate pairs come from a per-cluster self-join — shuffle
    keyed on list_id — so pair cost is sum of cluster sizes squared, not
    corpus squared (pick n_centroids ~ sqrt(N/target_cluster) at scale).
    Returns (vec_id, list_id, retired).
    """
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    cents = _collect_centroids(
        base.orderBy(id_col).limit(n_centroids).select(id_col, "v")
    )
    # materialize the assignment ONCE (r14): both self-join sides and the
    # final retired-flag join consume `assigned`, and without this each of
    # the three re-ran the n_centroids-way argmin distance fold over every
    # vector (plus the vector scan) from scratch.  Interleaved A/B at
    # sf0.1: 0.74x, output row-identical.  The argmin input is SPREAD
    # (r15): a single-row-group input otherwise runs the n_centroids*dim
    # distance fold serially on one core (A/B 0.49x at sf0.1; no-op when
    # the input is already split).
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    assigned = spread_for_compute(base).select(
        id_col, "v", F.expr(centroid_argmin_expr(cents)).alias("list_id")
    ).transform(materialize_once)
    a = assigned.alias("a")
    b = assigned.alias("b")
    dup_pairs = (
        a.join(b, on="list_id")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn(
            "cosine",
            F.round(F.expr(cosine_expr("a.v", "b.v")), 6),
        )
        .where(F.col("cosine") >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__retired", F.lit(True))
    )
    return (
        assigned.join(dup_pairs, id_col, "left")
        .select(
            id_col,
            # bigint, not int: list ids are SEED VECTOR IDS (lowest-id
            # init), so snowflake-style 64-bit ids would overflow an int
            # cast — CAST_OVERFLOW under ANSI, silent wraparound without
            F.col("list_id").cast("bigint").alias("list_id"),
            F.coalesce("__retired", F.lit(False)).alias("retired"),
        )
    )


def knn_filtered(
    df: DataFrame,
    query_ids: list[int],
    predicate: str,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """FILTERED vector search — the metadata-predicate ANN every vector
    store advertises ("nearest neighbors WHERE label = 1"): candidates are
    restricted to `predicate` BEFORE scoring (pre-filtering, the
    exact-recall strategy; post-filtering an ANN shortlist silently
    returns < k when the predicate is selective).  Queries are looked up
    by id in the UNFILTERED table, so a query vector need not satisfy its
    own predicate.

    Scale: the predicate lands on the candidate scan (plain pushdown —
    work ∝ matching rows), then the usual broadcast-query scoring and a
    per-query top-k window.  For the ANN ladder, compose the same way:
    filter the IVF/LSH candidate set by the predicate before the distance
    pass."""
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    if not query_ids:
        raise ValueError("knn_filtered needs at least one query id")
    base = spread_for_compute(df, [id_col, vec_col]).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    cand = spread_for_compute(df.where(predicate), [id_col, vec_col]).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    scored = (
        cand.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(cosine_expr("qv", "v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def ivf_index_build(
    df: DataFrame,
    store,
    index_table: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 3,
) -> list[tuple[int, list[float]]]:
    """Build a PERSISTED IVF index — the production vector-store shape the
    one-shot `ivf_build_and_search` trains per call: Lloyd-iterated
    centroids (deterministic lowest-id init), every vector assigned to its
    list by a narrow argmin projection (centroids are a plan literal — no
    join), `(list_id, id, v)` written to `index_table` and the centroids to
    `<index_table>__centroids`.

    Scale: the corpus shuffles ONCE on list_id at build time (exactly how
    a production IVF index partitions a 100 TB corpus); after that,
    arrivals append (`ivf_index_append`) and queries prune to probed lists
    (`ivf_index_search`) without ever rescanning or re-shuffling history.
    Returns the centroids (n_centroids driver-bounded rows).

    Holds the same `store.writer_lock(index_table)` as `ivf_index_append`
    for the whole train+overwrite sequence (r14): a rebuild racing a
    concurrent append would otherwise overwrite the table AFTER the
    append committed — silently dropping the appended batch from the
    index — so the appender refuses loudly instead."""
    import contextlib

    lock = (
        store.writer_lock(index_table, owner="ivf_index_build")
        if hasattr(store, "writer_lock")
        else contextlib.nullcontext()
    )
    with lock:
        return _ivf_index_build_unlocked(
            df, store, index_table, n_centroids, vec_col, id_col, max_iter
        )


def _ivf_rebuild_flag(store, index_table: str, value) -> None:
    if getattr(store, "set_meta", None) is not None:
        store.set_meta(index_table, "rebuilding", value)


def ivf_check_not_mid_rebuild(store, index_table: str) -> None:
    """Refuse to use an index whose rebuild crashed between its two table
    writes.  `ivf_index_build` writes the assignments and the centroids as
    two separate overwrites; a crash in between leaves rows partitioned by
    NEW centroids while `__centroids` still holds the OLD ones — searches
    would probe the wrong lists and appends would assign against stale
    geometry, both silently.  The build brackets the writes with a
    `rebuilding` meta flag (set before the first overwrite, cleared after
    the last), so the torn state is detectable; recovery is simply
    re-running `ivf_index_build` (it regenerates both tables in full)."""
    if getattr(store, "get_meta", None) is not None and store.get_meta(
        index_table, "rebuilding"
    ):
        raise RuntimeError(
            f"ivf index {index_table!r}: a rebuild crashed between its "
            "assignment and centroids writes — the two tables may disagree "
            "on the centroid set. Re-run ivf_index_build to regenerate "
            "both."
        )


def _ivf_index_build_unlocked(
    df: DataFrame,
    store,
    index_table: str,
    n_centroids: int,
    vec_col: str,
    id_col: str,
    max_iter: int,
) -> list[tuple[int, list[float]]]:
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    cents = _collect_centroids(base.orderBy("id").limit(n_centroids).select("id", "v"))
    if not cents:
        # fail BEFORE the Lloyd loop: an empty corpus would otherwise
        # surface as an opaque Catalyst type error (dim=0 makes the
        # assignment's array() literal default to array<string>)
        raise ValueError(
            f"ivf_index_build: corpus is empty — an IVF index needs at "
            f"least one vector (building {index_table!r})"
        )
    dim = len(cents[0][1])
    # spread the argmin inputs (r15): same serial-scan fix as
    # ivf_build_and_search — no-op when the input is already split; same
    # transformed-input materialization gate too (see there for the
    # cold/warm/10x A/B numbers)
    spread = spread_for_compute(base)
    if not _input_is_bare_scan(df):
        from lakehouse_plumber_spark.materialize import materialize_once

        spread = materialize_once(spread)
    for _ in range(max_iter):
        asg = spread.select(F.expr(centroid_argmin_expr(cents)).alias("cid"), "v")
        cents = _collect_centroids(
            asg.groupBy("cid").agg(
                F.array(*[F.avg(F.col("v")[i]) for i in range(dim)]).alias("cv")
            )
        )
    # the two overwrites cannot be atomic together on plain parquet, so
    # bracket them with a meta flag: a crash in between leaves the flag
    # set and ivf_check_not_mid_rebuild refuses the torn index loudly
    # instead of searching stale centroids against new assignments
    _ivf_rebuild_flag(store, index_table, True)
    store.overwrite(
        index_table,
        spread.select(F.expr(centroid_argmin_expr(cents)).alias("list_id"), "id", "v"),
    )
    spark = df.sparkSession
    store.overwrite(
        f"{index_table}__centroids",
        spark.createDataFrame(
            # cid long: centroid labels are seed vector ids — an int
            # schema fails createDataFrame outright for 64-bit id spaces
            [(cid, cv) for cid, cv in cents], "cid long, cv array<double>"
        ),
    )
    _ivf_rebuild_flag(store, index_table, False)
    return cents


def _load_centroids(store, index_table: str) -> list[tuple[int, list[float]]]:
    return _collect_centroids(
        store.read(f"{index_table}__centroids").select("cid", "cv")
    )


def ivf_index_append(
    batch: DataFrame,
    store,
    index_table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    retry: bool = False,
) -> None:
    """Assign an ARRIVING batch to the index's FROZEN centroids and append —
    the production loop (centroids retrain rarely; arrivals are a narrow
    argmin projection + append, work ∝ batch).  List sizes drift as the
    distribution shifts; rebuild with `ivf_index_build` when recall or
    balance degrades.

    Failure/retry contract (r12, mirrors `incremental_dedup_batch`): a
    crash can leave NO rows, ALL rows, or — if it lands inside job commit —
    a partial subset of the batch's files in the index (the default file
    committer is not atomic across a job's files; DeltaTableStore makes
    each append a real transaction).  Re-running with `retry=True` is
    idempotent against every such state: ids already in the index are
    per-id anti-joined out before the append, so a fully-committed prior
    attempt appends nothing, a partial one appends exactly the missing
    ids, and a not-committed one appends the whole batch.  A plain re-run
    (retry=False) after a committed attempt would double the batch's rows,
    which changes search output (duplicate neighbors occupy extra top-k
    ranks).  The retry probe is PRUNED (r13, VERDICT r12 item #3): the
    crashed attempt assigned against the same frozen centroids, so its
    rows carry this batch's own list ids — the probe filters the index
    scan to those lists (<= n_centroids ints collected driver-side; a
    pushed-down `list_id IN` scan filter, see `_ivf_committed_ids`)
    instead of reading the whole index.  The normal path never reads
    history.

    CONCURRENT WRITERS REFUSE (r14, VERDICT r13 item #4, mirrors
    `incremental_dedup_batch`): the assign+append runs under
    `store.writer_lock(index_table)` — a second concurrent appender
    raises `ConcurrentWriterError` rather than risking two Spark write
    jobs sharing the table's `_temporary` staging dir (the default file
    committer can clobber the other job's in-flight task files) and
    interleaving with a concurrent retry probe.  Stale locks from a
    crashed same-host writer are stolen automatically; see
    `ParquetTableStore.writer_lock`."""
    import contextlib

    lock = (
        store.writer_lock(index_table, owner="ivf_index_append")
        if hasattr(store, "writer_lock")
        else contextlib.nullcontext()
    )
    with lock:
        _ivf_index_append_unlocked(batch, store, index_table, vec_col, id_col, retry)


def _ivf_index_append_unlocked(
    batch: DataFrame, store, index_table: str, vec_col: str, id_col: str,
    retry: bool,
) -> None:
    ivf_check_not_mid_rebuild(store, index_table)
    cents = _load_centroids(store, index_table)
    from lakehouse_plumber_spark.llm.dedup import spread_for_compute

    base = batch.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    assigned = spread_for_compute(base).select(
        F.expr(centroid_argmin_expr(cents)).alias("list_id"), "id", "v"
    )
    if retry:
        # driver-bounded: at most n_centroids ints
        lists = [r[0] for r in assigned.select("list_id").distinct().collect()]
        assigned = assigned.join(
            _ivf_committed_ids(store, index_table, lists), "id", "left_anti"
        ).select("list_id", "id", "v")
        # pin before the append mutates the table the mask's lineage reads
        assigned = assigned.transform(materialize_pinned)
    store.append(index_table, assigned)


def _ivf_committed_ids(store, index_table: str, list_ids: list[int]) -> DataFrame:
    """Ids already committed to the index within the given lists — the
    retry-probe read of `ivf_index_append`.  The `list_id IN` predicate is
    pushed into the parquet scan (row-group pruning; partition pruning when
    the table is stored partitioned by list_id), so the probe's cost is the
    probed lists, never the corpus.  Plan-pinned in test_plan_quality.py."""
    return (
        store.read(index_table)
        .where(F.col("list_id").isin(list_ids))
        .select("id")
    )


def ivf_index_search(
    store,
    index_table: str,
    query_ids: list[int],
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k cosine search against the persisted IVF index: look the query
    vectors up in the index, explode each to its n_probe nearest lists,
    and scan ONLY those lists — the list_id equality predicate prunes the
    index scan (partition pruning when the table is partitioned by
    list_id), so work ∝ probed-list rows, never the corpus.  With
    n_probe = n_centroids the scan is exhaustive and results equal brute
    force exactly (the registry oracle); production trades n_probe for
    recall.

    Query-id contract (r12, ADVICE r11): every requested id must resolve
    in the index — an unknown id raises KeyError naming it (it previously
    vanished from the output silently, inconsistent with the empty-list
    ValueError).  Duplicate ids in the request are deduplicated (the
    output carries one top-k block per distinct query_id)."""
    if not query_ids:
        raise ValueError("ivf_index_search needs at least one query id")
    ivf_check_not_mid_rebuild(store, index_table)
    cents = _load_centroids(store, index_table)
    index = store.read(index_table)
    # driver-bounded resolution check: at most |query_ids| rows collected
    resolved = {
        r[0] for r in
        index.where(F.col("id").isin(query_ids)).select("id").distinct().collect()
    }
    missing = sorted(set(query_ids) - resolved)
    if missing:
        raise KeyError(
            f"ivf_index_search: query ids not in index {index_table!r}: "
            f"{missing}"
        )
    probes = (
        index.where(F.col("id").isin(query_ids))
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn(
            "p",
            F.explode(F.expr(
                f"slice(array_sort({centroid_distances_expr(cents, 'qv')}), 1, {n_probe})"
            )),
        )
        .select("query_id", "qv", F.col("p.cid").alias("list_id"))
    )
    scored = (
        index.join(F.broadcast(probes), on="list_id")
        .where(F.col("id") != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(cosine_expr("qv", "v")), 6))
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank", "cosine")
    )
