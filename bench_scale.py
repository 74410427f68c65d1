"""Scale-up smoke bench: the same headline operators at 1x and 10x sf0.1.

The correctness gate runs at small SF; this script is the evidence that the
plans survive a scale-up — each operator is timed on the sf0.1 tables and on
a synthesized 10x copy (facts unioned with shifted keys, dimensions fixed —
the realistic growth shape), and the ratio is reported. A healthy
shuffle-bounded operator lands near (or below, amortizing fixed costs) 10x;
a quadratic or driver-bound one blows past it.

Prints ONE JSON line:
  {"metric": "scaleup_10x_ratio", "value": <median ratio>,
   "queries": {name: {"t1": s, "t10": s, "ratio": r}}, "sf": 0.1}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

FACTOR = int(os.environ.get("LHP_SCALE_FACTOR", "10"))

# join/agg, heavy-group agg, multi-join profit, sessionization windows,
# hash dedup, LSH near-dup, repetition metrics, split assignment
NAMES = [
    "q3_shipping_priority",
    "q18_large_volume_customer",
    "q9_product_profit",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_span_removal",
    "dedup_edit_distance",
    "text_repetition",
    "text_corpus_stats",
    "sample_hash_split",
    "sample_mixture",
    "knn_ivfpq",
    "text_gopher_rules",
    "sample_sequence_pack",
    "text_c4_rules",
    "text_url_filter",
    "dedup_lines",
    "sketch_kmv_distinct",
    "doc_chunk_fixed",
    "search_bm25",
    "sample_weighted_poisson",
    "features_rolling_spend",
    "events_peak_concurrency",
    "events_hourly_anomaly",
    "text_bigram_logprob",
    # r8 additions: the round's prefix promotions + the postings BM25 plan,
    # so one consolidated table covers the 136-entry-era operator set
    "events_transition_matrix",
    "events_value_histogram",
    "layout_zorder_key",
    "pipe_table_stats",
    "search_bm25_wide",
    "text_perplexity_buckets",
    "text_tfidf_keywords",
    "dedup_survivors",
    "dedup_bloom_decontaminate",
    "sketch_cms_heavy_hitters",
    # r9 additions: HLL registers, KMV quantile sample, the YAML Morton MV
    # write path, and the declarative BM25 row. dedup_embedding_lsh is NOT
    # here: the 10x harness grows embeddings as identical copies (the shape
    # knn candidate scans need), which turns every vector into a 10-way
    # duplicate clique — quadratic candidate growth by construction, the
    # exact case max_bucket_size documents. Its scale check runs separately
    # on copies perturbed below threshold (see BASELINE.md r9 notes).
    "sketch_hll_distinct",
    "sketch_kmv_quantiles",
    "pipe_zorder_mv",
    "pipe_bm25_yaml",
    "sketch_kmv_overlap",
    "doc_chunk_sentences",
    "search_rrf_fusion",
    "sample_temperature",
    "join_bloom_filtered",
    # pipe_stream_sketch is NOT here: its cloudfiles load reads the
    # events.parquet FILE path, bypassing the scaled temp views, so a
    # "10x" reading would silently measure 1x data. Its per-batch work is
    # the same bounded KMV build pipe_incremental_hll/kmv scale-check via
    # the view-reading path.
    "pipe_incremental_hll",
    "features_winsorize",
    "pipe_table_drift",
    "pipe_backfill",
    "pipe_run_many",
    "join_salted",
    "agg_two_phase",
    "pipe_dedup_yaml",
    "pipe_sample_yaml",
    "pipe_incremental_dedup",
    "text_quality_model",
    "dedup_containment",
    "knn_filtered",
    # r10 additions: the declarative-family extensions.
    # pipe_embedding_lsh_yaml is NOT here for the same reason as
    # dedup_embedding_lsh (identical-copy growth = cross-copy cliques by
    # construction; its scale check is scripts_scale_emb_lsh.py).
    # pipe_stream_incremental_dedup and pipe_stream_ann are NOT here: their
    # cost is dominated by landing the scaled corpus to disk and
    # re-streaming it (3 runs x factor x corpus of writes) — the
    # incremental plans they drive are the same ones
    # pipe_incremental_dedup(_yaml) / pipe_incremental_ann measure through
    # the view path.
    "pipe_containment_yaml",
    "pipe_incremental_dedup_yaml",
    "pipe_poisson_yaml",
    "pipe_seqpack_yaml",
    # r10 late additions: pairwise sketch-algebra overlap matrix and the
    # persisted-IVF incremental ANN loop (embeddings grow as identical
    # copies here — the candidate-scan stress shape knn rows use)
    "sketch_overlap_matrix",
    "pipe_incremental_ann",
    # r15 addition: the connected-components path (VERDICT r15 item #6 runs
    # the five most shuffle-intensive benched queries at an sf1-equivalent
    # scale point; dedup_survivors covers CC only bundled with the survivor
    # join, this is the benched CC row itself)
    "dedup_clusters",
    "pipe_knn_yaml",
    "pipe_rrf_yaml",
    "pipe_multimodal_yaml",
    "pipe_text_yaml",
    # pipe_semantic_yaml is NOT here for the same identical-copy-clique
    # reason as dedup_semantic/dedup_embedding_lsh (see the note above).
]

# LHP_SCALE_ONLY=a,b,c restricts the run to a subset (new-op spot checks
# without re-timing the whole table)
_only = os.environ.get("LHP_SCALE_ONLY")
if _only:
    _keep = {n.strip() for n in _only.split(",")}
    NAMES = [n for n in NAMES if n in _keep]


def _scaled_views(spark, sf_dir: str, factor: int):
    """Register temp views where the fact tables are `factor` shifted copies.

    Keys are shifted by i*span so every copy joins/groups like the original
    (no artificial key collisions); document text gets a per-copy suffix so
    the near-dup structure is replicated, not turned into one giant clique.
    """
    from pyspark.sql import functions as F

    from lakehouse_plumber_spark.session import register_testdata
    import lakehouse_plumber_spark.session as SES

    base = dict(register_testdata(spark, sf_dir))

    def union_all(dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionAll(d)
        return out

    okey_span = base["orders"].agg(F.max("o_orderkey")).collect()[0][0] + 1
    ekey_span = base["events"].agg(F.max("event_id")).collect()[0][0] + 1
    user_span = base["events"].agg(F.max("user_id")).collect()[0][0] + 1
    doc_span = base["documents"].agg(F.max("doc_id")).collect()[0][0] + 1
    vec_span = base["embeddings"].agg(F.max("vec_id")).collect()[0][0] + 1

    scaled = dict(base)
    scaled["orders"] = union_all([
        base["orders"].withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * okey_span))
        for i in range(factor)
    ])
    scaled["lineitem"] = union_all([
        base["lineitem"].withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * okey_span))
        for i in range(factor)
    ])
    scaled["events"] = union_all([
        base["events"]
        .withColumn("event_id", F.col("event_id") + F.lit(i * ekey_span))
        .withColumn("user_id", F.col("user_id") + F.lit(i * user_span))
        for i in range(factor)
    ])
    scaled["documents"] = union_all([
        base["documents"]
        .withColumn("doc_id", F.col("doc_id") + F.lit(i * doc_span))
        # suffix EVERY token with the copy id: cross-copy shingle Jaccard
        # drops to 0, so each copy replicates the original's near-dup
        # structure instead of forming 10-way cross-copy cliques. (A trailing
        # doc-level tag is NOT enough: it leaves copies ~99% shingle-identical,
        # all LSH bands collide across copies, and candidate pairs grow
        # quadratically in the copy count — measured 44x time at 10x data.)
        .withColumn(
            "text",
            F.expr(f"array_join(transform(split(text, ' '), w -> concat(w, '·{i}')), ' ')")
            if i else F.col("text"),
        )
        for i in range(factor)
    ])
    scaled["embeddings"] = union_all([
        # shifted ids, identical vectors: every list/bucket gets factor-x
        # members, which is the growth shape that stresses the ANN candidate
        # scans (codebooks stay fixed — they come from the lowest ids)
        base["embeddings"].withColumn("vec_id", F.col("vec_id") + F.lit(i * vec_span))
        for i in range(factor)
    ])
    for name, df in scaled.items():
        df.createOrReplaceTempView(name)
    # prime the registration memo so the queries' _prep() is a no-op and the
    # scaled views survive
    SES._REGISTERED[id(spark)] = (os.path.abspath(sf_dir), scaled)
    return scaled


def _time_queries(spark, qs, sf_dir: str) -> dict[str, float]:
    out = {}
    for name in NAMES:
        fn = qs[name]
        fn(spark, sf_dir).count()  # shape warm-up
        best = None
        for _ in range(int(os.environ.get("LHP_SCALE_RUNS", "2"))):
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0) if best else time.time() - t0
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}s", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    import lakehouse_plumber_spark.session as SES
    from lakehouse_plumber_spark import get_spark, register_testdata

    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    register_testdata(spark, sf_dir)
    entry.warm(spark, sf_dir)
    print("# --- 1x ---", file=sys.stderr)
    t1 = _time_queries(spark, qs, sf_dir)

    print(f"# --- {FACTOR}x ---", file=sys.stderr)
    _scaled_views(spark, sf_dir, FACTOR)
    t10 = _time_queries(spark, qs, sf_dir)
    # restore the real registration for anything running after us
    SES._REGISTERED.pop(id(spark), None)
    register_testdata(spark, sf_dir)

    detail = {
        n: {"t1": t1[n], "t10": t10[n], "ratio": round(t10[n] / max(t1[n], 1e-9), 2)}
        for n in NAMES
    }
    ratios = [d["ratio"] for d in detail.values()]
    print(
        json.dumps(
            {
                "metric": f"scaleup_{FACTOR}x_ratio",
                "value": round(statistics.median(ratios), 2),
                "unit": f"x ({FACTOR}x data => ideal <= {FACTOR})",
                "queries": detail,
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            }
        )
    )


if __name__ == "__main__":
    main()
