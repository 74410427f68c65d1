"""Data-quality quarantine: clean path + DLQ + CDF recycle + union.

Re-expresses the reference's quarantine template
(src/lhp/templates/transform/data_quality_quarantine.py.j2:30-215) on the
engine's store:

1. clean path  — rows passing ALL rules;
2. quarantine  — rows failing any rule, annotated with the failed-rules array
   (`array_compact(array(when(~rule, struct(name, rule))...))`), a stable row
   key `_dlq_sk = xxhash64(source_table, to_json(struct(data)))`, status 'new',
   and `_row_data` (JSON of the full row; the reference uses VARIANT
   `parse_json` — Spark 4 has it, we keep the JSON string form which
   `try_variant_get` / `get_json_object` both read);
3. DLQ merge   — idempotent insert-only by `_dlq_sk`
   (whenNotMatchedInsertAll semantics). The DLQ is stored hash-partitioned on
   `_dlq_bucket = pmod(xxhash64(_dlq_sk), N)` so the anti-join reads only the
   buckets this batch's rows fall into — merge work ∝ batch, not DLQ size
   (same layout as operators/cdc.py CDC targets);
4. recycle     — read the DLQ change feed for rows an operator marked
   'fixed' (`_change_type IN ('insert','update_postimage')`), dedup by
   `_dlq_sk` on max `_commit_version`, re-type via the clean schema
   (one `from_json` per row ≙ per-field try_variant_get), patch rescued
   columns back in (reference data_quality_quarantine.py.j2:65-95:
   `map_zip_with`/`map_filter` over `_rescued_data`), re-validate;
5. output      — clean ∪ recycled-that-now-pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from lakehouse_plumber_spark.materialize import materialize_pinned

from lakehouse_plumber_spark.context import BuildContext
from lakehouse_plumber_spark.expectations import Expectation, combined_predicate, inverse_predicate
from lakehouse_plumber_spark.models import Action

DLQ_BUCKET_COL = "_dlq_bucket"
DLQ_ROWS_PER_BUCKET = 2_000_000
RESCUE_COL = "_rescued_data"

# What a compiled quarantine script carries next to the expectations group.
STANDALONE_IMPORTS = ("from pyspark.sql import DataFrame",)
STANDALONE_CONSTANTS = ("RESCUE_COL",)
STANDALONE_FUNCTIONS = ("inverse_predicate", "_failed_rules_col", "patch_rescued",
                        "quarantine_split", "_parse_and_revalidate")


def _dlq_creation_buckets(first_batch_rows: int) -> int:
    from lakehouse_plumber_spark.tables import adaptive_bucket_count

    return adaptive_bucket_count(first_batch_rows, rows_per_bucket=DLQ_ROWS_PER_BUCKET)


def _failed_rules_col(exps: list[Expectation]):
    entries = [
        F.when(
            ~F.coalesce(F.expr(e.constraint), F.lit(False)),
            F.struct(F.lit(e.name).alias("name"), F.lit(e.constraint).alias("constraint")),
        )
        for e in exps
    ]
    return F.array_compact(F.array(*entries))


def patch_rescued(rows: DataFrame, schema, rescue_col: str = RESCUE_COL) -> DataFrame:
    """Merge rescued-column values back into the typed row
    (reference data_quality_quarantine.py.j2:65-95).

    `_rescued_data` holds a JSON object of columns that failed schema typing;
    a key matching a schema column wins over the (null) typed value when it
    `try_cast`s to the column type (null-on-failure — the reference's
    try_variant_get semantics; a plain cast would throw under ANSI mode, and a
    still-malformed value is the defining property of rescued data).
    Only successfully-consumed keys are removed from the surviving rescue map
    (`map_filter`); unparseable values stay parked there so no data is lost.
    Pure narrow expressions — no shuffle, whole-stage codegen.
    """
    names = [f.name for f in schema.fields]
    if rescue_col not in names:
        return rows
    m = F.from_json(F.col(rescue_col), "map<string,string>")
    data_fields = [f for f in schema.fields if f.name != rescue_col]

    def _consumed(k, v):
        cond = F.lit(False)
        for f in data_fields:
            cond = cond | ((k == F.lit(f.name)) & v.try_cast(f.dataType).isNotNull())
        return cond

    cols = []
    for f in schema.fields:
        if f.name == rescue_col:
            remainder = F.map_filter(m, lambda k, v: ~_consumed(k, v))
            cols.append(
                F.when(F.size(F.map_keys(remainder)) > 0, F.to_json(remainder)).alias(rescue_col)
            )
        else:
            cols.append(
                F.coalesce(
                    F.element_at(m, f.name).try_cast(f.dataType), F.col(f.name)
                ).alias(f.name)
            )
    return rows.select(*cols)


def run_quarantine(
    ctx: BuildContext, action: Action, df: DataFrame, exps: list[Expectation]
) -> DataFrame:
    """Quarantine transform, batch or streaming.

    Batch: merge failures into the DLQ, recycle newly-fixed rows via the
    change feed, return clean ∪ recycled-outbox.

    Streaming (the reference template's native shape —
    data_quality_quarantine.py.j2 runs inside a DLT streaming pipeline):
    each micro-batch goes through the same DLQ merge via foreachBatch and
    its clean rows append to a `<dlq>__clean` staging table (streaming-table
    semantics: cumulative, downstream streams from it incrementally with its
    own checkpoint). After the availableNow drain, the recycle step appends
    FIRST-TIME-fixed rows to the staging table — exactly once per fixed row,
    because the change-feed consume is version-bounded and first-time-ness is
    an anti-join against the pre-merge outbox. Returns a stream read of the
    staging table (stream in -> stream out).
    """
    assert action.quarantine is not None, "quarantine mode requires quarantine config"
    qcfg = action.quarantine
    dlq_table = qcfg.dlq_table

    if df.isStreaming:
        staging = f"{dlq_table}__clean"
        # the staging append is not idempotent: replayed epochs are skipped
        ctx.for_each_batch(
            df,
            lambda b, _e: ctx.store.append(staging, _quarantine_merge_batch(ctx, action, b, exps)),
            "quarantine", action.name, replay_guard=staging,
        )
        new_recycled = _consume_fixed_into_outbox(
            ctx, df.schema, exps, dlq_table, first_time_only=True
        )
        if new_recycled is not None:
            ctx.store.append(staging, new_recycled)
        ctx.store.create_if_not_exists(staging, schema=df.schema)
        ctx.log(action.name, "quarantine_stream_drained", staging=staging)
        return ctx.store.read_stream(staging)

    clean = _quarantine_merge_batch(ctx, action, df, exps)
    _consume_fixed_into_outbox(ctx, df.schema, exps, dlq_table, first_time_only=False)
    outbox = f"{dlq_table}__outbox"
    if not ctx.store.exists(outbox):
        return clean
    return clean.unionByName(_parse_and_revalidate(ctx.store.read(outbox), df.schema, exps))


def quarantine_split(
    df: DataFrame, exps: list[Expectation], source_table: str
) -> tuple[DataFrame, DataFrame]:
    """`(clean, dlq_rows)` of one batch: the rows passing every rule, and
    the DLQ rows (step 2 above) of the others."""
    data_cols = df.columns
    clean = df.filter(F.expr(combined_predicate(exps)))
    bad = df.filter(F.expr(inverse_predicate(exps)))
    # fold rescued data into the stored payload AT QUARANTINE TIME (reference
    # data_quality_quarantine.py.j2:65-95 patches in the DLQ sink): an
    # operator's later fix to `_row_data` is then authoritative — a stale
    # rescue entry can never override it at recycle time.
    if RESCUE_COL in data_cols:
        bad = patch_rescued(bad, df.schema)
    bad = (
        bad.withColumn("_dlq_failed_rules", _failed_rules_col(exps))
        .withColumn("_dlq_source", F.lit(source_table))
        .withColumn(
            "_dlq_sk",
            F.xxhash64(F.lit(source_table), F.to_json(F.struct(*[F.col(c) for c in data_cols]))),
        )
        .withColumn("_dlq_status", F.lit("new"))
        .withColumn("_dlq_ts", F.current_timestamp())
        .withColumn("_row_data", F.to_json(F.struct(*[F.col(c) for c in data_cols])))
    )
    return clean, bad.select(
        "_dlq_sk", "_dlq_source", "_dlq_status", "_dlq_ts", "_row_data",
        F.to_json("_dlq_failed_rules").alias("_dlq_failed_rules"),
    )


def _quarantine_merge_batch(
    ctx: BuildContext, action: Action, df: DataFrame, exps: list[Expectation]
) -> DataFrame:
    """One batch through the DLQ merge; returns the clean rows."""
    dlq_table = action.quarantine.dlq_table
    clean, dlq_row = quarantine_split(
        df, exps, action.quarantine.source_table or str(action.source)
    )

    # idempotent insert-only merge on _dlq_sk (whenNotMatchedInsertAll),
    # pruned to the _dlq_sk-hash buckets this batch touches.  `new_rows` is
    # materialized ONCE before the table append and the change-feed write:
    # previously each of those two actions re-evaluated the whole anti-join
    # plan (batch fingerprinting + a second scan of the touched DLQ buckets —
    # and the second evaluation ran AFTER the append, kept correct only by
    # the stale cached file listing of the pre-append read). One DLQ scan
    # and one batch evaluation per micro-batch instead of two of each.
    n_buckets = 64
    part_cols = [DLQ_BUCKET_COL]
    created = False
    if ctx.store.exists(dlq_table):
        stored = ctx.store.get_meta(dlq_table, "dlq_buckets")
        if stored is None:
            # legacy unbucketed DLQ: fall back to the full anti-join
            existing = ctx.store.read(dlq_table).select("_dlq_sk")
            new_rows = dlq_row.join(existing, on="_dlq_sk", how="left_anti")
            part_cols = None
        else:
            n_buckets = int(stored)
            bucket = F.pmod(F.xxhash64(F.col("_dlq_sk")), F.lit(n_buckets)).cast("int")
            dlq_row = dlq_row.withColumn(DLQ_BUCKET_COL, bucket)
            touched = [r[0] for r in dlq_row.select(DLQ_BUCKET_COL).distinct().collect()]
            existing = (
                ctx.store.read(dlq_table)
                .filter(F.col(DLQ_BUCKET_COL).isin(touched))
                .select("_dlq_sk")
            )
            new_rows = dlq_row.join(existing, on="_dlq_sk", how="left_anti")
    else:
        # size the bucket layout once, from the first quarantined batch
        n_buckets = _dlq_creation_buckets(dlq_row.count())
        bucket = F.pmod(F.xxhash64(F.col("_dlq_sk")), F.lit(n_buckets)).cast("int")
        new_rows = dlq_row.withColumn(DLQ_BUCKET_COL, bucket)
        created = True
    # pinned (lineage-severing): the plan reads the DLQ buckets this call is
    # about to append to — a lineage-preserving recompute after the append
    # would see its own output and anti-join the new rows away
    new_rows = materialize_pinned(new_rows)
    ctx.store.append(dlq_table, new_rows, part_cols)
    if created:
        ctx.store.set_meta(dlq_table, "dlq_buckets", n_buckets)
    ctx.store.log_changes(dlq_table, new_rows.drop(DLQ_BUCKET_COL), "insert")
    ctx.log(action.name, "quarantined", dlq_table=dlq_table)
    return clean


def _consume_fixed_into_outbox(
    ctx: BuildContext, schema, exps: list[Expectation], dlq_table: str,
    first_time_only: bool,
):
    """Consume newly-fixed DLQ rows from the change feed into the outbox.

    INCREMENTAL (reference data_quality_quarantine.py.j2:135-177 streams
    the CDF via checkpoint). `last_recycled_version` in the table meta is
    the checkpoint: each run reads only commits newer than it — a
    partition-pruned scan of the version-partitioned feed, O(new commits)
    not O(table lifetime) — and folds newly-fixed rows into a persistent,
    bucket-partitioned outbox table.

    Returns the re-validated rows that were FIRST-TIME fixed this run when
    `first_time_only` (the streaming path appends exactly these to its
    staging table), else None.
    """
    n_buckets = int(ctx.store.get_meta(dlq_table, "dlq_buckets", 64) or 64)
    out_df = None
    outbox = f"{dlq_table}__outbox"
    if ctx.store.has_changes(dlq_table):
        last = int(ctx.store.get_meta(dlq_table, "last_recycled_version", -1))
        hi = ctx.store.current_version(dlq_table)
        if hi > last:
            changes = ctx.store.read_changes(
                dlq_table, starting_version=last + 1, ending_version=hi
            )
            fixed = changes.filter(
                (F.col("_dlq_status") == "fixed")
                & F.col("_change_type").isin("insert", "update_postimage")
            )
            w = Window.partitionBy("_dlq_sk").orderBy(F.col("_commit_version").desc())
            new_fixed = (
                fixed.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(
                    "_dlq_sk",
                    "_row_data",
                    "_commit_version",
                    F.pmod(F.xxhash64(F.col("_dlq_sk")), F.lit(n_buckets))
                    .cast("int")
                    .alias(DLQ_BUCKET_COL),
                )
            )
            touched = [r[0] for r in new_fixed.select(DLQ_BUCKET_COL).distinct().collect()]
            if touched and first_time_only:
                # rows fixed for the FIRST time (not updates to already-fixed
                # rows): anti-join against the pre-merge outbox. Materialize
                # eagerly — the outbox rewrite below would otherwise
                # invalidate this plan's outbox read.
                if ctx.store.exists(outbox):
                    prior = ctx.store.read(outbox).select("_dlq_sk")
                    first = new_fixed.join(prior, on="_dlq_sk", how="left_anti")
                else:
                    first = new_fixed
                out_df = _parse_and_revalidate(first, schema, exps).transform(materialize_pinned)
            if touched:
                if ctx.store.exists(outbox):
                    # pruned upsert: only the touched buckets are read and
                    # rewritten; latest fixed version per _dlq_sk wins
                    existing = ctx.store.read(outbox).filter(
                        F.col(DLQ_BUCKET_COL).isin(touched)
                    )
                    merged = existing.unionByName(new_fixed)
                    wo = Window.partitionBy("_dlq_sk").orderBy(
                        F.col("_commit_version").desc()
                    )
                    merged = (
                        merged.withColumn("__rn", F.row_number().over(wo))
                        .filter(F.col("__rn") == 1)
                        .drop("__rn")
                    )
                    ctx.store.overwrite_partitions(outbox, merged, [DLQ_BUCKET_COL])
                else:
                    ctx.store.append(outbox, new_fixed, [DLQ_BUCKET_COL])
            ctx.store.set_meta(dlq_table, "last_recycled_version", hi)
    return out_df


def _parse_and_revalidate(
    rows: DataFrame, schema, exps: list[Expectation], keep: tuple = ()
) -> DataFrame:
    """_row_data JSON -> typed rows in ONE parse per row (reference uses
    per-field try_variant_get; from_json is the Spark-idiomatic equivalent
    and parses the document once), re-validated against the expectations.
    `keep` columns of `rows` lead the typed ones. No rescued patch here:
    the stored payload was patched at quarantine time, so an operator's fix
    to _row_data is final."""
    parsed = rows.select(*keep, F.from_json("_row_data", schema).alias("__row")).select(
        *keep, *[F.col(f"__row.{f.name}").alias(f.name) for f in schema.fields]
    )
    return parsed.filter(F.expr(combined_predicate(exps)))

