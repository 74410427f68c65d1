"""AUTO CDC apply-changes: SCD type 1 and 2, plus snapshot CDC.

Re-implements the semantics of DLT's `create_auto_cdc_flow` /
`create_auto_cdc_from_snapshot_flow` (reference emits them at
src/lhp/templates/write/streaming_table.py.j2:45,114; config validator
src/lhp/core/validators/compatibility/cdc_config.py:36-76) as pure DataFrame
algebra — no applyInPandas, no driver loops, so the same plan runs on a
1000-executor cluster.

Core idea: everything is an *event stream rebuild over affected keys only*.

    events(key, seq, data..., __is_delete)
      -> per-key ordering by (seq, tiebreak)
      -> ignore_null_updates forward-fill (last non-null over window)
      -> change-run collapse on tracked columns (lag + cumulative sum)
      -> SCD2 intervals via run aggregation + lead(start)
      -> SCD1 = keep only the last run per key

Incrementality: a batch touches only its own keys. For SCD2 the stored table
carries a hidden, lossless per-key event log (rows flagged __tombstone=true
with __event_del marking deletes) alongside the visible collapsed version
rows; a merge unions the new batch with the affected keys' log, dedups
(key, seq) preferring the newest batch, and rebuilds both the log and the
visible intervals. Untouched keys pass through via anti-join. The log is what
makes arbitrary out-of-order arrival exact: collapsed intervals alone are
lossy (interior same-value events vanish), so rebuilding from them would
splice late events into wrong intervals. State size = change history — the
same order as the CDC feed itself; `log_compaction_horizon` collapses log
rows older than a declared late-data horizon so merge input stays ∝ recent
history (see _compact_scd2_log). With Delta this maps to MERGE; compute is
bounded by (batch keys x their history), which shuffles only on the CDC
keys — the partitioning any cluster-scale merge needs anyway.

Out-of-order tolerance is merge-on-max-sequence, not watermark (reference
streaming_table.py.j2:50-55): late events slot into history deterministically
because the rebuild sorts by sequence, and re-delivered (key, seq) duplicates
dedup preferring the newest batch.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_plumber_spark.models import CDCConfig, SnapshotCDCConfig
from lakehouse_plumber_spark.tables import ParquetTableStore

START_COL = "__start_at"
END_COL = "__end_at"
_DEL = "__is_delete"
_TRUNC = "__is_truncate"
_PRIO = "__batch_priority"
TOMBSTONE = "__tombstone"
EVENT_DEL = "__event_del"  # on hidden SCD2 event-log rows: the event's delete flag
BUCKET_COL = "__kb"  # hidden key-hash bucket: CDC targets are stored
# partitioned by it so merges touch only affected partitions. The count is
# picked ADAPTIVELY from the first batch's size at table creation
# (tables.adaptive_bucket_count) and persisted per table — pruning is only
# sound against the stored layout.
ROWS_PER_BUCKET = 2_000_000

# The store-free bodies compiled CDC and snapshot-CDC scripts carry:
# codegen copies these constants and the functions' source verbatim, so the
# functions may use only each other, these constants, F, Window, DataFrame
# and attributes of `cfg` (a plain namespace in a script).
STANDALONE_IMPORTS = ("from types import SimpleNamespace as CDCConfig",
                      "from pyspark.sql import DataFrame")
STANDALONE_CONSTANTS = (
    "START_COL", "END_COL", "_DEL", "_TRUNC", "_PRIO", "TOMBSTONE", "EVENT_DEL", "BUCKET_COL",
)
STANDALONE_FUNCTIONS = (
    "_seq_cols", "_data_columns", "_tracked_columns", "_normalize_events", "_prepare_events",
    "_dedup_key_seq", "_apply_truncates", "_forward_fill_nulls", "_rebuild_scd2", "_rebuild_scd1",
)


def _creation_buckets(first_batch_rows: int) -> int:
    from lakehouse_plumber_spark.tables import adaptive_bucket_count

    return adaptive_bucket_count(first_batch_rows, rows_per_bucket=ROWS_PER_BUCKET)


def _bucket_expr(cfg: CDCConfig, n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in cfg.keys]), F.lit(n_buckets)).cast("int")


def _seq_cols(cfg: CDCConfig) -> list[str]:
    return cfg.sequence_cols


def _data_columns(df_cols: list[str], cfg: CDCConfig) -> list[str]:
    """Columns stored in the target (column_list/except_column_list semantics)."""
    internal = {_DEL, _TRUNC, _PRIO, START_COL, END_COL}
    cols = [c for c in df_cols if c not in internal]
    if cfg.column_list:
        cols = [c for c in cols if c in set(cfg.column_list) | set(cfg.keys) | set(_seq_cols(cfg))]
    elif cfg.except_column_list:
        drop = set(cfg.except_column_list) - set(cfg.keys)
        cols = [c for c in cols if c not in drop]
    return cols


def _tracked_columns(data_cols: list[str], cfg: CDCConfig) -> list[str]:
    """SCD2: which column changes open a new history version."""
    non_key = [c for c in data_cols if c not in cfg.keys and c not in _seq_cols(cfg)]
    if cfg.track_history_column_list:
        return [c for c in non_key if c in cfg.track_history_column_list]
    if cfg.track_history_except_column_list:
        return [c for c in non_key if c not in cfg.track_history_except_column_list]
    return non_key


def _normalize_events(batch: DataFrame, cfg: CDCConfig) -> DataFrame:
    """Tag delete and truncate events."""
    df = batch
    df = df.withColumn(
        _DEL,
        F.coalesce(F.expr(cfg.apply_as_deletes), F.lit(False)) if cfg.apply_as_deletes else F.lit(False),
    )
    df = df.withColumn(
        _TRUNC,
        F.coalesce(F.expr(cfg.apply_as_truncates), F.lit(False)) if cfg.apply_as_truncates else F.lit(False),
    )
    return df


def _prepare_events(batch: DataFrame, cfg: CDCConfig, data_cols: list[str]) -> DataFrame:
    """Tagged events (the caller sets _PRIO) projected to the stored columns
    plus _DEL and _PRIO, with SCD1 truncates applied."""
    events = _normalize_events(batch, cfg)
    events = _apply_truncates(events, cfg) if cfg.scd_type == 1 else events.drop(_TRUNC)
    return events.select(*data_cols, _DEL, _PRIO)


def _dedup_key_seq(events: DataFrame, cfg: CDCConfig) -> DataFrame:
    """One event per (key, seq): prefer newest batch (_PRIO desc), then delete
    flags, then a TOTAL order over the remaining value columns — without the
    final tiebreak, two conflicting events with the same (key, seq, batch,
    delete-flag) would survive by shuffle order and the visible row would
    flip between runs/engines (intra-batch conflicts are ambiguous input,
    but the resolution must still be a pure function of the data).

    Partitioned by the CDC keys ONLY (r15, guide §2.4): the window orders by
    (seq asc, tiebreaks) within each key and keeps the first row of every
    seq group via a null-safe lag compare — the same winner the old
    (key, seq)-partitioned row_number picked, but on the partitioning every
    downstream rebuild window already needs, so the whole
    dedup -> forward-fill -> change-run -> interval chain runs off ONE
    exchange instead of two.  Seq groups are contiguous under the asc sort
    (nulls first), and <=> treats null seq values as equal exactly like
    hash-partitioning on them did."""
    internal = {_DEL, _TRUNC, _PRIO, START_COL, END_COL, EVENT_DEL, TOMBSTONE, BUCKET_COL}
    keyed = set(cfg.keys) | set(_seq_cols(cfg))
    value_cols = [
        f.name
        for f in events.schema.fields
        if f.name not in internal and f.name not in keyed
        # any type CONTAINING a map is not orderable (top-level or nested
        # inside a struct/array)
        and "map<" not in f.dataType.simpleString()
    ]
    seqs = _seq_cols(cfg)
    order = [F.col(c).asc_nulls_first() for c in seqs] + [
        F.col(_PRIO).desc(), F.col(_DEL).desc()
    ] + [F.col(c).desc_nulls_last() for c in sorted(value_cols)]
    w = Window.partitionBy(*cfg.keys).orderBy(*order)
    seq_struct = F.struct(*[F.col(c) for c in seqs])
    return (
        events.withColumn("__first", ~F.lag(seq_struct).over(w).eqNullSafe(seq_struct))
        .filter(F.coalesce(F.col("__first"), F.lit(True)))
        .drop("__first")
    )


def _apply_truncates(events: DataFrame, cfg: CDCConfig) -> DataFrame:
    """apply_as_truncates (SCD1): discard every event strictly older than the
    newest truncate event; truncate events themselves are not emitted."""
    if not cfg.apply_as_truncates:
        return events.drop(_TRUNC)
    seqs = _seq_cols(cfg)
    trunc = events.filter(F.col(_TRUNC)).agg(
        F.max(F.struct(*[F.col(c) for c in seqs])).alias("__t")
    )
    events = events.crossJoin(F.broadcast(trunc))
    keep = F.col("__t").isNull() | (F.struct(*[F.col(c) for c in seqs]) >= F.col("__t"))
    return events.filter(keep & ~F.col(_TRUNC)).drop("__t", _TRUNC)


def _forward_fill_nulls(events: DataFrame, cfg: CDCConfig, data_cols: list[str]) -> DataFrame:
    """ignore_null_updates: null columns in an upsert inherit the previous value."""
    if not cfg.ignore_null_updates:
        return events
    seqs = _seq_cols(cfg)
    w = (
        Window.partitionBy(*cfg.keys)
        .orderBy(*[F.col(c) for c in seqs], F.col(_PRIO))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fill_cols = [c for c in data_cols if c not in cfg.keys and c not in seqs]
    for c in fill_cols:
        events = events.withColumn(
            c, F.when(F.col(_DEL), F.col(c)).otherwise(F.last(c, ignorenulls=True).over(w))
        )
    return events


def _rebuild_scd2(events: DataFrame, cfg: CDCConfig, data_cols: list[str]) -> DataFrame:
    """Rebuild SCD2 state for the keys present in `events`.

    Output = hidden event-log rows (every deduped raw event, __tombstone=true,
    __event_del = its delete flag) UNION visible collapsed version rows
    (__tombstone=false). `events` must be raw (pre forward-fill) so the log
    stays lossless; fills are recomputed here on every rebuild.
    """
    seqs = _seq_cols(cfg)
    tracked = _tracked_columns(data_cols, cfg)
    seq_expr = F.struct(*[F.col(c) for c in seqs]) if len(seqs) > 1 else F.col(seqs[0])

    log = events.select(
        *data_cols,
        seq_expr.alias(START_COL),
        F.when(F.lit(False), seq_expr).alias(END_COL),  # typed NULL matching START
        F.lit(True).alias(TOMBSTONE),
        F.col(_DEL).alias(EVENT_DEL),
    )

    filled = _forward_fill_nulls(events.withColumn(_PRIO, F.lit(0)), cfg, data_cols).drop(_PRIO)

    w = Window.partitionBy(*cfg.keys).orderBy(*[F.col(c) for c in seqs])
    tracked_struct = F.struct(*[F.col(c) for c in tracked]) if tracked else F.lit(0)
    change = (
        (F.row_number().over(w) == 1)
        | (~tracked_struct.eqNullSafe(F.lag(tracked_struct).over(w)))
        | F.col(_DEL)
        | F.coalesce(F.lag(F.col(_DEL)).over(w), F.lit(False))
    )
    filled = filled.withColumn("__chg", change.cast("int"))
    filled = filled.withColumn(
        "__run",
        F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    filled = filled.withColumn("__seq_val", seq_expr)

    # per run: values from the latest event in the run (non-tracked cols update
    # in place), interval start = first seq of the run
    agg = (
        filled.groupBy(*cfg.keys, "__run")
        .agg(
            F.min("__seq_val").alias(START_COL),
            F.max_by(
                F.struct(*[F.col(c) for c in data_cols if c not in cfg.keys], F.col(_DEL)),
                F.col("__seq_val"),
            ).alias("__vals"),
        )
        .select(
            *cfg.keys,
            "__run",
            START_COL,
            F.col("__vals").getField(_DEL).alias(_DEL),
            *[F.col("__vals").getField(c).alias(c) for c in data_cols if c not in cfg.keys],
        )
    )
    w2 = Window.partitionBy(*cfg.keys).orderBy(START_COL)
    agg = agg.withColumn(END_COL, F.lead(START_COL).over(w2))
    # delete runs close their predecessor (via lead) then drop out of the
    # visible table; the delete events themselves live on in the hidden log
    versions = (
        agg.filter(~F.col(_DEL))
        .withColumn(TOMBSTONE, F.lit(False))
        .withColumn(EVENT_DEL, F.lit(None).cast("boolean"))
        .select(*data_cols, START_COL, END_COL, TOMBSTONE, EVENT_DEL)
    )
    return versions.unionByName(log)


def _compact_scd2_log(
    state: DataFrame, cfg: CDCConfig, horizon, data_cols: list[str]
) -> DataFrame:
    """Age-based compaction of the hidden SCD2 event log.

    Log rows with seq < `horizon` are dropped. Versions that closed at or
    before the horizon thereby become FROZEN: immutable rows with no log
    backing, passed through later merges untouched (see apply_changes) — no
    event with seq >= horizon can splice into an interval that ended before
    it. The one version STRADDLING the horizon (start < horizon, end > it
    or open) gets a single synthetic anchor event at its start, carrying the
    version's values, so rebuilds re-derive it and late events >= horizon
    splice into it exactly. Net log size per key = events newer than the
    horizon + at most one anchor — ∝ recent history, independent of version
    count and table lifetime. Interior same-value events older than the
    horizon vanish; that is the lossy part, and exactly why the horizon is a
    contract: late data older than it would splice into wrong intervals (the
    standard watermark trade).
    """
    log = state.filter(F.col(TOMBSTONE))
    versions = state.filter(~F.col(TOMBSTONE))
    keep_log = log.filter(F.col(START_COL) >= horizon)
    anchor = versions.filter(
        (F.col(START_COL) < horizon)
        & (F.col(END_COL).isNull() | (F.col(END_COL) > horizon))
    ).select(
        *data_cols,
        F.col(START_COL),
        F.when(F.lit(False), F.col(START_COL)).alias(END_COL),  # typed NULL
        F.lit(True).alias(TOMBSTONE),
        F.lit(False).alias(EVENT_DEL),
    )
    return versions.unionByName(keep_log.select(*versions.columns)).unionByName(anchor)


def _rebuild_scd1(events: DataFrame, cfg: CDCConfig, data_cols: list[str]) -> DataFrame:
    """Final state per key = event with max sequence; deletes drop the key.

    The winning event's sequence is retained in hidden `__seq` so later batches
    merge correctly against it (DLT keeps this state internally too)."""
    seqs = _seq_cols(cfg)
    w = Window.partitionBy(*cfg.keys).orderBy(*[F.col(c).desc() for c in seqs], F.col(_PRIO).desc())
    latest = (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    seq_expr = F.struct(*[F.col(c) for c in seqs]) if len(seqs) > 1 else F.col(seqs[0])
    # deleted keys stay as hidden tombstones so a late (stale) upsert with a
    # lower sequence cannot resurrect them; readers filter tombstones out
    return (
        latest.withColumn("__seq", seq_expr)
        .withColumn(TOMBSTONE, F.col(_DEL))
        .select(*data_cols, "__seq", TOMBSTONE)
    )


def _target_to_events(current: DataFrame, cfg: CDCConfig, data_cols: list[str], scd_type: int) -> DataFrame:
    """Decompose existing target rows for affected keys back into events."""
    seqs = _seq_cols(cfg)
    if scd_type == 1:
        ev = current
        if len(seqs) > 1:
            for c in seqs:
                ev = ev.withColumn(c, F.col("__seq").getField(c))
        else:
            ev = ev.withColumn(seqs[0], F.col("__seq"))
        return ev.drop("__seq").withColumn(_DEL, F.col(TOMBSTONE)).drop(TOMBSTONE)
    # SCD2: the hidden event-log rows ARE the raw events — lossless, so
    # arbitrary out-of-order rebuilds are exact; visible version rows are a
    # derived view and are ignored here
    ev = current.filter(F.col(TOMBSTONE) & F.col(EVENT_DEL).isNotNull())
    return ev.select(*data_cols, F.col(EVENT_DEL).alias(_DEL))


def apply_changes(
    store: ParquetTableStore,
    target: str,
    batch: DataFrame,
    cfg: CDCConfig,
    partition_columns: Optional[list[str]] = None,
) -> None:
    """Merge one batch of change events into `target` (SCD1 or SCD2)."""
    data_cols = _data_columns(batch.columns, cfg)
    if not store.exists(target) and batch.isEmpty():
        # an empty FIRST batch (e.g. the first poll of an empty snapshot
        # source) has nothing to merge, but the target must still exist with
        # the right schema — the emptiness probe is only paid on the
        # creation path, never per steady-state merge. (Empty batches
        # against an existing target flow through the normal path: the
        # affected-key set is empty and the merge is a no-op.)
        empty = batch.sparkSession.createDataFrame([], batch.schema)
        empty = _prepare_events(empty.withColumn(_PRIO, F.lit(1)), cfg, data_cols)
        out = _rebuild_scd1(empty, cfg, data_cols) if cfg.scd_type == 1 \
            else _rebuild_scd2(empty, cfg, data_cols)
        store.overwrite(target, out, partition_columns=partition_columns)
        return
    events = _prepare_events(batch.withColumn(_PRIO, F.lit(1)), cfg, data_cols)

    # apply_as_truncates clears ALL state older than the newest truncate event,
    # including keys absent from this batch (DLT truncate semantics)
    trunc_seq = None
    if cfg.scd_type == 1 and cfg.apply_as_truncates:
        seqs = _seq_cols(cfg)
        trow = (
            _normalize_events(batch, cfg)
            .filter(F.col(_TRUNC))
            .agg(F.max(F.struct(*[F.col(c) for c in seqs])).alias("t"))
            .collect()[0]["t"]
        )
        trunc_seq = trow

    # CDC state is partitioned by a hidden key-hash bucket (__kb): a merge
    # reads and rewrites ONLY the buckets its batch keys fall into — the
    # parquet analogue of a Delta MERGE, work ∝ affected buckets. Truncates
    # clear state for keys absent from the batch too, so they take (and
    # rewrite via) the full-table path.
    exists = store.exists(target)
    full_rewrite = trunc_seq is not None
    if exists:
        n_buckets = int(store.get_meta(target, "cdc_buckets", 64))
    else:
        # one count at table creation sizes the bucket layout for the
        # table's lifetime (first batch ≈ initial load for CDC feeds)
        n_buckets = _creation_buckets(events.count())
    buckets: Optional[list[int]] = None
    if exists:
        current = store.read(target)
        if BUCKET_COL not in current.columns:
            full_rewrite = True  # pre-bucketing table: migrate on this merge
        if not full_rewrite:
            buckets = [
                r[0]
                for r in events.select(_bucket_expr(cfg, n_buckets).alias(BUCKET_COL)).distinct().collect()
            ]
            if len(buckets) >= n_buckets:
                buckets = None
            else:
                current = current.filter(F.col(BUCKET_COL).isin(buckets))
        if trunc_seq is not None:
            seqs = _seq_cols(cfg)
            tlit = F.struct(*[F.lit(v).alias(c) for c, v in zip(seqs, tuple(trunc_seq))])
            cur_seq = (
                F.col("__seq") if len(seqs) > 1
                else F.struct(F.col("__seq").alias(seqs[0]))
            )
            current = current.filter(cur_seq >= tlit)
        keys_df = events.select(*cfg.keys).distinct()
        affected = current.join(keys_df, on=cfg.keys, how="left_semi")
        untouched = current.join(keys_df, on=cfg.keys, how="left_anti")
        if cfg.scd_type == 2 and cfg.log_compaction_horizon:
            # FROZEN versions: closed at or before every surviving log event
            # for their key (i.e. before a past compaction horizon). Their
            # events are gone from the log, so a rebuild cannot re-derive
            # them — and need not: no in-contract late event can splice into
            # an interval that ended before the horizon. Pass them through.
            vis = affected.filter(~F.col(TOMBSTONE))
            lg = affected.filter(F.col(TOMBSTONE))
            min_log = lg.groupBy(*cfg.keys).agg(F.min(START_COL).alias("__mls"))
            frozen = (
                vis.join(min_log, on=list(cfg.keys), how="left")
                .filter(
                    F.col(END_COL).isNotNull()
                    & (F.col("__mls").isNull() | (F.col(END_COL) <= F.col("__mls")))
                )
                .drop("__mls")
            )
        else:
            frozen = None
        cur_events = _target_to_events(affected, cfg, data_cols, cfg.scd_type)
        cur_events = cur_events.withColumn(_PRIO, F.lit(0)).select(*data_cols, _DEL, _PRIO)
        events = events.unionByName(cur_events)
    else:
        untouched = None
        frozen = None

    events = _dedup_key_seq(events, cfg)
    cached = None
    if cfg.scd_type == 2:
        # the rebuild unions the event log with the collapsed versions — both
        # derive from `events`, so cache it for the write (bounded by batch
        # size + affected keys' history, not table size)
        cached = events.drop(_PRIO).persist()
        rebuilt = _rebuild_scd2(cached, cfg, data_cols)
        if cfg.log_compaction_horizon:
            # compact the affected keys' logs as part of this merge (no extra
            # rewrite); hot keys therefore plateau instead of growing forever.
            # Scalar sequence only: a struct seq has no single horizon value.
            seqs = _seq_cols(cfg)
            if len(seqs) != 1:
                raise ValueError("log_compaction_horizon requires a scalar sequence_by")
            mx = cached.agg(F.max(F.col(seqs[0])).alias("m")).collect()[0]["m"]
            if mx is not None:
                # evaluate the horizon expression once on the driver
                hval = (
                    cached.limit(1)
                    .withColumn("__max_seq", F.lit(mx))
                    .select(F.expr(cfg.log_compaction_horizon).alias("h"))
                    .collect()[0]["h"]
                )
                if hval is not None:
                    rebuilt = _compact_scd2_log(rebuilt, cfg, F.lit(hval), data_cols)
    else:
        rebuilt = _rebuild_scd1(_forward_fill_nulls(events, cfg, data_cols), cfg, data_cols)

    if frozen is not None:
        rebuilt = rebuilt.unionByName(frozen.select(*rebuilt.columns))
    if untouched is not None:
        rebuilt = untouched.select(*rebuilt.columns).unionByName(rebuilt)
    rebuilt = rebuilt.withColumn(BUCKET_COL, _bucket_expr(cfg, n_buckets))
    part_cols = list(partition_columns or []) + [BUCKET_COL]
    try:
        if exists and not full_rewrite:
            # untouched buckets are not in `rebuilt`; dynamic overwrite leaves
            # their partitions on disk untouched
            store.overwrite_partitions(target, rebuilt, part_cols)
        else:
            store.overwrite(target, rebuilt, partition_columns=part_cols)
            store.set_meta(target, "cdc_buckets", n_buckets)
    finally:
        if cached is not None:
            cached.unpersist()


def snapshot_cdc_config(cfg: SnapshotCDCConfig) -> CDCConfig:
    """The CDC config a snapshot flow applies its derived events with: each
    row is sequenced by `__snapshot_version`, and `__deleted` flags the
    delete events of keys absent from a snapshot."""
    track_except = None
    if cfg.track_history_except_column_list:
        track_except = list(cfg.track_history_except_column_list) + ["__snapshot_version"]
    return CDCConfig(
        keys=cfg.keys,
        sequence_by="__snapshot_version",
        scd_type=cfg.stored_as_scd_type,
        apply_as_deletes="__deleted = true",
        except_column_list=["__deleted"],
        track_history_column_list=cfg.track_history_column_list,
        track_history_except_column_list=track_except,
    )


def apply_snapshot(
    store: ParquetTableStore,
    target: str,
    snapshot: DataFrame,
    version,
    cfg: SnapshotCDCConfig,
) -> None:
    """Derive CDC events from a full snapshot and apply them.

    Insert/update events: every row in the snapshot at seq=version (unchanged
    rows collapse into the previous run during the SCD rebuild, so re-sending
    the full snapshot is safe and idempotent). Delete events: keys open in the
    target but absent from the snapshot.
    """
    cdc = snapshot_cdc_config(cfg)
    snap = snapshot.withColumn("__snapshot_version", F.lit(version))
    events = snap.withColumn("__deleted", F.lit(False))
    if store.exists(target):
        current = store.read(target)
        if TOMBSTONE in current.columns:
            current = current.filter(~F.col(TOMBSTONE))
        if cfg.stored_as_scd_type == 2:
            current = current.filter(F.col(END_COL).isNull())
        missing = current.join(snapshot.select(*cfg.keys).distinct(), on=cfg.keys, how="left_anti")
        missing = missing.withColumn("__snapshot_version", F.lit(version)).withColumn(
            "__deleted", F.lit(True)
        )
        keep_cols = [c for c in events.columns if c in missing.columns]
        events = events.unionByName(missing.select(*keep_cols), allowMissingColumns=True)
    apply_changes(store, target, events, cdc)
