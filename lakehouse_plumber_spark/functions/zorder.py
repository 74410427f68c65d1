"""Z-order (Morton) interleaved sort keys for multi-column data skipping.

`cluster_columns` sorts rows lexicographically inside write tasks, which
makes parquet min/max footers selective on the LEADING column only; a filter
on the second column still touches every file.  Interleaving the bits of
several columns into one Morton key keeps rows that are close in EVERY
dimension close in the file order, so footer ranges stay narrow on each
clustered column simultaneously — the layout Delta's OPTIMIZE ZORDER BY
builds, here as a pure Spark SQL expression usable with any writer
(`sortWithinPartitions(zorder_col)`, or the store's `order_within_files`).

Construction (deterministic, two passes like every stats-shipping operator
here): one metadata-sized min/max aggregate per column (collected to
literals), then a narrow projection that quantizes each column to
`bits`-bit buckets over its range and interleaves the bits with a
`aggregate(sequence(...))` fold — no shuffle beyond whatever the writer
already does, no UDF.  NULLs quantize to bucket 0 (they sort first, same
convention as Spark's NULLS FIRST).

The quantization is rank-free (linear over the min/max range), so heavily
skewed columns get uneven buckets — at 100 TB feed pre-computed range
boundaries from a sample into `zorder_key_expr` instead of raw min/max
(the expression is the same; only the (lo, hi) literals change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_plumber_spark.llm.hashing import let_spark

# What a compiled `cluster_by_auto` script carries, copied verbatim by codegen.
STANDALONE_IMPORTS = ("from pyspark.sql import DataFrame",)
STANDALONE_FUNCTIONS = ("let_spark", "zorder_key_expr", "with_zorder_key", "morton_layout")


def zorder_key_expr(ranges: list[tuple[str, float, float]], bits: int = 16) -> str:
    """Morton key expression from per-column (expr, lo, hi) ranges.

    Each column is scaled to an integer bucket in [0, 2^bits) over [lo, hi]
    (clamped; NULL → 0), then bit b of column i lands at key position
    `b * n_cols + i`.  Total key width bits*n_cols must fit a signed 64-bit
    int (≤ 62).
    """
    n = len(ranges)
    if not n:
        raise ValueError("zorder needs at least one column")
    if bits < 1 or bits * n > 62:
        raise ValueError(
            f"bits*n_cols must be in [1, 62], got {bits}*{n} = {bits * n}"
        )
    top = (1 << bits) - 1
    qs = []
    for expr, lo, hi in ranges:
        span = hi - lo
        if span <= 0:
            qs.append("0L")
            continue
        scaled = (
            f"CAST(least(greatest((CAST({expr} AS DOUBLE) - {lo!r}) "
            f"/ {span!r}, 0.0D), 1.0D) * {top} AS BIGINT)"
        )
        qs.append(f"coalesce({scaled}, 0L)")
    # let-bind the quantized buckets so each is computed once per row, not
    # once per bit of the fold
    fields = ", ".join(f"'q{i}', {q}" for i, q in enumerate(qs))
    terms = " | ".join(
        f"shiftleft(shiftright(qq.q{i}, b) & 1, b * {n} + {i})" for i in range(n)
    )
    return let_spark(
        f"named_struct({fields})",
        "qq",
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, b) -> acc | {terms})",
    )


def with_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, out: str = "__zorder"
) -> DataFrame:
    """Attach a Morton key over `cols`, deriving each column's range from one
    metadata-sized min/max aggregate (collected to literals).  Columns must
    be numeric or temporal (hash or dictionary-encode strings first);
    non-finite values are excluded from the range stats and clamp to the
    nearest bucket like any other out-of-range value."""
    import math

    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    schema = {f.name: f.dataType for f in df.schema.fields}
    nexprs = []
    for c in cols:
        t = schema.get(c)
        if isinstance(t, (TimestampType, TimestampNTZType)):
            nexprs.append(f"CAST(unix_micros({c}) AS DOUBLE)")
        elif isinstance(t, DateType):
            nexprs.append(f"CAST(unix_date({c}) AS DOUBLE)")
        elif t is None or isinstance(t, NumericType):
            nexprs.append(f"CAST({c} AS DOUBLE)")
        else:
            raise ValueError(
                f"zorder column {c!r} has type {t.simpleString()}; only "
                "numeric/temporal columns can be range-quantized — hash or "
                "dictionary-encode it first"
            )
    aggs = []
    for ne in nexprs:
        # non-finite guard: a NaN/Inf value would otherwise poison min/max
        # and end up interpolated as an unparseable literal
        fin = f"CASE WHEN isnan({ne}) THEN NULL ELSE {ne} END"
        aggs += [
            F.expr(f"min(CASE WHEN {fin} = double('-Infinity') THEN NULL ELSE {fin} END)"),
            F.expr(f"max(CASE WHEN {fin} = double('Infinity') THEN NULL ELSE {fin} END)"),
        ]
    row = df.agg(*aggs).collect()[0]

    def _fin(v):
        return v if v is not None and math.isfinite(v) else 0.0

    ranges = [
        (ne, _fin(row[2 * i]), _fin(row[2 * i + 1]))
        for i, ne in enumerate(nexprs)
    ]
    return df.withColumn(out, F.expr(zorder_key_expr(ranges, bits)))


def morton_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int | None = None,
    bits: int = 16,
) -> DataFrame:
    """Lay `df` out by the Morton key over `cols`: range-repartition (to
    `n_files` partitions, or spark.sql.shuffle.partitions when None) and sort
    on the interleaved key, then drop it — every output file covers a compact
    hyper-rectangle, so min/max footers prune on EACH clustered column.

    This is the reusable write-path shape behind `zorder_write`, the YAML
    `cluster_by_auto` layout (operators/write.py:_clustered_for_write), and
    morton-preserving compaction (tables.py:compact).  String columns are
    xxhash64-encoded before quantization: equal values still share a bucket
    (equality-predicate skipping survives) but hashing has no range
    locality — range predicates on string keys don't prune.

    `bits` is auto-fitted to the column count (bits*n_cols must stay inside
    a signed 64-bit key): 2 cols keep 16 bits, 4 cols get 15, 8 cols get 7 —
    quantization resolution degrades gracefully instead of raising the
    strict `with_zorder_key` error for a layout-only operation.
    """
    from pyspark.sql.types import StringType

    bits = max(1, min(bits, 62 // max(1, len(cols))))

    types = {f.name: f.dataType for f in df.schema.fields}
    enc: dict[str, str] = {}
    out = df
    for c in cols:
        if isinstance(types.get(c), StringType):
            enc[c] = f"__zenc_{c}"
            out = out.withColumn(enc[c], F.xxhash64(F.col(c)))
    keyed = with_zorder_key(out, [enc.get(c, c) for c in cols], bits)
    parts: list = [n_files] if n_files else []
    return (
        keyed.repartitionByRange(*parts, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder", *enc.values())
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write `df` as `n_files` parquet files range-partitioned AND sorted by
    the Morton key over `cols` — every file covers a compact hyper-rectangle,
    so min/max footers prune on any clustered column."""
    morton_layout(df, cols, n_files, bits).write.mode("overwrite").parquet(path)


def zorder_key_duck(
    table: str,
    cols: list[str],
    bits: int = 8,
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for `with_zorder_key` over numeric columns: the same
    min/max range stats (computed in-query), the same clamp-scale
    quantization, the same bit interleave (unrolled — DuckDB has no lambda
    fold over integers worth using here).  One cross-engine trap is made
    explicit: Spark's CAST(double AS BIGINT) TRUNCATES while DuckDB's
    rounds, so the oracle floors before casting (values are non-negative,
    floor == truncate)."""
    n = len(cols)
    top = (1 << bits) - 1
    # mirror with_zorder_key's non-finite handling: NaN excluded from both
    # bounds, -Inf from the min, +Inf from the max, and a still-non-finite
    # (or empty) bound falls back to 0.0
    stats_parts = []
    for i, c in enumerate(cols):
        v = f"CAST({c} AS DOUBLE)"
        fin = f"CASE WHEN isnan({v}) THEN NULL ELSE {v} END"
        mn = f"min(CASE WHEN {fin} = '-Infinity'::DOUBLE THEN NULL ELSE {fin} END)"
        mx = f"max(CASE WHEN {fin} = 'Infinity'::DOUBLE THEN NULL ELSE {fin} END)"
        stats_parts.append(
            f"coalesce(CASE WHEN isfinite({mn}) THEN {mn} END, 0.0) AS lo{i}, "
            f"coalesce(CASE WHEN isfinite({mx}) THEN {mx} END, 0.0) AS hi{i}"
        )
    stats = ", ".join(stats_parts)
    qs = []
    for i, c in enumerate(cols):
        scaled = (
            f"CAST(floor(least(greatest((CAST({c} AS DOUBLE) - lo{i}) "
            f"/ (hi{i} - lo{i}), 0.0), 1.0) * {top}) AS BIGINT)"
        )
        qs.append(
            f"CASE WHEN hi{i} - lo{i} <= 0 THEN 0 ELSE coalesce({scaled}, 0) END AS q{i}"
        )
    terms = " | ".join(
        f"(((q{i} >> {b}) & 1) << ({b} * {n} + {i}))"
        for b in range(bits)
        for i in range(n)
    )
    col_list = ", ".join(cols)
    return f"""
    WITH s AS (SELECT {stats} FROM {table}),
    q AS (SELECT {id_col}, {col_list}, {', '.join(qs)}
          FROM {table} CROSS JOIN s)
    SELECT {id_col}, {col_list}, CAST({terms} AS BIGINT) AS zkey
    FROM q
    """
