"""Load operators (sources). Reference inventory: SURVEY §2.1.

Every executor has signature ``fn(ctx: BuildContext, action: Action) -> DataFrame``.
Source config lives in ``action.source`` (a dict for loads).
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_plumber_spark.context import BuildContext
from lakehouse_plumber_spark.models import Action
from lakehouse_plumber_spark.schema_parser import coerce_schema

# Auto-Loader option whitelist we honor on OSS (reference cloudfiles.py:30-55).
# Notification mode / file events are Databricks-managed infra — out of scope.
_CLOUDFILES_RENAME = {
    "cloudFiles.maxFilesPerTrigger": "maxFilesPerTrigger",
    "cloudFiles.maxBytesPerTrigger": "maxBytesPerTrigger",
    "cloudFiles.includeExistingFiles": None,  # OSS file source always includes existing
    "cloudFiles.schemaEvolutionMode": None,  # evolution delegated to explicit schema
    "cloudFiles.inferColumnTypes": None,
    "cloudFiles.format": None,
    "cloudFiles.schemaLocation": None,
    "cloudFiles.rescuedDataColumn": "__rescue_col__",
    "cloudFiles.rescueDataColumn": "__rescue_col__",  # reference's spelling (cloudfiles.py:37)
}

# Full option vocabulary the reference validates against
# (src/lhp/generators/load/cloudfiles.py:30-55, tests/test_cloudfiles_options.py):
# an unknown `cloudFiles.*` key is a spec error, not something to drop silently.
_CLOUDFILES_KNOWN = {
    "format", "schemaLocation", "inferColumnTypes", "maxFilesPerTrigger",
    "maxBytesPerTrigger", "schemaEvolutionMode", "rescueDataColumn",
    "rescuedDataColumn", "includeExistingFiles", "partitionColumns",
    "schemaHints", "allowOverwrites", "backfillInterval", "cleanSource",
    "cleanSource.retentionDuration", "cleanSource.moveDestination",
    "maxFileAge", "useIncrementalListing", "fetchParallelism", "pathRewrites",
    "resourceTag", "useManagedFileEvents", "useNotifications",
    "validateOptions", "useStrictGlobber",
}


def validate_cloudfiles_options(options: dict[str, Any], action_name: str) -> list[str]:
    """Reject unknown `cloudFiles.*` keys; return the known-but-unhonored ones.

    Mirrors the reference's generator-time validation (cloudfiles.py:30-55):
    a typo like `cloudFiles.maxFilesPerTriger` must fail the spec, because
    silently dropping it changes ingestion behavior. Keys the OSS engine
    cannot honor (notification mode etc.) are legal spec — they are returned
    so the caller can log them as ignored. `cloudFiles.validateOptions: false`
    disables the check (same escape hatch as Auto Loader itself).
    """
    if str(options.get("cloudFiles.validateOptions", "true")).lower() == "false":
        return []
    unknown = sorted(
        k for k in options
        if k.startswith("cloudFiles.") and k.split(".", 1)[1] not in _CLOUDFILES_KNOWN
    )
    if unknown:
        # near-miss suggestions, mirroring the reference's field-suggestion
        # layer (validators/field/_field_suggestions.py): a typo'd option
        # should point at the key the user meant
        import difflib

        hints = []
        for k in unknown:
            close = difflib.get_close_matches(k.split(".", 1)[1], _CLOUDFILES_KNOWN, n=1)
            if close:
                hints.append(f"{k} (did you mean cloudFiles.{close[0]}?)")
            else:
                hints.append(k)
        raise ValueError(
            f"load_cloudfiles action {action_name!r}: unknown cloudFiles option(s) "
            f"{hints}; known: {sorted('cloudFiles.' + k for k in _CLOUDFILES_KNOWN)}"
        )
    return sorted(
        k for k in options
        if k.startswith("cloudFiles.")
        and k not in _CLOUDFILES_RENAME
        and k != "cloudFiles.validateOptions"
    )


def _meta(ctx: BuildContext, action: Action, df: DataFrame, file_source: bool) -> DataFrame:
    from lakehouse_plumber_spark.metadata import apply_metadata, resolve_selection, DEFAULT_COLUMNS

    # project-level lhp.yaml columns extend the built-in audit vocabulary
    available = {**DEFAULT_COLUMNS, **ctx.metadata_columns}
    cols = resolve_selection(
        action.operational_metadata, ctx.flowgroup.operational_metadata, available
    )
    if not cols:
        return df
    return apply_metadata(
        df,
        cols,
        pipeline=ctx.flowgroup.pipeline,
        flowgroup=ctx.flowgroup.flowgroup,
        run_id=ctx.run_id,
        custom_columns=ctx.metadata_columns,
        has_file_source=file_source,
    )


def cloudfiles_options(src: dict[str, Any]) -> tuple[str, dict[str, str], Optional[str]]:
    """`(format, reader options, rescue column)`: json/csv rescue corrupt
    records PERMISSIVE-ly; other formats have no rescue column (None)."""
    fmt = src.get("format", "json")
    opts: dict[str, str] = {}
    rescue_col = "_rescued_data"
    for k, v in (src.get("options") or {}).items():
        mapped = _CLOUDFILES_RENAME.get(k, k if not k.startswith("cloudFiles.") else None)
        if mapped == "__rescue_col__":
            rescue_col = str(v)
        elif mapped:
            opts[mapped] = str(v)
    for k, v in (src.get("format_options") or {}).items():
        opts[k] = str(v)
    if fmt not in ("json", "csv"):
        return fmt, opts, None
    opts.setdefault("mode", "PERMISSIVE")
    opts.setdefault("columnNameOfCorruptRecord", rescue_col)
    if fmt == "csv":
        opts.setdefault("header", "true")
    return fmt, opts, rescue_col


# What a compiled cloudfiles load carries, copied verbatim by codegen.
STANDALONE_IMPORTS = ("from typing import Optional", "from pyspark.sql import types as T")
STANDALONE_FUNCTIONS = ("rescued_schema", "file_stream_path")


def rescued_schema(schema: T.StructType, rescue_col: Optional[str]) -> T.StructType:
    """A declared schema plus the string rescue column, unless it declares one."""
    if rescue_col is None or rescue_col in schema.fieldNames():
        return schema
    return T.StructType([*schema.fields, T.StructField(rescue_col, T.StringType())])


def file_stream_path(path: str, opts: dict[str, str]) -> tuple[str, dict[str, str]]:
    """A file stream reads a directory: a single file reads its own, glob-filtered."""
    if not os.path.isfile(path):
        return path, opts
    return os.path.dirname(path), {"pathGlobFilter": os.path.basename(path), **opts}


def load_cloudfiles(ctx: BuildContext, action: Action) -> DataFrame:
    """Incremental file ingestion — OSS Auto-Loader equivalent.

    Reference: src/lhp/generators/load/cloudfiles.py:60-198 /
    templates/load/cloudfiles.py.j2:22-51. On OSS the file source gives
    incremental listing + exactly-once via the stream checkpoint; rescue data
    is emulated with PERMISSIVE mode + columnNameOfCorruptRecord for json/csv.

    Scale: readers parallelize over files; ``maxFilesPerTrigger`` bounds
    micro-batch size; explicit schema avoids a full listing+inference pass.
    """
    src: dict[str, Any] = dict(action.source)  # type: ignore[arg-type]
    ignored = validate_cloudfiles_options(src.get("options") or {}, action.name)
    if ignored:
        ctx.log(action.name, "cloudfiles_options_ignored", options=ignored)
    fmt, reader_opts, rescue_col = cloudfiles_options(src)
    path = ctx.resolve_path(src["path"])
    declared = src.get("schema") or (src.get("schema_file") and ctx.resolve_path(src["schema_file"]))
    schema = rescued_schema(coerce_schema(declared), rescue_col) if declared else None
    stream = (action.readMode or "stream") == "stream"
    if stream:
        path, reader_opts = file_stream_path(path, reader_opts)
        if schema is None:
            # file streams require a schema: infer once from a batch read
            schema = ctx.spark.read.format(fmt).options(**reader_opts).load(path).schema
    reader = (ctx.spark.readStream if stream else ctx.spark.read).format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.options(**reader_opts).load(path)
    return _meta(ctx, action, df, file_source=True)


def load_delta(ctx: BuildContext, action: Action) -> DataFrame:
    """Read a managed table: batch, stream, or CDF (reference delta.py:21-219).

    Option conflict matrix (delta.py:100-180): readChangeFeed excludes
    versionAsOf/timestampAsOf; where_clause/select_columns apply last so
    Catalyst pushes them into the scan.
    """
    src: dict[str, Any] = dict(action.source)  # type: ignore[arg-type]
    table = src.get("table")
    name = ".".join(p for p in (src.get("catalog"), src.get("database") or src.get("schema"), table) if p)
    opts = {k: v for k, v in (src.get("options") or {}).items()}
    stream = (action.readMode or "batch") == "stream"

    read_cdf = str(opts.get("readChangeFeed", "false")).lower() == "true"
    if read_cdf and any(k in opts for k in ("versionAsOf", "timestampAsOf")):
        raise ValueError("readChangeFeed conflicts with time travel options")

    if read_cdf:
        df = ctx.store.read_changes(
            name,
            starting_version=int(opts.get("startingVersion", 0)),
            ending_version=int(opts["endingVersion"]) if "endingVersion" in opts else None,
        )
        if str(opts.get("skipChangeCommits", "false")).lower() == "true":
            df = df.filter(F.col("_change_type") == "insert")
    elif "versionAsOf" in opts or "timestampAsOf" in opts:
        # time travel, reconstructed from the change log: valid for the
        # engine's CDF-enabled append-only tables (with a Delta store this is
        # a native .option("versionAsOf", v) — reference delta.py:100-180)
        if not ctx.store.has_changes(name):
            raise ValueError(
                f"time travel on {name!r} needs delta.enableChangeDataFeed "
                f"(append history); not available for this table"
            )
        df = ctx.store.read_changes(name).filter(F.col("_change_type") == "insert")
        if "versionAsOf" in opts:
            df = df.filter(F.col("_commit_version") <= int(opts["versionAsOf"]))
        else:
            df = df.filter(F.col("_commit_timestamp") <= F.lit(str(opts["timestampAsOf"])).cast("timestamp"))
        df = df.drop("_change_type", "_commit_version", "_commit_timestamp")
    elif ctx.store.exists(name):
        df = ctx.store.read_stream(name) if stream else ctx.store.read(name)
        df = ctx.strip_internal(df) if not src.get("include_internal") else df
    else:
        # registered temp view / catalog table (e.g. testdata views)
        view = name or (src.get("view") or "")
        df = ctx.spark.table(view)
        if stream:
            raise ValueError(f"cannot stream from non-managed view {view!r}")

    for clause in src.get("where_clause") or []:
        df = df.where(clause)
    if src.get("select_columns"):
        df = df.select(*src["select_columns"])
    return _meta(ctx, action, df, file_source=False)


def load_sql(ctx: BuildContext, action: Action) -> DataFrame:
    """View defined by a SQL query (reference load/sql.py)."""
    src = action.source if isinstance(action.source, dict) else {}
    query = src.get("sql") or action.sql
    if not query and (src.get("sql_path") or action.sql_path):
        with open(ctx.resolve_path(src.get("sql_path") or action.sql_path)) as f:
            query = f.read()
    if not query:
        raise ValueError(f"load sql action {action.name!r} missing sql/sql_path")
    from lakehouse_plumber_spark.operators.transform import resolve_sql_tables

    return _meta(ctx, action, ctx.spark.sql(resolve_sql_tables(ctx, query)), file_source=False)


def _import_module(path: str, name_hint: str = "lhp_user_module"):
    spec = importlib.util.spec_from_file_location(name_hint, path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot import {path}")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name_hint] = mod
    spec.loader.exec_module(mod)
    return mod


def load_python(ctx: BuildContext, action: Action) -> DataFrame:
    """View produced by user function f(spark, parameters) (reference load/python.py)."""
    src = action.source if isinstance(action.source, dict) else {}
    params = src.get("parameters") or action.parameters or {}
    fn = action.callable_fn
    if fn is None:
        module_path = ctx.resolve_path(src.get("module_path") or action.module_path)
        mod = _import_module(module_path, f"lhp_load_{action.name}")
        fn = getattr(mod, src.get("function_name") or action.function_name)
    df = fn(ctx.spark, params)
    if not isinstance(df, DataFrame):
        raise TypeError(f"python load {action.name!r} must return a DataFrame")
    return _meta(ctx, action, df, file_source=False)


def load_jdbc(ctx: BuildContext, action: Action) -> DataFrame:
    """Batch read from an external RDBMS (reference load/jdbc.py).

    Scale: pass partitionColumn/lowerBound/upperBound/numPartitions in options
    to parallelize the scan across executors instead of a single connection.
    """
    src: dict[str, Any] = dict(action.source)  # type: ignore[arg-type]
    reader = ctx.spark.read.format("jdbc")
    for k in ("url", "user", "password", "driver"):
        if src.get(k):
            reader = reader.option(k, src[k])
    if src.get("query"):
        reader = reader.option("query", src["query"])
    elif src.get("table"):
        reader = reader.option("dbtable", src["table"])
    for k, v in (src.get("options") or {}).items():
        reader = reader.option(k, str(v))
    return _meta(ctx, action, reader.load(), file_source=False)


KAFKA_SCHEMA_DDL = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def load_kafka(ctx: BuildContext, action: Action) -> DataFrame:
    """Streaming read from Kafka (reference load/kafka.py:25-182).

    `kafka.bootstrap.servers` is mandatory (kafka.py:23). Without brokers (and
    without the kafka connector jar on this image) the ``simulate_from`` option
    reads a directory of kafka-shaped records (same 7-column schema) through
    the file stream so downstream value-parsing logic is exercised unchanged.
    """
    src: dict[str, Any] = dict(action.source)  # type: ignore[arg-type]
    stream = (action.readMode or "stream") == "stream"
    sim = src.get("simulate_from") or (src.get("options") or {}).get("simulate_from")
    if sim:
        sim_path = ctx.resolve_path(sim)
        if stream:
            schema = ctx.spark.read.parquet(sim_path).schema
            df = ctx.spark.readStream.schema(schema).parquet(sim_path)
        else:
            df = ctx.spark.read.parquet(sim_path)
        return _meta(ctx, action, df, file_source=False)

    bootstrap = src.get("bootstrap_servers") or (src.get("options") or {}).get(
        "kafka.bootstrap.servers"
    )
    if not bootstrap:
        raise ValueError("kafka load requires bootstrap_servers (kafka.bootstrap.servers)")
    reader = (ctx.spark.readStream if stream else ctx.spark.read).format("kafka")
    reader = reader.option("kafka.bootstrap.servers", bootstrap)
    for k in ("subscribe", "subscribePattern", "assign"):
        if src.get(k):
            reader = reader.option(k, src[k])
    for k, v in (src.get("options") or {}).items():
        reader = reader.option(k, str(v))
    return _meta(ctx, action, reader.load(), file_source=False)


def load_custom_datasource(ctx: BuildContext, action: Action) -> DataFrame:
    """Python Data Source API read (reference load/custom_datasource.py; Spark 4).

    `spark.dataSource.register(cls)` then `spark.read[Stream].format(name)`.
    """
    src: dict[str, Any] = dict(action.source)  # type: ignore[arg-type]
    cls = src.get("datasource_class_obj")
    if cls is None:
        mod = _import_module(ctx.resolve_path(src["module_path"]), f"lhp_ds_{action.name}")
        cls = getattr(mod, src["custom_datasource_class"])
    ctx.spark.dataSource.register(cls)
    fmt = src.get("format") or cls.name()
    stream = (action.readMode or "batch") == "stream"
    reader = (ctx.spark.readStream if stream else ctx.spark.read).format(fmt)
    for k, v in (src.get("options") or {}).items():
        reader = reader.option(k, str(v))
    return _meta(ctx, action, reader.load(), file_source=False)


_STREAM_REF = re.compile(r"\bSTREAM\s*\(\s*([A-Za-z0-9_.`]+)\s*\)", re.IGNORECASE)


def _rewrite_stream_refs(query: str) -> str:
    """`stream(view)` SQL sugar -> plain view ref (the engine's availableNow
    execution model makes every reference incremental per run)."""
    return _STREAM_REF.sub(r"\1", query)
