"""Generated by lakehouse_plumber_spark.codegen — standalone PySpark.

Pipeline:  bronze
Flowgroup: orders

No engine import: this file is exactly what executes.
"""

import importlib.util
import os

from pyspark.sql import Window
from pyspark.sql import functions as F


def _load_module(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def build(spark, out_dir):
    """Run the pipeline; writes tables under out_dir, returns {name: DataFrame}."""
    views = {}
    written = {}
    _pending_compact = {}
    _uc_tags = {}

    def _tbl_path(name):
        return os.path.join(out_dir, name.replace(".", "/"))

    def _ckpt(name):
        return os.path.join(out_dir, "_ckpt", name)

    # action: load_orders (sql)
    df = spark.sql('SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,\n       o_orderstatus\nFROM orders WHERE o_totalprice > 1000\n')
    views['v_orders'] = df
    df.createOrReplaceTempView('v_orders')

    # action: tag_layer (sql)
    df = spark.sql("SELECT *, 'bronze' AS layer, 'tok-golden-001' AS ingest_token FROM v_orders\n")
    views['v_tagged'] = df
    df.createOrReplaceTempView('v_tagged')

    # action: write_orders (materialized_view)
    df = views['v_tagged']
    df.write.mode('overwrite').parquet(_tbl_path('main.bronze.alice_orders_tagged'))
    written['main.bronze.alice_orders_tagged'] = spark.read.parquet(_tbl_path('main.bronze.alice_orders_tagged'))

    # auto-compaction (lhp.autoOptimize.maxFiles), deferred to after every
    # action like the engine (operators/write.py:run_pending_compactions):
    # compacting mid-build would delete the files behind DataFrames already
    # captured in views/written. Same atomic shadow-swap as tables.py:compact,
    # rewrite sized like the engine's, cluster ordering re-applied.
    if _pending_compact:
        import glob as _glob, os as _os, shutil as _shutil, uuid as _uuid
        from pyspark.sql import functions as _F
        for _cname, (_cpath, _cmax, _cpcols, _cccols, _czauto) in _pending_compact.items():
            if len(_glob.glob(_cpath + "/**/*.parquet", recursive=True)) <= _cmax:
                continue
            _cdf = spark.read.parquet(_cpath)
            if _cpcols:
                # partition dirs own their key; morton degrades to
                # within-partition lexicographic here (engine parity,
                # tables.py:compact). Lead the sort with the partition
                # columns so the partitionBy writer's own (unstable) sort
                # is skipped and the cluster order reaches the files
                _cdf = _cdf.repartition(*[_F.col(c) for c in _cpcols])
                if _cccols:
                    _cdf = _cdf.sortWithinPartitions(
                        *(_cpcols + [c for c in _cccols if c not in _cpcols]))
            elif _czauto and _cccols:
                _rows = _cdf.count()
                _cdf = morton_layout(_cdf, _cccols, max(1, -(-_rows // 4000000)))
            else:
                _rows = _cdf.count()
                _cdf = _cdf.repartition(max(1, -(-_rows // 4000000)))
                if _cccols:
                    _cdf = _cdf.sortWithinPartitions(*_cccols)
            _shadow = _cpath + "__swap_" + _uuid.uuid4().hex[:8]
            _w = _cdf.write.mode("overwrite")
            if _cpcols:
                _w = _w.partitionBy(*_cpcols)
            _w.parquet(_shadow)
            _old = _cpath + "__old_" + _uuid.uuid4().hex[:8]
            _os.rename(_cpath, _old)
            _os.rename(_shadow, _cpath)
            _shutil.rmtree(_old, ignore_errors=True)
            # refresh only this path — clearCache() would drop every cached
            # relation in the session (engine parity: tables.py:overwrite)
            spark.catalog.refreshByPath(_cpath)
            written[_cname] = spark.read.parquet(_cpath)
    # UC tags, resolved at compile time: persisted as one artifact per build
    # (the generated-code analogue of the reference's tagging hook; a
    # UC-backed deployment turns these into ALTER TABLE ... SET TAGS)
    if _uc_tags:
        import json as _json
        with open(os.path.join(out_dir, "_uc_tags.json"), "w") as _tf:
            _json.dump(
                {k: {"table_tags": v[0], "column_tags": v[1]}
                 for k, v in _uc_tags.items()},
                _tf, indent=2, sort_keys=True)
    return written
