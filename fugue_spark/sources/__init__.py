"""Load/save for parquet, csv, json (+ stubs for lake formats).

Reference semantics (fugue/execution/execution_engine.py:1127-1168,
fugue_spark/_utils/io.py behavior):

* format inferred from the path suffix when not given;
* ``columns`` = projection (list) — pushed into the scan;
* csv: ``header`` / ``infer_schema`` params, or an explicit schema;
* save modes overwrite/append/error; ``partition_by``; ``force_single``
  writes one data file at exactly ``path`` (coalesce(1) through a temp
  dir — a deliberate anti-scale escape hatch for small exports only).
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import stat
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fugue_spark.schema import parse_schema
from fugue_spark.session import plan_fits

__all__ = ["load_df", "save_df", "infer_format"]

_FORMATS = ("parquet", "csv", "json", "orc", "avro")

# Target size of one partitioned-write output file: 128 MiB, the usual
# parquet/HDFS block size. save_df pays the clustering shuffle only when the
# frame may not fit files_per_partition files of this size.
_TARGET_FILE_BYTES = 128 << 20

# Schemas Spark inferred for single local parquet files. Spark infers a
# parquet schema with a one-task job that reads the footer
# (ParquetUtils.inferSchema -> mergeSchemasInParallel parallelizes even one
# file); a read given the schema runs no job. Process-tree CPU-s per read
# of a relational sf0.5 dim or orders file on a warm JVM (local[4], 4-core
# box, median of 5 x 10 reads): 0.045-0.076 inferred, 0.009-0.012 given.
# The key is the file version (realpath, device, inode, size, mtime, ctime)
# plus every SQL conf the inference reads: the ParquetToSparkSchemaConverter
# (SQLConf) constructor, ParquetUtils.inferSchema's merge/summary switches
# and ignoreCorruptFiles (Spark 4.1). Oldest entries are evicted first.
_SCHEMA_MEMO_MAX = 256
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
)
_SCHEMA_MEMO: "dict[tuple, T.StructType]" = {}
_SCHEMA_MEMO_LOCK = threading.Lock()


def hashable(dt: T.DataType) -> bool:
    """True when ``xxhash64`` accepts a column of type ``dt``: it rejects
    MapType anywhere in the type tree."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(hashable(f.dataType) for f in dt.fields)
    return True


def infer_format(path: str) -> str:
    base = path.rstrip("/*")
    for fmt in _FORMATS:
        if base.endswith("." + fmt):
            return fmt
    raise ValueError(
        f"cannot infer format from {path!r}; pass format_hint explicitly"
    )


def load_df(
    spark: SparkSession,
    path: "str | list[str]",
    format_hint: "str | None" = None,
    columns: "list[str] | str | None" = None,
    schema: "str | None" = None,
    **params,
) -> DataFrame:
    paths = [path] if isinstance(path, str) else list(path)
    fmt = format_hint or infer_format(paths[0])
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    reader = spark.read
    if fmt == "csv":
        header = params.pop("header", False)
        infer_schema = params.pop("infer_schema", False)
        if schema is not None and infer_schema:
            raise ValueError("cannot set both schema and infer_schema")
        reader = reader.option("header", str(bool(header)).lower())
        if schema is not None:
            reader = reader.schema(parse_schema(schema))
        elif infer_schema:
            reader = reader.option("inferSchema", "true")
    elif schema is not None:
        reader = reader.schema(parse_schema(schema))
    for k, v in params.items():
        reader = reader.option(k, v)
    if fmt == "parquet" and schema is None and not params and len(paths) == 1:
        df = _read_parquet_file(spark, reader, paths[0])
    elif fmt in ("parquet", "csv", "json", "orc"):
        df = getattr(reader, fmt)(*paths)
    else:
        df = reader.format(fmt).load(paths)
    if columns is not None:
        if isinstance(columns, str):  # schema string: project + cast
            target = parse_schema(columns)
            df = df.select(*[df[f.name].cast(f.dataType).alias(f.name) for f in target.fields])
        else:
            df = df.select(*columns)
    return df


def _file_version(path: str) -> "tuple | None":
    """(realpath, device, inode, size, mtime, ctime) of a regular file at an
    absolute, glob-free path; None for anything else."""
    if not os.path.isabs(path) or any(c in path for c in "*?[{\\"):
        return None
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (real, st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _read_parquet_file(spark: SparkSession, reader, path: str) -> DataFrame:
    """``reader.parquet(path)``, passing the schema Spark inferred for the
    same file version under the same confs when there is one (see
    ``_SCHEMA_MEMO``). Only a local file is memoized: under another default
    file system an absolute path names a file Python cannot stat."""
    version = _file_version(path)
    if version is None:
        return reader.parquet(path)
    fs = spark.conf.get("fs.defaultFS", None)
    if fs is None:
        fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if not str(fs).startswith("file:"):
        return reader.parquet(path)
    key = (version, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return reader.schema(schema).parquet(path)
    df = reader.parquet(path)
    if _file_version(path) == version:  # the file did not change under Spark
        schema = df.schema
        with _SCHEMA_MEMO_LOCK:
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                del _SCHEMA_MEMO[next(iter(_SCHEMA_MEMO))]
            _SCHEMA_MEMO[key] = schema
    return df


def save_df(
    df: DataFrame,
    path: str,
    format_hint: "str | None" = None,
    mode: str = "overwrite",
    partition_by: "list[str] | None" = None,
    force_single: bool = False,
    **params,
) -> None:
    fmt = format_hint or infer_format(path)
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    if mode not in ("overwrite", "append", "error", "ignore"):
        raise ValueError(f"unsupported save mode {mode!r}")
    if force_single:
        if partition_by:
            raise ValueError("force_single and partition_by are mutually exclusive")
        _save_single_file(df, path, fmt, mode, **params)
        return
    if partition_by:
        # cluster rows by partition value before writing: without this every
        # task writes a fragment into every partition directory — O(tasks ×
        # values) small files, the classic hive-partitioning anti-pattern
        # (at 1000 executors that is ~1000 files per value). Clustering on
        # the keys ALONE would cap write parallelism at the value count
        # (3 tasks for 3 flags — wrong for a huge value), so a bounded
        # deterministic salt rides along: ≤ files_per_partition files per
        # value AND value×salt write parallelism. No rand() — reruns
        # produce identical layouts.
        from pyspark.sql import functions as F

        explicit_layout = "files_per_partition" in params
        k = int(params.pop("files_per_partition", 8))
        # The clustering exchange is a FULL shuffle of the payload — worth it
        # only when the input is big enough that the direct write would
        # actually fragment. When the optimizer's (column-pruned, pre-
        # execution, no job) size estimate says the whole frame fits in k
        # target-size files, the direct write's file count is already
        # bounded by its scan/shuffle task count — which for an input this
        # small is of the same order as k — so the shuffle buys nothing.
        # The bound scales with DATA (estimate grows 100 TB-ward → always
        # cluster), not with the local core count. plan_fits reads an
        # unknown estimate as large, so such frames keep the clustered
        # path — fail-safe. An EXPLICIT files_per_partition is a layout
        # request (compact_dataset sizes its output through it) and always
        # clusters.
        if explicit_layout or not plan_fits(df, k * _TARGET_FILE_BYTES):
            exprs = [df[c] for c in partition_by]
            salt_cols = [f.name for f in df.schema.fields if hashable(f.dataType)]
            if k > 1 and salt_cols:
                salt = F.pmod(F.xxhash64(*[df[c] for c in salt_cols]), F.lit(k))
                exprs.append(salt)
            df = df.repartition(*exprs)
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", str(bool(params.pop("header", False))).lower())
    for k, v in params.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path) if fmt in ("parquet", "csv", "json", "orc") else writer.format(fmt).save(path)


def _save_single_file(df: DataFrame, path: str, fmt: str, mode: str, **params) -> None:
    if mode in ("error", "ignore") and os.path.exists(path):
        if mode == "ignore":
            return
        raise FileExistsError(path)
    tmp = tempfile.mkdtemp(prefix="fugue_spark_single_")
    try:
        out_dir = os.path.join(tmp, "out")
        writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", str(bool(params.pop("header", False))).lower())
        for k, v in params.items():
            writer = writer.option(k, v)
        getattr(writer, fmt)(out_dir)
        parts = _glob.glob(os.path.join(out_dir, "part-*"))
        if len(parts) != 1:
            raise RuntimeError(f"expected one part file, found {parts}")
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        if os.path.isdir(path):
            shutil.rmtree(path)
        shutil.move(parts[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
