"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen for a
multi-executor cluster at large scale: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow exchange for the pandas-UDF path, and
UTC session time so timestamp semantics are deterministic across engines.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "configure_builder", "tune_for_input", "plan_fits"]

_DEFAULTS = {
    # AQE: coalesce small shuffle partitions, split skewed ones, re-plan joins
    # at runtime — essential at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for createDataFrame/toPandas and all pandas-UDF exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64k-row Arrow batches (Spark default 10k): the map engine consumes
    # whole partitions, so fewer batch boundaries = less IPC overhead
    # (−10-17% on arrow-path transforms at sf1). Tradeoff: per-batch memory
    # is row-count-bounded — lower this for very wide rows (large media
    # blobs) on memory-tight executors.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic timestamps regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Self-describing parquet timestamps.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Parquet TIMESTAMP(NANOS) (e.g. pandas-written ns data) is otherwise an
    # analysis error; read it as a long of nanoseconds and convert at load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # managed tables (saveAsTable / bucketing) live outside the repo
    "spark.sql.warehouse.dir": "/tmp/fugue_spark_warehouse",
}


# C2 compiler directives (JEP 165) for the driver JVM. A one-shot job on
# this engine spends about half its CPU in the JIT, and most of the C2 part
# compiles machinery that runs once per query. Methods matched in
# c2_directives.json are never compiled by C2; the tiered policy compiles
# them with C1 (tier 1) instead, and everything else still reaches C2.
# Rule: nothing that runs per row goes in. Generated query classes,
# org/apache/spark/sql/execution, catalyst/expressions, java/lang, java/util
# and scala/collection stay on C2. An excluded method is also never inlined
# by C2, so a per-row caller would pay a C1 call per row.
#   org/codehaus        Janino compiling the generated classes
#   org/antlr           the SQL parser
#   org/apache/xbean    ASM reading closures for the closure cleaner
#   java/io/Object*     Java serialization of tasks and closures (the rest
#                       of java/io, e.g. DataInputStream, is on shuffle reads)
#   jdk/internal/loader, jdk/internal/org   class loading; the JDK's ASM
#                       spinning lambda and method-handle classes
#   scala/reflect/internal, scala/reflect/runtime   TypeTag unpickling
#                       (0.65-1.01 s of C2 without the directives, in three
#                       JFR recordings of a small-sf0.1 set-up + cold pass;
#                       the smallest entries on the list)
# Left out although they compile once-per-query code: com/ibm/icu (Spark
# maps case with ICU per row), com/fasterxml (Jackson parses JSON rows),
# java/lang/invoke and sun/invoke (the method-handle glue C2 inlines into
# per-row callers).
# Medians of 10 alternating perfbench pairs (4-core box, 2026-10):
#   small-sf0.1       cold_cpu_s 67.99 -> 59.04 (10/10 lower), setup_s
#                     5.12 -> 4.86, warm.cpu_s 23.61 -> 20.78
#   relational-sf0.5  cold_cpu_s 52.99 -> 44.96 (10/10 lower), setup_s
#                     1.82 -> 1.87, warm.cpu_s 13.43 -> 14.10 (+5%)
# C1 for everything (-XX:TieredStopAtLevel=1) is a trap: on relational-sf0.5
# it took cold_cpu_s from 46.4 to 30.4 but warm.cpu_s from 12.2 to 19.0.
# DisplayVMOutputToStderr sends the JVM's "1 compiler directives added"
# line to stderr instead of the program's stdout. CompilerDirectivesFile
# needs JDK 9 or later (a JDK 8 JVM refuses to start on it); Spark 4, the
# package's floor in pyproject.toml, runs on JDK 17 or later only.
_C2_DIRECTIVES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "c2_directives.json")
# Spark's launcher splits an option string like a shell: inside double
# quotes a backslash escapes the next character, so escape the path's own
# backslashes (Windows separators) and double quotes.
_JIT_FLAGS = (
    "-XX:+UnlockDiagnosticVMOptions -XX:+DisplayVMOutputToStderr "
    '"-XX:CompilerDirectivesFile=%s"' % re.sub(r'([\\"])', r"\\\1", _C2_DIRECTIVES)
)


def configure_builder(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply this engine's defaults to an existing builder."""
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    return builder


# Below this total input size, adaptive re-planning costs more than it saves:
# AQE materializes every exchange as its own job (stats collection + re-plan),
# which on a cluster is noise but on a small interactive input is the dominant
# wall-clock term (~50-150 ms per job).  64 MB is far below one executor's
# working set — nothing AQE decides (coalesce, skew split, join re-plan) can
# matter at that size.
SMALL_INPUT_BYTES = 64 * 1024 * 1024

# Target bytes per shuffle partition when sizing small inputs: 2 MB keeps
# every partition trivially cache-resident while still giving the scheduler
# a handful of tasks to overlap.
_SMALL_PARTITION_BYTES = 2 * 1024 * 1024


def plan_fits(df: DataFrame, max_bytes: int) -> bool:
    """True when Catalyst's size estimate for ``df`` is at most ``max_bytes``.

    The estimate is read from the optimized (column-pruned) plan before
    execution, so it costs no job. An unknown estimate counts as large:
    the read can fail, and plans without statistics (e.g. RDD-backed
    frames) report ``spark.sql.defaultSizeInBytes`` (Long.MaxValue), which
    exceeds any threshold. Every plan-time size branch in the engine
    decides through this one reading.
    """
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - estimate is best-effort
        return False
    return est <= max_bytes


def _path_bytes(path: str) -> int:
    """Bytes on disk under ``path``: a file's size, a directory's walk
    total, 0 for a missing path."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def tune_for_input(spark: SparkSession, input_dir: str) -> dict:
    """Size runtime confs to the input, like AQE would — but one level up.

    The engine's scale posture (AQE on, shuffle partitions ≈ cores) is right
    for the 100-TB case, but a planner that cannot notice its input is 17 MB
    pays pure scheduling overhead: AQE turns every exchange into a separate
    stats-collection job, and 32 shuffle partitions mean 32 tasks per
    exchange each doing microseconds of work.  This applies the inverse
    adaptive decision: for inputs under ``SMALL_INPUT_BYTES``, disable AQE
    (static planning is exact when the whole input fits in one task's
    memory) and size shuffle partitions by input bytes instead of cores.
    Both confs are runtime-settable, so this is per-workload, not
    per-session.  Returns the previous values so callers can restore them.
    """
    prev = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    # remember the session's configured (pre-tuning) partition count so
    # repeated tune calls on growing inputs restore the real baseline, not a
    # previous tune's shrunken value. A user's own conf.set between tune
    # calls must win: if the current value differs from what WE last set,
    # the user changed it — adopt it as the new baseline.
    base_key = "spark.fugue.baseline.shufflePartitions"
    set_key = "spark.fugue.tuned.shufflePartitions"
    current = int(prev["spark.sql.shuffle.partitions"])
    try:
        last_set = int(spark.conf.get(set_key))
    except Exception:  # noqa: BLE001 - unset on first call
        last_set = None
    if last_set is None or current != last_set:
        baseline = current
        spark.conf.set(base_key, str(baseline))
    else:
        baseline = int(spark.conf.get(base_key))
    size = _path_bytes(input_dir) if os.path.isdir(input_dir) else 0
    if 0 < size < SMALL_INPUT_BYTES:
        parts = max(4, min(baseline, size // _SMALL_PARTITION_BYTES))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        spark.conf.set(set_key, str(parts))
    else:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", str(baseline))
        spark.conf.set(set_key, str(baseline))
    return prev


def get_spark(
    app_name: str = "fugue_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    **conf: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset, so unit
    tests and the bench harness share one code path. On a real cluster the
    caller passes master/None and lets spark-submit decide.

    The driver JVM gets the C2 compiler directives of ``_JIT_FLAGS``,
    through ``spark.driver.defaultJavaOptions`` (ahead of any the caller
    passes there). Spark puts that key in front of
    ``spark.driver.extraJavaOptions``, so a caller's own JVM flags come
    last and win, and an ``extraJavaOptions`` from spark-defaults.conf is
    not overridden. A ``spark.driver.defaultJavaOptions`` from
    spark-defaults.conf *is* replaced, since builder confs override that
    file: a caller who needs those flags passes them as
    ``spark__driver__defaultJavaOptions``, which keeps them after ours.
    The directives need JDK 9 or later; Spark 4, which the package
    requires, runs on JDK 17 or later. JVM flags take effect only when this
    call launches the JVM; a session built on an already-running JVM keeps
    that JVM's flags.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    builder = configure_builder(builder)
    if shuffle_partitions is None:
        # local mode: match core count, not the 200 default
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    conf = {k.replace("__", "."): v for k, v in conf.items()}
    key = "spark.driver.defaultJavaOptions"
    conf[key] = " ".join(filter(None, (_JIT_FLAGS, conf.get(key))))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
