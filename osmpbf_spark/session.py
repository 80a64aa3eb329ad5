"""SparkSession factory with the engine's tuned defaults.

Designed for a multi-executor cluster; tests run the same config on
``local[N]``. AQE is on for runtime re-planning (skew-join splitting for
megacity cells — BASELINE.json north_rule), Arrow is on for the vectorized
UDF path, and shuffle partitions default to a multiple of the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Repo root (parent of the osmpbf_spark package) — must be importable by
# executor Python workers. In cluster mode ship the package via
# ``spark-submit --py-files osmpbf_spark.zip``; for local/driver-spawned
# workers, exporting PYTHONPATH before the JVM starts is sufficient.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_pythonpath():
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + pp if pp else ""))


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make ``osmpbf_spark`` importable on executor Python workers of an
    ALREADY-RUNNING session (the driver-harness case, where we didn't
    control JVM startup): zip the package and ``addPyFile`` it — the
    same mechanism as ``spark-submit --py-files osmpbf_spark.zip``."""
    marker = "_osmpbf_pyfiles_added"
    ctx = spark.sparkContext
    if getattr(ctx, marker, False):
        return
    import shutil
    import tempfile
    zip_base = os.path.join(tempfile.gettempdir(), "osmpbf_spark_pkg")
    zip_path = zip_base + ".zip"
    pkg_dir = os.path.join(_PKG_ROOT, "osmpbf_spark")
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files if f.endswith(".py"))
    if not os.path.exists(zip_path) \
            or os.path.getmtime(zip_path) < newest_src:
        staging = tempfile.mkdtemp()
        shutil.copytree(pkg_dir, os.path.join(staging, "osmpbf_spark"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.make_archive(zip_base, "zip", staging)
    ctx.addPyFile(zip_path)
    setattr(ctx, marker, True)


def local_relation(spark: SparkSession, rows, ddl: str):
    """SMALL bounded driver-side rows + DDL schema → a DataFrame planned
    as a ``LocalTableScan``.

    ``createDataFrame(list_of_tuples)`` plans a Python-RDD scan
    (``applySchemaToPythonRDD``) that launches Python workers and runs
    an extra Spark job on EVERY action referencing the relation —
    measured ~0.5 s per grid_knn round at the bench shape (r6). Routing
    the same rows through pyarrow with the exact Arrow types derived
    from the DDL yields a LocalRelation instead; None → NULL, and a
    resulting schema that differs from the DDL raises ValueError, as do
    duplicate DDL field names. Only use for bounded metadata-sized
    relations (offsets, centroids, chunk ranges, mix rates): a
    LocalRelation embeds its rows in the plan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType
    schema = StructType.fromDDL(ddl)
    names = [f.name.lower() for f in schema.fields]
    if len(set(names)) != len(names):
        # pa.table({...}) would silently keep only the last of them;
        # Spark resolves names case-insensitively by default
        raise ValueError(f"duplicate field names in DDL: {ddl!r}")
    rows = list(rows)
    # strict: ragged rows raise here, and a row wider/narrower than the
    # DDL raises below — createDataFrame(list, ddl) raised on both, and
    # silent truncation would be data loss (r6 review)
    cols = list(zip(*rows, strict=True)) if rows else \
        [[] for _ in schema.fields]
    if rows and len(cols) != len(schema.fields):
        raise ValueError(
            f"rows have {len(cols)} fields, DDL has "
            f"{len(schema.fields)}: {ddl!r}")
    tbl = pa.table({
        f.name: pa.array(list(c), type=to_arrow_type(f.dataType))
        for f, c in zip(schema.fields, cols)})
    df = spark.createDataFrame(tbl)
    if df.schema != schema:
        raise ValueError(f"planned schema {df.schema} differs from DDL "
                         f"{schema}: {ddl!r}")
    return df


def get_spark(app_name: str = "osmpbf_spark", *, master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    _ensure_pythonpath()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # documents rows are fat (media payloads) — keep scan splits modest
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
