"""Session helpers: make ``grabspark`` importable on executors.

Driver-side imports don't make a package visible to Python workers (in
cluster mode, or in local mode when the driver's cwd isn't the repo).
``attach_package`` zips the package and registers it via
``SparkContext.addPyFile`` — the same mechanism ``spark-submit
--py-files grabspark.zip`` uses (BASELINE.json launch mode), so library
callers get it automatically and spark-submit users get a no-op.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_ATTACHED_ATTR = "_grabspark_pyfile_attached"


def package_zip(dest_dir: str | None = None) -> str:
    """Write grabspark.zip (the --py-files artifact) and return its path."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="grabspark-pyfiles-")
    zpath = os.path.join(dest_dir, "grabspark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for fname in sorted(os.listdir(pkg_dir)):
            if fname.endswith(".py"):
                zf.write(os.path.join(pkg_dir, fname), arcname=f"grabspark/{fname}")
            elif os.path.isdir(os.path.join(pkg_dir, fname)) and fname != "__pycache__":
                sub = os.path.join(pkg_dir, fname)
                for f2 in sorted(os.listdir(sub)):
                    if f2.endswith(".py"):
                        zf.write(os.path.join(sub, f2), arcname=f"grabspark/{fname}/{f2}")
    return zpath


def attach_package(spark: SparkSession) -> None:
    """Idempotently ship this package to executors.

    When the session was launched via ``spark-submit --py-files
    grabspark.zip`` the package is already on every worker; re-adding a
    freshly-built zip would fail if the source tree changed since submit
    (Spark refuses same-name files with different contents), so detect
    the shipped copy and no-op."""
    sc = spark.sparkContext
    if getattr(sc, _ATTACHED_ATTR, False):
        return
    try:
        shipped = any(str(f).endswith("grabspark.zip") for f in sc.listFiles)
    except Exception:
        shipped = False
    if not shipped:
        sc.addPyFile(package_zip())
    setattr(sc, _ATTACHED_ATTR, True)


def driver_memory() -> str:
    """Driver heap for the bench scripts: ``SPARK_GRAFT_DRIVER_MEM`` if
    set, else half of this machine's physical memory (a fixed default
    larger than the machine swaps or gets the driver killed)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(phys // 2 >> 20, 1024)}m"


def default_session(app: str = "grabspark", cores: str | int = "*", shuffle_partitions: int | None = None) -> SparkSession:
    """The bench scripts' local session: AQE on, Arrow on, UTC, no UI,
    ``driver_memory()`` heap, ERROR log level.  Bucketed scans stay
    bucketed even where Spark would judge them useless
    (``autoBucketedScan`` off): ``dedup_incremental`` stores its corpus
    bucketed on the band key (``ops.dedup._inc_corpus_tables``) so the
    batch probe joins it without shuffling the corpus."""
    n = str(cores)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    attach_package(spark)
    return spark
