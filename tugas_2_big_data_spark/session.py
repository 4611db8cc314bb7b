"""SparkSession factory and session tuning.

The reference builds ad-hoc sessions (one per Mongo collection at
``yfinance_transform.py:104-107``, a 2g/2g local[*] session at
``idx_transform.py:76-93``). Our engine uses ONE session with AQE and
Arrow enabled, UTC timezone (oracle comparability), and shuffle
parallelism sized to the session's cores rather than the Spark default
of 200.

At cluster scale the same factory applies: AQE handles runtime
coalescing/skew; shuffle partitions should be ~2-3× total cores.
"""

from __future__ import annotations

import logging
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Runtime confs the query RESULTS depend on. Every registered query's
# oracle assumes them, so a session that refuses one must fail instead
# of returning values that silently differ from the oracle.
SEMANTIC_CONF: dict[str, str] = {
    # period keys are date_format strings — UTC makes them comparable
    "spark.sql.session.timeZone": "UTC",
    # reference semantics are Spark-3 non-ANSI (cast → NULL, no
    # arithmetic exceptions); Spark 4 defaults ANSI on
    "spark.sql.ansi.enabled": "false",
}

# Runtime confs that only move speed. Best effort on a session this
# package did not build: a refusal is logged and the query runs on.
PERF_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalesces shuffle outputs below minPartitionSize (default
    # 1 MB). Kilobyte-scale intermediates with compute-heavy
    # projections above them (HOF folds, Arrow UDFs) collapse to ONE
    # task and serialize on a single core; 64 KB keeps such stages
    # wide while still folding away empty/trivial partitions. At
    # cluster scale partitions are MBs+ and this setting is inert.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # InferFiltersFromGenerate rewrites explode(expr) into
    # size(expr) > 0 AND ... filters and pushes them below the
    # projection — substituting the FULL generator expression into
    # the filter. For computed arrays (shingles, band structs,
    # probe lists) that re-evaluates an expensive HOF chain once
    # per filter check on the narrow pre-shuffle stage: the
    # exhaustive n-gram Jaccard measured 10.5 s -> 2.9 s at sf0.1
    # with the rule off. Explode already skips empty arrays, so the
    # rule is a pure pre-prune optimization we never benefit from.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "tugas_2_big_data_spark",
    master: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The default JVM code cache (240 MB) overflows after a few dozen
        # wide whole-stage-codegen + higher-order-function queries; the
        # JIT then silently stops compiling and hot expression loops run
        # interpreted (measured: the 45-query bench total halved,
        # 132 s → 62 s, with the larger cache). Driver == executor JVM in
        # local mode; set spark.executor.extraJavaOptions too on a real
        # cluster.
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=2g"
        )
        .config(map={**SEMANTIC_CONF, **PERF_CONF})
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _set_shuffle_width(spark)
    return spark


def _set_shuffle_width(spark: SparkSession) -> None:
    """One shuffle partition per core, best effort like PERF_CONF.
    Streaming micro-batches run without AQE, so this width is what a
    stateful stream stage runs; Spark's default would run 200 small
    tasks per stage on a 4-core host."""
    try:
        width = str(spark.sparkContext.defaultParallelism)
        spark.conf.set("spark.sql.shuffle.partitions", width)
    except Exception as ex:  # noqa: BLE001 — speed only, never values
        _log.warning("shuffle width not applied: %s", ex)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs to an externally-provided session.

    The verification driver supplies its own SparkSession; these confs are
    runtime-mutable so we can still pin the semantics our plans rely on
    (UTC timestamps for date_format grains, non-ANSI casts) and the
    performance settings (AQE, Arrow, shuffle width). A semantic conf
    that cannot be set, or reads back different, raises; a perf conf is
    best effort.
    """
    for k, v in SEMANTIC_CONF.items():
        try:
            spark.conf.set(k, v)
            got = spark.conf.get(k)
        except Exception as ex:
            raise RuntimeError(f"session refused {k}={v}: {ex}") from ex
        if got != v:
            raise RuntimeError(f"session holds {k}={got}, queries need {v}")
    for k, v in PERF_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as ex:  # noqa: BLE001 — speed only, never values
            _log.warning("perf conf %s=%s not applied: %s", k, v, ex)
    _set_shuffle_width(spark)
    ship_package(spark)
    return spark


def scratch_dir(prefix: str) -> str:
    """A fresh directory that lives as long as the active SparkContext.

    It lies under ``SparkFiles.getRootDirectory()``, which Spark
    deletes on ``stop()``. Frames a query returns may read files here
    lazily, so the files must outlive the query, but not the session."""
    from pyspark import SparkFiles

    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures (text pipeline, multimodal decode) reference
    this module by name; when the driver process wasn't launched from
    the repo root, worker processes can't import it and every task dies
    with ModuleNotFoundError. Zip the package and addPyFile it — works
    identically in local mode and on a real cluster.
    """
    sc = spark.sparkContext
    app = sc.applicationId or "local"
    if app in _SHIPPED:
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"tugas_2_big_data_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_root):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "tugas_2_big_data_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # same archive already registered on this context
    _SHIPPED.add(app)
