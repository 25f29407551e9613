"""SparkSession factory with the scale-oriented defaults this engine assumes.

AQE (runtime re-planning + skew-join splitting) and Arrow (vectorized
pandas-UDF transfer) are required by the engine's design; shuffle
partitioning defaults are sized for local[32] test runs and meant to be
overridden (to e.g. 2000+) on a real cluster.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

_HARD_CKPT_WARNED = False

# local mode runs every executor thread inside the driver JVM, so the
# heap default takes a fixed share of the machine's physical memory: the
# rest is left to off-heap JVM memory, Python workers and the OS
_DRIVER_MEM_FRACTION = 0.25
_DRIVER_MEM_CAP_MB = 48 * 1024


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """``spark.driver.memory`` default: a quarter of ``physical_bytes``
    (the machine's physical memory when None), capped at 48g, as a
    megabyte string such as ``"3840m"``."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf(
            "SC_PAGE_SIZE"
        )
    mb = int(physical_bytes * _DRIVER_MEM_FRACTION) // (1024 * 1024)
    return f"{min(mb, _DRIVER_MEM_CAP_MB)}m"


def _ship_package(spark: SparkSession) -> None:
    """Make pyrdf2vec_spark importable on executor Python workers
    regardless of the driver's cwd — the programmatic equivalent of
    ``spark-submit --py-files pyrdf2vec_spark.zip`` (north rule). A zip
    of the package is registered once per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_pyrdf2vec_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="pyrdf2vec_spark_ship_")
    zip_base = os.path.join(staging, "pyrdf2vec_spark")
    archive = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(archive)
    sc._pyrdf2vec_shipped = True


def get_spark(
    app_name: str = "pyrdf2vec-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Args:
        app_name: Spark application name.
        master: master URL; defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
            ``local[*]``). On a cluster, leave None and let spark-submit
            set it.
        shuffle_partitions: override for spark.sql.shuffle.partitions.
            Default: number of local cores (AQE coalesces down at runtime;
            on a cluster set ~2-3x total executor cores).
        extra_conf: additional config key/values.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        # SPARK_GRAFT_MASTER overrides the whole master URL — used by
        # the scaling evidence to run local-cluster[N,C,M] (separate
        # executor JVMs: real shuffle ser/de, per-executor heaps — the
        # closest N-vs-4N cluster proxy a single box can produce)
        master = os.environ.get("SPARK_GRAFT_MASTER") or (
            f"local[{cpus}]" if cpus else "local[*]"
        )
    if shuffle_partitions is None:
        # floor of 32 regardless of cores: AQE coalesces surplus
        # partitions for free, but it can never SPLIT — with one
        # partition per core a 100M-row SMJ sorts ~1 GB per task and
        # spills (measured superlinear walk-stage blowup at 2x data).
        # On a real cluster override to ~2-3x total executor cores.
        shuffle_partitions = max(32, 2 * int(cpus)) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting (hub entities in the adjacency self-join are skewed),
        # and join-strategy re-planning from runtime statistics.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas-UDF exchange (mention detection, md5
        # canonicalization, tokenizers) — never row-at-a-time Python.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Walk tables carry long array<string> columns; compress shuffles.
        .config("spark.shuffle.compress", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # SPARK_DRIVER_MEM overrides the machine-sized default
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # shuffle/spill to tmpfs when available: removes disk I/O from the
        # multicore scaling path (a real cluster has per-executor disks)
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # UTC everywhere: timestamp semantics identical across engines
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def hard_local_checkpoint(df):
    """``localCheckpoint(eager=True)`` that also DROPS the captured
    plan statistics — the loop-state barrier every iterative DataFrame
    algorithm here should use when a round references its own previous
    state more than once.

    Why: ``Dataset.localCheckpoint`` snapshots the source plan's
    estimated ``sizeInBytes`` into the new ``LogicalRDD`` leaf
    (originStats). Size estimation multiplies join children's sizes,
    so a loop whose round-k plan joins the round-(k-1) checkpoint with
    something derived from that same checkpoint squares (or worse) the
    carried estimate every round: the ``BigInt``'s BIT-LENGTH grows
    geometrically (measured: exactly 2.07x/round in the Louvain sweep
    loop — 57 bits, 140, 307, ..., 10,624 after 8 rounds, millions by
    round ~20) until optimizer stats arithmetic dominates wall clock
    and finally wedges the driver in a months-long BigInt multiply.
    Plan-node count stays constant throughout — only the NUMBER
    inside the stats explodes, which is why explain() looks healthy.
    One-reference loops (pagerank: contrib joins the old ranks once;
    the dangling-mass branch collapses to a 1-row agg first) only grow
    linearly (~125 bits/round) and are safe with a plain checkpoint.

    Fix: materialize via localCheckpoint, then re-wrap the checkpointed
    RDD[InternalRow] in a fresh stats-free leaf (falls back to the
    plain checkpoint if the private JVM constructor ever disappears).
    The stats-free leaf reports the session default size (Long.MaxValue)
    so the STATIC planner won't broadcast it — with AQE on (our session
    default) runtime-observed sizes still drive broadcast conversion,
    which is the join strategy the loops want anyway.
    """
    from pyspark.sql import DataFrame

    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        spark = df.sparkSession
        jfresh = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jfresh, spark)
    except (AttributeError, TypeError, Py4JError):  # pragma: no cover
        # private-API fallback: the plain checkpoint still materializes,
        # but carries originStats — the geometric sizeInBytes compounding
        # this function exists to prevent returns in multi-reference
        # loops. Warn once so the regression is visible, not silent.
        global _HARD_CKPT_WARNED
        if not _HARD_CKPT_WARNED:
            _HARD_CKPT_WARNED = True
            warnings.warn(
                "hard_local_checkpoint: internalCreateDataFrame "
                "unavailable on this Spark build; falling back to plain "
                "localCheckpoint. Long Louvain/LPA/connected-components "
                "loops may hit the geometric plan-stats blowup "
                "(see SURVEY.md §4).",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


def release_local_checkpoint(df) -> None:
    """Free the storage blocks behind a ``localCheckpoint()``-ed
    DataFrame that will NEVER be read again.

    ``DataFrame.unpersist`` only uncaches CacheManager entries (plans
    registered via ``.persist()``); a local checkpoint's blocks live on
    the underlying ``RDD[InternalRow]`` held by the plan's LogicalRDD
    leaf and otherwise linger until py4j GC + ContextCleaner get to
    them — measured: a 30-iteration pagerank leaves 30 checkpoint RDDs
    persisted. This reaches through to that RDD and unpersists it
    directly (non-blocking), then also calls the plain ``unpersist``
    so CacheManager-persisted frames are handled by the same helper.

    Only safe on superseded loop state: local checkpoints truncate
    lineage, so a later access to the released DataFrame FAILS rather
    than recomputes.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except (AttributeError, TypeError, Py4JError):
        # not a LogicalRDD leaf (plain persisted frame) or a Spark
        # build without the accessor — the unpersist below still
        # handles the CacheManager case
        pass
    df.unpersist()
