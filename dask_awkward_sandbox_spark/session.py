"""SparkSession construction tuned for the nested-analytics engine.

Scale design: these configs are chosen to survive a 1000-executor /
100 TB deployment, not just local[32]:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- nested schema pruning on, so ``array<struct>`` reads only touch the
  parquet leaves the query needs;
- broadcast threshold raised: every TPC-H-ish dim table (region,
  nation, supplier, part at moderate SF) broadcast-joins instead of
  shuffling the fact table;
- shuffle partitions default to 2x cores locally; on a real cluster
  AQE coalesces from a high initial number;
- the generated-code class cache holds 2,000 classes, above the
  1,211-1,229 the 50 registry slots compile, so a session that
  interleaves slots stops recompiling them on every pass (Spark keeps
  100).
"""

from __future__ import annotations

import os
import warnings
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# The checkout root: the directory that holds the package.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The one scratch root (streaming inputs and checkpoints, lake tables,
# the warehouse): ``.scratch`` next to the package. Build every path
# under it with ``os.path.join(SCRATCH, ...)`` so a harness can move
# the whole root by remapping that one prefix.
SCRATCH = os.path.join(ROOT, ".scratch")


def scratch_path(sf_dir: str, *parts: str) -> str:
    """``SCRATCH/<name of sf_dir>/<parts...>``: the one layout for a
    slot's per-dataset scratch files (staged stream inputs, stream
    checkpoints and sinks, lake tables, roundtrip files)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(SCRATCH, tag, *parts)


def get_spark(app_name: str = "dask-awkward-sandbox-spark") -> SparkSession:
    """The process's session: the running one, untouched, when there is
    one (``getOrCreate`` would re-apply every builder conf to it and
    silently undo confs set since), else a new one built with the
    confs below."""
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        return live
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalesce by parallelism, not just bytes: nested-array HOFs
        # (pair generation, minhash perms) are compute-dense per byte,
        # and the default 1m floor folds their small shuffles onto a
        # handful of cores. Harmless at cluster scale where real
        # partitions dwarf this floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(SCRATCH, "warehouse"))
        # local mode: the driver IS the executor — 16g for 32 task
        # threads forced shuffle spill on the 10x/100x probe legs
        # (q18's 23 GB sort-merge measured 6.1s at 16g vs 4.9s at
        # 40g on sf10). 40g leaves headroom for a second concurrent
        # JVM on the 128 GiB box; on a real cluster this knob is
        # per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "40g"))
        # r14 (guide §5): bound the IDLE Python-worker pool. The pool
        # is unbounded by default; a long session running many
        # mapInArrow/applyInPandas stages was measured holding 60+
        # idle pyspark.daemon workers (~6 GB RSS) — dead weight that
        # competes with the page cache the parquet scans live on. One
        # stage needs at most `cpus` workers concurrently (busy
        # workers don't count against the idle bound), so capping the
        # idle pool at the core count keeps full reuse within and
        # across stages and only evicts the long tail. On a real
        # cluster this is per-executor and sized the same way.
        .config("spark.python.factory.idleWorkerMaxPoolSize", cpus)
        # Python workers import the package from the checkout root, so
        # UDFs that call package functions (and the daemon below) work
        # from any working directory.
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        # Every worker task runs importlib.invalidate_caches(), which
        # made each zip importer on the worker's path re-read its
        # archive's directory: a reused worker held 14 importers on
        # pyspark.zip (1,328 entries, ~11 ms a read) and 2 on the
        # spark-core jar (5,359 entries, ~47 ms), 0.16-0.40 s of CPU
        # per task before the UDF ran. The daemon in _pydaemon re-reads
        # an archive only when its mtime or size changed: a warm 4-task
        # identity mapInArrow job fell from 0.42-0.58 s to 0.20-0.28 s
        # on a 4-CPU box. Spark keeps one daemon per worker environment,
        # and a pickled-RDD createDataFrame carries a different one from
        # the SQL UDFs', so the package builds driver-side rows only
        # through io.from_lists (Arrow, converted on the JVM) and a
        # session forks this daemon once.
        .config("spark.python.daemon.module", "dask_awkward_sandbox_spark._pydaemon")
        # PySpark wraps every F.*/Column/DataFrame call to record its
        # Python call site. With this on (the default) each wrapped call
        # makes several py4j round trips (the active session, a JVM class
        # lookup, a conf read, an origin set and clear) and walks the
        # stack: a warm q_reduce_order_count build made 2,910 py4j calls
        # with it and 630 without. The trade: errors raised at execution
        # time lose their "== DataFrame ==" call-site block. Analysis
        # errors still raise eagerly at the calling line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Keep every generated class compiled (static conf, so it must
        # land at builder time; a session that already exists keeps its
        # own value). The 50 registry slots compile 1,211-1,229 distinct
        # classes on a cold pass at sf0.01, and per-call literals add
        # about 35 new ones per warm pass, which the LRU ages out. The
        # default keeps 100, and an LRU under a round-robin scan larger
        # than its capacity almost never hits: nested_scan's 7 slots
        # need 123 classes and recompiled 40-87 of them on every warm
        # pass, a full registry pass 1,391-1,447. The cap must exceed
        # the largest working set a session interleaves; at 2,000 those
        # passes recompile 0 and 32-40. Cost: metaspace 203-210 MB
        # against 194-206 MB at the default.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    # Optional shuffle/spill dir override (static conf, so it must land
    # at builder time). The tests, and bench runs that want walls free
    # of block-device stalls, point it at tmpfs (/dev/shm/...): a slow
    # device can make KB-scale shuffle-file writes cost seconds. Leave
    # it unset on a real cluster, where local dirs are provisioned
    # disks and shuffle data exceeds RAM. SPARK_LOCAL_DIRS, when set,
    # overrides it.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame (lazy parquet scans)."""
    from dask_awkward_sandbox_spark.io.parquet import from_parquet

    return {t: from_parquet(spark, f"{sf_dir}/{t}.parquet") for t in TABLES}


_warned_conf_fallback = False


def _raw_conf_get(spark: SparkSession, key: str) -> str | None:
    """The explicitly-set session value of ``key``, or None when it is
    unset. ``spark.conf.get(key, None)`` returns a registered conf's
    default instead, and restoring that would pin the default as an
    explicit value; the raw settings map holds explicit entries only.
    If that private JVM surface is unavailable the public getter is the
    fallback, with a one-time warning because it can pin defaults."""
    global _warned_conf_fallback
    try:
        return spark._jsparkSession.sessionState().conf().settings().get(key)
    except (AttributeError, Py4JError) as exc:
        if not _warned_conf_fallback:
            _warned_conf_fallback = True
            warnings.warn(
                f"scoped_conf: cannot read raw session confs ({exc!r}); "
                "falling back to spark.conf.get, which may pin defaults "
                "on restore",
                RuntimeWarning,
                stacklevel=3,
            )
        return spark.conf.get(key, None)


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set one Spark SQL conf for the block, then restore the previous
    explicit value, or unset the key if it had none, on any exit.

    Only sound for confs read while planning or executing work that
    happens inside the block, so run eager actions inside the ``with``.
    The conf is session-global: a query planned concurrently on the
    same session sees the scoped value too. Concurrent drivers should
    scope per thread with ``SparkSession.newSession()``."""
    prev = _raw_conf_get(spark, key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
