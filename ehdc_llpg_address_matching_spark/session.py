"""SparkSession construction tuned for the linkage workload.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing + skew-join splitting for hot postcode
  blocks (the reference's worst skew source; SURVEY.md §7 "Hard parts").
- Arrow enabled: every similarity/normalization UDF is a pandas/Arrow
  UDF over batches, never per-row Python.
- shuffle.partitions is a config knob: tests use 32 (local[32]); on a
  real cluster set ~2-3x total cores via ``extra_conf``.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_log = logging.getLogger(__name__)
# session conf marker: set once the session has run the ICU warm-up
_ICU_WARMED = "ehdc.linkage.icuWarmedUp"


def spread_for_udf(df):
    """Round-robin repartition an UNDER-PARTITIONED input up to the
    session's default parallelism before an embarrassingly-parallel
    pandas-UDF stage. Small single-file parquet inputs scan as ONE
    partition (maxPartitionBytes >> file size), which serializes every
    Python UDF stage onto a single worker — round-6 measured the
    minhash signature UDF and the document-normalization chain running
    1-task on local[32]. At real scale inputs arrive in many partitions
    and this is a no-op: the guard is the partition count vs the
    cluster's core count, not a local constant, so the extra shuffle
    (narrow rows, paid only when the input is smaller than the
    cluster) is scale-adaptive rather than local tuning."""
    if df.isStreaming:
        # no .rdd on streaming frames; micro-batch parallelism is the
        # source's concern (maxFilesPerTrigger etc.), not a repartition
        return df
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def compact_reference_frame(df, partitions, target_bytes=64 << 20):
    """Size-derived repartition of a REFERENCE-side frame that callers
    cache and then re-scan from many downstream jobs (prepare_gazetteer).
    A small gazetteer emerges from the UDF spread (spread_for_udf) as
    near-empty partitions, one per core, and every broadcast build
    and cache scan then pays per-task overhead for each of them — the
    round-6 stage profile (taken when the range expansion was a union
    that doubled those partitions) counted ~30 such scans inside the
    candidate-union job alone (53 stages, ~1000 tasks, 307 s task time
    vs 144 s CPU), and an interleaved A/B measured the union wall
    dropping ~2-4 s at the bench corpus after compaction. The partition
    count is derived from Catalyst's size estimate (bytes / 64 MB), not
    a local constant, and the repartition only fires when it would at
    least halve the partition count — a cluster-scale gazetteer whose
    scan already produces ~split-sized partitions passes through
    untouched, so this is a no-op at real scale and never reduces the
    parallelism of a big frame below its size-appropriate level.
    ``partitions`` is df's partition count as its caller knows it from
    the plan it built: reading df.rdd would run the stages under an
    adaptive plan's exchanges (spread_for_udf's repartition) as a job,
    and the caller's materialization would then run them again."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return df
    sc = df.sparkSession.sparkContext
    n = int(max(1, min(size // target_bytes + 1,
                       sc.defaultParallelism * 4)))
    if partitions > 2 * n:
        return df.repartition(n)
    return df


def checkpoint_rdds(df) -> list:
    """The persisted RDDs under ``df``'s LogicalRDD leaves: the storage
    that eager localCheckpoints in its lineage pin. DataFrame.unpersist()
    only drops CacheManager entries and never reaches a checkpoint, so a
    checkpoint is released by unpersisting these RDDs."""
    rdds = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if (leaf.nodeName() == "LogicalRDD"
                and leaf.rdd().getStorageLevel().isValid()):
            rdds.append(leaf.rdd())
    return rdds


def release_checkpoint(df) -> None:
    """Unpersist the checkpoints ``df`` reads from, without blocking."""
    for rdd in checkpoint_rdds(df):
        rdd.unpersist(False)


class Pins:
    """The eager localCheckpoints one run makes, released together.

    ``checkpoint`` materializes a frame and records its storage.
    ``adopt`` records the checkpoints a helper made inside a frame it
    returns (connected_components' last round). Checkpoints under the
    ``keep`` frames, the caller's inputs, are never recorded, so
    ``release`` cannot drop storage the caller still reads."""

    def __init__(self, *keep):
        self._keep = {rdd.id() for df in keep if df is not None
                      for rdd in checkpoint_rdds(df)}
        self._rdds: dict[int, object] = {}

    def adopt(self, df):
        for rdd in checkpoint_rdds(df):
            if rdd.id() not in self._keep:
                self._rdds.setdefault(rdd.id(), rdd)
        return df

    def checkpoint(self, df):
        return self.adopt(df.localCheckpoint(eager=True))

    def release(self) -> None:
        for rdd in self._rdds.values():
            rdd.unpersist(False)
        self._rdds.clear()


def get_spark(
    app_name: str = "address-linkage",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # One BLAS thread per python worker: each task slot runs its own
    # worker, and a K-thread OpenBLAS pool per worker thrashes the box
    # (measured 4x slowdown at local[32]). Must be set before the JVM
    # launches so workers inherit it.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # the daemon_preload module must be importable by the worker
    # python (launched with `python -m`): put the package root on
    # PYTHONPATH before the first JVM launch so resolution never
    # depends on the driver's working directory
    _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (_pp + os.pathsep + _root) if _pp else _root
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # Shuffle/scratch dir: prefer the RAM-backed tmpfs when present.
    # Round-6 stage profiling showed shuffle WRITE time dominating the
    # candidate-union job's task time (200 s of 345 s task-time on a
    # 23 s-wall job) — this sandbox's only disk is virtio ext4 whose
    # per-small-file latency swamps the tiny per-stage shuffle files.
    # Parameterised (SPARK_GRAFT_LOCAL_DIR), not hard-coded: on a real
    # cluster point it at NVMe scratch; the default only fires when a
    # tmpfs exists, which is a deployment property, not a bench tune.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_scratch"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # fork Python workers from a daemon that has numpy/pandas/
        # pyarrow already imported (copy-on-write inheritance) — see
        # daemon_preload; without it the first UDF stage of a session
        # pays one scientific-stack import PER WORKER, concurrently
        .config("spark.python.daemon.module",
                "ehdc_llpg_address_matching_spark.daemon_preload")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Spark 4 routes upper()/lower() through ICU case mappings
    # (CollationSupport): the FIRST evaluation in a JVM pays a ~1.3 s
    # one-time ICU data load, and when that first evaluation lands
    # inside a wide task stage every slot pays/contends on the static
    # init — a thread dump of the candidate-union job caught 31/32 task
    # threads stalled in CollationSupport$Upper at the first
    # norm_house_expr evaluation (~35 s of task time, ~1.2 s of wall).
    # Pay it once on the driver thread at session build instead. In
    # local mode (driver == executor JVM) this removes the stall
    # entirely; on a multi-JVM cluster executors still lazy-init on
    # their first task exactly as before, so this is never worse.
    # getOrCreate hands back the running session on every later call,
    # and that session already paid the load.
    if spark.conf.get(_ICU_WARMED, None) is None:
        try:
            spark.sql("SELECT upper('icu warm-up')").collect()
        except (PySparkException, Py4JError) as e:
            # a failed warm-up only moves the ICU load back into the
            # first task that upper-cases; the session itself is fine
            _log.debug("ICU warm-up query failed: %s", e)
        spark.conf.set(_ICU_WARMED, "true")
    return spark
