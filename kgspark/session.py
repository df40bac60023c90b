"""SparkSession factory with scale-oriented defaults, and the lineage and
loop scopes iterative operators run in.

Single place where every entry point (tests, bench, __spark_entry__) gets its
session, so the AQE / Arrow / shuffle settings that matter at 100 TB are
applied uniformly.  On a real cluster the same builder is used via
``spark-submit --py-files``; only ``master`` changes.  :class:`LineageScope`
is the single place that knows when a checkpoint or a persisted input of one
call may be released; :mod:`kgspark.cache` owns the frames that outlive a
call.  :class:`LoopScope` and :func:`graph_parts` are the one place that
plans an iterative loop differently from the construction chain.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def _default_driver_mem() -> str:
    """Half the machine's RAM, capped at 64g: local mode runs every task in
    the driver JVM, and a heap sized past physical memory gets the JVM
    OOM-killed instead of collected."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mib = int(line.split()[1]) // 2048
                    return f"{min(64 * 1024, half_mib)}m"
    except OSError:
        pass
    return "64g"


# Defaults tuned for the sandbox (local[32], 128 GiB).  On a 1000-executor
# cluster, shuffle.partitions should be ~2-3x total cores; AQE coalesces the
# excess at runtime, so erring high is safe.
DEFAULT_CONFS: dict[str, str] = {
    # Runtime re-planning: partition coalescing, skew-join splitting, and
    # runtime broadcast-join conversion, for the construction chain, whose
    # shuffles and joins are sized by data it has not seen yet.  Iterative
    # loops run without it (LoopScope): they fix their own partitioning
    # (graph_parts), so per-stage re-planning buys them nothing and costs
    # one job per shuffle or broadcast stage in every round.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's 1m default minPartitionSize coalesces small-scale shuffles below
    # the core count, serializing the UDF-heavy post-shuffle stages (measured:
    # <50% CPU at local[32]).  A small floor keeps coalescing for the
    # many-tiny-partition case while preserving one-task-per-core parallelism;
    # at cluster scale partitions are far above either threshold.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # The whole-stage-codegen class cache defaults to 100 entries; the full
    # construction chain + AQE re-planning exceeds that, so every run evicted
    # and re-compiled (Janino + C2) its generated classes — measured as
    # never-converging, bimodal rep times.  Size it to hold the pipeline.
    "spark.sql.codegen.cache.maxEntries": "10000",
    # Arrow transport for every pandas UDF in the pipeline.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dimension/alias tables aggressively (alias dictionary,
    # vocab, canonical map head).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Keep scan partitions big enough to amortize task overhead locally.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Local mode runs all task threads in the driver JVM: the 1g default heap
    # collapses into GC thrash at local[32] (measured: GCLocker retry storms,
    # 4x slowdown vs local[8]).  On a real cluster this maps to executor
    # memory instead.  Applies only when the JVM is launched by this builder.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
    ),
    # Reliable checkpoints (truncate_lineage with a checkpoint dir) write one
    # RDD checkpoint per BFS level / CC round; without this flag the files
    # outlive their RDDs for the whole application — unbounded growth on a
    # long-lived cluster session.  Cleanup rides the ContextCleaner when the
    # checkpointed RDD is GC'd; the latest checkpoint is retained.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Quieter local runs.
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def truncate_lineage(df):
    """Lineage truncation for iterative driver loops (BFS, hash-min CC).

    Defaults to ``localCheckpoint()`` — cheap, but blocks stored on executors
    are NOT replayable after executor loss, which is fine single-JVM and a
    durability gap on a 1000-executor cluster.  When the session has a
    reliable checkpoint directory configured (``get_spark(checkpoint_dir=…)``
    or ``sparkContext.setCheckpointDir``, pointing at HDFS/S3 on a real
    cluster), iterative state is checkpointed there instead and survives
    executor loss.  Default behavior is unchanged when no dir is set.

    Its only caller is :meth:`LineageScope.cut`: every cut in the package
    goes through a scope, which also releases it when the call returns.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


class LineageScope:
    """Lineage and cache bookkeeping of one call: an iterative operator, a
    helper whose temporaries die when it returns, or one
    ``materialize.run_pipeline`` batch.

    ``cut`` truncates lineage (:func:`truncate_lineage`), ``hold`` persists
    an input the loop re-reads, ``adopt`` takes over the result of another
    scoped operator this one calls, and ``result`` marks the frame the
    operator returns, cutting it unless it is already one of the scope's
    cuts.  ``cut(df, observe=agg)`` also returns the value of the aggregate
    ``agg`` over ``df``, collected by the checkpoint job itself through an
    :class:`~pyspark.sql.Observation`: a loop's convergence count costs no
    job of its own.  Both checkpoint paths fill the observation.

    The release rule: on exit every cut, hold and adopted frame is
    released, except the result.  The result is the only frame that may
    leave the scope, and because it is a cut it reads its own blocks, not
    the ones released under it (a local checkpoint read after its blocks are
    gone fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).  On an exception
    the result is released too.

    Local checkpoints are released by unpersisting their blocks; a reliable
    checkpoint holds no blocks, and its files go with the ContextCleaner
    (``spark.cleaner.referenceTracking.cleanCheckpoints``).

    This scope leaves planning policy alone; an iterative loop runs in
    :class:`LoopScope`, which also sets it.
    """

    def __init__(self) -> None:
        self._cuts: list[DataFrame] = []
        self._held: list[DataFrame] = []
        self._result: DataFrame | None = None

    def cut(self, df: DataFrame, observe: Column | None = None):
        if observe is not None:
            obs = Observation()
            df = self.cut(df.observe(obs, observe.alias("value")))
            return df, obs.get["value"]
        df = truncate_lineage(df)
        self._cuts.append(df)
        return df

    def hold(self, df: DataFrame) -> DataFrame:
        self._held.append(df.persist())
        return df

    def adopt(self, df: DataFrame) -> DataFrame:
        self._cuts.append(df)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        if not any(df is c for c in self._cuts):
            df = self.cut(df)
        self._result = df
        return df

    def __enter__(self) -> "LineageScope":
        return self

    def __exit__(self, exc_type, *_) -> None:
        keep = self._result if exc_type is None else None
        for df in self._cuts:
            if df is not keep:
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        for df in self._held:
            df.unpersist()


class LoopScope(LineageScope):
    """The :class:`LineageScope` of an iterative driver loop, which also
    runs the loop without adaptive query execution.

    A loop fixes its own partitioning (:func:`graph_parts`), and a cut
    plans each round afresh, so AQE's runtime re-planning has nothing to
    fix there.  What it does cost is driver round trips: under AQE every
    shuffle and broadcast stage of a round runs as its own job, with a
    re-optimization between stages.  Results are the same either way.

    On entry the session's ``LOOP_CONFS`` are set, and on exit the values
    found on entry come back, also on an exception, so nested scopes
    (``graph.components`` around ``canon.connected_components``) and a
    caller that already had AQE off keep their setting.  The conf is
    session-wide: when jobs are already running on entry (another thread's
    query), the scope leaves it alone.
    """

    LOOP_CONFS = {"spark.sql.adaptive.enabled": "false"}

    def __init__(self, spark: SparkSession) -> None:
        super().__init__()
        self._spark = spark
        self._saved: dict[str, str] = {}

    def __enter__(self) -> "LoopScope":
        if not self._spark.sparkContext.statusTracker().getActiveJobsIds():
            conf = self._spark.conf
            self._saved = {k: conf.get(k) for k in self.LOOP_CONFS}
            for k, v in self.LOOP_CONFS.items():
                conf.set(k, v)
        return self

    def __exit__(self, *exc) -> None:
        try:
            super().__exit__(*exc)
        finally:
            for k, v in self._saved.items():
                self._spark.conf.set(k, v)


def graph_parts(spark: SparkSession, n: int) -> int:
    """Shuffle width for a loop over ``n`` graph rows.

    Size the per-round exchanges to the GRAPH, not the corpus: the iterating
    frames are O(nodes), and at small node counts the session's corpus-scale
    width only buys task-launch + checkpoint overhead per round (measured on
    pagerank: 34s -> ~3s at sf0.1 under local[16]/48).  ~1M rows per
    partition, capped at the session default so a billion-node graph still
    uses the cluster-tuned width.  A loop in a :class:`LoopScope` has no AQE
    to coalesce an oversized width for it, so it sizes every exchange it
    re-reads with this.
    """
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default_parts, 1 + n // 1_000_000))


def get_spark(
    app_name: str = "kgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the bench harness can run the identical job at two parallelism levels for
    the N→4N scaling-efficiency measurement.

    ``checkpoint_dir`` (or env ``KGSPARK_CHECKPOINT_DIR``): reliable
    checkpoint location for iterative loops — see :func:`truncate_lineage`.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    # Shuffle partitions scale with the compute (2-3x total cores, the
    # standard sizing rule); AQE coalesces the excess.  A fixed count would
    # under-parallelize the bigger cluster in the N-vs-4N scaling runs, just
    # as a fixed 32 would on a 1000-executor cluster.
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:
        confs["spark.sql.shuffle.partitions"] = str(max(32, 3 * int(m.group(1))))
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ckpt = checkpoint_dir or os.environ.get("KGSPARK_CHECKPOINT_DIR")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
