"""SparkSession factory with engine defaults, and the runs that own
the frames materialize()/settle() persist.

Defaults are tuned for correctness-parity with a UTC-naive oracle
(session timezone pinned to UTC) and for scale (AQE on, Arrow on,
shuffle partitions sized to the machine rather than the 200 default).
"""

from __future__ import annotations

import contextvars
import os
import weakref
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Every frame materialize()/settle() persists is registered, in
# persist order, in the current run: the list _RUN holds in the current
# context. Library operators return LAZY frames, so they cannot
# unpersist their own intermediates (the consuming action hasn't run
# yet); the lifecycle belongs to whoever runs the action — CLI, bench
# harness, tests — via materialized_scope(), which opens a fresh run,
# or release_materialized(). Unpersisting is always safe for
# correctness: a consumer that reads the frame later just recomputes
# from lineage. Outside any scope the run is the root list
# _MATERIALIZED. Each driver thread has its own context, so runs on
# different threads never see each other's frames; a pool thread
# starts in the root run unless its work is submitted through
# contextvars.copy_context().run.
_MATERIALIZED: list[DataFrame] = []
_RUN: contextvars.ContextVar[list[DataFrame]] = contextvars.ContextVar(
    "materialized_run", default=_MATERIALIZED
)

# settle()d frame -> the Observation of count(1) its checkpoint job
# recorded. Weak keys: an entry lives exactly as long as the frame, and
# a recycled id() can never alias a dead frame's count.
_SETTLED_ROWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# Observed metrics reach the driver on the listener bus, a few ms after
# the checkpoint job returns; settled_rows() waits at most this long for
# them before paying a count() job instead.
_OBSERVATION_WAIT_S = 30.0


def materialize(df: DataFrame) -> DataFrame:
    """Reliable multi-consumer materialization / pushdown barrier.

    Used where a (typically small) intermediate feeds BOTH sides of a
    self-join or must not have filters substituted below it. persist()
    is lazy (no eager physical planning, unlike localCheckpoint) and —
    unlike localCheckpoint's executor-local blocks — is recomputable
    from lineage after an executor loss, so a 1000-executor run does
    not die with the first node. MEMORY_AND_DISK spills instead of
    OOMing when the intermediate outgrows executor memory.

    The persisted frame is registered in the current run; wrap the
    consuming action in materialized_scope() (or call
    release_materialized() after it), or a long-lived session
    accumulates cached frames until the executor block store churns
    under LRU eviction.
    """
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _RUN.get().append(df)
    return df


# Module switch for settle(): True -> persist()-based stage boundaries
# (lineage kept, recomputable after executor loss — for multi-executor
# cluster deployments that prefer recoverability over the driver-side
# planning cut). Default False = eager localCheckpoint (the measured
# 340x per-action planning win on deep funnels; see settle()).
SETTLE_LINEAGE = False


def settle(df: DataFrame, lineage: bool | None = None) -> DataFrame:
    """Stage-boundary materialization + LINEAGE CUT for deep pipelines.

    materialize()/persist() caches rows but KEEPS the nested logical
    plan, so in a multi-stage funnel every downstream action
    re-canonicalizes a plan tree that grows multiplicatively with
    stage depth — a driver-side, single-threaded cost no executor
    count fixes (measured: 16.05 s per action on a fully-cached
    6-stage funnel, 0.27 s after the cut; see SCALING.md round-11
    note). settle() is an EAGER localCheckpoint: it runs the stage
    now and replaces the plan with a LogicalRDD scan of the result.

    Trade-off vs materialize(): checkpointed blocks are executor-local
    and NOT recomputable from lineage after an executor loss. That is
    the right trade at a stage boundary of a corpus-wide funnel — the
    100 TB deployment writes survivors to durable storage between
    stages anyway (rerunning six fused corpus joins on any failure
    loses more than re-running one stage), and locally the eager
    checkpoint IS that between-stage materialization. Keep
    materialize() for within-operator self-join barriers where the
    intermediate is consumed inside one plan.

    The frame is registered in the current run, whose release frees
    checkpointed RDDs too (see _release).

    `lineage` (default: module-level SETTLE_LINEAGE) opts a call — or,
    via the module switch, a whole deployment — back into persist()'d
    boundaries: rows cached but the logical plan kept, so an executor
    loss recomputes from lineage instead of failing the job. The cost
    is the multiplicative per-action driver planning this function
    exists to cut; prefer it only where executor churn is expected and
    funnels are shallow.

    On the checkpoint path the row count rides along: the checkpoint
    job observes count(1), and settled_rows() returns it without a
    second job.
    """
    use_lineage = SETTLE_LINEAGE if lineage is None else lineage
    if use_lineage:
        return materialize(df)  # lazy persist: lineage-recoverable
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True
    )
    _RUN.get().append(df)
    _SETTLED_ROWS[df] = obs
    return df


def settled_rows(df: DataFrame) -> int:
    """Row count of a settle()d frame, read from its checkpoint job's
    observation instead of a separate count() job.

    Any other frame — a lineage-mode settle() (persist() is lazy, so
    no job has run to observe), or one settle() did not return — is
    counted with df.count(). Observation.get blocks until a job delivers the
    metric, so it is only read after a bounded wait for delivery;
    should the metric not arrive within _OBSERVATION_WAIT_S, the
    count() is paid instead of blocking."""
    obs = _SETTLED_ROWS.get(df)
    if obs is not None:
        jvm = df.sparkSession._jvm
        wait = jvm.scala.concurrent.duration.FiniteDuration(
            int(_OBSERVATION_WAIT_S * 1000),
            jvm.java.util.concurrent.TimeUnit.MILLISECONDS,
        )
        try:
            jvm.scala.concurrent.Await.ready(obs._jo.future(), wait)
        except Py4JJavaError:  # TimeoutException: fall through to count()
            pass
        else:
            return int(obs.get["rows"])
    return df.count()


def drop_materialized(df: DataFrame) -> None:
    """Unpersist `df` and deregister it from the current run — for
    iterative operators replacing a per-round state whose new frame
    their own materialize()/settle() call already registered. Keeps
    the run holding live frames only."""
    try:
        _RUN.get().remove(df)
    except ValueError:
        pass
    _release([df])


def _release(frames: list[DataFrame]) -> int:
    """Unpersist and remove every frame of `frames` (newest first);
    returns the count released. A localCheckpoint()ed frame's RDD is
    persisted outside the cache manager, where Dataset.unpersist()
    does not reach, so its LogicalRDD plan is unpersisted too (guarded:
    a plan-shape change falls back to GC cleanup). Safe with a stopped
    session."""
    n = 0
    while frames:
        df = frames.pop()
        _SETTLED_ROWS.pop(df, None)
        try:
            df.unpersist()
            n += 1
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass
    return n


def release_materialized() -> int:
    """Unpersist every frame of the current run (the root run outside
    any materialized_scope()); returns the count released. Safe to call
    repeatedly / with a stopped session."""
    return _release(_RUN.get())


@contextmanager
def materialized_scope():
    """Run the body as a fresh run and unpersist, on exit, exactly the
    frames materialize()d or settle()d in it — the pattern for running
    one pipeline inside a long-lived session without leaking cache:

        with materialized_scope():
            scored, errors = build_pipeline(spark, paths)
            scored.write.parquet(out)          # consuming action

    Scopes nest, and scopes open on different driver threads are
    independent: each releases only its own run."""
    frames: list[DataFrame] = []
    token = _RUN.set(frames)
    try:
        yield
    finally:
        _RUN.reset(token)
        _release(frames)


# The directory holding the package, for Spark's Python workers.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "webloghunter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or return the running) session with the engine defaults;
    `extra_conf` entries are applied last and override any of them.

    Three defaults are about per-query fixed costs rather than data:

    - `spark.sql.codegen.cache.maxEntries` = 2000 (Spark's default is
      100). The cache holds the Janino-compiled generated classes.
      One curate_corpus run of the benchmark fixture compiles 114-117
      of them, and the triage pipeline plus one hunt round 233. At
      100 entries LRU evicts each class before its next use, so every
      repeat of the funnel recompiled over 80 classes and the JIT
      started over on them. At 2000 a repeat compiles none, bar the
      odd class an adaptive re-plan generates for the first time
      (SCALING.md, "Generated-code cache").
    - `spark.python.daemon.module` = `webloghunter_spark.pydaemon`.
      Spark's Python workers import pyspark from pyspark.zip, and on
      Python < 3.12 every task's `importlib.invalidate_caches()` made
      each of the ~16 zip importers re-read the archive's directory:
      about 0.29 CPU-s per Python task, where the MinHash UDF itself
      needs milliseconds. The daemon re-reads an archive only when it
      changed (see `pydaemon`); its workers are forked from it. So that
      the workers can import it from any driver cwd, the package root
      is added to `spark.executorEnv.PYTHONPATH`, after any value
      `extra_conf` gives it.
    - `spark.ui.showConsoleProgress` = false: the progress bar's `\r`
      overwrote lines printed by long query sweeps (check_hash).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 4)
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (extra_conf.pop(_WORKER_PATH, None), _PACKAGE_ROOT) if p
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("WLH_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.python.daemon.module", "webloghunter_spark.pydaemon")
        .config(_WORKER_PATH, worker_path)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet TIMESTAMP(NANOS) (e.g. pandas-written event tables) is
        # unreadable as a timestamp; read as long and convert explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
