"""Session factory — the Spark analogue of the reference's
``configure_context()`` (reference src/lib.rs:118-137): information_schema
on, config extension registered, default engine features, function factory
installed, ``argmax`` pre-registered.

Designed for cluster scale even though tests run local: AQE (runtime
re-planning + skew-join), Arrow-batched Python exchange, UTC session time,
shuffle parallelism sized from the environment instead of the 200 default.

Also the checkpoint lifecycle of the ITERATIVE staged builders
(connected components ``cc_``/``ccs_``, k-means ``km_``, BPE ``bpe_``):
each call draws a :func:`staging_nonce`, checkpoints its rounds into
nonce-scoped slots (:func:`staged_checkpoint`), and a later call
releases the superseded group (:func:`release_staged_group`) while
groups of other live threads stay protected. The session-staged
relations the registry queries share (shingles, term frequencies,
norms, …) are not staged here: ``torchfusion_spark.staging`` declares
them and builds each once per session and input.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

from torchfusion_spark import config as tf_config


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def cpu_fanout(df, rows_per_task: int = 128):
    """Repartition a (possibly single-split) input for CPU-bound per-row
    work: width = clamp(rows / rows_per_task, 1, default_parallelism()).

    A local single-file parquet arrives as ONE split, serializing every
    downstream Python/codegen-heavy pass onto one core — but blindly
    fanning a few hundred rows to 32 partitions costs more in task launch
    and Python-worker spawn than the work itself. The row count is a
    metadata-cheap action on columnar sources; at cluster scale the width
    saturates at full parallelism and this is a no-op-sized rebalance."""
    n = df.count()
    width = max(1, min(default_parallelism(), -(-n // rows_per_task)))
    return df.repartition(width)


def staged_checkpoint(spark, slot: str, df):
    """``localCheckpoint()`` with release tracking for the ITERATIVE
    staged builders (connected components, k-means, BPE): each round's
    checkpoint lands in a nonce-scoped slot of the per-session checkpoint
    pool, and checkpointing into an occupied slot releases the
    superseded checkpoint. Session-staged relations are not staged here;
    ``torchfusion_spark.staging`` owns their lifecycle.

    The checkpointed Dataset's logical plan is a ``LogicalRDD`` wrapping
    the persisted internal RDD, so ``analyzed().rdd()`` on the *result*
    is the handle the block manager holds; unpersisting it on slot reuse
    frees the executor blocks (mechanism verified against
    ``sc.getPersistentRDDs`` in tests/test_skew_and_caps.py).

    Order matters: the new checkpoint materializes (localCheckpoint is
    eager) BEFORE the superseded one is released — a local checkpoint
    truncates lineage, so an iterative builder whose round N+1 plan reads
    round N's blocks would lose data under release-first. Every slot
    name carries its call's nonce, and a nonce belongs to one thread, so
    no two threads stage one slot."""
    pool = spark.__dict__.setdefault("_tf_ck_pool", {})
    with _ck_pool_lock(spark):
        prev = pool.get(slot)
    ck = df.localCheckpoint()
    if prev is not None:
        # contract: the caller must have materialized any DataFrame built
        # on the superseded checkpoint — its lineage is truncated, so a
        # stale handle fails with a lost-block error after this release.
        # Slot reuse is logged so that failure is attributable (ADVICE r04).
        import logging

        logging.getLogger(__name__).debug(
            "staged_checkpoint: slot %r reused — releasing superseded "
            "localCheckpoint blocks (any unmaterialized reader of the old "
            "slot will fail with a lost-block error)",
            slot,
        )
        try:
            prev.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass
    try:
        handle = ck._jdf.queryExecution().analyzed().rdd()
    except Exception:  # noqa: BLE001 — never fail staging over the release handle
        handle = None
    with _ck_pool_lock(spark):
        if handle is not None:
            pool[slot] = handle
        else:
            pool.pop(slot, None)
    return ck


def _protected_nonces(spark, keep_nonce: int | None) -> set[int]:
    """Nonces whose staging groups must survive a release sweep: the
    caller's own (``keep_nonce``) plus any nonce issued to a DIFFERENT
    thread that is still alive — its builder may be mid-loop, and
    localCheckpoint lineage truncation makes a premature release
    unrecoverable. A dead thread's nonce is by definition superseded
    (one thread cannot have two in-flight iterative builders)."""
    live = {t.ident for t in threading.enumerate()}
    me = threading.get_ident()
    # snapshot under the same lock staging_nonce inserts with — a first
    # nonce issued to a NEW thread mid-iteration is a dict resize, the
    # same race class as the _tf_ck_pool sweep (code-review r07)
    with _STAGING_NONCE_LOCK:
        items = list(spark.__dict__.get("_tf_thread_nonces", {}).items())
    out = {n for tid, n in items if tid != me and tid in live}
    if keep_nonce is not None:
        out.add(keep_nonce)
    return out


def _ck_pool_lock(spark) -> threading.Lock:
    """Session-scoped lock serializing checkpoint-pool mutation against
    release sweeps. ``staged_checkpoint`` inserts into ``_tf_ck_pool``
    from builder threads while ``release_staged_group`` iterates it from
    a consumer thread (the parallel bench prewarm runs minhash_clusters
    — whose tail releases its CC scratch — concurrently with the
    containment builder's checkpoint insert); an unguarded insert during
    the sweep's comprehension raises RuntimeError('dictionary changed
    size during iteration'). ``setdefault`` on the instance dict is
    atomic under the GIL, so two threads cannot mint two locks."""
    return spark.__dict__.setdefault("_tf_ck_pool_lock", threading.Lock())


def release_staged_group(spark, prefix: str, keep_nonce: int | None = None) -> int:
    """Release every checkpoint-pool slot starting with ``prefix`` except
    protected groups — the cross-call half of the staging lifecycle: a
    nonce isolates one iterative call's slots from a concurrent call's,
    and the *next* call (or the downstream consumer that has materialized
    the result) releases the superseded group. Protected = the caller's
    ``keep_nonce`` AND any nonce belonging to another still-running
    thread (an in-flight sibling is concurrent, not superseded).
    Callers must materialize a builder's returned DataFrame before
    invoking the same builder again — all registry/gate flows do.
    Returns the number of slots released."""
    pool = spark.__dict__.get("_tf_ck_pool", {})
    tags = {f"_{n}" for n in _protected_nonces(spark, keep_nonce)}
    released = 0
    with _ck_pool_lock(spark):
        victims = [s for s in pool if s.startswith(prefix)]
    for slot in victims:
        if any(slot.endswith(t) or f"{t}_" in slot for t in tags):
            continue
        with _ck_pool_lock(spark):
            handle = pool.pop(slot, None)
        if handle is None:
            continue
        try:
            handle.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass
        released += 1
    return released


_STAGING_NONCE_LOCK = threading.Lock()


def staging_nonce(spark) -> int:
    """Monotonic per-session counter for temp-view names of *iterative*
    staged builders (k-means): fixed global view names would let two
    concurrent calls in one session clobber each other's state mid-loop
    (ADVICE r03). Lock-guarded — the bare read-modify-write is two
    bytecode ops, so two threads could otherwise draw the SAME nonce and
    share loop state, exactly the clobbering the nonce exists to prevent.
    The issuing thread is recorded so release sweeps can recognize
    in-flight sibling groups (see :func:`_protected_nonces`)."""
    with _STAGING_NONCE_LOCK:
        n = getattr(spark, "_tf_staging_nonce", 0) + 1
        spark._tf_staging_nonce = n
        spark.__dict__.setdefault("_tf_thread_nonces", {})[threading.get_ident()] = n
        return n


def finish_staging_nonce(spark, nonce: int) -> None:
    """Drop the issuing thread's in-flight nonce record for a FAILED or
    ABANDONED staging group — after a raise nothing can reference the
    group, so protecting it only leaks.

    Deliberately NOT called on builder SUCCESS paths (for any iterative
    family — ccs_/km_/bpe_): ADVICE r13 #3 suggested clearing at
    completion to stop pooled threads protecting superseded groups, but
    clearing before the caller materializes the returned plan reopens
    the code-review r12 race — a sibling's supersede-release would
    unpersist the completed call's final checkpoint mid-collect, and
    localCheckpoint lineage truncation is unrecoverable. The accepted
    tradeoff across all three iterative families is the BOUNDED leak:
    at most one superseded group per idle pool thread — provided every
    family's supersede-release sweeps its WHOLE prefix (km_/bpe_/ccs_
    all do), so a release skipped under protection is retried by the
    next call once the protecting record is overwritten or its thread
    exits; a single-nonce release would orphan each skipped group
    forever (code-review r13 second pass). Guarded on the nonce
    still being the thread's CURRENT record: the same thread may have
    drawn a newer nonce since, and that one is someone else's
    in-flight state."""
    with _STAGING_NONCE_LOCK:
        records = spark.__dict__.get("_tf_thread_nonces", {})
        tid = threading.get_ident()
        if records.get(tid) == nonce:
            del records[tid]


def session(
    app_name: str = "torchfusion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults applied."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # unfiltered MIN/MAX/COUNT answered from parquet footer statistics
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # both testdata timestamp vintages → TIMESTAMP (see sources.read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine setup to an existing session (e.g. the driver's).

    Equivalent of the tail of ``configure_context`` (reference
    src/lib.rs:121-134): seed the ``torchfusion.*`` namespace and register
    the function library (argmax & friends).
    """
    from torchfusion_spark.functions import register_all

    tf_config.seed_defaults(spark)
    register_all(spark)
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing session.

    A host session we didn't build (the correctness driver's, a notebook's)
    carries Spark defaults: 200 shuffle partitions (200-task exchanges for
    kB-sized gate inputs), no parquet aggregate pushdown. Everything set
    here is runtime-mutable (no restart needed); session-level settings
    like driver memory can only be applied by :func:`session`. Memoized —
    every registry builder routes through here.
    """
    if getattr(spark, "_tf_runtime_tuned", False):
        return spark
    # the parquet-timestamp vintage confs come from sources' ONE shared
    # spelling — a vintage fix edited there must reach this memoized
    # (runs-first-in-every-builder) path too, not leave a stale copy
    from torchfusion_spark.sources import _TS_NORMALIZE_CONFS

    for k, v in {
        "spark.sql.shuffle.partitions": str(default_parallelism()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        **_TS_NORMALIZE_CONFS,
    }.items():
        spark.conf.set(k, v)
    spark._tf_runtime_tuned = True
    return spark
