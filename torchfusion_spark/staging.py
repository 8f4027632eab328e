"""Session-staged relations: one declarative registry.

A staged relation is a corpus-sized intermediate (hashed shingles, term
frequencies, vector norms, …) that several registry queries read; it is
built once per session and input and reused. Each one is declared once,
next to the SQL it stages, as

    @declare("hx_shingles", deps=("docs",), prewarm=True)
    def _hx(ctx): ...

and consumers ask for it with :func:`stage`. The registry owns the whole
lifecycle:

* **Build once per input identity.** An entry is identified by its
  parameters, its own ``key`` (if any) and the builds of its deps. The
  roots are the catalog tables ``documents`` and ``embeddings``, pinned
  as views and keyed on (load_tables generation, semantic plan hash),
  so swapping a view — or loading other tables — gives every relation
  downstream of it a new identity. Concurrent callers of one identity
  wait on one build-once future; no lock is held while Spark runs.
* **Key-scoped views.** Every build names its temp views after itself
  (``__tf_hx_7``). A later build under another identity makes new views
  instead of replacing the ones a consumer is binding, so a plan bound
  to a staged view keeps reading one corpus without any lock. One
  :func:`stage` call with several names resolves them against one
  snapshot of their shared inputs.
* **Release on supersede.** Building a relation under a new identity
  releases its entries under any other identity: their caches before
  the build (a rebuild on the same rows caches the same plan, which
  shares their cache-manager entry), their checkpoints only after the
  replacement is materialized. As with every checkpoint in this
  package, a plan over a superseded checkpoint must be materialized
  before the relation is staged again on other inputs. The views stay,
  so a late binder of a cache-backed entry still reads its own corpus.
* **Call-scoped scratch.** An iterative loop (connected components,
  k-means, BPE) checkpoints its rounds into a :func:`scratch` scope
  opened by its caller: ``with scratch(spark) as s: s.checkpoint(df,
  "labels")``. Each named loop keeps its two newest checkpoints (round
  N+1's plan reads round N's blocks until its own checkpoint lands),
  and the scope's views are named after it. On exit, normal or raised,
  the scope releases every checkpoint and drops every view it made, so
  what outlives the call must already be on the driver or in a
  registry entry that materialized it inside the scope.
* **Staged files.** A build that writes files (a parquet index, a
  replayed stream's batch files) writes them into its own fresh
  directory, ``ctx.dir(base)``. Every such directory lies under one
  per-process root, made on first use with ``tempfile.mkdtemp`` (so
  under ``$TMPDIR``) and removed whole when the interpreter exits. A
  directory is never released on supersede: a plan resolved against it
  but not yet collected keeps its files until the process ends. Staged
  files are reuse within one process, never across runs; a crashed
  process's root is left to the temp dir's own cleanup.
* **Staging pays or goes.** A relation read by one query builder gets
  no reuse; staging it only moves that query's work into the prewarm.
  Such a relation stays only with a ``Payback:`` paragraph in its build
  docstring: what inlining it cost its consumer (exchanges, Python
  evaluations or time, measured), or why it cannot be inlined.
* **Derived prewarm.** :func:`prewarm_staging` builds the relations
  declared ``prewarm=True`` on a thread pool, each submitted once every
  prewarm relation it depends on has finished, so a component's timed
  wall is its own build.

Pool width: a few jobs in flight fill the scheduler's tail without
fighting for task slots. On hosts with slow thread wake-ups (32–500 µs
measured) ten concurrent jobs thrash: fresh-session A/B at sf0.1
measured width 10 at {20, 79, 80, 133} s against width 5 at {28.0, 28.2,
35.4} s and width 3 at ~42 s. ``$SPARK_GRAFT_STAGING_POOL`` overrides
it, because a real cluster sizes concurrent staging submissions to its
scheduler; invalid or non-positive values fall back to the default
instead of aborting the prewarm (an aborted prewarm silently shifts
every staged build into the first timed queries).
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading
from collections.abc import Iterator
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

_DEFAULT_POOL_WIDTH = 5


@dataclass(frozen=True)
class Staged:
    """One staged relation: ``build(ctx, **params)`` returns its result
    (view names or a small value) from ``ctx.dep(d)`` for each of
    ``deps``; ``key(spark, **params)`` adds any input identity the deps
    do not carry; ``params`` are the declared parameters with their
    defaults."""

    name: str
    deps: tuple[str, ...]
    key: Callable[..., Any] | None
    build: Callable[..., Any]
    params: dict = field(default_factory=dict)
    prewarm: bool = False


REGISTRY: dict[str, Staged] = {}


def _ancestors(name: str) -> set[str]:
    out: set[str] = set()
    todo = list(REGISTRY[name].deps)
    while todo:
        d = todo.pop()
        if d not in out:
            out.add(d)
            todo.extend(REGISTRY[d].deps)
    return out


def declare(name: str, deps: tuple[str, ...] = (), key=None, *, params=None, prewarm=False):
    """Decorator declaring ``build`` as staged relation ``name``. Every
    dep must already be declared and may not reach ``name`` again, so
    the registry is a DAG by construction."""

    def wrap(build):
        unknown = [d for d in deps if d not in REGISTRY]
        if unknown:
            raise ValueError(f"staged relation {name!r}: undeclared deps {unknown}")
        if name in deps or any(name in _ancestors(d) for d in deps):
            raise ValueError(f"staged relation {name!r}: dependency cycle via {deps}")
        REGISTRY[name] = Staged(name, tuple(deps), key, build, dict(params or {}), prewarm)
        return build

    return wrap


class Stale(Exception):
    """A root's input changed between keying and building; :func:`stage`
    keys it again."""


def table_key(spark, table: str, df=None):
    """Identity of a catalog table: (load_tables generation, semantic
    plan hash). An un-analyzable table yields a fresh ``object()``, so
    everything built on it rebuilds on every use."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.table(table) if df is None else df
        return (getattr(spark, "_tf_tables_loaded", None), df.semanticHash())
    except AnalysisException:  # unknown plan identity → always rebuild
        return object()


def _declare_table(table: str) -> None:
    @declare(table, key=lambda spark: table_key(spark, table))
    def _pin(ctx):
        df = ctx.spark.table(table)
        if type(ctx.key) is not object and table_key(ctx.spark, table, df) != ctx.key:
            raise Stale(table)
        return ctx.view(f"__tf_{table}", df)


for _table in ("documents", "embeddings"):
    _declare_table(_table)


@dataclass
class _Entry:
    result: Any
    tag: int
    key: Any
    params: dict
    caches: list  # cached DataFrames
    checkpoints: list  # the RDDs behind localCheckpoints


class _Ctx:
    """What a build sees: the session, its deps' results and helpers
    that name views after this build and record what must be released
    when a later build supersedes it."""

    def __init__(self, spark, tag: int, key, deps: dict[str, _Entry]):
        self.spark, self.tag, self.key = spark, tag, key
        self.deps = deps
        self.caches: list = []
        self.checkpoints: list = []

    def dep(self, name: str):
        return self.deps[name].result

    def view(self, base: str, df) -> str:
        name = f"{base}_{self.tag}"
        df.createOrReplaceTempView(name)
        return name

    def cache(self, base: str, df) -> str:
        """Cache, materialize and expose ``df``."""
        df = df.cache()
        self.caches.append(df)
        df.count()
        return self.view(base, df)

    def dir(self, base: str) -> str:
        """A fresh directory for this build's files, under
        :func:`staging_root`; it lives until the process exits."""
        return staged_dir(f"{base}_{self.tag}")

    def checkpoint(self, base: str, df) -> str:
        """``localCheckpoint`` (eager) and expose ``df`` — for shapes the
        cache manager fails to substitute back into a plan (a CTE inside
        a cached view gets its relation ids remapped on embedding), and
        for results read from a :func:`scratch` scope's checkpoints,
        which the truncated lineage frees from that scope."""
        ck, handle = _local_checkpoint(df)
        self.checkpoints.append(handle)
        return self.view(base, ck)


class _Session:
    def __init__(self):
        self.lock = threading.Lock()  # guards the dict only, never a build
        self.entries: dict[tuple, Future] = {}
        self.tags = itertools.count(1)


def _session(spark) -> _Session:
    return spark.__dict__.setdefault("_tf_staging", _Session())


_root: tuple[int, str] | None = None  # (owning pid, path)
_root_lock = threading.Lock()


def staging_root() -> str:
    """This process's staging root, made on first use under
    ``$TMPDIR`` and removed at interpreter exit. A forked child makes its
    own: the parent's exit hook, inherited, removes only the parent's."""
    global _root
    with _root_lock:
        if _root is None or _root[0] != os.getpid():
            _root = (os.getpid(), tempfile.mkdtemp(prefix="torchfusion-staging-"))
            atexit.register(_remove_root, *_root)
        return _root[1]


def _remove_root(pid: int, path: str) -> None:
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def staged_dir(base: str) -> str:
    """A fresh directory named after ``base`` under :func:`staging_root`."""
    return tempfile.mkdtemp(prefix=f"{base}_", dir=staging_root())


def _local_checkpoint(df):
    """Eager ``localCheckpoint`` of ``df``: (the checkpointed DataFrame,
    the RDD to unpersist). The checkpointed Dataset's LogicalRDD wraps
    the persisted RDD: that RDD, not the Dataset, is what the block
    manager holds."""
    ck = df.localCheckpoint()
    return ck, ck._jdf.queryExecution().analyzed().rdd()


def _release(handles: list) -> None:
    for h in handles:
        try:
            h.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass


class Scratch:
    """One call's checkpoints and views; see :func:`scratch`."""

    def __init__(self, tag: int):
        self.tag = tag
        self.loops: dict[str, list] = {}  # loop name → live handles, oldest first
        self.views: set[str] = set()

    def view(self, base: str, df) -> str:
        name = f"{base}_{self.tag}"
        df.createOrReplaceTempView(name)
        self.views.add(name)
        return name

    def checkpoint(self, df, loop: str = ""):
        """Eager ``localCheckpoint`` of ``df`` as ``loop``'s newest
        generation; the generation two back is released only now that
        this one is materialized."""
        ck, handle = _local_checkpoint(df)
        live = self.loops.setdefault(loop, [])
        live.append(handle)
        if len(live) > 2:
            _release([live.pop(0)])
        return ck


@contextmanager
def scratch(spark) -> Iterator[Scratch]:
    """A call-scoped :class:`Scratch` for an iterative loop. On exit,
    normal or raised, every checkpoint it still holds is released and
    every view it made is dropped: materialize what must outlive the
    call (collect it, or ``ctx.cache``/``ctx.checkpoint`` it in a
    registry build) before the block ends."""
    sess = _session(spark)
    with sess.lock:
        tag = next(sess.tags)
    s = Scratch(tag)
    try:
        yield s
    finally:
        _release([h for live in s.loops.values() for h in live])
        for name in s.views:
            spark.catalog.dropTempView(name)


def _supersede(sess: _Session, name: str, ident) -> list[_Entry]:
    """Pop the finished entries of ``name`` under any other identity."""
    with sess.lock:
        stale = [
            k for k, f in sess.entries.items() if k[0] == name and k[2] != ident and f.done()
        ]
        futs = [sess.entries.pop(k) for k in stale]
    return [f.result() for f in futs if f.exception() is None]


def _build(spark, sess, rel: Staged, full: tuple, fut: Future, key, deps, params):
    # superseded caches go first: a build that caches the same plan again
    # (the same corpus under a new identity) would share their
    # cache-manager entry and lose it when they are released after it
    old = _supersede(sess, rel.name, full[2])
    _release([df for e in old for df in e.caches])
    with sess.lock:
        tag = next(sess.tags)
    ctx = _Ctx(spark, tag, key, deps)
    try:
        result = rel.build(ctx, **params)
    except BaseException as exc:
        with sess.lock:
            sess.entries.pop(full, None)
        _release(ctx.caches + ctx.checkpoints + [ck for e in old for ck in e.checkpoints])
        fut.set_exception(exc)
        return
    fut.set_result(_Entry(result, tag, key, params, ctx.caches, ctx.checkpoints))
    # checkpoints go only now that their replacement is materialized, with
    # whatever finished under another identity while this one built
    late = _supersede(sess, rel.name, full[2])
    _release(
        [ck for e in old + late for ck in e.checkpoints] + [df for e in late for df in e.caches]
    )


def _resolve(spark, sess: _Session, name: str, params: dict, memo: dict) -> _Entry:
    rel = REGISTRY[name]
    p = {**rel.params, **params}
    pkey = tuple(sorted(p.items()))
    if (name, pkey) in memo:
        return memo[(name, pkey)]
    deps = {d: _resolve(spark, sess, d, {}, memo) for d in rel.deps}
    while True:
        key = rel.key(spark, **p) if rel.key is not None else None
        full = (name, pkey, (key, tuple(e.tag for e in deps.values())))
        with sess.lock:
            fut = sess.entries.get(full)
            mine = fut is None
            if mine:
                fut = sess.entries[full] = Future()
        if mine:
            _build(spark, sess, rel, full, fut, key, deps, p)
        try:
            entry = fut.result()
        except Stale:
            continue
        memo[(name, pkey)] = entry
        return entry


def stage(spark, *names: str, **params):
    """The result of each named staged relation, building what is
    missing. One name returns its result, several a tuple; all of them
    are resolved against one snapshot of their shared inputs. ``params``
    go to every named relation that declares them (deps use their
    defaults)."""
    if not REGISTRY.keys() >= set(names):
        _load_declarations()
    sess = _session(spark)
    for k in params:
        if not any(k in REGISTRY[n].params for n in names):
            raise TypeError(f"no staged relation in {names} takes {k!r}")
    memo: dict = {}
    out = tuple(
        _resolve(
            spark, sess, n, {k: v for k, v in params.items() if k in REGISTRY[n].params}, memo
        ).result
        for n in names
    )
    return out[0] if len(names) == 1 else out


def built(spark, name: str, **params) -> _Entry | None:
    """The live, finished entry of ``name`` under ``params`` (defaults
    filled in), or None — for tests and tools that inspect staging."""
    if name not in REGISTRY:
        _load_declarations()
    p = {**REGISTRY[name].params, **params}
    sess = _session(spark)
    with sess.lock:
        futs = [f for k, f in sess.entries.items() if k[0] == name and f.done()]
    for f in futs:
        if f.exception() is None and f.result().params == p:
            return f.result()
    return None


def staging_pool_width() -> int:
    """$SPARK_GRAFT_STAGING_POOL, validated: a positive int, else the
    default 5 (non-int AND non-positive both fall back — a width-0
    misconfig must not silently serialize the prewarm, which measured
    ~100 s vs ~28 s at the default)."""
    try:
        width = int(os.environ.get("SPARK_GRAFT_STAGING_POOL", ""))
    except ValueError:
        return _DEFAULT_POOL_WIDTH
    return width if width > 0 else _DEFAULT_POOL_WIDTH


def prewarm_deps(name: str) -> set[str]:
    """The prewarm relations ``name`` (transitively) depends on."""
    return {d for d in _ancestors(name) if REGISTRY[d].prewarm}


def _load_declarations() -> None:
    import torchfusion_spark.operators.dedup  # noqa: F401
    import torchfusion_spark.operators.multimodal  # noqa: F401
    import torchfusion_spark.operators.similarity  # noqa: F401
    import torchfusion_spark.operators.textstats  # noqa: F401
    import torchfusion_spark.streaming  # noqa: F401


def prewarm_staging(spark, timed=None) -> None:
    """Build every relation declared ``prewarm=True`` on a pool of
    :func:`staging_pool_width` threads.

    ``timed``: optional ``f(name, fn, *args)`` wrapper — the bench passes
    one that records each component's wall-clock under the concurrent
    schedule; default just calls ``fn(*args)``. A component is submitted
    only after every prewarm relation it depends on has finished; among
    ready components the ones with the most prewarm dependents go first.
    """
    _load_declarations()
    run = timed if timed is not None else (lambda _name, fn, *a: fn(*a))
    comps = [n for n, r in REGISTRY.items() if r.prewarm]
    need = {n: prewarm_deps(n) for n in comps}
    fanout = {n: sum(n in need[m] for m in comps) for n in comps}
    order = sorted(comps, key=lambda n: -fanout[n])
    done: set[str] = set()
    running: dict[Future, str] = {}
    with ThreadPoolExecutor(max_workers=staging_pool_width()) as pool:
        while len(done) < len(comps):
            for n in order:
                if n not in done and n not in running.values() and need[n] <= done:
                    running[pool.submit(run, n, stage, spark, n)] = n
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                f.result()
                done.add(running.pop(f))
