"""The session-staging registry (``torchfusion_spark.staging``): the
prewarm contract the benchmark and bench read, declaration-time DAG
checks, and build-once / one-corpus binding under concurrency."""

from __future__ import annotations

import dataclasses
import threading
import time
from collections import Counter

import pytest

# perfbench/workloads.py STAGING_COMPONENTS: the names the benchmark
# reports as staging.<component>_s, each the wall of its own build
STAGING_COMPONENTS = {
    "hx_shingles",
    "sim_norms",
    "substring_grams",
    "unigrams",
    "payload_phash",
    "frame_phash",
    "doc_lines",
    "pack_tokens",
    "li_by_order",
    "url_index",
    "minhash_clusters",
    "bloom_filter",
    "containment_index",
    "quality_labels",
    "sim_assign",
    "sim_buckets",
}


def test_prewarm_runs_each_component_once_after_its_deps(spark, tables):
    from torchfusion_spark.staging import prewarm_deps, prewarm_staging

    spans: dict[str, list[tuple[float, float]]] = {}
    lock = threading.Lock()

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        fn(*args)
        t1 = time.perf_counter()
        with lock:
            spans.setdefault(name, []).append((t0, t1))

    prewarm_staging(spark, timed=timed)
    assert set(spans) == STAGING_COMPONENTS
    assert all(len(v) == 1 for v in spans.values()), spans
    for name, [(start, _)] in spans.items():
        for dep in prewarm_deps(name):
            assert spans[dep][0][1] <= start, (name, dep)
    # the dependency edges the schedule must honour are really declared
    assert prewarm_deps("minhash_clusters") == {"hx_shingles"}
    assert prewarm_deps("quality_labels") == {"unigrams"}
    assert prewarm_deps("sim_buckets") == {"sim_norms"}


def test_declare_rejects_unknown_dep_and_cycle():
    from torchfusion_spark.staging import REGISTRY, declare

    def build(ctx):
        return None

    try:
        with pytest.raises(ValueError, match="undeclared"):
            declare("t_orphan", deps=("t_no_such_relation",))(build)
        assert "t_orphan" not in REGISTRY
        declare("t_a")(build)
        declare("t_b", deps=("t_a",))(build)
        with pytest.raises(ValueError, match="cycle"):
            declare("t_a", deps=("t_b",))(build)
        with pytest.raises(ValueError, match="cycle"):
            declare("t_a", deps=("t_a",))(build)
        assert REGISTRY["t_a"].deps == ()  # a rejected redeclaration changes nothing
    finally:
        for n in ("t_orphan", "t_a", "t_b"):
            REGISTRY.pop(n, None)


def test_concurrent_cold_start_builds_each_key_once_on_one_corpus(spark, tables):
    """Four threads cold-start consumers of ``hx_shingles`` while the
    ``documents`` view is swapped mid-flight: every input identity is
    built exactly once, and every consumer reads exactly one corpus."""
    from torchfusion_spark.operators.dedup import hashed_shingle_sql
    from torchfusion_spark.staging import REGISTRY, stage

    def corpus(tag):
        return spark.createDataFrame(
            [
                (i, "en", " ".join(f"{tag}{i}w{j}" for j in range(8)) + " shared tail words here")
                for i in range(12)
            ],
            "doc_id bigint, lang string, text string",
        )

    a, b = corpus(f"a{time.time_ns()}"), corpus(f"b{time.time_ns()}")

    def shingles(df):
        df.createOrReplaceTempView("__t_corpus")
        rows = spark.sql(hashed_shingle_sql("spark", rel="__t_corpus")).collect()
        return {(r.doc_id, tuple(sorted(r.hx))) for r in rows}

    want = {"a": shingles(a), "b": shingles(b)}
    assert want["a"] != want["b"]

    lock = threading.Lock()
    builds: Counter = Counter()
    hx_started = threading.Event()
    originals = {}
    for name in ("documents", "hx_shingles"):
        orig = originals[name] = REGISTRY[name]

        def build(ctx, _orig=orig, _name=name):
            ident = ctx.key if _name == "documents" else ctx.deps["docs"].tag
            with lock:
                builds[(_name, ident)] += 1
            if _name == "hx_shingles":
                hx_started.set()
                time.sleep(0.5)  # hold the build open across the swap
            return _orig.build(ctx)

        REGISTRY[name] = dataclasses.replace(orig, build=build)

    results, errors = [], []

    def consumer():
        try:
            rows = spark.table(stage(spark, "hx_shingles")).collect()
            got = {(r.doc_id, tuple(sorted(r.hx))) for r in rows}
            with lock:
                results.append(got)
        except Exception as exc:  # noqa: BLE001 — surfaced by the assert below
            with lock:
                errors.append(exc)

    orig_docs = spark.table("documents")
    try:
        a.createOrReplaceTempView("documents")
        early = [threading.Thread(target=consumer) for _ in range(2)]
        for t in early:
            t.start()
        assert hx_started.wait(timeout=120)
        b.createOrReplaceTempView("documents")  # mid-flight swap
        late = [threading.Thread(target=consumer) for _ in range(2)]
        for t in late:
            t.start()
        for t in early + late:
            t.join(timeout=600)
    finally:
        REGISTRY.update(originals)
        orig_docs.createOrReplaceTempView("documents")

    assert not errors, errors
    assert len(results) == 4
    for got in results:
        assert [c for c in want if want[c] == got] in (["a"], ["b"])
    assert any(got == want["a"] for got in results)
    assert any(got == want["b"] for got in results)
    assert builds and set(builds.values()) == {1}, builds
    assert sum(1 for n, _ in builds if n == "hx_shingles") == 2


def test_restaging_the_same_corpus_keeps_its_cache(spark, tables):
    """A relation re-staged on the rows it was first staged on (view
    swapped away and back) caches the same plan again; releasing the
    superseded entry must not uncache the live one."""
    from pyspark import StorageLevel

    from torchfusion_spark.staging import stage

    orig = spark.table("documents")
    try:
        stage(spark, "minhash_sig")
        orig.filter("doc_id % 2 = 0").createOrReplaceTempView("documents")
        stage(spark, "hx_shingles")  # minhash_sig is not re-staged here
        orig.createOrReplaceTempView("documents")
        sig, ok = stage(spark, "minhash_sig")
        for view in (sig, ok):
            assert spark.table(view).storageLevel != StorageLevel.NONE, view
    finally:
        orig.createOrReplaceTempView("documents")


def test_iterative_loops_leave_no_checkpoint_or_view(spark, tables, monkeypatch):
    """Three sequential and three concurrent calls of each iterative
    family, each result materialized, leave the persisted RDDs and the
    temp views as they found them. The exception is the one registry
    entry each of ``minhash_clusters`` and ``minhash_clusters_star``
    builds for the fresh corpus: its view, and its cache or checkpoint
    in place of the superseded entry's."""
    from concurrent.futures import ThreadPoolExecutor

    from torchfusion_spark.operators import dedup, similarity, textstats
    from torchfusion_spark.plans import REGISTRY as QUERIES
    from torchfusion_spark.staging import built, stage

    clusters = ("minhash_clusters", "minhash_clusters_star")
    calls = {
        "minhash_clusters": lambda: dedup.minhash_clusters(spark).collect(),
        "minhash_clusters_star": lambda: QUERIES["dedup_minhash_clusters_star"]
        .builder(spark, tables)
        .collect(),
        "kmeans": lambda: similarity.kmeans(spark).collect(),
        "bpe_train": lambda: textstats.bpe_train(spark).collect(),
    }

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def temp_views():
        return {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary}

    # the propagation loop, not its one-task union-find short-circuit
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    docs = spark.table("documents")
    # a corpus no earlier build has seen (same rows): the cluster entries
    # build, and run their loops, inside the measured window
    docs.where(f"doc_id <> {-time.time_ns()}").createOrReplaceTempView("documents")
    try:
        stage(spark, "minhash_sig")
        stage(spark, "sim_norms")
        stage(spark, "unigrams")
        superseded = sum(built(spark, n) is not None for n in clusters)
        rdds, views = persisted(), temp_views()
        results = {n: [f() for _ in range(3)] for n, f in calls.items()}
        with ThreadPoolExecutor(3) as pool:
            for n, f in calls.items():
                results[n] += pool.map(lambda _, f=f: f(), range(3))
        new_views = {built(spark, n).result for n in clusters}
        assert temp_views() == views | new_views
        assert len(persisted() - rdds) == len(clusters)
        assert len(rdds - persisted()) <= superseded
        for n, got in results.items():
            assert got[0] and all(sorted(g) == sorted(got[0]) for g in got), n
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    finally:
        docs.createOrReplaceTempView("documents")


def test_local_checkpoint_only_in_staging():
    """Every localCheckpoint belongs to a registry entry or a scratch
    scope, both in ``staging.py``: one made anywhere else has no owner
    to release it."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "torchfusion_spark"
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "staging.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert not hits, hits


def test_temp_views_only_in_staging_catalog_and_ddl():
    """The shared temp-view catalog has three writers: staging (key- and
    scope-named views), the catalog tables ``load_tables`` registers and
    the user's own DDL through ``Engine.sql``. A query builder that names
    a view of its own races every concurrent caller for that name."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "torchfusion_spark"
    owners = {root / "staging.py", root / "sources" / "__init__.py", root / "engine.py"}
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path not in owners
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "createOrReplaceTempView(" in line
    ]
    assert not hits, hits


def test_concurrent_dedup_canonical_thresholds_get_their_own_answer(
    spark, tables, monkeypatch
):
    """Two threads run the canonical-selection pipeline at thresholds 0.5
    and 0.9, held together at a barrier inside the quality SQL: each gets
    its own single-thread answer, not the other caller's clusters."""
    from torchfusion_spark.operators import textstats
    from torchfusion_spark.operators.dedup import dedup_canonical

    thresholds = (0.5, 0.9)

    def answer(t):
        return sorted(tuple(r) for r in dedup_canonical(spark, t).collect())

    want = {t: answer(t) for t in thresholds}
    assert want[0.5] != want[0.9]

    barrier = threading.Barrier(len(thresholds))
    quality_sql = textstats.text_quality_sql

    def held(d):
        barrier.wait(timeout=120)
        return quality_sql(d)

    monkeypatch.setattr(textstats, "text_quality_sql", held)
    got, errors = {}, []

    def run(t):
        try:
            got[t] = answer(t)
        except Exception as exc:  # noqa: BLE001 — surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,)) for t in thresholds]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    assert got == want


def test_ann_recall_audit_leaves_the_catalog_as_it_found_it(spark, tables):
    """The audit's per-call exact pair scan is bound for the parse only:
    after a warm-up, three more calls leave the temp-view set unchanged
    and return the warm-up's rows."""
    from torchfusion_spark.operators.similarity import ann_recall_audit

    def temp_views():
        return {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary}

    first = ann_recall_audit(spark).collect()
    views = temp_views()
    for _ in range(3):
        assert ann_recall_audit(spark).collect() == first
    assert temp_views() == views


def test_process_lifecycle_only_in_staging():
    """Staged files have one owner: the per-process root in
    ``staging.py``. An exit hook, a pid-scoped name or a ``.scratch`` path
    anywhere else is a second lifecycle for files on disk."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "torchfusion_spark"
    # `.scratch` the directory, not `staging.scratch` the loop scope
    token = re.compile(r"\batexit\b|\bos\.getpid\b|(?<!\w)\.scratch\b")
    hits = [
        f"{path.relative_to(root)}:{i}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "staging.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if token.search(line)
    ]
    assert not hits, hits


def test_staging_root_removed_at_exit(tmp_path):
    """A process that stages a file leaves no root behind once it exits
    (no Spark: the root belongs to the interpreter, not the session)."""
    import os
    import subprocess
    import sys

    child = (
        "import os\n"
        "from torchfusion_spark.staging import staged_dir, staging_root\n"
        "d = staged_dir('probe')\n"
        "open(os.path.join(d, 'f'), 'w').write('x')\n"
        "assert os.path.dirname(d) == staging_root()\n"
        "print(staging_root())\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    proc = subprocess.run(
        [sys.executable, "-c", child], cwd=repo, env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    made = proc.stdout.strip()
    assert os.path.dirname(made) == str(tmp_path), made
    assert os.path.basename(made).startswith("torchfusion-staging-")
    assert not os.path.exists(made)
    assert os.listdir(tmp_path) == []
