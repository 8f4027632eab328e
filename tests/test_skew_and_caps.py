"""Skew primitives and LSH hot-bucket behavior.

* salted_aggregate recombines each aggregate with its OWN combiner —
  min/max of partials, not a silent sum (the round-1 bug).
* salted_join is restricted to salt-invariant join types.
* A boilerplate-skewed corpus (1k near-identical docs) must not send the
  minhash candidate join quadratic: the hot bucket is capped, the query
  finishes, and the Spark plan still matches the DuckDB oracle running
  the same capped semantics.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_salted_aggregate_min_max_exact(spark, tables):
    from torchfusion_spark.operators.skew import salted_aggregate

    li = spark.table("lineitem")
    got = (
        salted_aggregate(
            li,
            ["l_returnflag"],
            {
                "total": F.sum(F.col("l_extendedprice").cast("decimal(12,2)")),
                "n": (F.count(F.lit(1)), "count"),
                "lo": (F.min("l_extendedprice"), "min"),
                "hi": (F.max("l_extendedprice"), "max"),
            },
            n_salts=16,
        )
        .orderBy("l_returnflag")
        .toPandas()
    )
    exp = (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("l_returnflag")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp)


def test_salted_aggregate_rejects_non_decomposable():
    from torchfusion_spark.operators.skew import salted_aggregate

    with pytest.raises(ValueError, match="combiner"):
        salted_aggregate(None, ["k"], {"bad": (F.avg("x"), "avg")})


def test_salted_join_rejects_outer():
    from torchfusion_spark.operators.skew import salted_join

    with pytest.raises(ValueError, match="inner"):
        salted_join(None, None, "k", how="full")


def _boilerplate_corpus(spark, n=1000):
    """n docs sharing one boilerplate body (distinct only in a trailing
    token) — every minhash band lands in the same bucket."""
    body = " ".join(f"w{i % 17}" for i in range(60))
    rows = [(i, f"{body} tail{i}", "en", 60) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, n_chars bigint")
    df.createOrReplaceTempView("__skewed_docs")
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars"])


def test_minhash_hot_bucket_capped(spark):
    from torchfusion_spark.operators.dedup import (
        hashed_shingle_sql,
        minhash_body_sql,
        sig_rel_sql,
    )

    pdf = _boilerplate_corpus(spark)
    spark_sql = minhash_body_sql("spark", "s", 0.6).replace(
        "WITH bands AS",
        f"WITH hs AS ({hashed_shingle_sql('spark', rel='__skewed_docs')}),\n"
        f"    s AS ({sig_rel_sql('spark', 'hs')}),\n    bands AS",
        1,
    )
    # without the cap this is a C(1000,2) x 8-band self-join; with it the
    # hot buckets are excluded and the query returns quickly
    got = spark.sql(spark_sql).toPandas()

    con = duckdb.connect()
    con.register("documents", pdf)
    duck_sql = minhash_body_sql("duck", "s", 0.6).replace(
        "WITH bands AS",
        f"WITH hs AS MATERIALIZED ({hashed_shingle_sql('duck')}),\n"
        f"    s AS MATERIALIZED ({sig_rel_sql('duck', 'hs')}),\n    bands AS",
        1,
    )
    exp = con.execute(duck_sql).df()
    assert len(got) == len(exp)
    if len(got):
        pd.testing.assert_frame_equal(
            got.sort_values(["id_a", "id_b"]).reset_index(drop=True).astype({"jaccard": float}),
            exp.sort_values(["id_a", "id_b"]).reset_index(drop=True).astype({"jaccard": float}),
        )


def test_minhash_cap_preserves_normal_corpus_pairs(spark, tables):
    """On the real (non-skewed) test corpus the cap must not change the
    pair set: no bucket exceeds MAX_BUCKET there."""
    from torchfusion_spark.operators.dedup import minhash_body_sql, minhash_lsh

    pairs_capped = minhash_lsh(spark).toPandas()
    uncapped_body = minhash_body_sql("spark", "__minhash_sig", 0.6, max_bucket=10**9)
    pairs_uncapped = spark.sql(uncapped_body).toPandas()
    pd.testing.assert_frame_equal(pairs_capped, pairs_uncapped)


def test_arrow_ipc_roundtrip(spark, tables, tmp_path):
    from torchfusion_spark.sources.arrow_ipc import read_arrow_ipc, write_arrow_ipc

    docs = spark.table("documents")
    path = str(tmp_path / "docs_arrow")
    n_files, n_rows = write_arrow_ipc(docs.repartition(4), path)
    assert n_files >= 1
    assert n_rows == docs.count()
    back = read_arrow_ipc(spark, path)
    assert back.schema == docs.schema
    got = sorted(r.doc_id for r in back.select("doc_id").collect())
    exp = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert got == exp


def test_parquet_float16_upcast_argmax(spark, tmp_path):
    """Reference parity: argmax over Float16Array (src/argmax.rs:72-75).
    Spark rejects FLOAT16 parquet (PARQUET_TYPE_ILLEGAL), so the ingest
    helper upcasts executor-side; argmax must match numpy on the half
    values exactly (float16 -> float32 is exact)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.functions import argmax
    from torchfusion_spark.sources.arrow_ipc import read_parquet_float16

    rng = np.random.default_rng(7)
    vals = rng.standard_normal((50, 16)).astype(np.float16)
    flat = pa.array(vals.ravel(), type=pa.float16())
    emb = pa.FixedSizeListArray.from_arrays(flat, 16).cast(pa.list_(pa.float16()))
    t = pa.table({"vec_id": pa.array(range(50), pa.int64()), "embedding": emb})
    p = str(tmp_path / "half.parquet")
    pq.write_table(t, p)

    import pytest

    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(p).collect()

    df = read_parquet_float16(spark, p)
    assert dict(df.dtypes)["embedding"] == "array<float>"
    got = {r.vec_id: r.am for r in df.select("vec_id", argmax("embedding").alias("am")).collect()}
    exp = {i: int(v.argmax()) for i, v in enumerate(vals)}
    assert got == exp


def test_parquet_float16_argmax_edge_values(spark, tmp_path):
    """VERDICT r05 item 7: pin the half-precision argmax fast path
    (reference src/argmax.rs:72-75) on the f16 edge inventory — ties
    (first max index, both engines), ±inf, subnormals, negative zero,
    and the f16 rounding grid itself (values distinct in f32 that
    collapse to equal halves must argmax as EQUAL, i.e. first index) —
    against a numpy float16 oracle. NaN is excluded: that divergence is
    documented (README 'Known engine differences')."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.functions import argmax
    from torchfusion_spark.sources.arrow_ipc import read_parquet_float16

    cases = np.array(
        [
            [1.0, 2.0, 2.0, 0.5],            # tie -> first max index (1)
            [-np.inf, -1.0, np.inf, 3.0],    # +inf wins
            [-np.inf, -65504.0, -0.0, 0.0],  # -0 == 0 -> first of the pair
            [6e-8, 5.96e-8, 0.0, -6e-8],     # subnormal half values
            [2.0009766, 2.0, 1.0, 0.0],      # adjacent f16 grid points stay distinct
            [2.0004, 2.0, 1.0, 0.0],         # f32-distinct, f16-EQUAL -> tie, first
            [-65504.0, -65504.0, -65500.0, -65504.0],  # min-normal ties
        ],
        dtype=np.float16,
    )
    flat = pa.array(cases.ravel(), type=pa.float16())
    emb = pa.FixedSizeListArray.from_arrays(flat, 4).cast(pa.list_(pa.float16()))
    t = pa.table({"vec_id": pa.array(range(len(cases)), pa.int64()), "embedding": emb})
    p = str(tmp_path / "half_edge.parquet")
    pq.write_table(t, p)

    df = read_parquet_float16(spark, p)
    got = {r.vec_id: r.am for r in df.select("vec_id", argmax("embedding").alias("am")).collect()}
    exp = {i: int(np.argmax(v)) for i, v in enumerate(cases)}
    assert got == exp
    # the f16-collapse row really did collapse: its first two elements are
    # equal halves even though the python literals differ in f32
    assert cases[5][0] == cases[5][1]


def test_ngram_block_cap_bounds_boilerplate_block(spark, tables):
    """A (lang, len_bucket) block stuffed with boilerplate docs is
    excluded from the n-gram self-join (no quadratic stage); normal-sized
    blocks keep exactly their uncapped pairs."""
    import pandas as pd

    from torchfusion_spark.operators.dedup import ngram_blocks_sql, ngram_body_sql

    docs = spark.table("documents").selectExpr("doc_id", "lang", "n_chars", "text")
    boiler = spark.range(2000).selectExpr(
        "id + 1000000 AS doc_id",
        "'xx' AS lang",
        "CAST(96 AS INT) AS n_chars",
        "repeat('license header boilerplate ', 4) AS text",
    )
    docs.unionByName(boiler).createOrReplaceTempView("__ngram_cap_docs")
    g = spark.sql(ngram_blocks_sql("spark", rel="__ngram_cap_docs")).cache()
    g.count()
    g.createOrReplaceTempView("__ngram_cap_blocks")

    capped = spark.sql(ngram_body_sql("spark", "__ngram_cap_blocks", 0.7)).toPandas()
    # the 2000-doc boilerplate block is dropped entirely...
    assert not (capped["id_a"] >= 1000000).any()
    # ...and the organic corpus pairs are exactly the uncapped ones
    uncapped = spark.sql(
        ngram_body_sql("spark", "__ngram_cap_blocks", 0.7, max_block=10**9)
    ).toPandas()
    pd.testing.assert_frame_equal(
        capped, uncapped[uncapped["id_a"] < 1000000].reset_index(drop=True)
    )
    g.unpersist()


def test_capped_bucket_stats_observability(spark, tables):
    """ADVICE r03: the hot-band caps silently bound recall and the oracle
    runs the identical capped SQL, so cap loss is invisible to the
    correctness gate. These stats surfaces make it measurable; on the
    fixture corpus (post-exact-dedup organic docs) NO bucket exceeds
    either cap — pinned so a corpus/data-vintage change that starts
    capping real buckets fails loudly here instead of silently losing
    pairs."""
    from torchfusion_spark.operators.dedup import (
        minhash_capped_bucket_stats,
        simhash_capped_bucket_stats,
    )

    from torchfusion_spark.operators.multimodal import phash_capped_bucket_stats
    from torchfusion_spark.operators.similarity import lsh_capped_bucket_stats

    assert simhash_capped_bucket_stats(spark).count() == 0
    assert minhash_capped_bucket_stats(spark).count() == 0
    assert phash_capped_bucket_stats(spark).count() == 0
    assert lsh_capped_bucket_stats(spark).count() == 0
    # the surface reports when a cap WOULD bite: tighten max_bucket to 1
    # and the boilerplate-free corpus still has some 2+ buckets
    assert simhash_capped_bucket_stats(spark, max_bucket=1).count() > 0
    assert phash_capped_bucket_stats(spark, max_bucket=1).count() > 0
    assert lsh_capped_bucket_stats(spark, max_bucket=1).count() > 0


def test_lsh_pair_cap_bites_identically_on_both_engines(spark, tables):
    """The r14 hot-bucket cap on sim_cosine_near_dup_lsh, exercised at a
    cap that BITES (max_bucket=1 excludes every 2+ bucket): both dialects
    of the capped SQL must agree exactly — a wrong partition key, a <=/<
    slip, or a dropped column in the sized/ok CTEs would silently change
    recall and never surface at fixture scale where the default cap is a
    no-op (code-review r14)."""
    import duckdb

    from torchfusion_spark.operators.similarity import cosine_near_dup_lsh_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tables}/embeddings.parquet')"
    )
    for cap in (1, 3, 1_000_000):
        got = [tuple(r) for r in spark.sql(
            cosine_near_dup_lsh_sql("spark", max_bucket=cap)
        ).collect()]
        want = [tuple(r) for r in con.execute(
            cosine_near_dup_lsh_sql("duck", max_bucket=cap)
        ).fetchall()]
        assert got == want, cap
    # the tightest cap really bites: strictly fewer pairs than uncapped
    tight = spark.sql(cosine_near_dup_lsh_sql("spark", max_bucket=1)).count()
    loose = spark.sql(cosine_near_dup_lsh_sql("spark", max_bucket=1_000_000)).count()
    assert tight < loose


def test_staged_lifecycle_no_storage_leak(spark, tables):
    """ADVICE r03: repeated staged-builder calls (containment, kmeans) and
    a staged-cache rebuild must not accumulate persisted RDDs/blocks in
    one session. Also pins the localCheckpoint release mechanism
    (analyzed().rdd() on the checkpointed Dataset is the handle the block
    manager holds)."""
    from torchfusion_spark.operators import dedup, similarity
    from torchfusion_spark.session import staged_checkpoint

    jsc = spark.sparkContext._jsc

    # mechanism: a slot-tracked checkpoint is released on slot reuse
    before = jsc.getPersistentRDDs().size()
    staged_checkpoint(spark, "lifecycle_probe", spark.range(100).selectExpr("id", "id * 2 AS x"))
    assert jsc.getPersistentRDDs().size() == before + 1
    staged_checkpoint(spark, "lifecycle_probe", spark.range(50).selectExpr("id", "id * 3 AS x"))
    assert jsc.getPersistentRDDs().size() == before + 1

    # operators: persistent-RDD count is stable across repeat invocations
    from torchfusion_spark.operators import textstats

    dedup.containment(spark).count()
    similarity.kmeans(spark).count()
    textstats._staged_bloom(spark)
    steady = jsc.getPersistentRDDs().size()
    dedup.containment(spark).count()
    similarity.kmeans(spark).count()
    textstats._staged_bloom(spark)
    assert jsc.getPersistentRDDs().size() == steady


def test_staged_bloom_rebuilds_on_table_reload(spark, tables):
    """The session-staged Bloom filter (round 6) is keyed by the
    load_tables generation: swapping the documents relation must rebuild
    the benchmark-hash set and filter, not serve the stale corpus's —
    the failure mode would be silently decontaminating against the wrong
    benchmark suite."""
    from torchfusion_spark.operators import textstats

    textstats._staged_bloom(spark)
    before = spark.table("__tf_bench_h").count()

    orig_docs = spark.table("documents")
    orig_key = spark._tf_tables_loaded
    try:
        # a different corpus: keep only every 4th doc
        orig_docs.where("doc_id % 4 = 0").createOrReplaceTempView("documents")
        spark._tf_tables_loaded = (orig_key, "bloom-switch-probe")
        textstats._staged_bloom(spark)
        after = spark.table("__tf_bench_h").count()
        assert after < before  # fewer bench docs -> fewer bench hashes
        # and the filter matches a from-scratch fold over the new set
        want = spark.sql(
            textstats.bloom_fold_sql("spark", "__tf_bench_h")
        ).collect()
        got = spark.table("__tf_bloom").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    finally:
        orig_docs.createOrReplaceTempView("documents")
        spark._tf_tables_loaded = orig_key
        textstats._staged_bloom(spark)  # restore the real staging


def test_cap_recall_loss_exact_counts(spark, tables):
    """VERDICT r04 item 2: pin the hot-bucket cap's recall loss with EXACT
    numbers, so a cap-induced recall regression fails CI instead of
    passing the blind oracle (which runs the identical capped SQL).

    Synthetic corpus: an 80-doc boilerplate block (identical text — every
    MinHash/SimHash band lands in one bucket of size 80, past both caps)
    plus 6 organic docs including one near-dup pair. Exact assertions:

    * minhash stats: exactly 8 capped buckets (one per band), each bsz=80;
      dropped-pair bound = 8 * C(80,2) = 25280;
    * simhash stats (cap tightened to 64): exactly 4 capped buckets
      (32 bits / 8-bit bands), each bsz=80;
    * recall loss itself: capped LSH pairs == uncapped pairs minus
      exactly the C(80,2) = 3160 boilerplate-block pairs — no organic
      pair is lost (their buckets are below the cap).
    """
    from torchfusion_spark.operators.dedup import (
        MAX_BUCKET,
        minhash_body_sql,
        minhash_capped_bucket_stats,
        simhash_capped_bucket_stats,
    )

    n_boiler = MAX_BUCKET + 16  # 80: every all-boilerplate bucket is hot
    boiler = "license header boilerplate text repeated verbatim across the corpus shard"
    organic = [
        (1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
        (2, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
        (3, "the quick brown fox jumps over the lazy dog tonight"),
        (4, "sphinx of black quartz judge my vow said the raven"),
        (5, "pack my box with five dozen liquor jugs before noon"),
        (6, "how vexingly quick daft zebras jump across the frozen lake"),
    ]
    rows = [(1_000_000 + i, boiler, "en", len(boiler)) for i in range(n_boiler)] + [
        (i, t, "en", len(t)) for i, t in organic
    ]
    try:
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, n_chars int"
        ).createOrReplaceTempView("documents")
        # new memo key → minhash_lsh re-stages __minhash_sig over the
        # synthetic view instead of reusing the fixture corpus signature
        spark._tf_tables_loaded = ("__cap_recall_synthetic__",)
        spark._tf_minhash_sig_key = object()

        mh = minhash_capped_bucket_stats(spark).toPandas()
        assert len(mh) == 8
        assert set(mh["bsz"]) == {n_boiler}
        assert int((mh["bsz"] * (mh["bsz"] - 1) // 2).sum()) == 8 * (
            n_boiler * (n_boiler - 1) // 2
        )

        sh = simhash_capped_bucket_stats(spark, max_bucket=64).toPandas()
        assert len(sh) == 4
        assert set(sh["bsz"]) == {n_boiler}

        pair = lambda df: {(r.id_a, r.id_b) for r in df.collect()}  # noqa: E731
        capped = pair(spark.sql(minhash_body_sql("spark", "__minhash_sig", 0.6)))
        uncapped = pair(
            spark.sql(minhash_body_sql("spark", "__minhash_sig", 0.6, max_bucket=10**9))
        )
        boiler_ids = {1_000_000 + i for i in range(n_boiler)}
        boiler_pairs = {p for p in uncapped if p[0] in boiler_ids and p[1] in boiler_ids}
        assert len(boiler_pairs) == n_boiler * (n_boiler - 1) // 2  # all found uncapped
        assert capped == uncapped - boiler_pairs  # loss = exactly the block
        assert (1, 2) in capped  # the organic near-dup pair survives the cap
    finally:
        # restore the fixture corpus: reload tables and invalidate memos
        spark._tf_tables_loaded = None
        spark._tf_minhash_sig_key = object()
        from torchfusion_spark.sources import load_tables

        load_tables(spark, tables)


def test_substring_dedup_span_semantics(spark, tables):
    """Pin the exact-substring span algebra on a hand-built corpus
    (round-7 addition): full-document duplication yields one maximal
    span; an embedded shared run yields exactly the k-token span; two
    shared runs separated by more than a k-gap stay two spans; runs
    overlapping by one position merge (gaps-and-islands boundary).
    Cross-engine: the same corpus through the DuckDB spelling must match
    row-for-row."""
    import duckdb
    import pandas as pd

    from torchfusion_spark.operators.dedup import substring_sql

    a = [f"alpha{i}" for i in range(20)]  # shared vocabulary run
    uniq = lambda tag, n: [f"{tag}uniq{i}" for i in range(n)]  # noqa: E731
    docs = {
        0: a,                                   # full dup with doc 1
        1: a,
        2: uniq("b", 9) + a[:8] + uniq("c", 9),  # one embedded 8-run (pos 10)
        3: uniq("d", 30),                        # no duplication
        4: a[:8] + uniq("e", 10) + a[:8],        # two separated shared runs
        5: a[:9] + uniq("f", 8),                 # 9-run: grams at pos 1,2 merge
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": [" ".join(w) for w in docs.values()],
            "lang": "en",
            "source": "fixture",
            "n_chars": [len(" ".join(w)) for w in docs.values()],
        }
    )
    # swap the shared session's documents view for the fixture and RESTORE
    # it after (dropTempView would leave every later test in the session
    # without a documents relation — the tables fixture is session-scoped)
    orig_docs = spark.table("documents")
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    try:
        got = spark.sql(substring_sql("spark")).toPandas()
    finally:
        orig_docs.createOrReplaceTempView("documents")

    want = pd.DataFrame(
        [
            (0, 1, 20, 20),   # maximal span covers the whole doc
            (1, 1, 20, 20),
            (2, 10, 17, 8),   # exactly the embedded run
            (4, 1, 8, 8),     # two islands: gap 18 - 1 > k
            (4, 19, 26, 8),
            (5, 1, 9, 9),     # adjacent grams merged into one 9-token span
        ],
        columns=["doc_id", "span_start", "span_end", "span_tokens"],
    )
    pd.testing.assert_frame_equal(
        got.sort_values(["doc_id", "span_start"]).reset_index(drop=True).astype("int64"),
        want.astype("int64"),
    )

    con = duckdb.connect()
    con.register("documents", pdf)
    exp = con.execute(substring_sql("duck")).df()
    pd.testing.assert_frame_equal(
        exp.sort_values(["doc_id", "span_start"]).reset_index(drop=True).astype("int64"),
        want.astype("int64"),
    )


def test_staged_ok_matches_inline_band_relation(spark, tables):
    """r17: the banded pair joins read a STAGED capped band relation
    (__minhash_ok / __simhash_ok / __mm_phash_ok / __mm_fphash_ok) so
    the explode + bucket-size window run once per corpus instead of once
    per self-join side. The staged relation must be row-identical to the
    inline sized/ok CTE chain the oracle (and the pre-r17 Spark arm)
    computes — an off-by-one in the cap predicate or a drift in the band
    spelling would silently change the candidate set."""
    from torchfusion_spark.operators import multimodal as mm
    from torchfusion_spark.operators.dedup import (
        MAX_BUCKET,
        SIMHASH_MAX_BUCKET,
        G,
        _simhash_band_keys,
        _staged_simhash_sig,
        minhash_lsh,
    )

    from torchfusion_spark.operators import similarity as sim

    minhash_lsh(spark)  # stages __minhash_sig + __minhash_ok
    _staged_simhash_sig(spark)  # stages __simhash_sig + __simhash_ok
    mm._staged_phash(spark)  # stages __mm_phash + __mm_phash_ok
    mm._staged_frame_phash(spark)  # stages __mm_fphash + __mm_fphash_ok
    sim._staged_buckets(spark, lambda rel: None)  # stages __sim_lsh_ok too

    def inline_ok(sig_view, band_keys, carry, cap):
        band_rel = G.band_explode(sig_view, band_keys, "spark", carry=carry)
        return spark.sql(
            f"SELECT {carry}, band, bkey FROM ("
            f"  SELECT {carry}, band, bkey,"
            f"         COUNT(*) OVER (PARTITION BY band, bkey) AS bsz"
            f"  FROM ({band_rel})) WHERE bsz <= {cap}"
        )

    fsig = (
        f"(SELECT doc_id * {mm.FRAME_KEY_MULT} + frame_idx AS doc_id, "
        f"simhash FROM __mm_fphash)"
    )
    cases = [
        ("__minhash_ok", "__minhash_sig", G.band_exprs("sig", "spark"), "doc_id", MAX_BUCKET),
        ("__simhash_ok", "__simhash_sig", _simhash_band_keys(4, "spark"), "doc_id, simhash", SIMHASH_MAX_BUCKET),
        ("__mm_phash_ok", "__mm_phash", _simhash_band_keys(mm.PHASH_BITS // 8, "spark"), "doc_id, simhash", SIMHASH_MAX_BUCKET),
        ("__mm_fphash_ok", fsig, _simhash_band_keys(mm.PHASH_BITS // 8, "spark"), "doc_id, simhash", SIMHASH_MAX_BUCKET),
        ("__sim_lsh_ok", "__sim_buckets", list(sim.MB_COLS), "vec_id, v, nrm", sim.LSH_MAX_BUCKET),
    ]
    for staged_view, sig_view, band_keys, carry, cap in cases:
        staged = spark.table(staged_view)
        inline = inline_ok(sig_view, band_keys, carry, cap)
        assert staged.count() == inline.count(), staged_view
        assert staged.exceptAll(inline).count() == 0, staged_view
        assert inline.exceptAll(staged).count() == 0, staged_view


# the staged capped relation passed as ok_rel is built at the family cap;
# a different max_bucket alongside it used to be silently ignored


def test_minhash_ok_rel_refuses_other_max_bucket():
    from torchfusion_spark.operators.dedup import MAX_BUCKET, minhash_body_sql

    assert "__ok" in minhash_body_sql("spark", "s", 0.6, MAX_BUCKET, ok_rel="__ok")
    with pytest.raises(ValueError, match="max_bucket=65 needs the inline spelling"):
        minhash_body_sql("spark", "s", 0.6, MAX_BUCKET + 1, ok_rel="__ok")


def test_simhash_ok_rel_refuses_other_max_bucket():
    from torchfusion_spark.operators.dedup import SIMHASH_MAX_BUCKET, simhash_body_sql

    assert "__ok" in simhash_body_sql("spark", "s", max_bucket=SIMHASH_MAX_BUCKET, ok_rel="__ok")
    with pytest.raises(ValueError, match="max_bucket=16 needs the inline spelling"):
        simhash_body_sql("spark", "s", max_bucket=16, ok_rel="__ok")
