"""Semantic tests for the extension operators: LSH actually finds the
planted near-duplicates, top-k matches numpy brute force, text stats match
Python recomputation, multimodal features match byte math, as-of join
matches a pandas merge_asof."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _docs(spark, n=200):
    return (
        spark.table("documents").orderBy("doc_id").limit(n).toPandas().set_index("doc_id")
    )


def _shingles(text: str, n=3) -> set[str]:
    toks = text.lower().split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_minhash_lsh_finds_planted_near_dups(spark, tables):
    from torchfusion_spark.operators.dedup import minhash_lsh_sql

    got = {
        (r.id_a, r.id_b): r.jaccard for r in spark.sql(minhash_lsh_sql("spark")).collect()
    }
    # brute-force ground truth over a slice of the corpus
    docs = _docs(spark, 200)
    sh = {i: _shingles(t) for i, t in docs["text"].items()}
    ids = sorted(sh)
    strong = {
        (a, b): len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if len(sh[a] | sh[b]) and len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.8
    }
    assert strong, "corpus should contain planted near-duplicates"
    missed = [p for p in strong if p not in got]
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    # no false positives below the report threshold
    for (a, b), j in got.items():
        if a in sh and b in sh:
            true_j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            assert abs(true_j - j) < 1e-4
            assert true_j >= 0.6


def test_cosine_topk_matches_numpy(spark, tables):
    from torchfusion_spark.operators.similarity import cosine_topk_sql

    rows = spark.sql(cosine_topk_sql("spark")).collect()
    emb = spark.table("embeddings").orderBy("vec_id").toPandas()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    for q_id in range(8):
        qi = np.where(ids == q_id)[0][0]
        sims = (mat @ mat[qi]) / (norms * norms[qi])
        sims[qi] = -np.inf
        expect = sorted(
            ((round(s, 6), int(i)) for s, i in zip(sims, ids) if i != q_id),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        got = [(r.cosine, r.cand_id) for r in rows if r.q_id == q_id]
        assert [(pytest.approx(s, abs=2e-6), i) for s, i in expect] == got


def test_text_stats_match_python(spark, tables):
    from torchfusion_spark.operators.textstats import token_count_sql

    rows = {r.doc_id: r for r in spark.sql(token_count_sql("spark")).collect()}
    docs = _docs(spark, 50)
    import re

    for doc_id, text in docs["text"].items():
        assert rows[doc_id].ws_tokens == len(text.split(" "))
        assert rows[doc_id].bpe_tokens == len(re.findall(r"[a-z0-9]+|[^a-z0-9 ]", text))


def test_multimodal_features_match_byte_math(spark, tables):
    from torchfusion_spark.operators.multimodal import features_query

    rows = {r.doc_id: r for r in features_query(spark).limit(50).collect()}
    docs = _docs(spark, 50)
    for doc_id, text in docs["text"].items():
        b = text.encode("utf-8")
        r = rows[doc_id]
        assert (r.n_bytes, r.first_byte, r.last_byte, r.checksum16) == (
            len(b),
            b[0],
            b[-1],
            sum(b[:16]) % 256,
        )


def test_multimodal_dedup_matches_bruteforce_hamming(spark, tables):
    """Python recompute: the banded pair query equals brute-force
    all-pairs Hamming <= 3 over independently recomputed aHashes — the
    pigeonhole guarantee (3 flips touch <= 3 of 4 bands) is exact while
    no bucket exceeds the cap, which a gate-sf corpus never does."""
    import os

    from torchfusion_spark.operators.multimodal import PHASH_MAX_HAMMING, _ahash32
    from torchfusion_spark.plans import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in REGISTRY["multimodal_dedup"].builder(spark, sf).collect()
    }
    docs = spark.sql("SELECT doc_id, text FROM documents WHERE text IS NOT NULL").collect()
    ph = {r.doc_id: _ahash32(r.text.encode("utf-8")) for r in docs if len(r.text) > 0}
    ids = sorted(ph)
    want = {
        (a, b): (ph[a] ^ ph[b]).bit_count()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (ph[a] ^ ph[b]).bit_count() <= PHASH_MAX_HAMMING
    }
    assert got == want
    assert len(want) > 0  # the witness must exercise real pairs


def test_multimodal_real_decode_is_explicit_stub():
    from torchfusion_spark.operators.multimodal import _decode_real

    with pytest.raises(NotImplementedError, match="codec"):
        _decode_real(b"xx", "image/png")


def test_asof_join_matches_merge_asof(spark, tables):
    from torchfusion_spark.operators.events_ops import asof_join

    got = asof_join(spark).toPandas()
    ev = spark.table("events").toPandas()
    clicks = (
        ev[ev.event_type == "click"].groupby(["user_id", "ts"], as_index=False)
        .agg(click_id=("event_id", "max")).sort_values("ts")
    )
    purchases = ev[ev.event_type == "purchase"].sort_values("ts")
    expect = pd.merge_asof(
        purchases, clicks, on="ts", by="user_id", direction="backward"
    )
    expect_map = dict(zip(expect["event_id"], expect["click_id"]))
    got_clicks = dict(zip(got["purchase_id"], got["prev_click_ts"]))
    assert set(got["purchase_id"]) == set(expect["event_id"])
    # merge_asof gives the click row; compare via its ts
    click_ts = dict(zip(clicks["click_id"], clicks["ts"]))
    for pid, cid in expect_map.items():
        want = click_ts.get(cid) if pd.notna(cid) else None
        have = got_clicks.get(pid)
        assert (pd.isna(have) and want is None) or have == want


def test_sessionize_gap_semantics(spark, tables):
    from torchfusion_spark.operators.events_ops import SESSION_GAP_S, sessionize_sql

    df = spark.sql(sessionize_sql("spark")).toPandas()
    # sessions of one user reconstructed in pandas
    ev = spark.table("events").toPandas()
    u = df.user_id.iloc[0]
    ts = sorted(ev[ev.user_id == u]["ts"])
    n_sessions = 1 + sum(
        1 for a, b in zip(ts, ts[1:]) if (b - a).total_seconds() > SESSION_GAP_S
    )
    assert len(df[df.user_id == u]) == n_sessions


def test_streaming_windowed_counts_match_batch(spark, tables):
    from torchfusion_spark import streaming
    from pyspark.sql import functions as F

    got = streaming.windowed_counts(spark, tables).toPandas()
    batch = (
        spark.table("events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .toPandas()
    )
    g = got.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    b = batch.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, b, check_dtype=False)


def test_connected_components_known_graph(spark):
    from torchfusion_spark.operators.dedup import connected_components
    from torchfusion_spark.staging import scratch

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)], "id_a bigint, id_b bigint"
    )
    with scratch(spark) as s:
        got = {r.doc_id: r.component for r in connected_components(s, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_banded_interval_join_equals_naive(spark, tables):
    """Property: the banded equi-join returns exactly the pairs of the
    naive inequality join (computed Spark-side with a cross-safe small
    slice), for several deltas including bin-boundary-sensitive ones."""
    from torchfusion_spark.operators.events_ops import banded_interval_join

    ev = spark.table("events").select("user_id", "event_id", "ts").filter("user_id < 20")
    for delta in (60, 137, 300):
        banded = {
            (r.l_event_id, r.r_event_id)
            for r in banded_interval_join(ev, ev, "user_id", delta_s=delta)
            .filter("l_event_id < r_event_id")
            .collect()
        }
        a, b = ev.alias("a"), ev.alias("b")
        from pyspark.sql import functions as F

        naive = {
            (r[0], r[1])
            for r in a.join(
                b,
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.event_id") < F.col("b.event_id"))
                & (
                    F.abs(F.unix_micros("a.ts") - F.unix_micros("b.ts"))
                    <= delta * 1_000_000
                ),
            )
            .select(F.col("a.event_id"), F.col("b.event_id"))
            .collect()
        }
        assert banded == naive, f"delta={delta}"


def test_quantize_int8_error_bound(spark, tables):
    """Property: symmetric int8 reconstruction error is bounded by
    scale/2 per element, and cosine(original, reconstructed) stays high."""
    from torchfusion_spark.plans import REGISTRY

    pdf = REGISTRY["sim_quantize_int8"].builder(spark, tables).toPandas()
    # + 1e-6: both output columns are rounded to 6dp by the witness
    assert (pdf["max_abs_err"] <= pdf["scale"] / 2 + 1e-6).all()
    assert (pdf["cos_recon"] > 0.995).all()


def test_semantic_dedup_invariants(spark, tables):
    """Greedy-by-id SemDeDup semantics, recomputed with numpy: cluster =
    nearest deterministic centroid; dropped ⇔ a smaller-id same-cluster
    neighbor with cosine >= τ; no kept–kept pair >= τ within a cluster."""
    from torchfusion_spark.operators import similarity

    out = similarity.semantic_dedup(spark).toPandas().set_index("vec_id").sort_index()
    emb = spark.table("embeddings").orderBy("vec_id").toPandas()
    V = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    nrm = np.linalg.norm(V, axis=1)
    C = V[ids < 16]
    cn = nrm[ids < 16]
    # assignment: round to 6dp like the SQL, tie-break by centroid id
    sims_c = np.round((V @ C.T) / np.outer(nrm, cn), 6)
    expect_cluster = np.argmax(sims_c, axis=1)  # argmax takes first max = lowest c_id
    assert (out["cluster_id"].to_numpy() == expect_cluster).all()

    cos = np.round((V @ V.T) / np.outer(nrm, nrm), 6)
    tau = 0.42
    for i, vid in enumerate(ids):
        same = (expect_cluster == expect_cluster[i]) & (ids < vid)
        has_twin = bool((cos[i, same] >= tau).any())
        assert bool(out.loc[vid, "kept"]) == (not has_twin)


def test_weighted_sample_matches_python(spark, tables):
    """A-ES keys recomputed in Python from the portable hash pick the
    identical sample (same keys, same top-k cutoff)."""
    import hashlib
    import math

    from torchfusion_spark.operators import textstats

    out = spark.sql(textstats.weighted_sample_sql("spark")).toPandas()
    docs = spark.table("documents").select("doc_id", "n_chars").toPandas()

    def key(row):
        h = int(hashlib.md5(str(row.doc_id).encode()).hexdigest()[:14], 16)
        u = (h % 1000000 + 0.5) / 1000000.0
        return round(math.log(u) / max(row.n_chars, 1), 6)

    docs["k"] = [key(r) for r in docs.itertuples()]
    expect = docs.sort_values(["k", "doc_id"], ascending=[False, True]).head(
        len(out)
    )["doc_id"].tolist()
    assert out["doc_id"].tolist() == expect


def test_pii_redact_matches_python_re(spark, tables):
    """Counts and redacted text match Python's re on the same patterns."""
    import re

    from torchfusion_spark.operators import textstats

    out = spark.sql(textstats.pii_redact_sql("spark")).toPandas().set_index("doc_id")
    docs = _docs(spark, n=100)
    pats = [
        (re.compile(textstats.PII_EMAIL), "<EMAIL>", "n_emails"),
        (re.compile(textstats.PII_URL), "<URL>", "n_urls"),
        (re.compile(textstats.PII_LONG_ID), "<ID>", "n_long_ids"),
    ]
    for doc_id, row in docs.iterrows():
        red = row["text"]
        for pat, repl, col in pats:
            assert out.loc[doc_id, col] == len(pat.findall(red))
            red = pat.sub(repl, red)
        assert out.loc[doc_id, "redacted_len"] == len(red)


def test_retention_matches_pandas(spark, tables):
    from torchfusion_spark.operators import events_ops

    out = spark.sql(events_ops.retention_sql("spark")).toPandas()
    ev = spark.table("events").select("user_id", "ts").toPandas()
    day = (ev["ts"].astype("int64") // (86_400_000_000_000)).astype("int64")
    df = pd.DataFrame({"user_id": ev["user_id"], "day": day})
    day0 = df.groupby("user_id")["day"].min().rename("day0")
    j = df.join(day0, on="user_id")
    j["cohort_week"] = j["day0"] // 7
    j["week_offset"] = (j["day"] - j["day0"]) // 7
    expect = (
        j.groupby(["cohort_week", "week_offset"])["user_id"]
        .nunique()
        .reset_index(name="n_users")
        .sort_values(["cohort_week", "week_offset"])
        .reset_index(drop=True)
    )
    got = out.sort_values(["cohort_week", "week_offset"]).reset_index(drop=True)
    assert got.astype("int64").equals(expect.astype("int64"))


def test_anomaly_zscore_matches_numpy(spark, tables):
    """z-scores from exact decimal moments match a numpy recomputation
    (same rounding), and every |z| >= 3 event is flagged."""
    from torchfusion_spark.operators import events_ops

    out = spark.sql(events_ops.anomaly_zscore_sql("spark")).toPandas()
    ev = spark.table("events").select("event_id", "event_type", "value").toPandas()
    flagged = set()
    for etype, g in ev.groupby("event_type"):
        v = np.round(g["value"].to_numpy(np.float64), 6)  # decimal(18,6) cast
        n = len(v)
        mean = v.sum() / n
        var = (np.sum(v * v) - v.sum() ** 2 / n) / (n - 1)
        z = np.round((g["value"].to_numpy(np.float64) - mean) / np.sqrt(max(var, 1e-12)), 6)
        flagged |= set(g["event_id"].to_numpy()[np.abs(z) >= 3.0])
    assert set(out["event_id"]) == flagged


def test_kmeans_matches_numpy_lloyd(spark, tables):
    """Two Lloyd iterations recomputed with numpy (same rounding contract:
    6dp distances for assignment, 6dp re-quantized centroids) produce the
    same final centroids and cluster sizes."""
    from torchfusion_spark.operators import similarity

    out = spark.sql(
        similarity.kmeans_sql("spark")
    ).toPandas()
    emb = spark.table("embeddings").orderBy("vec_id").toPandas()
    V = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    C = V[ids < similarity.KMEANS_K].copy()
    for _ in range(similarity.KMEANS_ITERS):
        d2 = np.round(((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
        assign = np.argmin(d2, axis=1)  # first min = lowest c_id tie-break
        C = np.array(
            [np.round(V[assign == c].mean(axis=0), 6) for c in range(similarity.KMEANS_K)]
        )
    sizes = {c: int((assign == c).sum()) for c in range(similarity.KMEANS_K)}
    got_c = out.pivot(index="c_id", columns="dim", values="cval").to_numpy()
    assert np.allclose(got_c, C, atol=2e-6)
    got_sizes = out.groupby("c_id")["n_members"].first().to_dict()
    assert got_sizes == sizes


def test_pack_sequences_matches_python(spark, tables):
    """Pack assignment equals a pure-Python replay of the two-level prefix
    sum: global order is (shard, h, doc_id), start offset = tokens before
    the doc in that order, pack = start DIV seq_len."""
    import hashlib

    from torchfusion_spark.operators.textstats import (
        PACK_SHARDS,
        SEQ_LEN,
        pack_sequences_sql,
    )

    got = spark.sql(pack_sequences_sql("spark")).toPandas()

    docs = spark.table("documents").select("doc_id", "lang", "text").toPandas()
    docs["n_tokens"] = docs.text.str.split(" ").str.len()
    docs["h"] = docs.doc_id.apply(
        lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16)
    )
    docs["shard"] = docs.h % PACK_SHARDS
    expect = {}
    for lang, grp in docs.groupby("lang"):
        grp = grp.sort_values(["shard", "h", "doc_id"])
        start = grp.n_tokens.cumsum() - grp.n_tokens
        pack = start // SEQ_LEN
        for (pid,), sub in grp.groupby([pack]):
            s = start.loc[sub.index]
            spans = ((s // SEQ_LEN) != ((s + sub.n_tokens - 1) // SEQ_LEN)).sum()
            expect[(lang, pid)] = (
                len(sub),
                int(sub.n_tokens.sum()),
                int(spans),
                int(sub.doc_id.loc[s.idxmin()]),
            )
    assert len(got) == len(expect)
    for r in got.itertuples():
        assert expect[(r.lang, r.pack_id)] == (
            r.n_docs,
            r.pack_tokens,
            r.n_spanning,
            r.first_doc,
        ), (r.lang, r.pack_id)


def test_chunk_overlap_matches_python(spark, tables):
    """Chunk windows equal a pure-Python sliding window with trailing
    partial; coverage is total (every char of every doc is in >= 1 chunk)."""
    from torchfusion_spark.operators.textstats import (
        CHUNK_OVERLAP,
        CHUNK_SIZE,
        chunk_overlap_sql,
    )

    stride = CHUNK_SIZE - CHUNK_OVERLAP
    got = spark.sql(chunk_overlap_sql("spark")).toPandas()
    docs = spark.table("documents").select("doc_id", "text").toPandas()
    for r in docs.itertuples():
        n = len(r.text)
        expect = [
            r.text[i * stride : i * stride + CHUNK_SIZE]
            for i in range((max(n - 1, 0) // stride) + 1)
        ]
        mine = got[got.doc_id == r.doc_id].sort_values("chunk_idx")
        assert list(mine.chunk_len) == [len(c) for c in expect], r.doc_id
        # total coverage: last chunk reaches the final character
        assert mine.start_pos.iloc[-1] + mine.chunk_len.iloc[-1] - 1 == max(n, 1)


def test_pack_sequences_plan_has_no_language_sized_window(spark, tables):
    """The scale contract of corpus_pack_sequences: every Window node
    partitions by (lang, shard) or runs over the tiny shard-total
    relation — no window is partitioned by lang alone, which at 100 TB
    would serialize an entire language through one task."""
    import contextlib
    import io

    from torchfusion_spark.operators.textstats import pack_sequences_sql

    df = spark.sql(pack_sequences_sql("spark"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the formatted plan lists window specs in the detail section;
    # assert on the partition expressions there
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln.lower()]
    assert specs, f"expected window specs in plan:\n{plan}"
    for ln in specs:
        low = ln.lower()
        if "shard" in low:
            assert "lang" in low  # big-side window: (lang, shard)
        else:
            # the only lang-alone window is the shard-offset prefix over
            # the langs x shards total relation — it must sit above the
            # aggregated tot, never above the documents scan
            assert "sum(tot" in low or "tot#" in low, ln


def test_winnow_fingerprint_matches_python(spark, tables):
    """Winnowing selection equals the textbook algorithm (min hash per
    sliding w-window over rolling k-gram hashes), and a 1-char edit
    preserves most fingerprints (the robustness property plain content
    hashing lacks)."""
    import hashlib

    from torchfusion_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprint_sql,
    )

    got = spark.sql(winnow_fingerprint_sql("spark")).toPandas().set_index("doc_id")
    docs = spark.table("documents").select("doc_id", "text").orderBy("doc_id").limit(20).toPandas()

    def fps(s: str) -> set[int]:
        hs = [
            int(hashlib.md5(s[i : i + WINNOW_K].encode()).hexdigest()[:14], 16)
            for i in range(len(s) - WINNOW_K + 1)
        ]
        return {min(hs[j : j + WINNOW_W]) for j in range(len(hs) - WINNOW_W + 1)}

    for r in docs.itertuples():
        expect = fps(r.text.lower())
        row = got.loc[r.doc_id]
        assert row.n_fingerprints == len(expect)
        assert row.fp_checksum == sum(h % 1000000007 for h in expect)

    # robustness: flip one character mid-doc, most fingerprints survive
    s = docs.text.iloc[0].lower()
    mid = len(s) // 2
    edited = s[:mid] + ("x" if s[mid] != "x" else "y") + s[mid + 1 :]
    a, b = fps(s), fps(edited)
    assert len(a & b) / len(a) > 0.8


def test_pack_sequences_properties_on_synthetic_corpora(spark, tables):
    """Property-style check over adversarial synthetic corpora (single
    language, one-token docs, giant docs, uneven shards): token
    conservation, contiguous pack ids from 0, and invariance to input
    partitioning (the two-level prefix sum must not depend on physical
    layout)."""
    from torchfusion_spark.operators.textstats import SEQ_LEN, pack_sequences_sql

    corpora = [
        [(i, "en", "tok") for i in range(40)],  # one-token docs
        [(i, "xx", " ".join(["w"] * 1500)) for i in range(5)],  # docs >> seq_len
        [(i, "en" if i % 3 else "de", " ".join(["w"] * (1 + i % 37))) for i in range(200)],
    ]
    orig = spark.table("documents")
    try:
        for rows in corpora:
            for n_parts in (1, 7):
                df = spark.createDataFrame(
                    rows, "doc_id bigint, lang string, text string"
                ).repartition(n_parts)
                df.createOrReplaceTempView("documents")
                got = spark.sql(pack_sequences_sql("spark")).toPandas()
                toks = {lang: sum(len(t.split(" ")) for i, lg, t in rows if lg == lang)
                        for lang in {r[1] for r in rows}}
                agg = got.groupby("lang").pack_tokens.sum().to_dict()
                assert agg == toks, (n_parts, agg, toks)
                for lang, grp in got.groupby("lang"):
                    pids = sorted(grp.pack_id)
                    assert pids[0] == 0 and len(set(pids)) == len(pids)
                    # the last START pack is where the final doc begins:
                    # between (total - longest doc) and the last token's pack
                    max_doc = max(
                        len(t.split(" ")) for i, lg, t in rows if lg == lang
                    )
                    lo = max(toks[lang] - max_doc, 0) // SEQ_LEN
                    hi = max(toks[lang] - 1, 0) // SEQ_LEN
                    assert lo <= pids[-1] <= hi
                    # contiguous start-packs only when no doc spans packs;
                    # a doc longer than seq_len legitimately skips starts
                    if max_doc <= SEQ_LEN:
                        assert pids == list(range(len(pids)))
                if n_parts == 1:
                    base = got.sort_values(["lang", "pack_id"]).reset_index(drop=True)
                else:
                    rep = got.sort_values(["lang", "pack_id"]).reset_index(drop=True)
                    assert rep.equals(base), "partitioning changed pack assignment"
    finally:
        orig.createOrReplaceTempView("documents")


def test_incremental_url_dedup_matches_full_corpus(spark, tables, tmp_path):
    """Recurring-crawl ingest shape (VERDICT r8 item 4): persist the
    canonical-URL seen-set once, URL-dedup a new batch against it with a
    broadcast probe. With index doc_ids preceding batch doc_ids (crawl
    order), the incremental output must equal the full-corpus
    ``dedup_url_canonical`` over index ∪ batch restricted to batch docs
    — and the index side must be structurally unable to re-canonicalize
    (no source/url columns persisted) with the batch as the broadcast
    side of the probe."""
    from torchfusion_spark.operators.dedup import (
        build_url_index,
        dedup_url_incremental,
        url_canonical_dedup_sql,
    )

    path = str(tmp_path / "url_index")
    orig = spark.table("documents")
    split = orig.agg({"doc_id": "max"}).first()[0] // 2
    corpus = orig.filter(f"doc_id < {split}")
    batch = orig.filter(f"doc_id >= {split}")
    try:
        corpus.createOrReplaceTempView("documents")
        build_url_index(spark, path)
    finally:
        orig.createOrReplaceTempView("documents")
    # the persisted index carries ONLY (canonical_url, keeper_doc_id):
    # re-canonicalization needs source/doc_id-derived raw URLs, which the
    # probe side cannot reconstruct from this schema
    assert set(spark.read.parquet(f"{path}/urls").columns) == {
        "canonical_url",
        "keeper_doc_id",
    }
    batch.createOrReplaceTempView("__url_batch")
    inc = dedup_url_incremental(spark, "__url_batch", path)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # batch probes; index never shuffles
    got = {
        (r.doc_id, r.canonical_url, r.keeper_doc_id, r.kept) for r in inc.collect()
    }
    full = spark.sql(url_canonical_dedup_sql("spark")).collect()
    expect = {
        (r.doc_id, r.canonical_url, r.keeper_doc_id, r.kept)
        for r in full
        if r.doc_id >= split
    }
    assert expect and got == expect
    # the fixture must exercise both paths: URLs already in the index
    # (keeper below the split — the hot portal URL among them) and URLs
    # first seen in the batch
    assert any(k < split for (_, _, k, _) in got)
    assert any(k >= split for (_, _, k, _) in got)


def test_pretrain_survivors_match_stage_conjunction(spark, tables):
    """pipeline_pretrain_corpus's genuinely new logic is the survivor
    conjunction (pretrain_keep_sql); its mixture/upsample/pack tail is
    the independently-certified fragment chain. Pin the conjunction
    against the INDEPENDENT registry queries: a doc survives iff it
    passes the URL filter, is its canonical URL's keeper, wins the
    ensemble majority, is not decontamination-flagged, and is outside
    the held-out eval slice — and its n_tokens is the whitespace token
    count the packing stage consumes."""
    from torchfusion_spark.operators import textstats
    from torchfusion_spark.plans import REGISTRY

    sf = tables
    uf = {r.doc_id for r in REGISTRY["corpus_url_filter"].builder(spark, sf).collect()
          if r.kept == 1}
    uk = {r.doc_id for r in REGISTRY["dedup_url_canonical"].builder(spark, sf).collect()
          if r.kept}
    ens = {r.doc_id for r in
           REGISTRY["pipeline_quality_ensemble"].builder(spark, sf).collect()
           if r.kept == 1}
    cont = {r.doc_id for r in REGISTRY["text_decontaminate"].builder(spark, sf).collect()}
    expected = {d for d in (uf & uk & ens) - cont if d % 50 != 0}
    keep = spark.sql(textstats.pretrain_keep_sql("spark")).collect()
    assert {r.doc_id for r in keep} == expected
    assert len(expected) > 0
    toks = {
        r.doc_id: r.n
        for r in spark.sql(
            "SELECT doc_id, size(split(text, ' ')) AS n "
            "FROM documents WHERE text IS NOT NULL"
        ).collect()
    }
    for r in keep:
        n = toks.get(r.doc_id)
        # toks only covers text IS NOT NULL docs — a NULL-text survivor
        # would be a gate bug; fail with the doc_id, not a KeyError
        assert n is not None, f"NULL-text doc {r.doc_id} survived the keep gate"
        assert r.n_tokens == n, (r.doc_id, r.n_tokens, n)


def test_scored_checkpoint_reused_across_scorer_queries(spark, tables):
    """VERDICT r10 item 4: the ensemble embeds the classifier and
    perplexity sub-pipelines; their checkpointed scored relations are
    memoized per docs-view key, so a classifier-then-ensemble session
    scores each relation ONCE (localCheckpoint is eager — a rebuild is
    a full scoring job). Pin via block-manager handle identity: the
    pool entry survives the second query untouched, and a docs-view
    swap (different corpus) rebuilds it."""
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.staging import built

    def handle(name):  # the staged entry's checkpoint handle
        return built(spark, name).checkpoints[0]

    REGISTRY["text_quality_classifier"].builder(spark, tables).count()
    handle_cls = handle("cls_scored")
    REGISTRY["pipeline_quality_ensemble"].builder(spark, tables).count()
    assert handle("cls_scored") is handle_cls  # memo hit — no rescore
    handle_ppl = handle("ppl_scored")  # built by the ensemble
    REGISTRY["text_lm_perplexity"].builder(spark, tables).count()
    assert handle("ppl_scored") is handle_ppl  # perplexity reuses it too
    orig = spark.table("documents")
    try:
        orig.filter("doc_id % 2 = 0").createOrReplaceTempView("documents")
        REGISTRY["text_quality_classifier"].builder(spark, tables).count()
        assert handle("cls_scored") is not handle_cls  # corpus swap rebuilds
    finally:
        orig.createOrReplaceTempView("documents")


def test_url_incremental_index_survives_corpus_swap_back(spark, tables):
    """ADVICE r10 #4: an A→B→A docs-view swap-back must not rewrite the
    files a previously resolved, not-yet-collected plan for A still
    references. Every index build writes its own dir under this
    process's staging root, released only at exit: swap-back rebuilds
    into a new dir, A's files are unchanged (mtimes), and the plan
    resolved before the swap still collects afterwards."""
    import os

    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.staging import built, staging_root

    builder = REGISTRY["dedup_url_incremental"].builder
    orig = spark.table("documents")
    try:
        df_a = builder(spark, tables)  # resolves A's plan; builds A's index
        path_a = built(spark, "url_index").result[0]
        assert os.path.dirname(path_a) == staging_root(), path_a
        files_a = {
            f: os.path.getmtime(os.path.join(path_a, "urls", f))
            for f in os.listdir(os.path.join(path_a, "urls"))
        }
        # swap to corpus B (different plan → different key/tag), build B
        orig.filter("doc_id % 2 = 0").createOrReplaceTempView("documents")
        builder(spark, tables).count()
        # swap BACK to A and run the builder again
        orig.createOrReplaceTempView("documents")
        builder(spark, tables).count()
        files_after = {
            f: os.path.getmtime(os.path.join(path_a, "urls", f))
            for f in os.listdir(os.path.join(path_a, "urls"))
        }
        assert built(spark, "url_index").result[0] != path_a  # rebuilt elsewhere
        assert files_after == files_a  # no rewrite of A's dir
        assert df_a.count() > 0  # pre-swap plan still backed by its files
    finally:
        orig.createOrReplaceTempView("documents")


def test_star_cc_matches_propagation_and_handles_chains(spark, tables):
    """Large-star/small-star CC: identical labels to min-label propagation
    on the LSH pair graph, and a 120-node chain (diameter 120) resolves
    within the O(log n) round budget that would starve propagation."""
    from pyspark.sql import functions as F

    from torchfusion_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        minhash_lsh,
    )
    from torchfusion_spark.staging import scratch

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint"
    )
    pairs = minhash_lsh(spark)
    with scratch(spark) as s:
        got = {
            r.doc_id: r.component for r in connected_components_star(s, chain, max_iter=8).collect()
        }
        a = {(r.doc_id, r.component) for r in connected_components(s, pairs).collect()}
        b = {(r.doc_id, r.component) for r in connected_components_star(s, pairs).collect()}
    assert got == {i: 0 for i in range(121)}
    assert a == b


def test_decontaminate_bloom_matches_exact(spark, tables):
    """The Bloom-prefiltered decontamination must return EXACTLY the rows
    of the plain exact-join operator: the verify join removes false
    positives and a Bloom filter admits no false negatives. If the filter
    arithmetic breaks (word indexing, mask overflow), rows go missing and
    this catches it on real data."""
    from torchfusion_spark.operators import textstats

    exact = {
        (r.doc_id, r.n_overlap)
        for r in spark.sql(textstats.decontaminate_sql("spark")).collect()
    }
    bloom = {
        (r.doc_id, r.n_overlap)
        for r in spark.sql(textstats.decontaminate_bloom_sql("spark")).collect()
    }
    assert exact, "fixture corpus should contain contaminated docs"
    assert bloom == exact


def test_frame_fingerprints_rejects_unpackable_doc_ids(spark):
    """ADVICE r13 #1: the frame key packs doc_id*2^20+frame_idx into one
    BIGINT, and a NEGATIVE doc_id unpacks to different docs under Spark
    DIV (truncate toward zero) vs DuckDB // (floor) — silently and
    gate-invisibly. The fan-out must raise loudly instead, exactly like
    the frame_idx overflow cliff."""
    import pytest

    from torchfusion_spark.operators.multimodal import frame_fingerprints

    # coalesce(1): createDataFrame fans 1 row across default-parallelism
    # slices, and the raising task races ~31 empty siblings' python-worker
    # teardown — the job-abort reason is then sometimes the teardown's
    # CancelledKeyException instead of the ValueError this test asserts
    # (observed flaky under load, r16). One partition = one task = the
    # raise is the only possible failure reason.
    bad = spark.createDataFrame(
        [(-1, bytearray(b"0123456789abcdef" * 16))], "doc_id bigint, payload binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="outside the packable range"):
        frame_fingerprints(bad).collect()
    big = spark.createDataFrame(
        [(1 << 43, bytearray(b"0123456789abcdef" * 16))], "doc_id bigint, payload binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="outside the packable range"):
        frame_fingerprints(big).collect()
    ok = spark.createDataFrame(
        [(0, bytearray(b"0123456789abcdef" * 16)), (None, bytearray(b"xy"))],
        "doc_id bigint, payload binary",
    )
    assert frame_fingerprints(ok).count() > 0  # boundary 0 and NULL ids pass


def test_multimodal_null_text_rows(spark, tables, tmp_path):
    """Round-6 review: a documents row with NULL text must flow through
    all three multimodal operators with SQL semantics (NULL n_bytes /
    checksum, -1 byte probes, zero frames, empty thumb) instead of
    crashing mapInPandas on len(None)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.multimodal import (
        features_query,
        frames_query,
        thumbnail_query,
    )

    d = tmp_path / "null_docs"
    d.mkdir()
    src = pq.read_table(f"{tables}/documents.parquet").slice(0, 3)
    texts = src.column("text").to_pylist()
    texts[1] = None
    cols = {name: src.column(name) for name in src.column_names}
    cols["text"] = pa.array(texts, pa.string())
    pq.write_table(pa.table(cols), str(d / "documents.parquet"))
    # the other tables must exist for load_tables
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pq.write_table(pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet"))
    from torchfusion_spark.sources import load_tables

    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        feats = {r.doc_id: r for r in features_query(spark).collect()}
        null_id = src.column("doc_id").to_pylist()[1]
        assert len(feats) == 3
        r = feats[null_id]
        assert r.n_bytes is None and r.checksum16 is None
        assert r.first_byte == -1 and r.last_byte == -1
        assert null_id not in {row.doc_id for row in frames_query(spark).collect()}
        thumbs = {row.doc_id: row.thumb for row in thumbnail_query(spark).collect()}
        assert thumbs[null_id] == ""
    finally:  # re-point the session at the real fixture data
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def test_staging_release_protects_inflight_sibling_thread(spark):
    """A scratch scope owns its checkpoints and views: a sibling
    thread's open scope keeps both while a main-thread scope opens and
    exits, and releases them when it exits itself."""
    import threading

    from torchfusion_spark.staging import scratch

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    started, finish = threading.Event(), threading.Event()
    view = []

    def sibling():
        with scratch(spark) as s:
            view.append(s.view("__tst_data", s.checkpoint(spark.range(5).toDF("x"))))
            started.set()
            finish.wait(timeout=30)

    t = threading.Thread(target=sibling)
    t.start()
    try:
        assert started.wait(timeout=30)
        with scratch(spark) as s:
            s.view("__tst_data", s.checkpoint(spark.range(7).toDF("x")))
            assert jsc.getPersistentRDDs().size() == before + 2
        # the main scope's exit released its own checkpoint and view only
        assert jsc.getPersistentRDDs().size() == before + 1
        assert spark.table(view[0]).count() == 5
    finally:
        finish.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert jsc.getPersistentRDDs().size() == before
    assert not spark.catalog.tableExists(view[0])


def test_arrow_ipc_empty_relation_roundtrip(spark, tables, tmp_path):
    """Round-6 review: writing an EMPTY relation must publish a
    schema-only IPC file so the paired reader (and COPY's count) see an
    empty relation instead of crashing schema inference."""
    from torchfusion_spark.sources.arrow_ipc import read_arrow_ipc, write_arrow_ipc

    empty = spark.table("region").filter("r_regionkey < 0")
    path = str(tmp_path / "empty_arrow")
    n_files, n_rows = write_arrow_ipc(empty, path)
    assert (n_files, n_rows) == (1, 0)
    back = read_arrow_ipc(spark, path)
    assert back.count() == 0
    assert back.schema == empty.schema


def test_salted_aggregate_rejects_bare_nondecomposable(spark):
    """Round-6 review: a bare avg/min/first Column silently recombines
    partials with SUM (~n_salts x wrong for avg) — the recognizable cases
    must be rejected up front like the tuple-path combiner check."""
    import pytest
    from pyspark.sql import functions as F

    from torchfusion_spark.operators.skew import salted_aggregate

    with pytest.raises(ValueError, match="avg"):
        salted_aggregate(None, ["k"], {"m": F.avg("x")})
    with pytest.raises(ValueError, match="min"):
        salted_aggregate(None, ["k"], {"m": F.min("x")})
    # ADVICE r06: sum/count DISTINCT pass the function-name guard as
    # 'sum'/'count' but double-count values appearing under multiple
    # salts — reject them, bare or tuple-spelled, for sum/count combiners
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_aggregate(None, ["k"], {"m": F.sum_distinct(F.col("x"))})
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_aggregate(None, ["k"], {"m": (F.count_distinct("x"), "sum")})
    # min(DISTINCT x) == min(x): idempotent combiners stay accepted
    tiny = spark.createDataFrame([("a", 3), ("a", 1), ("b", 2)], "k string, x int")
    got = salted_aggregate(tiny, ["k"], {"m": (F.expr("min(DISTINCT x)"), "min")})
    assert {(r.k, r.m) for r in got.collect()} == {("a", 1), ("b", 2)}


def test_salted_join_accepts_left_outer_spelling(spark, tables):
    """left_outer/leftouter are Spark-equivalent spellings of left."""
    from pyspark.sql import functions as F

    from torchfusion_spark.operators.skew import salted_join

    nation = spark.table("nation").select(F.col("n_regionkey").alias("k"), "n_name")
    region = spark.table("region").select(F.col("r_regionkey").alias("k"), "r_name")
    a = salted_join(nation, region, "k", how="left").orderBy("n_name").collect()
    b = salted_join(nation, region, "k", how="left_outer").orderBy("n_name").collect()
    assert a == b and len(a) == 25


def test_sessionize_null_ts_matches_oracle(spark, tables, tmp_path):
    """Round-6 review: a NULL-ts event must not diverge the engines
    (Spark windows sort NULLS FIRST, DuckDB NULLS LAST) — both spellings
    now exclude no-event-time rows up front."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.events_ops import sessionize_sql
    from torchfusion_spark.sources import load_tables

    d = tmp_path / "null_ts"
    d.mkdir()
    base = 1_700_000_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array([base, None, base + 10_000_000, base + 7_200_000_000], pa.timestamp("us")),
            "user_id": pa.array([7, 7, 7, 7], pa.int64()),
            "event_type": pa.array(["click"] * 4),
            "value": pa.array([1.0] * 4, pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        pq.write_table(pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet"))
    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        got = [
            (r.user_id, r.session_id, r.n_events)
            for r in spark.sql(sessionize_sql("spark")).collect()
        ]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        want = [
            (u, s, n)
            for u, s, n, _, _ in con.execute(sessionize_sql("duck")).fetchall()
        ]
        # 2 sessions: [base, base+10s] then [base+2h]; the NULL-ts row in neither
        assert got == want == [(7, 1, 2), (7, 2, 1)]
    finally:
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def test_ngram_jaccard_empty_shingle_pair_no_crash(spark, tables, tmp_path):
    """Round-6 review: two docs shorter than the gram width share a block
    with n=0 shingles each — Spark's ANSI mode previously threw
    DIVIDE_BY_ZERO on the 0/0 jaccard while DuckDB NULLed the row out;
    both engines must now agree (pair dropped)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.dedup import ngram_jaccard_sql
    from torchfusion_spark.sources import load_tables

    d = tmp_path / "tiny_docs"
    d.mkdir()
    src = pq.read_table(f"{tables}/documents.parquet")
    cols = {name: src.column(name).slice(0, 2) for name in src.column_names}
    cols["text"] = pa.array(["hi", "ok"], pa.string())
    if "lang" in cols:
        cols["lang"] = pa.array(["en", "en"], pa.string())
    if "n_chars" in cols:
        cols["n_chars"] = pa.array([2, 2], src.column("n_chars").type)
    pq.write_table(pa.table(cols), str(d / "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pq.write_table(pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet"))
    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        got = spark.sql(ngram_jaccard_sql("spark")).collect()  # must not throw
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        want = con.execute(ngram_jaccard_sql("duck")).fetchall()
        assert [tuple(r) for r in got] == want == []
    finally:
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def test_winnow_short_doc_still_fingerprinted(spark, tables, tmp_path):
    """Round-6 review: a doc with 1..w-1 k-grams gets the min-of-all-
    hashes fingerprint (winnowing's degenerate window), not NO row —
    identical short docs must share a fingerprint."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.textstats import winnow_fingerprint_sql
    from torchfusion_spark.sources import load_tables

    d = tmp_path / "short_docs"
    d.mkdir()
    src = pq.read_table(f"{tables}/documents.parquet")
    cols = {name: src.column(name).slice(0, 3) for name in src.column_names}
    # k=8: "abcdefghij" has 3 grams (< w=4); twin short docs + one empty
    cols["text"] = pa.array(["abcdefghij", "abcdefghij", ""], pa.string())
    pq.write_table(pa.table(cols), str(d / "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pq.write_table(pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet"))
    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        rows = {r.doc_id: r for r in spark.sql(winnow_fingerprint_sql("spark")).collect()}
        ids = src.column("doc_id").to_pylist()[:3]
        assert ids[0] in rows and ids[1] in rows  # short docs fingerprinted
        assert rows[ids[0]].fp_checksum == rows[ids[1]].fp_checksum  # twins match
        assert ids[2] not in rows  # truly empty doc has no grams at all
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        want = con.execute(winnow_fingerprint_sql("duck")).fetchall()
        got = sorted((r.doc_id, r.n_grams, r.n_fingerprints, r.fp_checksum) for r in rows.values())
        assert got == sorted(tuple(r) for r in want)
    finally:
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def _temp_views(spark) -> set[str]:
    return {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary}


def test_connected_components_raises_on_nonconvergence(spark):
    """Round-6 review: exhausting max_iter with labels still changing
    must raise, not silently return partially propagated components —
    and the raise releases the loop's checkpoints and the scope's views."""
    import pytest

    from torchfusion_spark.operators import dedup
    from torchfusion_spark.staging import scratch

    jsc = spark.sparkContext._jsc
    # chain 0-1-2-...-9 has diameter 9 > max_iter=2; force the iterative
    # path by dropping the small-graph exact short-circuit
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a bigint, id_b bigint"
    )
    before = (jsc.getPersistentRDDs().size(), _temp_views(spark))
    orig = dedup.SMALL_GRAPH_EDGES
    dedup.SMALL_GRAPH_EDGES = 0
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            with scratch(spark) as s:
                s.view("__tst_cc_pairs", pairs)
                dedup.connected_components(s, pairs, max_iter=2)
        assert (jsc.getPersistentRDDs().size(), _temp_views(spark)) == before
        # and with enough rounds the same graph resolves exactly
        with scratch(spark) as s:
            got = {r.doc_id: r.component for r in
                   dedup.connected_components(s, pairs, max_iter=15).collect()}
        assert got == {i: 0 for i in range(10)}
    finally:
        dedup.SMALL_GRAPH_EDGES = orig


def test_connected_components_star_raises_on_nonconvergence(spark):
    """The star loop's analogue: a 10-node chain still contracting after
    one round raises, and the raise releases the loop's checkpoints and
    the scope's views."""
    import pytest

    from torchfusion_spark.operators import dedup
    from torchfusion_spark.staging import scratch

    jsc = spark.sparkContext._jsc
    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a bigint, id_b bigint")
    before = (jsc.getPersistentRDDs().size(), _temp_views(spark))
    with pytest.raises(RuntimeError, match="still contracting"):
        with scratch(spark) as s:
            s.view("__tst_ccs_pairs", chain)
            dedup.connected_components_star(s, chain, max_iter=1)
    assert (jsc.getPersistentRDDs().size(), _temp_views(spark)) == before


def test_source_filter_matches_python(spark, tables):
    """Per-source quality gate: recompute the per-doc micro-quality, the
    corpus-wide fingerprint dup counts and the integer cross-multiplied
    keep decision in Python and compare exactly (the flag and all counts
    are integers by construction; mean_quality to 1e-6)."""
    import hashlib
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from torchfusion_spark.operators.textstats import source_filter_sql

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    docs = spark.table("documents").select("doc_id", "source", "text").collect()
    stop = {"the", "and", "of", "to", "a"}
    fp_counts: dict[str, int] = {}
    per_doc = []
    for row in docs:
        text = row.text
        norm = re.sub(r"[^a-z0-9 ]", "", text.lower()).strip()
        fp = hashlib.md5(norm.encode()).hexdigest()[:14]
        fp_counts[fp] = fp_counts.get(fp, 0) + 1
        toks = text.lower().split(" ")
        n_tok = len(toks)
        n_char = len(text)
        avg_tl = r6(n_char / max(n_tok, 1))
        punct = len(re.findall(r"[.,!?;:]", text))
        stop_n = sum(1 for t in toks if t in stop)
        score = (
            (0.4 if 10 <= n_tok <= 100000 else 0.0)
            + (0.3 if 3 <= avg_tl <= 12 else 0.0)
            + (0.15 if r6(punct / max(n_char, 1)) < 0.1 else 0.0)
            + min(r6(stop_n / max(n_tok, 1)) * 3, 0.15)
        )
        q6 = int(Decimal(repr(score * 1000000)).quantize(Decimal("1"), ROUND_HALF_UP))
        per_doc.append((row.source, fp, q6))

    srcs: dict[str, list[int]] = {}
    for source, fp, q6 in per_doc:
        n, s, d = srcs.get(source, (0, 0, 0)) or (0, 0, 0)
        srcs[source] = [n + 1, s + q6, d + (1 if fp_counts[fp] > 1 else 0)]
    tot_docs = sum(v[0] for v in srcs.values())
    tot_q6 = sum(v[1] for v in srcs.values())

    got = {r.source: r for r in spark.sql(source_filter_sql("spark")).collect()}
    assert set(got) == set(srcs)
    for source, (n, s, d) in srcs.items():
        row = got[source]
        assert row.n_docs == n
        assert row.dup_docs == d
        want_kept = 1 if (s * tot_docs >= tot_q6 * n and d * 2 <= n) else 0
        assert row.kept == want_kept, source
        assert abs(row.mean_quality - s / 1e6 / n) < 2e-6
    # the gate must actually discriminate on the shipped corpus
    kept = sum(r.kept for r in got.values())
    assert 0 < kept < len(got)


def test_strip_dup_spans_matches_python(spark, tables, tmp_path):
    """Action-step substring dedup: a corpus with PLANTED cross-document
    spans, recomputed exactly in Python (gram ownership = MIN(doc_id),
    every token covered by a foreign-owned gram removed), compared to
    the operator per doc — counts AND the reconstructed cleaned text."""
    import hashlib

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.dedup import SUBSTRING_K, strip_dup_spans
    from torchfusion_spark.sources import load_tables

    k = SUBSTRING_K
    boiler = " ".join(f"b{i}" for i in range(k + 4))  # 12-token boilerplate
    mid = " ".join(f"m{i}" for i in range(k))  # exactly-k shared span
    docs = [
        (0, f"alpha beta {boiler} gamma"),  # earliest owner: keeps boiler
        (1, f"{boiler} delta epsilon"),  # loses the boiler copy
        (2, f"unique words only here {mid}"),  # earliest owner of mid
        (3, f"{mid} trailing tail tokens"),  # loses mid
        (4, "short doc"),  # < k tokens: untouched
        (5, f"prefix {boiler} suffix {mid}"),  # loses both spans
    ]
    d = tmp_path / "strip"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array(["s"] * len(docs)),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pq.write_table(
            pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet")
        )

    # exact Python recompute of the rule
    toks = {i: t.lower().split(" ") for i, t in docs}
    owner: dict[str, int] = {}
    appears: dict[str, set] = {}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            g = " ".join(tk[p : p + k])
            appears.setdefault(g, set()).add(i)
            owner[g] = min(owner.get(g, i), i)
    removed = {i: set() for i in toks}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            g = " ".join(tk[p : p + k])
            if len(appears[g]) > 1 and owner[g] < i:
                removed[i].update(range(p, p + k))
    want = {}
    for i, tk in toks.items():
        kept = [t for j, t in enumerate(tk) if j not in removed[i]]
        cleaned = " ".join(kept)
        fp = int(hashlib.md5(cleaned.encode()).hexdigest()[:14], 16)
        want[i] = (len(tk), len(tk) - len(kept), len(kept), fp)

    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        got = {
            r.doc_id: (r.n_tokens, r.removed_tokens, r.kept_tokens, r.cleaned_fp)
            for r in strip_dup_spans(spark).collect()
        }
        assert got == want
        # the planted copies were actually stripped, the owners kept
        assert got[1][1] >= k + 4 and got[3][1] >= k and got[5][1] >= 2 * k
        assert got[0][1] == 0 and got[2][1] == 0 and got[4][1] == 0
        # and DuckDB agrees on the same corpus (oracle parity on planted data)
        from torchfusion_spark.operators.dedup import strip_dup_spans_sql

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
        )
        duck = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(strip_dup_spans_sql("duck")).fetchall()
        }
        assert duck == want
    finally:
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def test_decontaminate_spans_matches_python(spark, tables, tmp_path):
    """Span-level decontamination on a corpus with a PLANTED benchmark
    quote: docs quoting the benchmark item lose exactly the quoted
    tokens, everything else survives, benchmark docs are excluded —
    recomputed exactly in Python and cross-checked against DuckDB."""
    import hashlib

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.dedup import SUBSTRING_K
    from torchfusion_spark.operators.textstats import (
        decontaminate_spans,
        decontaminate_spans_sql,
    )
    from torchfusion_spark.sources import load_tables

    k = SUBSTRING_K
    quote = " ".join(f"q{i}" for i in range(k + 2))  # 10-token benchmark item
    docs = [
        (0, f"benchmark item {quote} end"),  # doc_id % 50 == 0: the suite
        (1, f"prose before {quote} prose after"),  # quotes it: loses the quote
        (2, "entirely clean document with enough words here"),  # untouched
        (3, f"{quote}"),  # is ONLY the quote: fully stripped
        (4, "tiny"),  # < k tokens: untouched
    ]
    d = tmp_path / "decon"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array(["s"] * len(docs)),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pq.write_table(
            pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet")
        )

    # exact Python recompute
    toks = {i: t.lower().split(" ") for i, t in docs}
    bench_grams = set()
    for i, tk in toks.items():
        if i % 50 == 0:
            for p in range(len(tk) - k + 1):
                bench_grams.add(" ".join(tk[p : p + k]))
    want = {}
    for i, tk in toks.items():
        if i % 50 == 0:
            continue
        removed = set()
        for p in range(len(tk) - k + 1):
            if " ".join(tk[p : p + k]) in bench_grams:
                removed.update(range(p, p + k))
        kept = [t for j, t in enumerate(tk) if j not in removed]
        cleaned = " ".join(kept)
        fp = int(hashlib.md5(cleaned.encode()).hexdigest()[:14], 16)
        want[i] = (len(tk), len(tk) - len(kept), len(kept), fp)

    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        got = {
            r.doc_id: (r.n_tokens, r.removed_tokens, r.kept_tokens, r.cleaned_fp)
            for r in decontaminate_spans(spark).collect()
        }
        assert got == want
        assert 0 not in got  # the benchmark doc is excluded
        assert got[1][1] >= k + 2 and got[1][3] > 0  # quote gone, prose kept
        assert got[3][1] == got[3][0] and got[3][2] == 0  # all-quote doc fully stripped
        assert got[2][1] == 0 and got[4][1] == 0  # clean/short docs untouched
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        duck = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(decontaminate_spans_sql("duck")).fetchall()
        }
        assert duck == want
    finally:
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def test_bm25_topk_matches_python(spark, tables):
    """BM25: recompute the full Okapi scoring in Python (same 9dp term
    rounding, exact integer idf/length arithmetic) and compare the
    per-query rankings and scores."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from torchfusion_spark.operators.textstats import (
        BM25_QUERIES,
        BM25_TOP_K,
        bm25_topk_sql,
    )
    from torchfusion_spark.staging import stage

    def r9(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.000000001"), ROUND_HALF_UP)

    docs = spark.table("documents").select("doc_id", "text").collect()
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    for row in docs:
        toks = row.text.lower().split(" ")
        dl[row.doc_id] = len(toks)
        for t in toks:
            tf[(row.doc_id, t)] = tf.get((row.doc_id, t), 0) + 1
    n_docs = len(dl)
    tot = sum(dl.values())
    df: dict[str, int] = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1

    k1, b = 1.2, 0.75
    want: dict[int, list[tuple[int, float, int]]] = {}
    queries: dict[int, list[str]] = {}
    for q, t in BM25_QUERIES:
        queries.setdefault(q, []).append(t)
    for q, terms in queries.items():
        scores: dict[int, tuple[Decimal, int]] = {}
        for term in terms:
            if term not in df:
                continue
            idf = math.log(1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5))
            for d, n_tok in dl.items():
                f = tf.get((d, term))
                if not f:
                    continue
                s = idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * (n_tok * n_docs / tot)))
                prev = scores.get(d, (Decimal(0), 0))
                scores[d] = (prev[0] + r9(s), prev[1] + 1)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        want[q] = [(d, float(s), m) for d, (s, m) in ranked[:BM25_TOP_K]]

    got = spark.sql(
        bm25_topk_sql("spark", tf_rel=stage(spark, "unigrams"))
    ).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(want)
    for q, rows in by_q.items():
        assert [r.doc_id for r in rows] == [d for d, _, _ in want[q]], q
        for r, (_, s, m) in zip(rows, want[q]):
            assert r.n_matched == m
            assert abs(r.bm25 - s) < 2e-6
    # the ranking must actually discriminate (not all-equal scores)
    top = by_q[1]
    assert top[0].bm25 > top[-1].bm25


def _pctl_cuts(values, fracs):
    """Python twin of quantile_cut_case's cut points: linear-interpolated
    percentiles (the Spark ``percentile`` / DuckDB ``quantile_cont``
    method — position p*(n-1), lower + frac*(higher-lower)), rounded
    half-up to 6dp exactly like the SQL fragment's ROUND."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    v = sorted(values)
    out = []
    for p in fracs:
        idx = p * (len(v) - 1)
        lo = int(math.floor(idx))
        hi = min(lo + 1, len(v) - 1)
        x = v[lo] + (v[hi] - v[lo]) * (idx - lo)
        out.append(float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)))
    return out


def _cut_bucket(score, cuts, desc):
    """Bucket assignment by comparison against cut points (the
    quantile_cut_case CASE): first matching cut wins, else the last
    bucket."""
    for i, c in enumerate(cuts, start=1):
        if (score >= c) if desc else (score <= c):
            return i
    return len(cuts) + 1


def test_lm_perplexity_matches_python(spark, tables):
    """CCNet-style scoring: recompute the add-one unigram LM, per-doc
    avg negative log-prob, perplexity and the per-language broadcast
    tercile cut-point buckets (quantile_cut_case semantics) in Python."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from torchfusion_spark.operators.textstats import lm_perplexity_sql
    from torchfusion_spark.staging import stage

    def r9(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.000000001"), ROUND_HALF_UP)

    def r6f(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    docs = spark.table("documents").select("doc_id", "lang", "text").collect()
    tf: dict[int, dict[str, int]] = {}
    lang: dict[int, str] = {}
    corpus: dict[str, int] = {}
    for row in docs:
        toks = row.text.lower().split(" ")
        lang[row.doc_id] = row.lang
        per = tf.setdefault(row.doc_id, {})
        for t in toks:
            per[t] = per.get(t, 0) + 1
            corpus[t] = corpus.get(t, 0) + 1
    t_tokens, v_size = sum(corpus.values()), len(corpus)

    per_doc = {}
    for d, per in tf.items():
        lp = sum((r9(f * math.log((corpus[t] + 1.0) / (t_tokens + v_size))) for t, f in per.items()), Decimal(0))
        n = sum(per.values())
        avg_nll = -float(lp) / n
        per_doc[d] = (n, r6f(avg_nll), round(math.exp(avg_nll), 4))

    # per-language tercile cut points (quantile_cut_case: interpolated
    # 1/3 and 2/3 percentiles, <= comparison — ties share a bucket)
    buckets = {}
    by_lang: dict[str, list[int]] = {}
    for d in per_doc:
        by_lang.setdefault(lang[d], []).append(d)
    for members in by_lang.values():
        cuts = _pctl_cuts([per_doc[d][1] for d in members], [1.0 / 3, 2.0 / 3])
        for d in members:
            b = _cut_bucket(per_doc[d][1], cuts, desc=False)
            buckets[d] = ["head", "middle", "tail"][b - 1]

    got = spark.sql(
        lm_perplexity_sql("spark", tf_rel=stage(spark, "unigrams"))
    ).collect()
    assert len(got) == len(per_doc)
    for r in got:
        n, avg_nll, ppl = per_doc[r.doc_id]
        assert r.lang == lang[r.doc_id]
        assert r.n_tokens == n
        assert abs(r.avg_nll - avg_nll) < 2e-6
        assert abs(r.ppl - ppl) < 2e-3
        assert r.ppl_bucket == buckets[r.doc_id], r.doc_id
    # buckets must discriminate per language
    assert {r.ppl_bucket for r in got} == {"head", "middle", "tail"}


def test_dsir_importance_matches_python(spark, tables):
    """DSIR weighting: recompute the hashed-bucket target/raw
    log-likelihood-ratio weights, per-doc averages and the
    deterministic quintile keep decision in Python."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from torchfusion_spark.operators.textstats import (
        DSIR_BUCKETS,
        dsir_importance_sql,
    )
    from torchfusion_spark.staging import stage

    def r9(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.000000001"), ROUND_HALF_UP)

    def hb(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:14], 16) % DSIR_BUCKETS

    docs = spark.table("documents").select("doc_id", "lang", "text").collect()
    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    per: dict[int, dict[str, int]] = {}
    lang: dict[int, str] = {}
    for row in docs:
        toks = row.text.lower().split(" ")
        lang[row.doc_id] = row.lang
        tfd = per.setdefault(row.doc_id, {})
        for t in toks:
            tfd[t] = tfd.get(t, 0) + 1
            b = hb(t)
            raw[b] = raw.get(b, 0) + 1
            if row.lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    r_tot, v = sum(raw.values()), len(raw)
    t_tot = sum(tgt.values())

    wt = {
        b: math.log((tgt.get(b, 0) + 1.0) / (t_tot + v))
        - math.log((raw[b] + 1.0) / (r_tot + v))
        for b in raw
    }
    def r6f(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    scored = {}
    for d, tfd in per.items():
        s = sum((r9(f * wt[hb(t)]) for t, f in tfd.items()), Decimal(0))
        n = sum(tfd.values())
        scored[d] = (n, r6f(float(s) / n))

    # global quintile cut points (quantile_cut_case: interpolated 0.8 /
    # 0.6 / 0.4 / 0.2 percentiles, >= comparison — ties share a bucket)
    cuts = _pctl_cuts(
        [s for _, s in scored.values()], [4.0 / 5, 3.0 / 5, 2.0 / 5, 1.0 / 5]
    )
    quintile = {d: _cut_bucket(scored[d][1], cuts, desc=True) for d in scored}

    got = spark.sql(
        dsir_importance_sql("spark", tf_rel=stage(spark, "unigrams"))
    ).collect()
    assert len(got) == len(scored)
    for r in got:
        n, avg = scored[r.doc_id]
        assert r.lang == lang[r.doc_id]
        assert r.n_tokens == n
        assert abs(r.avg_log_ratio - avg) < 2e-6
        assert r.quintile == quintile[r.doc_id], r.doc_id
        assert r.kept == (1 if quintile[r.doc_id] <= 2 else 0)
    # the target slice must outrank on average: english docs should be
    # overrepresented in the kept set vs their corpus share
    kept_en = sum(1 for r in got if r.kept and r.lang == "en")
    all_en = sum(1 for r in got if r.lang == "en")
    assert kept_en / max(sum(r.kept for r in got), 1) > all_en / len(got)


def test_view_swap_invalidates_derived_staged_memos(spark, tables):
    """code-review r07 regression: every memo DERIVED from the docs view
    (staged grams/unigrams/norms, not just __dedup_docs itself) must key
    on the view's identity. Before the fix, staging on corpus A and then
    swapping the documents view directly — the established property-test
    pattern, which does NOT bump spark._tf_tables_loaded — memo-hit on
    the tables key and served corpus A's cached grams to corpus B's
    anti-join, silently mixing corpora in the span operators."""
    from torchfusion_spark.operators import dedup
    from torchfusion_spark.staging import stage

    def corpus(dup_ids, filler):
        run = " ".join(f"d{i}" for i in range(10))  # shared 10-token run
        rows = []
        for i in range(8):
            text = run if i in dup_ids else " ".join(f"{filler}{i}_{j}" for j in range(12))
            rows.append((i, "en", text))
        return rows

    orig_docs = spark.table("documents")
    orig_emb = spark.table("embeddings")
    try:
        for dup_ids, filler in [((0, 1), "a"), ((5, 6), "b")]:
            spark.createDataFrame(
                corpus(dup_ids, filler), "doc_id bigint, lang string, text string"
            ).createOrReplaceTempView("documents")
            spans = spark.sql(
                dedup.substring_body_sql(
                    "spark", stage(spark, "substring_grams"), dedup.SUBSTRING_K
                )
            ).collect()
            assert {r.doc_id for r in spans} == set(dup_ids), (dup_ids, spans)
            # the strip path joins staged grams against the staged docs
            # view — both must be on the same corpus generation
            stripped = dedup.strip_dup_spans(spark).collect()
            assert {r.doc_id for r in stripped if r.removed_tokens > 0} <= set(dup_ids)
            # unigram memo (BM25/LM/DSIR side): tokens must come from the
            # live corpus — filler tokens are disjoint between corpora
            uni = spark.table(stage(spark, "unigrams"))
            toks = {r.tok for r in uni.select("tok").distinct().collect()}
            assert any(t.startswith(filler) for t in toks), filler
            other = "b" if filler == "a" else "a"
            assert not any(t.startswith(other) for t in toks)
        # embeddings twin (similarity._emb_key): swapping the embeddings
        # view must rebuild the norms relation
        for n_vec in (6, 9):
            spark.createDataFrame(
                [(i, [float(i + 1), 1.0]) for i in range(n_vec)],
                "vec_id bigint, embedding array<double>",
            ).createOrReplaceTempView("embeddings")
            norms = spark.table(stage(spark, "sim_norms"))
            assert norms.count() == n_vec
    finally:
        orig_docs.createOrReplaceTempView("documents")
        orig_emb.createOrReplaceTempView("embeddings")


def test_staged_assign_memoizes_and_invalidates(spark, tables):
    """r16 change 10: the IVF centroid-assignment relation is staged once
    per (session, embeddings identity, n_centroids) and shared by
    semantic_dedup / ivf_topk / the recall audit — a second consumer must
    memo-hit (no re-cache), the staged rows must equal the inline
    assign_cte_sql arm, and an embeddings-view swap must rebuild."""
    from torchfusion_spark.operators import similarity
    from torchfusion_spark.staging import built

    orig_emb = spark.table("embeddings")
    try:
        similarity.ivf_topk(spark).collect()
        first = built(spark, "sim_assign", n_centroids=16)
        # staged rows == the inline CTE arm on the same corpus
        staged = sorted(
            (r.vec_id, r.c_id) for r in spark.table(first.result).collect()
        )
        inline = sorted(
            (r.vec_id, r.c_id)
            for r in spark.sql(
                similarity.assign_cte_sql("spark", 16, rel=built(spark, "sim_norms").result)
            ).collect()
        )
        assert staged == inline and staged
        # second consumer memo-hits: the cached DataFrame is not replaced
        similarity.semantic_dedup(spark).collect()
        assert built(spark, "sim_assign", n_centroids=16) is first
        # a sibling n_centroids staged on the same corpus
        similarity.ivf_topk(spark, n_centroids=4).collect()
        assert built(spark, "sim_assign", n_centroids=4) is not None
        # embeddings swap invalidates: the relation is re-staged on next
        # use, and the sibling-n entry from the superseded corpus is
        # RELEASED (code-review r16 second pass — without the purge
        # sim_assign n=4 would pin old-corpus executor storage for the
        # session)
        spark.createDataFrame(
            [(i, [float(i + 1), 1.0]) for i in range(20)],
            "vec_id bigint, embedding array<double>",
        ).createOrReplaceTempView("embeddings")
        similarity.ivf_topk(spark).collect()
        assert built(spark, "sim_assign", n_centroids=16) is not first
        assert spark.table(built(spark, "sim_assign", n_centroids=16).result).count() == 20
        assert built(spark, "sim_assign", n_centroids=4) is None
    finally:
        orig_emb.createOrReplaceTempView("embeddings")


def test_url_canonical_dedup_matches_python_recompute(spark, tables):
    """Pin the URL canonicalization semantics against a direct Python
    recompute (urllib-free, same rule list): all five constructed messy
    spellings of a page must collapse to one canonical URL, the keeper
    is the lowest doc_id, and kept params survive sorted."""
    from torchfusion_spark.operators.dedup import url_canonical_dedup_sql

    rows = {r.doc_id: r for r in spark.sql(url_canonical_dedup_sql("spark")).collect()}
    docs = spark.table("documents").select("doc_id", "source").toPandas()

    def canon(doc_id, source):
        page = doc_id // 100
        v = (doc_id // 20) % 5
        if doc_id % 19 == 3:  # the hot portal homepage (source-independent)
            raw = {
                0: "https://portal.example.com/home?id=1&utm_source=feed",
                1: "https://PORTAL.EXAMPLE.COM:443/home/?id=1",
                2: "http://portal.example.com:80/home?id=1#top",
            }[doc_id % 3]
        else:
            raw = {
                0: f"https://{source}.example.com/articles/{page}?b=2&a=1",
                1: f"https://{source.upper()}.EXAMPLE.COM:443/articles/{page}/?a=1&b=2",
                2: f"http://{source}.example.com:80/articles/{page}?a=1&b=2#comments",
                3: f"https://{source}.example.com/articles/{page}/?utm_source=feed&a=1&utm_campaign=daily&b=2",
                4: f"https://{source}.example.com/articles/{page}?a=1&fbclid=abc123&b=2",
            }[v]
        u = raw.split("#")[0]
        if u.startswith("http://"):
            u = "https://" + u[7:]
        hostpath = u[8:]
        host, _, rest = hostpath.partition("/")
        rest = "/" + rest if rest or u[8 + len(host):].startswith("/") else ""
        host = host.lower()
        for port in (":80", ":443"):
            if host.endswith(port):
                host = host[: -len(port)]
        path, _, q = rest.partition("?")
        path = path.rstrip("/")
        keep = sorted(
            p for p in q.split("&")
            if p and not p.startswith(("utm_", "ref=", "fbclid=", "gclid="))
        )
        return f"https://{host}{path}" + ("?" + "&".join(keep) if keep else "")

    expected_canon = {int(r.doc_id): canon(int(r.doc_id), r.source) for r in docs.itertuples()}
    keeper = {}
    for doc_id, cu in expected_canon.items():
        keeper[cu] = min(keeper.get(cu, doc_id), doc_id)
    assert set(rows) == set(expected_canon)
    for doc_id, cu in expected_canon.items():
        r = rows[doc_id]
        assert r.canonical_url == cu, (doc_id, r.canonical_url, cu)
        assert r.keeper_doc_id == keeper[cu]
        assert r.kept == (doc_id == keeper[cu])
    # every page's five spellings unified: group sizes are uniform
    sizes = {}
    for cu in expected_canon.values():
        sizes[cu] = sizes.get(cu, 0) + 1
    assert max(sizes.values()) >= 2, "fixture should produce duplicate spellings"
    # the hot portal homepage (doc_id % 19 == 3, ~5.26% of the corpus)
    # collapses into ONE canonical URL — the Zipfian key the keeper
    # window is measured under at every scale (VERDICT r8 item 5)
    hot_ids = [d for d in expected_canon if d % 19 == 3]
    hot_cu = "https://portal.example.com/home?id=1"
    assert len(hot_ids) >= 10 and sizes[hot_cu] == len(hot_ids)
    assert all(rows[d].keeper_doc_id == min(hot_ids) for d in hot_ids)
    assert sum(rows[d].kept for d in hot_ids) == 1


def test_exact_pair_rows_matches_sql_arm_bitwise(spark, tables):
    """Focused pin for the r16 Arrow exact-pair scan (guide §4.2 re-plan
    + the Arrow toPandas matrix fetch): the NumPy-under-mapInArrow pair
    relation must reproduce the SQL fold arm ROW-FOR-ROW with EXACTLY
    equal doubles — the dim-loop accumulation claims the SQL fold's IEEE
    op order bit-for-bit, so any drift (fused multiply-add, reordered
    accumulation, a lossy matrix transfer) must fail here, not at the
    oracle gate."""
    from torchfusion_spark.operators.similarity import (
        cosine_near_dup_sql,
        exact_pair_rows,
        norm_cte,
    )

    rng = np.random.default_rng(13)
    base = rng.normal(size=64)
    vecs = [(i, (base + rng.normal(scale=1e-3, size=64)).tolist()) for i in range(6)]
    vecs += [(10 + i, rng.normal(size=64).tolist()) for i in range(50)]
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    orig = spark.table("embeddings")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("embeddings")
        spark.sql(norm_cte("spark")).createOrReplaceTempView("__t_pair_norms")

        def key(rows):
            return [(r.id_a, r.id_b, r.cosine) for r in rows]

        # threshold -1.0 keeps EVERY pair: all C(56,2) cosines compared
        # exactly; 0.42 additionally exercises the NumPy prefilter +
        # authoritative Spark-side ROUND(...) >= t boundary together
        for t in (-1.0, 0.42):
            arrow = key(
                exact_pair_rows(spark, "__t_pair_norms", t, 100_000)
                .orderBy("id_a", "id_b")
                .collect()
            )
            via_sql = key(spark.sql(cosine_near_dup_sql("spark", t)).collect())
            assert arrow == via_sql and len(arrow) > 0
    finally:
        orig.createOrReplaceTempView("embeddings")


def test_near_dup_collapse_bounds_planted_mega_cluster(spark, tables):
    """The collapse witness's reason to exist: a planted near-identical
    mega-cluster (the 100 TB boilerplate-embedding scenario) must come
    back as ONE canonical row with the full member count, where the
    pair-enumerating LSH query emits C(n,2) rows."""
    from torchfusion_spark.operators.similarity import (
        cosine_near_dup_lsh_sql,
        near_dup_collapse_sql,
    )

    n_clone, seed = 50, 7
    rng = np.random.default_rng(seed)
    base = rng.normal(size=64)
    # perturbations far below the test-pinned 0.158 sign margin of this
    # seed's base vector against every one of the 64 multi-band LSH
    # planes (0.52 over the 8 collapse planes) — all clones share every
    # band's bucket
    vecs = [(i, (base + rng.normal(scale=1e-4, size=64)).astype("float32").tolist())
            for i in range(n_clone)]
    vecs += [(1000 + i, rng.normal(size=64).astype("float32").tolist()) for i in range(5)]
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    orig = spark.table("embeddings")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("embeddings")
        collapsed = spark.sql(near_dup_collapse_sql("spark", threshold=0.9)).collect()
        pairs = spark.sql(cosine_near_dup_lsh_sql("spark", threshold=0.9)).collect()
    finally:
        orig.createOrReplaceTempView("embeddings")
    clone_rows = [r for r in collapsed if r.canonical_id == 0]
    assert len(clone_rows) == 1
    assert clone_rows[0].n_members == n_clone
    assert clone_rows[0].n_collapsed == n_clone - 1
    # no clone appears as its own canonical row
    assert not any(0 < r.canonical_id < n_clone for r in collapsed)
    # the pair query pays the quadratic output the collapse avoids
    clone_pairs = [r for r in pairs if r.id_a < n_clone and r.id_b < n_clone]
    assert len(clone_pairs) == n_clone * (n_clone - 1) // 2
    assert len(collapsed) <= len(pdf)


def test_temperature_mixture_matches_python_recompute(spark, tables):
    """Pin the XLM-R temperature-sampling math against a direct Python
    recompute: tempered shares flatten the distribution (dominant lang
    downsampled, rare langs upsampled) and targets follow
    p^alpha / sum(p^alpha) with the 9dp DECIMAL normalizer."""
    from torchfusion_spark.operators.textstats import (
        MIXTURE_BUDGET,
        temperature_mixture_sql,
    )

    rows = {r.lang: r for r in spark.sql(temperature_mixture_sql("spark")).collect()}
    docs = spark.table("documents").toPandas()
    avail = (
        docs.assign(n=docs.text.str.split(" ").map(lambda t: sum(1 for x in t if x)))
        .groupby("lang")
        .n.sum()
        .to_dict()
    )
    total = sum(avail.values())
    pa = {lg: round((n / total) ** 0.3, 9) for lg, n in avail.items()}
    z = sum(pa.values())  # 9dp values — exact in float for this magnitude
    assert set(rows) == set(avail)
    for lg, n in avail.items():
        r = rows[lg]
        assert r.available_tokens == n
        assert r.p_raw == round(n / total, 6)
        assert r.p_temp == round(pa[lg] / z, 6)
        want_target = int(pa[lg] * MIXTURE_BUDGET / z)
        assert abs(r.target_tokens - want_target) <= 1  # floor at a float boundary
        assert r.planned_tokens == min(n, r.target_tokens)
    # the flattening property: tempered share moves toward uniform
    dom = max(avail, key=avail.get)
    rare = min(avail, key=avail.get)
    assert rows[dom].p_temp < rows[dom].p_raw
    assert rows[rare].p_temp > rows[rare].p_raw
    assert rows[rare].repeat_factor >= rows[dom].repeat_factor


def test_temperature_mixture_upsamples_rare_language(spark, tables):
    """The op's differentiator — repeat_factor > 1 where the tempered
    target EXCEEDS availability — never fires on the balanced fixture
    (code-review r08), so pin it on a synthetic heavily-skewed corpus:
    the rare language must be capped at availability with an explicit
    upsample signal, and a regression that computes repeat_factor from
    the CAPPED take (always <= 1) must fail here."""
    import duckdb

    from torchfusion_spark.operators.textstats import temperature_mixture_sql

    word = lambda n: " ".join(["w"] * n)  # noqa: E731
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "lang": ["en", "en", "de"],
            "text": [word(9000), word(9000), word(100)],
            "source": ["src0", "src1", "src2"],
            "n_chars": [0, 0, 0],
        }
    )
    orig = spark.table("documents")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("documents")
        rows = {r.lang: r for r in spark.sql(temperature_mixture_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = {r[0]: r for r in con.execute(temperature_mixture_sql("duck")).fetchall()}

    de = rows["de"]
    assert de.available_tokens == 100
    assert de.target_tokens > 100          # tempered share demands more than exists
    assert de.planned_tokens == 100        # the take is capped at availability
    assert de.keep_rate == 1.0
    assert de.repeat_factor > 1.0          # the upsample signal
    assert rows["en"].repeat_factor < 1.0  # the dominant language downsamples
    assert tuple(rows["de"]) == tuple(duck["de"])  # oracle agrees on the clamp row


def test_url_filter_matches_python_recompute(spark, tables):
    """Pin the URL-filter rule semantics against a direct Python
    recompute over the constructed URL universe — every rule must fire
    on its intended doc_id slice and nowhere else."""
    from torchfusion_spark.operators.textstats import url_filter_sql

    rows = {r.doc_id: r for r in spark.sql(url_filter_sql("spark")).collect()}
    docs = spark.table("documents").select("doc_id", "source").toPandas()

    def recompute(doc_id, source):
        page = doc_id // 100
        v = (doc_id // 20) % 5
        if doc_id % 19 == 3:  # the hot portal homepage (shared constructor)
            base = {
                0: "https://portal.example.com/home?id=1&utm_source=feed",
                1: "https://PORTAL.EXAMPLE.COM:443/home/?id=1",
                2: "http://portal.example.com:80/home?id=1#top",
            }[doc_id % 3]
        else:
            base = {
                0: f"https://{source}.example.com/articles/{page}?b=2&a=1",
                1: f"https://{source.upper()}.EXAMPLE.COM:443/articles/{page}/?a=1&b=2",
                2: f"http://{source}.example.com:80/articles/{page}?a=1&b=2#comments",
                3: f"https://{source}.example.com/articles/{page}/?utm_source=feed&a=1&utm_campaign=daily&b=2",
                4: f"https://{source}.example.com/articles/{page}?a=1&fbclid=abc123&b=2",
            }[v]
        url = {
            3: f"https://ads.tracker.example/articles/{page}?a=1",
            7: f"https://{source}.example.com/assets/style.css",
            9: f"https://{source}.example.com/2024/01/02/03/04/05/index.html",
        }.get(doc_id % 10, base)
        rest = url.split("://", 1)[1]
        hostport = rest.split("/", 1)[0].split("?", 1)[0]
        host = hostport.split(":", 1)[0].lower()
        after = rest[len(hostport):]
        path = after.split("?", 1)[0].split("#", 1)[0]
        q = url.split("?", 1)[1].split("#", 1)[0] if "?" in url else ""
        n_params = len([p for p in q.split("&") if p])
        n_digits = sum(c.isdigit() for c in path)
        return {
            "r_host_ok": int(host not in ("ads.tracker.example", "src12.example.com")),
            "r_ext_ok": int(not path.endswith((".css", ".js", ".xml", ".rss"))),
            "r_depth_ok": int(len([s for s in path.split("/") if s]) <= 5),
            "r_params_ok": int(n_params <= 3),
            "r_digit_ok": int(2 * n_digits <= len(path.replace("/", ""))),
        }

    assert set(rows) == set(int(d) for d in docs.doc_id)
    fired = {k: 0 for k in ("r_host_ok", "r_ext_ok", "r_depth_ok", "r_params_ok", "r_digit_ok")}
    for r in docs.itertuples():
        want = recompute(int(r.doc_id), r.source)
        got = rows[int(r.doc_id)]
        for rule, v in want.items():
            assert getattr(got, rule) == v, (r.doc_id, rule, got)
            fired[rule] += 1 - v
        assert got.kept == int(all(want.values()))
        assert got.n_failed == 5 - sum(want.values())
    # every rule must actually fire somewhere in the fixture
    assert all(n > 0 for n in fired.values()), fired


def test_quality_gate_null_source_fails_closed(spark, tables):
    """A NULL-source doc must appear in the gate output as a reason-coded
    rejection ('source'), never silently vanish from the audit log (the
    inner-join failure mode code-review r08 flagged)."""
    import duckdb

    from torchfusion_spark.operators.textstats import quality_gate_sql

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "lang": ["en", "en"],
            "text": ["the and " + " ".join(["word"] * 48)] * 2,
            "source": ["src0", None],
            "n_chars": [250, 250],
        }
    )
    orig = spark.table("documents")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("documents")
        got = {r.doc_id: r for r in spark.sql(quality_gate_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = {int(r[0]): r for r in con.execute(quality_gate_sql("duck")).fetchall()}

    assert set(got) == {0, 1} and set(duck) == {0, 1}
    assert got[1].source_ok == 0 and got[1].kept == 0
    assert "source" in got[1].drop_reasons
    # both engines agree on the fail-closed verdict row
    assert tuple(got[1]) == tuple(duck[1])


def test_gopher_rules_match_python_recompute(spark, tables):
    """Pin the Gopher-rule semantics against a direct Python recompute on
    a corpus hitting every rule's boundary: bullet/ellipsis lines, '#'
    symbols, numeric-only words, per-language stop lists, 49/50-word
    boundary docs, and an empty-text doc."""
    import duckdb

    from torchfusion_spark.operators.textstats import _LANG_MARKERS, gopher_rules_sql

    stopsets = {lg: set(ws) for lg, ws in _LANG_MARKERS.items()}
    docs = [
        (0, "en", " ".join(["the", "and"] + ["word"] * 48)),          # 50 words, all pass
        (1, "en", " ".join(["the", "and"] + ["word"] * 47)),          # 49 words: r_word_count fails
        (2, "en", " ".join(["the", "and"] + ["word"] * 40 + ["#"] * 8)),  # 10% symbols boundary
        (3, "de", " ".join(["der", "und"] + ["wort"] * 48)),          # per-lang stops
        (4, "en", " ".join(["the", "and"] + ["1234"] * 48)),          # alpha rule fails (4% alpha)
        (5, "en", "\n".join(["- bullet " + " ".join(["w"] * 6)] * 2 + ["the and " + " ".join(["w"] * 48)])),
        (6, "en", "\n".join(["trailing..."] * 4 + ["the and " + " ".join(["w"] * 48)] * 6)),
        (7, "en", ""),                                                # empty text
        (8, "en", " ".join(["the", "and"] + ["supercalifragilistic"] * 48)),  # mean len > 10
        # bullet-rule boundary (published threshold: remove when >90% of
        # lines bullet-started): 9/10 bullet lines passes, 10/10 fails
        (9, "en", "\n".join(["- b w w w w w"] * 9 + ["the and " + " ".join(["w"] * 48)])),
        (10, "en", "\n".join(["- the and " + " ".join(["w"] * 5)] * 10)),
    ]

    def recompute(lang, text):
        # space-only tokenizer (repo-wide split_ws convention): tokens
        # may span line boundaries, same as every other text operator
        toks = [t for t in text.lower().split(" ") if t]
        lines = text.split("\n")
        n_words = len(toks)
        sum_len = sum(len(t) for t in toks)
        n_alpha = sum(1 for t in toks if any("a" <= c <= "z" for c in t))
        n_stop = len(set(toks) & stopsets[lang])
        n_sym = text.count("#") + text.count("...")
        n_bullet = sum(1 for l in lines if l.strip().startswith(("-", "*")))
        n_ell = sum(1 for l in lines if l.endswith("..."))
        n_lines = len(lines)
        return {
            "r_word_count": int(50 <= n_words <= 100000),
            "r_mean_word_len": int(3 * n_words <= sum_len <= 10 * n_words),
            "r_symbol_ratio": int(10 * n_sym <= n_words),
            # Rae et al. remove docs when >90% of lines are bullet-started
            "r_bullet_lines": int(10 * n_bullet <= 9 * n_lines),
            "r_ellipsis_lines": int(10 * n_ell <= 3 * n_lines),
            "r_alpha_words": int(5 * n_alpha >= 4 * n_words),
            "r_stop_words": int(n_stop >= 2),
        }

    pdf = pd.DataFrame(docs, columns=["doc_id", "lang", "text"])
    orig = spark.table("documents")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("documents")
        got = {r.doc_id: r.asDict() for r in spark.sql(gopher_rules_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = {int(r["doc_id"]): r for _, r in con.execute(gopher_rules_sql("duck")).df().iterrows()}

    assert set(got) == set(range(len(docs)))
    for doc_id, lang, text in docs:
        want = recompute(lang, text)
        for rule, v in want.items():
            assert got[doc_id][rule] == v, (doc_id, rule, got[doc_id], want)
            assert int(duck[doc_id][rule]) == v, (doc_id, rule)
        n_failed = 7 - sum(want.values())
        assert got[doc_id]["n_failed"] == n_failed
        assert got[doc_id]["kept"] == int(n_failed == 0)
    # the boundary doc with exactly 50 words and both stops passes
    assert got[0]["kept"] == 1


def test_quantile_cut_approx_production_path(spark, tables):
    """The QUANTILE_EXACT=False swap (the documented production-scale
    spelling: Spark approx_percentile instead of an exact percentile
    buffer) must emit a runnable plan with the same broadcast-cut shape
    and a populated bucket distribution. The oracle gate always runs
    exact; this pins that the swap is a real code path, not a docstring."""
    from torchfusion_spark.operators import textstats
    from torchfusion_spark.staging import stage

    try:
        textstats.QUANTILE_EXACT = False
        df = spark.sql(
            textstats.dsir_importance_sql(
                "spark", tf_rel=stage(spark, "unigrams")
            )
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "approx_percentile" in plan
        from tools.plan_audit import _plan_counts

        assert _plan_counts(df).get("__global_window__", 0) == 0
        rows = df.collect()
    finally:
        textstats.QUANTILE_EXACT = True
    qs = {r.quintile for r in rows}
    assert qs == {1, 2, 3, 4, 5}, qs
    # t-digest cuts at default accuracy on a 500-doc corpus are near-exact:
    # the kept share stays in a sane band around 40%
    kept = sum(r.kept for r in rows) / len(rows)
    assert 0.25 < kept < 0.55, kept


def test_quality_classifier_matches_python_recompute(spark, tables):
    """Pin the trained-classifier math end-to-end in Python: hashed-bucket
    class counts over the train split, add-one-smoothed NB log-odds
    weights (unseen buckets get the pure-smoothing weight), 9dp-DECIMAL
    score sums, the 6dp bias+sum sign decision and the deterministic
    quintile keep flag. Labels come from the independently-pinned Gopher
    SQL (test_gopher_rules_match_python_recompute owns that semantics);
    the split is recomputed from the portable hash."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from torchfusion_spark.operators.textstats import (
        CLS_TRAIN_PCT,
        DSIR_BUCKETS,
        gopher_rules_sql,
        quality_classifier_sql,
    )
    from torchfusion_spark.staging import stage

    def r9(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal("0.000000001"), ROUND_HALF_UP)

    def hb(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:14], 16) % DSIR_BUCKETS

    label = {
        r.doc_id: int(r.kept)
        for r in spark.sql(gopher_rules_sql("spark")).collect()
    }
    is_train = {
        d: int(int(hashlib.md5(str(d).encode()).hexdigest()[:14], 16) % 100 < CLS_TRAIN_PCT)
        for d in label
    }

    docs = spark.table("documents").select("doc_id", "lang", "text").collect()
    per: dict[int, dict[str, int]] = {}
    lang: dict[int, str] = {}
    pos: dict[int, int] = {}
    neg: dict[int, int] = {}
    universe: set[int] = set()
    for row in docs:
        lang[row.doc_id] = row.lang
        tfd = per.setdefault(row.doc_id, {})
        for t in row.text.lower().split(" "):
            tfd[t] = tfd.get(t, 0) + 1
            b = hb(t)
            universe.add(b)
            if is_train[row.doc_id]:
                if label[row.doc_id]:
                    pos[b] = pos.get(b, 0) + 1
                else:
                    neg[b] = neg.get(b, 0) + 1
    pos_tot, neg_tot, v = sum(pos.values()), sum(neg.values()), len(universe)
    wt = {
        b: math.log((pos.get(b, 0) + 1.0) / (pos_tot + v))
        - math.log((neg.get(b, 0) + 1.0) / (neg_tot + v))
        for b in universe
    }
    n_pos = sum(1 for d in label if is_train[d] and label[d])
    n_neg = sum(1 for d in label if is_train[d] and not label[d])
    bias = round(math.log((n_pos + 1.0) / (n_neg + 1.0)), 6)

    def r6f(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    scored = {}
    for d, tfd in per.items():
        s = sum((r9(f * wt[hb(t)]) for t, f in tfd.items()), Decimal(0))
        n = sum(tfd.values())
        scored[d] = (n, r6f(float(s) / n), int(round(bias + float(s), 6) > 0))

    # global quintile cut points (quantile_cut_case: interpolated 0.8 /
    # 0.6 / 0.4 / 0.2 percentiles, >= comparison — ties share a bucket)
    cuts = _pctl_cuts(
        [s for _, s, _ in scored.values()], [4.0 / 5, 3.0 / 5, 2.0 / 5, 1.0 / 5]
    )
    quintile = {d: _cut_bucket(scored[d][1], cuts, desc=True) for d in scored}

    got = spark.sql(
        quality_classifier_sql("spark", tf_rel=stage(spark, "unigrams"))
    ).collect()
    assert len(got) == len(scored)
    for r in got:
        n, avg, pred = scored[r.doc_id]
        assert r.lang == lang[r.doc_id]
        assert r.n_tokens == n
        assert r.label == label[r.doc_id]
        assert r.is_train == is_train[r.doc_id]
        assert abs(r.avg_log_odds - avg) < 2e-6
        assert r.predicted == pred, r.doc_id
        assert r.quintile == quintile[r.doc_id], r.doc_id
        assert r.kept == (1 if quintile[r.doc_id] <= 2 else 0)
    # the model must actually rank the label: Gopher-pass docs must be
    # overrepresented in the kept set vs their corpus share (the trained
    # signal, not a constant/degenerate score)
    kept_pos = sum(1 for r in got if r.kept and r.label)
    all_pos = sum(1 for r in got if r.label)
    assert kept_pos / max(sum(r.kept for r in got), 1) > all_pos / len(got)
    # both splits and both classes must be non-trivially populated
    assert 0 < sum(r.is_train for r in got) < len(got)
    assert 0 < all_pos < len(got)


def test_quality_ensemble_composes_its_signals(spark, tables):
    """The ensemble must be EXACTLY the composition of its three
    independently-pinned signals (classifier label/kept, perplexity
    bucket): signals, agreement count, tier and majority keep recomputed
    per doc from the sub-operators' own Spark outputs."""
    from torchfusion_spark.operators.textstats import (
        lm_perplexity_sql,
        quality_classifier_sql,
        quality_ensemble_sql,
    )
    from torchfusion_spark.staging import stage

    tfn, labn = stage(spark, "unigrams", "quality_labels")
    cls = {
        r.doc_id: r
        for r in spark.sql(
            quality_classifier_sql("spark", tf_rel=tfn, lab_rel=labn)
        ).collect()
    }
    ppl = {
        r.doc_id: r for r in spark.sql(lm_perplexity_sql("spark", tf_rel=tfn)).collect()
    }
    got = spark.sql(
        quality_ensemble_sql("spark", tf_rel=tfn, lab_rel=labn)
    ).collect()
    assert len(got) == len(cls) == len(ppl)
    tiers = set()
    for r in got:
        c, p = cls[r.doc_id], ppl[r.doc_id]
        want = (int(c.label), int(c.kept), int(p.ppl_bucket != "tail"))
        assert (r.gopher_ok, r.classifier_ok, r.ppl_ok) == want, r.doc_id
        n = sum(want)
        assert r.n_signals == n
        assert r.tier == ("high" if n == 3 else "medium" if n == 2 else "low")
        assert r.kept == int(n >= 2)
        tiers.add(r.tier)
    assert tiers == {"high", "medium", "low"}, tiers  # all tiers populated


def test_bpe_train_matches_python_reference(spark, tables):
    """Pin the iterative BPE trainer against a direct Python reference
    implementation of Sennrich et al.'s algorithm: character symbols
    with an end-of-word marker, frequency-weighted pair counts, greedy
    LEFT-TO-RIGHT non-overlapping merges of the top pair per round
    (tie-break count DESC then lexicographic pair)."""
    from torchfusion_spark.operators.textstats import BPE_TRAIN_ROUNDS, bpe_train

    docs = spark.table("documents").select("text").collect()
    freq: dict[str, int] = {}
    for row in docs:
        for w in row.text.lower().split(" "):
            freq[w] = freq.get(w, 0) + 1

    vocab = {w: list(w) + ["_"] for w in freq}
    expect = []
    for _ in range(BPE_TRAIN_ROUNDS):
        counts: dict[tuple, int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + freq[w]
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((a, b, a + b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2  # greedy left-to-right: the right symbol is consumed
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    got = bpe_train(spark).collect()  # the checkpointed round loop the registry runs
    assert len(got) == len(expect) == BPE_TRAIN_ROUNDS
    for r, (a, b, m, cnt) in enumerate(expect, start=1):
        row = got[r - 1]
        assert (row.round, row.left_sym, row.right_sym, row.merged_sym, row.pair_count) == (
            r, a, b, m, cnt,
        )
    # the trainer must actually iterate: at least one later merge
    # involves a symbol PRODUCED by an earlier merge, or the top pair
    # changes round-over-round (a single-pass pair count cannot do this)
    merged_syms = {m for (_, _, m, _) in expect}
    assert len({(a, b) for (a, b, _, _) in expect}) == BPE_TRAIN_ROUNDS
    assert any(
        a in merged_syms or b in merged_syms for (a, b, _, _) in expect[1:]
    ) or len(merged_syms) == BPE_TRAIN_ROUNDS


def test_bpe_train_survives_backslash_and_quote_symbols(spark, tables):
    """Spark's default string literals are backslash-escaping (DuckDB's
    are not), so the round loop's top-pair literals must escape both
    backslashes and quotes — a corpus token like c:\\temp or don't would
    otherwise parse-error or silently merge the wrong symbol
    (code-review r09). Plant a corpus where such pairs WIN rounds and
    compare against the Python reference."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import bpe_train

    words = ["c:\\temp\\x"] * 9 + ["don't've"] * 7 + ["plain"] * 2
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(words)),
            "lang": ["en"] * len(words),
            "text": words,
            "source": ["src0"] * len(words),
            "n_chars": [len(w) for w in words],
        }
    )
    orig = spark.table("documents")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("documents")
        got = [tuple(r) for r in bpe_train(spark).collect()]
    finally:
        orig.createOrReplaceTempView("documents")

    freq = {}
    for w in words:
        freq[w] = freq.get(w, 0) + 1
    vocab = {w: list(w) + ["_"] for w in freq}
    expect = []
    for r in range(1, 4):
        counts = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + freq[w]
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((r, a, b, a + b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == expect
    # the planted corpus must actually exercise the hazard: a winning
    # symbol containing a backslash or quote
    assert any("\\" in a or "'" in a or "\\" in b or "'" in b for (_, a, b, _, _) in expect)


def test_bpe_apply_matches_python_reference(spark, tables):
    """Pin the BPE apply stats: segment every word with the Python
    reference trainer's merges (same greedy left-to-right rule) and
    recompute each doc's word count, pre/post-merge symbol counts and
    6dp compression ratio."""
    from torchfusion_spark.operators.textstats import (
        BPE_TRAIN_ROUNDS,
        bind_tf_and_merges,
        bpe_apply_sql,
    )

    docs = spark.table("documents").select("doc_id", "lang", "text").collect()
    freq: dict[str, int] = {}
    per_doc_words: dict[int, dict[str, int]] = {}
    lang: dict[int, str] = {}
    for row in docs:
        lang[row.doc_id] = row.lang
        wd = per_doc_words.setdefault(row.doc_id, {})
        for w in row.text.lower().split(" "):
            freq[w] = freq.get(w, 0) + 1
            wd[w] = wd.get(w, 0) + 1

    vocab = {w: list(w) + ["_"] for w in freq}
    for _ in range(BPE_TRAIN_ROUNDS):
        counts: dict[tuple, int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + freq[w]
        if not counts:
            break
        (a, b), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    got = bind_tf_and_merges(
        spark,
        lambda tfn, merges: spark.sql(
            bpe_apply_sql("spark", tf_rel=tfn, merges=merges)
        ),
    ).collect()
    assert len(got) == len(per_doc_words)
    any_compressed = False
    for r in got:
        wd = per_doc_words[r.doc_id]
        n_words = sum(wd.values())
        before = sum(tf * (len(w) + 1) for w, tf in wd.items())
        after = sum(tf * len(vocab[w]) for w, tf in wd.items())
        assert r.lang == lang[r.doc_id]
        assert r.n_words == n_words
        assert r.syms_before == before
        assert r.syms_after == after
        assert abs(r.compression - round(after / before, 6)) < 2e-6
        any_compressed |= after < before
    assert any_compressed  # the learned merges must actually fire somewhere


def test_upsample_and_pack_keep_null_lang_docs(spark, tables):
    """r12 pack-fuzzer finding class, swept to its siblings: the mixture
    plan's GROUP BY keeps a NULL-lang row, so the upsample fan-out and
    the pack shard-offset join must be null-safe on lang — with plain
    equi-joins, NULL-lang docs silently got zero training copies and
    vanished from packing on BOTH engines in lockstep (invisible to the
    hash gate)."""
    from torchfusion_spark.operators.textstats import (
        pack_sequences_sql,
        upsample_epochs_sql,
    )

    orig = spark.table("documents")
    try:
        spark.sql(
            "SELECT doc_id, text, source, n_chars, "
            "CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang "
            "FROM documents"
        ).createOrReplaceTempView("documents")
        ups = spark.sql(upsample_epochs_sql("spark")).collect()
        assert any(r.lang is None for r in ups), "NULL-lang docs got no copies"
        packs = spark.sql(pack_sequences_sql("spark")).collect()
        assert any(r.lang is None for r in packs), "NULL-lang stream not packed"
        # ngram blocking: two NULL-lang near-identical docs must pair —
        # the plain-equality block key excluded NULL-lang docs from ALL
        # pairing (and the null-safe pin must hold the blocking-key
        # spelling, whatever it is)
        from torchfusion_spark.operators import dedup as ddp

        near = spark.sql(
            "SELECT CAST(900001 AS BIGINT) AS doc_id, "
            "'the quick brown fox jumps over the lazy dog again' AS text, "
            "CAST(NULL AS STRING) AS lang, 's' AS source, CAST(49 AS BIGINT) AS n_chars "
            "UNION ALL SELECT CAST(900002 AS BIGINT), "
            "'the quick brown fox jumps over the lazy dog today', "
            "CAST(NULL AS STRING), 's', CAST(49 AS BIGINT)"
        )
        near.createOrReplaceTempView("documents")
        pairs = {(r.id_a, r.id_b) for r in ddp.ngram_jaccard(spark).collect()}
        assert (900001, 900002) in pairs, "NULL-lang near-dups did not pair"
    finally:
        orig.createOrReplaceTempView("documents")


def test_upsample_epochs_matches_python_recompute(spark, tables):
    """Pin the upsample materializer: per-doc copies recomputed from the
    mixture plan's exact integers (whole copies = target DIV avail,
    fractional lottery by portable-hash cross-multiplication), and the
    multi-copy path exercised on a synthetic skewed corpus where the
    rare language's factor exceeds 2."""
    import hashlib

    import duckdb

    from torchfusion_spark.operators.textstats import (
        MIXTURE_BUDGET,
        UPSAMPLE_SEED,
        temperature_mixture_sql,
        upsample_epochs_sql,
    )

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{doc_id}#{UPSAMPLE_SEED}".encode()).hexdigest()[:14]
        return int(h, 16) % 1_000_000

    def recompute(docs_rows, mix_rows):
        mix = {r.lang: (r.available_tokens, r.target_tokens) for r in mix_rows}
        out = {}
        for r in docs_rows:
            if r.lang not in mix:
                continue
            avail, target = mix[r.lang]
            q, rem = target // avail, target % avail
            out[r.doc_id] = q + (1 if bucket(r.doc_id) * avail < rem * 1_000_000 else 0)
        return out

    # fixture corpus: exact per-doc copies + exploded epoch indices
    got = spark.sql(upsample_epochs_sql("spark")).collect()
    mix_rows = spark.sql(temperature_mixture_sql("spark")).collect()
    docs_rows = spark.table("documents").select("doc_id", "lang").collect()
    expect = recompute(docs_rows, mix_rows)
    per_doc = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append((r.n_copies, r.epoch_idx))
    for doc_id, n in expect.items():
        rows = sorted(per_doc.get(doc_id, []))
        assert len(rows) == n, (doc_id, n, rows)
        assert rows == [(n, i) for i in range(1, n + 1)]
    assert sum(expect.values()) == len(got)
    assert any(n == 0 for n in expect.values())  # downsampling fires

    # skewed corpus: the rare language's factor > 2 → multi-copy path
    import pandas as pd

    word = lambda n: " ".join(["w"] * n)  # noqa: E731
    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "lang": ["en"] * 10 + ["de"] * 2,
            "text": [word(5000)] * 10 + [word(50)] * 2,
            "source": [f"src{i}" for i in range(12)],
            "n_chars": [0] * 12,
        }
    )
    orig = spark.table("documents")
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("documents")
        sk = spark.sql(upsample_epochs_sql("spark")).collect()
        sk_mix = spark.sql(temperature_mixture_sql("spark")).collect()
    finally:
        orig.createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = con.execute(upsample_epochs_sql("duck")).fetchall()
    assert sorted(tuple(r) for r in sk) == sorted(duck)
    de_copies = {r.doc_id: r.n_copies for r in sk if r.lang == "de"}
    de_mix = next(r for r in sk_mix if r.lang == "de")
    assert de_mix.target_tokens // de_mix.available_tokens >= 2
    assert all(n >= 2 for n in de_copies.values())  # whole copies materialized


def test_multimodal_oracles_are_byte_true_on_non_ascii(spark, tables, tmp_path):
    """ADVICE r13 (medium): the multimodal oracles previously fingerprinted
    CODEPOINTS (unicode(substr(text, i, 1)) over length(text)) while the
    Spark side hashes UTF-8 payload BYTES — a corpus containing chr(200)*5
    produced different near-dup pair sets on the two engines, silently
    un-oracling the gate the moment non-ASCII text entered. All four
    oracles now decode exact bytes from hex(encode(text)); this test runs
    Spark and DuckDB side-by-side on a deliberately non-ASCII corpus
    (including the verified chr(200) repro, multibyte Latin-1, and
    4-byte emoji) and compares exact rows for every multimodal operator."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark.operators.multimodal import (
        FEATURES_ORACLE,
        FRAMES_ORACLE,
        RESIZE_ORACLE,
        dedup_query,
        features_query,
        frames_query,
        mm_dedup_oracle_sql,
        thumbnail_query,
    )
    from torchfusion_spark.sources import load_tables

    texts = [
        chr(200) * 5,                       # the ADVICE repro: 2-byte codepoints
        chr(200) * 5,                       # its exact dup -> a guaranteed pair
        "naïve café ☕" * 12, # mixed 1/2/3-byte, >128 bytes (2 frames)
        "\U0001f600" * 40,                  # 4-byte emoji, 160 bytes
        "plain ascii control text",         # the old assumption's happy path
        "",                                 # empty -> no frames, '' thumb
        None,                               # NULL -> SQL-null features
    ]
    d = tmp_path / "nonascii_docs"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(len(texts))), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["xx"] * len(texts)),
                "source": pa.array(["src0"] * len(texts)),
                "n_chars": pa.array([len(t) if t else 0 for t in texts], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pq.write_table(pq.read_table(f"{tables}/{t}.parquet").slice(0, 1), str(d / f"{t}.parquet"))
    spark._tf_tables_loaded = None
    load_tables(spark, str(d))
    try:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        feats = sorted(tuple(r) for r in features_query(spark).collect())
        assert feats == sorted(tuple(r) for r in con.execute(FEATURES_ORACLE).fetchall())
        frames = sorted(tuple(r) for r in frames_query(spark).collect())
        assert frames == sorted(tuple(r) for r in con.execute(FRAMES_ORACLE).fetchall())
        assert any(r[0] == 2 and r[1] == 1 for r in frames)  # multibyte doc really spans 2 frames
        thumbs = sorted(tuple(r) for r in thumbnail_query(spark).collect())
        assert thumbs == sorted(tuple(r) for r in con.execute(RESIZE_ORACLE).fetchall())
        pairs = sorted(tuple(r) for r in dedup_query(spark).collect())
        assert pairs == sorted(tuple(r) for r in con.execute(mm_dedup_oracle_sql()).fetchall())
        assert (0, 1, 0) in pairs  # the chr(200) twins pair at hamming 0 on BOTH engines
    finally:
        spark._tf_tables_loaded = None
        load_tables(spark, tables)


def test_star_supersede_protects_live_owner_then_reaps(spark, tables, monkeypatch):
    """Star clusters are the staged relation ``minhash_clusters_star``:
    star calls from 3 live threads make one entry and return equal rows,
    and a ``documents`` swap releases the old entry's checkpoint only
    after the new entry has materialized."""
    import dataclasses
    import threading
    import time

    from torchfusion_spark import staging
    from torchfusion_spark.plans import REGISTRY as QUERIES

    name = "minhash_clusters_star"
    star = QUERIES["dedup_minhash_clusters_star"]
    jsc = spark.sparkContext._jsc
    rel = staging.REGISTRY[name]
    builds, held, watched = [], [], set()

    def build(ctx, **params):
        out = rel.build(ctx, **params)
        # the new entry is materialized: the superseded one still holds
        held.append(watched <= persisted())
        builds.append(ctx.tag)
        return out

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    monkeypatch.setitem(staging.REGISTRY, name, dataclasses.replace(rel, build=build))
    docs = spark.table("documents")
    # a corpus no earlier build has seen (same rows), so the threads cold-start it
    docs.where(f"doc_id <> {-time.time_ns()}").createOrReplaceTempView("documents")
    try:
        rows = [None] * 3
        gate = threading.Barrier(3)

        def call(i):
            gate.wait(timeout=60)
            rows[i] = sorted(tuple(r) for r in star.builder(spark, tables).collect())

        threads = [threading.Thread(target=call, args=(i,)) for i in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
        assert rows[0] and rows[0] == rows[1] == rows[2]
        assert len(builds) == 1
        sess = staging._session(spark)
        assert sum(k[0] == name for k in sess.entries) == 1
        old_ids = {h.id() for h in staging.built(spark, name).checkpoints}
        assert old_ids and old_ids <= persisted()
        watched |= old_ids

        docs.where(f"doc_id <> {-time.time_ns()}").createOrReplaceTempView("documents")
        assert sorted(tuple(r) for r in star.builder(spark, tables).collect()) == rows[0]
        assert len(builds) == 2 and held == [True, True]
        assert staging.built(spark, name).tag == builds[-1]
        assert not old_ids & persisted()
    finally:
        docs.createOrReplaceTempView("documents")
