"""Embedding similarity search (SURVEY §2-D): exact cosine near-dup /
top-k (the baseline) and sign-LSH bucketed variants (the scale path).

All dot products are computed in DOUBLE with an explicit left-to-right
fold so Spark (aggregate+zip_with, JVM codegen) and the DuckDB oracle
(list_reduce) produce bit-identical sums; similarities are rounded to 6
decimals before thresholding/ranking so last-ulp noise can't flip a
comparison.

Scale design: brute force is O(Q×N) with the query side broadcast —
right for small Q or as a per-bucket verifier. The LSH variant (r16:
multi-band) buckets rows by LSH_BANDS bands of LSH_BAND_BITS hyperplane
sign bits (fixed, seeded planes shared with the oracle) so the
self-join only touches same-(band, bucket) pairs: at 100 TB the shuffle
key is (band, bucket), background buckets hold ~N/2^bits rows, and the
per-band hot-bucket cap bounds candidate pairs at (cap/2)·N per band —
add bits as N grows (the r ≈ log2(N/cap) knob documented at
LSH_MAX_BUCKET).
"""

from __future__ import annotations

from torchfusion_spark.operators import sqlgen as G
from torchfusion_spark.staging import declare, scratch, stage


def _vec(d: str, col: str = "embedding") -> str:
    return f"CAST({col} AS ARRAY<DOUBLE>)" if d == "spark" else f"CAST({col} AS DOUBLE[])"


def _dot(a: str, b: str, d: str) -> str:
    """Left-fold dot product — identical accumulation order on both engines."""
    if d == "spark":
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    prods = f"list_transform(range(1, {G.EMB_DIM} + 1), i -> {a}[i] * {b}[i])"
    return f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"


def _norm(v: str, d: str) -> str:
    return f"sqrt({_dot(v, v, d)})"


def norm_cte(d: str, rel: str = "embeddings") -> str:
    """The shared normalized-vector relation (vec_id, v double[], nrm).

    NULL vectors are excluded at the root: a row with no embedding can
    participate in no similarity op, and leaving it in diverges the
    engines downstream (the iterative k-means trainer and the unrolled
    oracle order NULL similarities differently — observed as a 64-vs-512
    row split on a NULL-bearing corpus). ZERO vectors are excluded for
    the same structural reason (r14 ANN fuzzer finding): cosine is
    undefined at norm 0, and under ANSI mode the division doesn't go
    NaN — it raises DIVIDE_BY_ZERO at runtime, crashing every cosine
    operator on any corpus containing one all-zero embedding (the
    fixture corpus has none, so the hash gate never saw it). A
    direction-less vector participates in no similarity op; callers
    needing zero rows handle them upstream like NULLs."""
    return (
        f"SELECT vec_id, v, nrm FROM (SELECT vec_id, v, {_norm('v', d)} AS nrm FROM "
        f"(SELECT vec_id, {_vec(d)} AS v FROM {rel}) WHERE v IS NOT NULL) WHERE nrm > 0"
    )


@declare("sim_emb", deps=("embeddings",))
def _sim_emb(ctx):
    """The embeddings fanned out for CPU parallelism (the source parquet
    is a single split)."""
    from torchfusion_spark.session import cpu_fanout

    return ctx.view("__sim_emb", cpu_fanout(ctx.spark.table(ctx.dep("embeddings"))))


@declare("sim_norms", deps=("sim_emb",), prewarm=True)
def _sim_norms(ctx):
    """The normalized-vector relation, cached: it is used on both sides
    of every similarity join, and five registry queries read it
    back-to-back in gate order."""
    return ctx.cache("__sim_norms", ctx.spark.sql(norm_cte("spark", ctx.dep("sim_emb"))))


def cosine_topk_sql(
    d: str,
    k: int = 10,
    n_queries: int = 8,
    rel: str | None = None,
    query_pred: str | None = None,
    with_rank: bool = False,
    ordered: bool = True,
) -> str:
    """Exact top-k cosine neighbors for each query vector (brute force).

    ``ordered=False`` (r16) drops the final global ORDER BY for embedded
    uses (the recall audit's hit join, the RRF fusion's rank lists): an
    intermediate's sort costs a range exchange — whose boundary-sampling
    pass re-executes the subtree once — feeding consumers that destroy
    order anyway. Rows are identical.

    Spark plan: tiny query side → broadcast nested-loop against the full
    table, then per-query TopK window. No shuffle of the big side.

    ``query_pred`` overrides the default ``vec_id < n_queries`` query-row
    selector (the RRF fusion aligns query vectors with the BM25 literal
    query ids); ``with_rank`` additionally emits the per-query rank as
    ``dn_rank`` (CAST to BIGINT — Spark's ROW_NUMBER is INT, DuckDB's is
    BIGINT, and the fusion's schema compare needs one type). Defaults
    reproduce the registered ``sim_cosine_topk`` text byte-for-byte.
    """
    n_rel = rel or f"(SELECT * FROM ({norm_cte(d)}))"
    mat = "MATERIALIZED " if d == "duck" else ""
    qp = query_pred or f"vec_id < {n_queries}"
    rank_col = ", CAST(rn AS BIGINT) AS dn_rank" if with_rank else ""
    return f"""
    WITH n AS {mat}(SELECT * FROM {n_rel}),
    q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE {qp}),
    sims AS (
        SELECT {"/*+ BROADCAST(q) */" if d == "spark" else ""} q.q_id, c.vec_id AS cand_id,
               ROUND({_dot('q.qv', 'c.v', d)} / (q.qn * c.nrm), 6) AS cosine
        FROM n c JOIN q ON c.vec_id <> q.q_id)
    SELECT q_id, cand_id, cosine{rank_col} FROM (
        SELECT q_id, cand_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
        FROM sims)
    WHERE rn <= {k}
    {"ORDER BY q_id, cosine DESC, cand_id" if ordered else ""}
    """


EXACT_PAIRS_CAP = 65_536  # ≈2×10⁹ pairs — the most an *exact* scan should ever own


def cosine_near_dup_sql(
    d: str, threshold: float = 0.42, rel: str | None = None, max_n: int = EXACT_PAIRS_CAP
) -> str:
    """All pairs above a cosine threshold — exact O(N²/2) baseline.

    GATED, not a first-class 100 TB query: the registered form only scans
    ``vec_id < max_n`` (identical cap on the oracle, a no-op at gate sf),
    so no registered plan is an unbounded quadratic self-join. Above the
    cap, use :func:`cosine_near_dup_lsh` (the scale path) and keep this
    as the per-bucket / sampled-slice verifier it is."""
    n_rel = rel or f"(SELECT * FROM ({norm_cte(d)}))"
    mat = "MATERIALIZED " if d == "duck" else ""
    return f"""
    WITH n AS {mat}(SELECT * FROM {n_rel} WHERE vec_id < {max_n})
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND({_dot('a.v', 'b.v', d)} / (a.nrm * b.nrm), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id)
    WHERE cosine >= {threshold}
    ORDER BY id_a, id_b
    """


def _plane_ref(idx: int, d: str) -> str:
    """How a bucket expression names hyperplane ``idx``.

    Spark: the inline array literal (codegen folds it — free). DuckDB:
    a COLUMN reference ``__pl{idx}`` into the 1-row :func:`planes_rel_duck`
    relation the enclosing FROM must cross-join — measured r16: a
    constant list literal INSIDE a DuckDB lambda is re-built per element
    evaluation (~1ms per 64-dim plane dot, 29s to bucket 500 rows; the
    r15 single-band oracle already paid 15.2s at sf0.1 for the same
    reason), while a captured column VALUE is indexed at list-extract
    speed. The products and fold order are bit-identical either way, so
    the hash gate is untouched."""
    if d == "spark":
        return G.array_lit(G.PLANES_MB[idx], "spark")
    return f"__pl{idx}"


def planes_rel_duck(n_planes: int = G.LSH_BANDS * G.LSH_BAND_BITS) -> str:
    """The 1-row (``__pl0``..) hyperplane relation for DuckDB bucket
    arms; PLANES == PLANES_MB[:8], so the 8-plane coarse key reuses the
    first eight columns."""
    cols = ", ".join(
        f"{G.array_lit(G.PLANES_MB[i], 'duck')} AS __pl{i}" for i in range(n_planes)
    )
    return f"SELECT {cols}"


def lsh_bucket_expr(v: str, d: str) -> str:
    """Bucket id = 8 sign bits of dot(v, plane_p), fixed seeded planes.

    This COARSE single-band bucket (256 buckets at any corpus size) is
    the collapse operator's clustering key — coarse is right there: one
    anchor per bucket, O(N) compares, mega coverage. The pair-enumerating
    query uses the fine multi-band keys from
    :func:`lsh_band_bucket_exprs` instead (r16). The DuckDB arm
    references :func:`planes_rel_duck` columns (see ``_plane_ref``)."""
    terms = []
    for p in range(G.N_PLANES):
        terms.append(
            f"(CASE WHEN {_dot(v, _plane_ref(p, d), d)} > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


MB_COLS = [f"mb{i}" for i in range(G.LSH_BANDS)]


def lsh_band_bucket_exprs(v: str, d: str) -> list[str]:
    """Per-band bucket ids for the multi-band sign-LSH (r16): band i is
    LSH_BAND_BITS sign bits of dot(v, plane_p) over planes
    [i·bits, (i+1)·bits) of the shared seed-7 stream — the MinHash
    banding shape (``dedup.py`` band_exprs) applied to hyperplane
    signs. Band 0's low 8 bits are therefore the legacy single-band
    bucket (PLANES == PLANES_MB[:8], asserted in sqlgen)."""
    exprs = []
    for band in range(G.LSH_BANDS):
        terms = []
        for j in range(G.LSH_BAND_BITS):
            ref = _plane_ref(band * G.LSH_BAND_BITS + j, d)
            terms.append(f"(CASE WHEN {_dot(v, ref, d)} > 0 THEN {1 << j} ELSE 0 END)")
        exprs.append(" + ".join(terms))
    return exprs


LSH_MAX_BUCKET = 4096  # per-(band, bucket) hot cap for the pair-enumerating
# query. r16 re-derivation (SCALE.md recall table): with 16-bit bands the
# expected BACKGROUND bucket is N/65536 rows — the cap never engages on
# noise below N ≈ 268M vectors — so a bucket over the cap is a genuine
# near-identical cluster, whose C(n,2) pair set is the OUTPUT being
# quadratic, not the plan: clusters ≤ 4096 members enumerate (≤ 8.4M
# pairs each, ≤ (cap/2)·N per band corpus-wide — linear in N), larger
# ones belong to :func:`near_dup_collapse` (one anchor row). The r14
# 10×-on-3×-corpus blowup came from FIXED 8-bit buckets crowding with
# corpus growth (avg bucket N/256 crossed the cap at sf3), which the
# 16-bit keys remove; at 100 TB the knob is more bits, never a wider cap.


def cosine_near_dup_lsh_sql(
    d: str, threshold: float = 0.30, rel: str | None = None,
    max_bucket: int = LSH_MAX_BUCKET, ordered: bool = True,
    ok_rel: str | None = None,
) -> str:
    """Near-dup pairs restricted to equal (band, bucket) under the
    multi-band sign-LSH (the scale path); same planes on both dialects,
    so identical candidate sets.

    r16 re-plan (VERDICT r15 item 2): the r14 single-band 8-bit key
    measured 2.4–5.7% pair recall in the ≥0.42 near-dup band it targets
    (`sim_ann_recall_audit`) — the planted near-identical clusters land
    in hot buckets the cap excludes, and with one band there is no other
    route to recover them. Now: LSH_BANDS bands × LSH_BAND_BITS sign
    bits (64 seed-7 hyperplanes), candidate pairs = union over bands of
    same-(band, bucket) pairs, per-band hot-bucket cap. Measured on the
    skewed rehearsal corpora: ≥0.42-band pair recall 0.057/0.024 →
    0.926/0.926 at sf1/sf3 with candidate pairs linear-bounded by
    (cap/2)·N per band.

    Plan shape: the bucket-size window shuffles the exploded relation on
    (band, bucket) — the same key the self-join uses, no extra exchange
    — and the per-pair GROUP BY dedup (a pair can collide in several
    bands) is map-combinable. Cosine is computed per band collision and
    MIN-aggregated: the value is identical across bands (same fold, same
    rounding), so MIN is deterministic and avoids a re-join against the
    vector relation.

    When ``rel`` is given it must already provide
    (vec_id, v, nrm, mb0..mb{bands-1}) — the staged Spark path
    materializes the 64 plane dots once instead of recomputing them on
    both sides of the self-join.

    ``ok_rel`` (Spark arm only, r17): a MATERIALIZED capped banded
    relation (``sim_lsh_ok_sql``) to self-join directly — the
    ``__minhash_ok`` discipline. The payoff is bigger here than in the
    hash families: the exploded rows carry the 64-double vector ``v``
    (needed for the per-collision cosine), so the inline spelling
    shuffles ~512 B/row through the (band, bkey) window exchange TWICE
    per query; the staged relation pays that once per corpus."""
    enc = 1 << 20  # band·2^20 + bucket (bucket < 2^16): MIN picks the
    # lowest colliding band deterministically, decomposed below
    idiv = "DIV" if d == "spark" else "//"
    if ok_rel:
        prefix = f"""
    WITH ok AS (SELECT vec_id, v, nrm, band, bkey FROM {ok_rel}),"""
    else:
        if rel:
            n_rel = f"SELECT * FROM {rel}"
        else:
            cols = ", ".join(
                f"{e} AS {c}" for c, e in zip(MB_COLS, lsh_band_bucket_exprs("v", d))
            )
            planes = f" CROSS JOIN ({planes_rel_duck()}) __planes" if d == "duck" else ""
            n_rel = (
                f"SELECT vec_id, v, nrm, {cols} "
                f"FROM (SELECT * FROM ({norm_cte(d)})){planes}"
            )
        mat = "MATERIALIZED " if d == "duck" else ""
        exploded = G.band_explode("n", MB_COLS, d, carry="vec_id, v, nrm")
        prefix = f"""
    WITH n AS {mat}({n_rel}),
    e AS ({exploded}),
    sized AS (
        SELECT vec_id, v, nrm, band, bkey,
               COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
        FROM e),
    ok AS (SELECT vec_id, v, nrm, band, bkey FROM sized WHERE bsz <= {max_bucket}),"""
    return f"""{prefix}
    cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.band AS band, a.bkey AS bkey,
               ROUND({_dot('a.v', 'b.v', d)} / (a.nrm * b.nrm), 6) AS cosine
        FROM ok a JOIN ok b
          ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           CAST(MIN(band * {enc} + bkey) {idiv} {enc} AS INT) AS band,
           CAST(MIN(band * {enc} + bkey) % {enc} AS INT) AS bucket,
           MIN(cosine) AS cosine
    FROM cand
    WHERE cosine >= {threshold}
    GROUP BY id_a, id_b
    {"ORDER BY id_a, id_b" if ordered else ""}
    """


def near_dup_collapse_sql(d: str, threshold: float = 0.30, rel: str | None = None) -> str:
    """Mega-cluster COLLAPSE for the embedding near-dup path: one
    canonical row per near-dup cluster instead of the C(n,2) pair list —
    the SCALE.md collapse-not-enumerate discipline made a first-class,
    oracle-checked query (the ``sim_semantic_dedup`` keep-lowest-id
    verdict shape applied to the sign-LSH bucketing).

    Formulation: each bucket's ANCHOR is its lowest vec_id; every member
    is compared against its bucket's anchor ONLY — O(N) similarity
    computations total, never a within-bucket self-join. A member within
    ``threshold`` of the anchor collapses into the anchor's cluster;
    everything else stays its own singleton. Output is GROUP BY
    canonical id: ≤ N rows no matter how hot a bucket is — the skewed-
    rehearsal bucket whose UNCAPPED pair enumeration is ~581k rows (the
    r14 cap now excludes it from ``sim_cosine_near_dup_lsh`` entirely)
    emits ONE row here.

    Scale shape: anchors are one per bucket (≤ 2^8 with 8 planes; still
    tiny with more planes) → the anchor-vector relation broadcasts to
    both joins; the only exchange over N is the final map-combinable
    GROUP BY canonical_id. Recall note: anchor-linking is the standard
    boilerplate-cluster approximation (near-identical members are all
    near the anchor); the pair-enumerating query remains the exact
    witness for small buckets."""
    if rel:
        n_rel = f"SELECT * FROM {rel}"
    else:
        planes = (
            f" CROSS JOIN ({planes_rel_duck(G.N_PLANES)}) __planes"
            if d == "duck"
            else ""
        )
        n_rel = (
            f"SELECT vec_id, v, nrm, {lsh_bucket_expr('v', d)} AS bucket "
            f"FROM (SELECT * FROM ({norm_cte(d)})){planes}"
        )
    mat = "MATERIALIZED " if d == "duck" else ""
    hint = "/*+ BROADCAST(av) */" if d == "spark" else ""
    ahint = "/*+ BROADCAST(a) */" if d == "spark" else ""
    return f"""
    WITH n AS {mat}({n_rel}),
    anchors AS (
        SELECT bucket, MIN(vec_id) AS anchor_id FROM n GROUP BY bucket),
    av AS (
        SELECT {ahint} a.bucket, a.anchor_id, x.v AS av_v, x.nrm AS av_nrm
        FROM anchors a JOIN n x ON x.vec_id = a.anchor_id),
    scored AS (
        SELECT {hint} m.vec_id, m.bucket, av.anchor_id,
               ROUND({_dot('m.v', 'av.av_v', d)} / (m.nrm * av.av_nrm), 6) AS cos_anchor
        FROM n m JOIN av ON m.bucket = av.bucket),
    verdict AS (
        SELECT vec_id, bucket,
               CASE WHEN cos_anchor >= {threshold} THEN anchor_id ELSE vec_id END AS canonical_id,
               cos_anchor
        FROM scored)
    SELECT canonical_id, MIN(bucket) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_collapsed,
           MIN(cos_anchor) AS min_cos_anchor
    FROM verdict
    GROUP BY canonical_id
    ORDER BY canonical_id
    """


def _assign_body(d: str, n_src: str, c_src: str) -> str:
    """Shared nearest-centroid argmax over ``n_src`` (vec_id, v, nrm) and
    ``c_src`` (c_id, cv, cn) — ONE spelling of the 6dp-rounded similarity
    and the -c_id tie-break, used by both the assignment CTE and the IVF
    top-k plan so the tie-break discipline cannot drift between copies.

    Spark: aggregate argmax, not a window — max(struct(sim, -c_id))
    partially combines MAP-SIDE, collapsing the N×k broadcast-join output
    back to N rows *before* the shuffle; ROW_NUMBER() OVER (PARTITION BY
    vec_id) would sort-shuffle all N×k rows. Same winner: max sim, then
    lowest c_id (negated for the tie-break direction)."""
    sim = f"ROUND({_dot('n.v', 'c.cv', d)} / (n.nrm * c.cn), 6)"
    if d == "spark":
        return f"""
        SELECT /*+ BROADCAST(c) */ n.vec_id,
               any_value(n.v) AS v, any_value(n.nrm) AS nrm,
               -max(struct({sim} AS s, -c.c_id AS nc)).nc AS c_id
        FROM {n_src} n CROSS JOIN {c_src} c GROUP BY n.vec_id"""
    return f"""
    SELECT vec_id, v, nrm, c_id FROM (
        SELECT n.vec_id, n.v, n.nrm, c.c_id,
               ROW_NUMBER() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY {sim} DESC, c.c_id
               ) AS rn
        FROM {n_src} n CROSS JOIN {c_src} c) WHERE rn = 1"""


def ivf_topk_sql(
    d: str,
    k: int = 10,
    n_queries: int = 4,
    n_centroids: int = 16,
    n_probe: int = 4,
    rel: str | None = None,
    ordered: bool = True,
    assign_rel: str | None = None,
) -> str:
    """IVF-style approximate top-k: partition vectors into inverted lists
    by nearest centroid, probe only the ``n_probe`` closest lists per
    query — the scale path where brute force is O(Q×N) but IVF is
    O(Q×N×n_probe/n_centroids).

    "Training" is deterministic (centroids = the first ``n_centroids``
    vectors) so Spark and the oracle build identical lists; at real scale
    the centroids come from a k-means sample and the same SQL applies.
    Similarities are rounded to 6dp with vec_id tie-breaks before every
    ranking, so both engines pick identical lists and neighbors.

    Scale shape: centroid table is tiny → both the assignment pass and the
    probe pass are broadcast joins; the candidate join shuffles on the
    centroid id (the inverted-list key), never all-pairs.
    """
    n_rel = rel or f"(SELECT * FROM ({norm_cte(d)}))"
    hint = "/*+ BROADCAST(c) */" if d == "spark" else ""
    qhint = "/*+ BROADCAST(q, p) */" if d == "spark" else ""
    mat = "MATERIALIZED " if d == "duck" else ""
    # ``assign_rel`` (r16): splice in the session-staged assignment
    # relation instead of recomputing the centroid argmax inline — same
    # rows by construction (the staged view IS assign_cte_sql over the
    # same norms relation); used by the recall audit and the staged
    # ivf_topk builder so the assign subtree's exchange+agg runs once
    # per session, not once per consumer. Default None keeps the
    # registered query text byte-identical.
    assign = (
        f"SELECT * FROM {assign_rel}" if assign_rel else _assign_body(d, "n", "c")
    )
    return f"""
    WITH n AS {mat}(SELECT * FROM {n_rel}),
    c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < {n_centroids}),
    assign AS ({assign}),
    q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < {n_queries}),
    probe AS (
        SELECT q_id, c_id FROM (
            SELECT {hint} q.q_id, c.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND({_dot('q.qv', 'c.cv', d)} / (q.qn * c.cn), 6) DESC, c.c_id
                   ) AS rn
            FROM q CROSS JOIN c) WHERE rn <= {n_probe}),
    sims AS (
        SELECT {qhint} q.q_id, a.vec_id AS cand_id,
               ROUND({_dot('q.qv', 'a.v', d)} / (q.qn * a.nrm), 6) AS cosine
        FROM q JOIN probe p ON q.q_id = p.q_id
               JOIN assign a ON a.c_id = p.c_id
        WHERE a.vec_id <> q.q_id)
    SELECT q_id, cand_id, cosine FROM (
        SELECT q_id, cand_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rk
        FROM sims) WHERE rk <= {k}
    {"ORDER BY q_id, cosine DESC, cand_id" if ordered else ""}
    """


def assign_cte_sql(d: str, n_centroids: int = 16, rel: str | None = None) -> str:
    """Nearest-centroid assignment relation (vec_id, v, nrm, c_id).

    Centroids are deterministic (first ``n_centroids`` vectors) so Spark
    and the oracle build identical clusters; at real scale they come from
    a k-means sample and the same SQL applies. The centroid side is tiny →
    broadcast; the assignment pass never shuffles the big side."""
    n_rel = rel or f"(SELECT * FROM ({norm_cte(d)}))"
    return _assign_body(
        d,
        f"(SELECT * FROM {n_rel})",
        f"(SELECT vec_id AS c_id, v AS cv, nrm AS cn "
        f"FROM {n_rel} WHERE vec_id < {n_centroids})",
    )


def semantic_dedup_sql(
    d: str,
    threshold: float = 0.42,
    n_centroids: int = 16,
    rel: str | None = None,
    assign_rel: str | None = None,
) -> str:
    """SemDeDup-style semantic dedup: cluster by nearest centroid, then
    drop any vector with a higher-similarity twin of smaller id *in the
    same cluster* (greedy-by-id keeper — deterministic, so oracle-able).

    Scale shape: the quadratic candidate term is confined per cluster
    (N²/k for balanced clusters; raise ``n_centroids`` with corpus size
    and cap hot clusters exactly like the minhash/ngram hot buckets). The
    pair join shuffles on the cluster id only; the emitted verdict is one
    scalar row per vector, not the pair list.
    """
    if assign_rel:
        head = f"WITH assign AS (SELECT * FROM {assign_rel})"
    else:
        mat = "MATERIALIZED " if d == "duck" else ""
        head = f"WITH assign AS {mat}({assign_cte_sql(d, n_centroids, rel)})"
    return f"""
    {head},
    drops AS (
        SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
          ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        WHERE ROUND({_dot('a.v', 'b.v', d)} / (a.nrm * b.nrm), 6) >= {threshold})
    SELECT s.vec_id, CAST(s.c_id AS BIGINT) AS cluster_id,
           (dr.vec_id IS NULL) AS kept
    FROM assign s LEFT JOIN drops dr ON s.vec_id = dr.vec_id
    ORDER BY s.vec_id
    """


# -- staged Spark builders (cache the shared relation once) ----------------


def cosine_topk(spark, k: int = 10, n_queries: int = 8):
    return spark.sql(cosine_topk_sql("spark", k, n_queries, rel=stage(spark, "sim_norms")))


_PAIR_BLOCK_MAX = 512  # rows of the larger-id side per mapInArrow block
_PAIR_CHUNK = 8192  # smaller-id columns per accumulator chunk (bounds memory)


def exact_pair_rows(spark, rel: str, threshold: float, max_n: int):
    """Arrow-native exact pair scan (r16, guide §4.2): the same rows as
    ``cosine_near_dup_sql``'s Spark arm, computed by NumPy under
    ``mapInArrow`` instead of a BroadcastNestedLoopJoin projection.

    Why: the fold-dot is a CodegenFallback higher-order function —
    interpreted per pair — and no JVM spelling of a 64-term dot runs
    compiled inside the pair join's consume path (an unrolled sum
    crosses HotSpot's huge-method limit; measured in
    OPTIMIZATION_r16.md). This is guide §4.2's case exactly: Spark does
    distribution, NumPy does the batch arithmetic.

    Bit-exactness: the SQL fold is ``((0 + a[0]·b[0]) + a[1]·b[1]) + …``
    — here the accumulator loops over dims (``acc += Mb[:,d] · Mi[:,d]``),
    so each pair's products and additions happen in the identical IEEE
    op order (NumPy's elementwise ·/+ are correctly-rounded IEEE doubles
    and never fused), the norm product and division reuse the staged
    ``nrm`` values, and the authoritative ``ROUND(…, 6) >= threshold``
    filter runs in Spark SQL on the raw double — NumPy only PREFILTERS
    with a 1e-6 slack (half-up rounding moves a value by at most 5e-7,
    so no qualifying pair can be dropped; NaN cosines are kept via the
    ``~(cos < t)`` form because Spark orders NaN above every double).
    Verified row-identical to the SQL arm by the oracle gate and the
    similarity fuzzers.

    The collect is the ``connected_components`` bounded-read class: at
    most ``max_n`` ≤ EXACT_PAIRS_CAP rows of (id, 64 doubles, nrm) — the
    registered queries cap the scan universe by design (the audit at
    AUDIT_PAIR_SAMPLE, the exact near-dup at EXACT_PAIRS_CAP), so the
    matrix is ≤ ~34 MB at any corpus scale and broadcasts once. Blocks
    of the larger-id side fan out across the cluster; each task slices
    the broadcast matrix, so the quadratic work is evenly spread."""
    import numpy as np
    from pyspark.sql import functions as F

    from torchfusion_spark.session import default_parallelism

    schema = "id_a bigint, id_b bigint, cosine_raw double"
    # Arrow transfer (r16, guide §6): toPandas moves the (id, vector,
    # norm) matrix as Arrow batches — measured 0.2–0.3 s faster per call
    # than the pickled-row collect at the 4096-id audit universe, and
    # bit-identical (raw IEEE doubles either way; verified elementwise)
    pdf = spark.sql(
        f"SELECT vec_id, v, nrm FROM {rel} WHERE vec_id < {max_n}"
    ).toPandas()
    pdf = pdf.sort_values("vec_id")
    out_schema = schema
    if len(pdf) < 2:
        pairs = spark.createDataFrame([], out_schema)
    else:
        ids = pdf["vec_id"].to_numpy(np.int64)
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        nr = pdf["nrm"].to_numpy(np.float64)
        bc = spark.sparkContext.broadcast((ids, M, nr))
        n = len(pdf)
        bs = min(_PAIR_BLOCK_MAX, max(16, -(-n // (4 * default_parallelism()))))
        nblocks = -(-n // bs)
        lo = threshold - 1e-6
        chunk = _PAIR_CHUNK

        def op(batches):
            import numpy as np
            import pyarrow as pa

            ids, M, nr = bc.value
            dim = M.shape[1]
            for batch in batches:
                for blk in batch.column(0).to_pylist():
                    j0, j1 = blk * bs, min((blk + 1) * bs, len(ids))
                    if j0 >= j1:
                        continue
                    Mb, nb = M[j0:j1], nr[j0:j1]
                    for i0 in range(0, j1, chunk):
                        i1 = min(i0 + chunk, j1)
                        acc = np.zeros((j1 - j0, i1 - i0))
                        for d in range(dim):
                            acc += Mb[:, d : d + 1] * M[i0:i1, d][None, :]
                        cos = acc / (nr[i0:i1][None, :] * nb[:, None])
                        tri = (i0 + np.arange(i1 - i0))[None, :] < (
                            j0 + np.arange(j1 - j0)
                        )[:, None]
                        keep = tri & ~(cos < lo)
                        rj, ci = np.nonzero(keep)
                        if len(rj) == 0:
                            continue
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(ids[i0 + ci], type=pa.int64()),
                                pa.array(ids[j0 + rj], type=pa.int64()),
                                pa.array(cos[rj, ci], type=pa.float64()),
                            ],
                            names=["id_a", "id_b", "cosine_raw"],
                        )

        blocks = spark.range(0, nblocks, 1, min(default_parallelism(), nblocks))
        pairs = blocks.mapInArrow(op, out_schema)
    return (
        pairs.select(
            "id_a", "id_b", F.expr("ROUND(cosine_raw, 6)").alias("cosine")
        )
        .where(F.expr(f"cosine >= {threshold}"))
    )


def cosine_near_dup(spark, threshold: float = 0.42, max_n: int = EXACT_PAIRS_CAP):
    return exact_pair_rows(spark, stage(spark, "sim_norms"), threshold, max_n).orderBy(
        "id_a", "id_b"
    )


@declare("sim_assign", deps=("sim_norms",), params={"n_centroids": 16}, prewarm=True)
def _sim_assign(ctx, n_centroids):
    """The nearest-centroid assignment relation (vec_id, v, nrm, c_id) —
    shared by ``semantic_dedup``, the staged ``ivf_topk`` builder and the
    recall audit's IVF side (r16: each consumer used to recompute the
    centroid argmax per call — one broadcast cross join + a full-width
    exchange into the groupBy, ×3 consumers)."""
    return ctx.cache(
        "__sim_assign",
        ctx.spark.sql(assign_cte_sql("spark", n_centroids, rel=ctx.dep("sim_norms"))),
    )


def ivf_topk(spark, k: int = 10, n_queries: int = 4, n_centroids: int = 16):
    # n_centroids threads through BOTH the staged assign and the probe
    # SQL (code-review r16): a staged view built for a different centroid
    # count than the probe ranks would silently drop the extra lists'
    # candidates — one value must control both.
    rel, assign = stage(spark, "sim_norms", "sim_assign", n_centroids=n_centroids)
    return spark.sql(
        ivf_topk_sql(
            "spark", k, n_queries, n_centroids=n_centroids, rel=rel, assign_rel=assign
        )
    )


def semantic_dedup(spark, threshold: float = 0.42, n_centroids: int = 16):
    """Staged Spark path: the assignment relation is referenced three
    times (both pair sides + the verdict scan) — it is staged once
    (``sim_assign``)."""
    view = stage(spark, "sim_assign", n_centroids=n_centroids)
    return spark.sql(semantic_dedup_sql("spark", threshold, assign_rel=view))


@declare("sim_buckets", deps=("sim_norms",), prewarm=True)
def _sim_buckets(ctx):
    """(bucketed view, capped banded view): the sign-LSH bucketed
    relation (vec_id, v, nrm, bucket, mb0..mb{bands-1}) — shared by the
    pair-enumerating LSH query (the fine multi-band mb* keys), the
    cluster-collapse query (the coarse band-0 ``bucket``) and the recall
    audit, which run back-to-back in gate order and would otherwise
    recompute the 64+8 plane dots repeatedly — and, beside it (r17, the
    ``minhash_sig`` discipline), the capped banded relation: the pair
    self-join reads it on both sides exchange-free, and the 64-double
    vector payload crosses the (band, bkey) exchange once per corpus
    instead of twice per query."""
    spark = ctx.spark
    mb_cols = ", ".join(
        f"{e} AS {c}" for c, e in zip(MB_COLS, lsh_band_bucket_exprs("v", "spark"))
    )
    b = ctx.cache(
        "__sim_buckets",
        spark.sql(
            f"SELECT vec_id, v, nrm, {lsh_bucket_expr('v', 'spark')} AS bucket, "
            f"{mb_cols} FROM {ctx.dep('sim_norms')}"
        ),
    )
    exploded = G.band_explode(b, MB_COLS, "spark", carry="vec_id, v, nrm")
    ok = ctx.cache(
        "__sim_lsh_ok",
        spark.sql(
            f"""
            SELECT vec_id, v, nrm, band, bkey FROM (
                SELECT vec_id, v, nrm, band, bkey,
                       COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
                FROM ({exploded}))
            WHERE bsz <= {LSH_MAX_BUCKET}
            """
        ),
    )
    return b, ok


def cosine_near_dup_lsh(
    spark, threshold: float = 0.30, max_bucket: int = LSH_MAX_BUCKET
):
    # the staged ok relation bakes in the default cap — a caller probing
    # a different cap (the skew report's uncapped growth witness) takes
    # the inline spelling
    rel, ok = stage(spark, "sim_buckets")
    return spark.sql(
        cosine_near_dup_lsh_sql(
            "spark",
            threshold,
            rel=rel,
            max_bucket=max_bucket,
            ok_rel=ok if max_bucket == LSH_MAX_BUCKET else None,
        )
    )


def lsh_capped_bucket_stats(spark, max_bucket: int = LSH_MAX_BUCKET):
    """Embedding sign-LSH twin of ``dedup.simhash_capped_bucket_stats``:
    the (band, bucket) cells of the multi-band key whose size exceeds
    the per-band hot cap — exactly what the pair-enumerating query
    excludes (the collapse operator owns those clusters) — built on the
    shared observer so the cap semantics and report shape cannot drift
    from the other families."""
    from torchfusion_spark.operators.dedup import capped_bucket_stats

    rel, _ = stage(spark, "sim_buckets")
    return capped_bucket_stats(spark, rel, MB_COLS, max_bucket, carry="vec_id")


def near_dup_collapse(spark, threshold: float = 0.30):
    rel, _ = stage(spark, "sim_buckets")
    return spark.sql(near_dup_collapse_sql("spark", threshold, rel=rel))


AUDIT_PAIR_SAMPLE = 4_096  # id-prefix universe for the pair-recall estimate:
# C(4096,2) ≈ 8.4M exact pairs — a recall AUDIT is a sampled estimate by
# design (measured: the 65536-id gate cap costs 225s at sf1 through the
# fold-dot NLJ, which no per-round bench should pay); fixture corpora hold
# <= 2000 vectors, so gate-scale results are identical to an uncapped scan


def _unpivot_methods(d: str) -> str:
    """2-row method selector exploded FROM the single ``pr`` row — the
    per-dialect lateral spelling (Spark LATERAL VIEW / DuckDB UNNEST):
    a 1×2 CROSS JOIN over VALUES planned as a CartesianProduct at sf1,
    which is the audit's scale-killer flag class even when both sides
    are literal-sized (r15 plan audit)."""
    lits = "'near_dup_lsh', 'near_dup_lsh_hi'"
    if d == "spark":
        return f"LATERAL VIEW explode(array({lits})) __s AS method"
    return f", UNNEST([{lits}]) AS __s(method)"


def ann_recall_audit_sql(
    d: str,
    k: int = 10,
    n_queries: int = 4,
    threshold: float = 0.30,
    max_bucket: int = LSH_MAX_BUCKET,
    max_n: int = AUDIT_PAIR_SAMPLE,
    rel: str | None = None,
    bucket_rel: str | None = None,
    exact_rel: str | None = None,
    assign_rel: str | None = None,
    n_centroids: int = 16,
    ok_rel: str | None = None,
) -> str:
    """Recall audit for the two approximate-ANN paths (VERDICT r14
    item 6): the r14 hot-bucket cap made exclusion the sanctioned
    semantics for oversized LSH buckets, which silently prices recall —
    this witness MEASURES that price, hash-checked like everything else.

    Three rows: ``ivf_topk`` = recall@k of the IVF probe against the
    exact brute-force top-k on the identical query set; ``near_dup_lsh``
    = pair recall of the capped sign-LSH join against the exact pair
    scan at the same threshold; ``near_dup_lsh_hi`` = the same recall
    restricted to exact cosine >= ``hi`` = 0.42, the family's registered
    near-dup threshold (``sim_cosine_near_dup`` / ``sim_semantic_dedup``)
    — the near-duplicate band the LSH actually targets (at the 0.30
    pair threshold the exact set is dominated by mildly-similar pairs a
    sign bucket is not meant to catch; the hi band is the figure that
    says whether DEDUP recall is healthy — this row is what drove the
    r16 multi-band re-plan). Both pair sides are restricted to
    the same id-prefix SAMPLE universe (vec_id < ``max_n`` =
    AUDIT_PAIR_SAMPLE): a recall audit is a sampled estimate by design —
    the compared domains are identical at every scale and the exact
    side stays ~8.4M pairs no matter the corpus. Hits come from ONE
    FULL OUTER join per family with conditional counts, and each
    component relation AND the aggregated ``pr`` row are referenced
    exactly ONCE — Catalyst inlines twice-referenced CTEs, and a ``pr``
    referenced by two UNION branches duplicated the whole pair subtree
    (exact scan + LSH join run twice; caught by the r15 code-review
    pass against the plan audit's component sums), so the two pair rows
    unpivot from the single ``pr`` row via a per-dialect lateral
    explode (a 1×2 VALUES cross join planned as a CartesianProduct).
    Counts are exact BIGINTs, and the recall division is zero-guarded
    (ANSI: an empty exact side must yield NULL, not DIVIDE_BY_ZERO).

    ``n_approx_only`` (r16, ADVICE) makes the lp ⊆ ep invariant
    observable instead of silently assumed: every capped-LSH pair is
    necessarily in the exact gated scan (same id universe, same
    threshold, same 6dp rounding), so the pair rows must report 0 — a
    nonzero count means the two cosine spellings diverged. For
    ``ivf_topk`` the column is the probe's false-positive count
    (approx candidates outside the exact top-k), i.e. k·|Q| − n_hit
    when both sides are full. The hi pair row reports the SAME lp-only
    count as the base row (an lp-only pair has no exact cosine to
    band-attribute; the column is the anomaly detector, not a band
    statistic)."""
    hi = 0.42
    # every SQL component here is an INTERMEDIATE under the hit joins —
    # ordered=False drops their global sorts (r16; rows identical, and a
    # sort's range-sampling pass would re-execute each subtree once)
    exact_tk = cosine_topk_sql(d, k, n_queries, rel=rel, ordered=False)
    approx_tk = ivf_topk_sql(
        d,
        k,
        n_queries,
        n_centroids=n_centroids,
        rel=rel,
        ordered=False,
        assign_rel=assign_rel,
    )
    # ``exact_rel`` (r16): the Spark arm passes the Arrow-computed exact
    # pair relation (:func:`exact_pair_rows` — row-identical to the SQL
    # arm, see its bit-exactness note) as a temp view; the oracle keeps
    # the relational spelling.
    if exact_rel is not None:
        exact_pr = f"SELECT id_a, id_b, cosine FROM {exact_rel}"
    else:
        exact_pr = cosine_near_dup_sql(d, threshold, rel=rel, max_n=max_n)
    approx_pr = cosine_near_dup_lsh_sql(
        d, threshold, rel=bucket_rel, max_bucket=max_bucket, ordered=False,
        ok_rel=ok_rel,
    )
    return f"""
    WITH et AS (SELECT q_id, cand_id FROM ({exact_tk}) __et),
    iv AS (SELECT q_id, cand_id FROM ({approx_tk}) __iv),
    ep AS (SELECT id_a, id_b, cosine FROM ({exact_pr}) __ep),
    lp AS (SELECT id_a, id_b, cosine FROM ({approx_pr}) __lp
           WHERE id_a < {max_n} AND id_b < {max_n}),
    tk AS (
        SELECT COUNT(et.q_id) AS n_exact, COUNT(iv.q_id) AS n_approx,
               COUNT(CASE WHEN et.q_id IS NOT NULL AND iv.q_id IS NOT NULL
                          THEN 1 END) AS n_hit,
               COUNT(CASE WHEN iv.q_id IS NOT NULL AND et.q_id IS NULL
                          THEN 1 END) AS n_approx_only
        FROM et FULL OUTER JOIN iv
          ON et.q_id = iv.q_id AND et.cand_id = iv.cand_id),
    pr AS (
        SELECT COUNT(ep.id_a) AS n_exact, COUNT(lp.id_a) AS n_approx,
               COUNT(CASE WHEN ep.id_a IS NOT NULL AND lp.id_a IS NOT NULL
                          THEN 1 END) AS n_hit,
               COUNT(CASE WHEN lp.id_a IS NOT NULL AND ep.id_a IS NULL
                          THEN 1 END) AS n_approx_only,
               COUNT(CASE WHEN ep.cosine >= {hi} THEN 1 END) AS n_exact_hi,
               COUNT(CASE WHEN lp.id_a IS NOT NULL AND ep.cosine >= {hi}
                          THEN 1 END) AS n_approx_hi,
               COUNT(CASE WHEN ep.id_a IS NOT NULL AND lp.id_a IS NOT NULL
                           AND ep.cosine >= {hi} THEN 1 END) AS n_hit_hi
        FROM ep FULL OUTER JOIN lp
          ON ep.id_a = lp.id_a AND ep.id_b = lp.id_b)
    SELECT method,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_approx AS BIGINT) AS n_approx,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_approx_only AS BIGINT) AS n_approx_only,
           CASE WHEN n_exact = 0 THEN CAST(NULL AS DOUBLE)
                ELSE ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall
    FROM (
        SELECT 'ivf_topk' AS method, n_exact, n_approx, n_hit, n_approx_only
        FROM tk
        UNION ALL
        SELECT method,
               CASE method WHEN 'near_dup_lsh' THEN pr.n_exact
                    ELSE pr.n_exact_hi END AS n_exact,
               CASE method WHEN 'near_dup_lsh' THEN pr.n_approx
                    ELSE pr.n_approx_hi END AS n_approx,
               CASE method WHEN 'near_dup_lsh' THEN pr.n_hit
                    ELSE pr.n_hit_hi END AS n_hit,
               pr.n_approx_only AS n_approx_only
        FROM pr {_unpivot_methods(d)}) __u
    ORDER BY method
    """


def ann_recall_audit(
    spark,
    k: int = 10,
    n_queries: int = 4,
    threshold: float = 0.30,
    max_bucket: int = LSH_MAX_BUCKET,
    n_centroids: int = 16,
):
    """Staged Spark path: norms, the LSH bucket relation and the IVF
    assignment resolve from session staging (each referenced by multiple
    components), in one :func:`stage` call so all three describe one
    embeddings corpus. The exact pair
    side is the Arrow scan (:func:`exact_pair_rows`), passed to the
    audit SQL as a DataFrame argument of ``spark.sql`` — per call
    because the scan is part of the audited computation (no caching
    across calls); pyspark binds it under a unique name for the parse
    only, so the audit leaves no view in the catalog."""

    norms, (rel, ok), assign = stage(
        spark, "sim_norms", "sim_buckets", "sim_assign", n_centroids=n_centroids
    )
    return spark.sql(
        ann_recall_audit_sql(
            "spark",
            k,
            n_queries,
            threshold,
            max_bucket,
            rel=norms,
            bucket_rel=rel,
            exact_rel="{ep}",
            # the IVF side reads the session-staged assignment like it
            # reads the staged norms/buckets (r16): the staged view is
            # content-identical to the inline CTE; the audited
            # computation — probe, candidate join, top-k, hit joins, and
            # the per-call exact side — still runs fresh every call. ONE
            # n_centroids value controls the staged view and the probe
            # SQL (code-review r16).
            assign_rel=assign,
            n_centroids=n_centroids,
            # the LSH pair side reads the staged capped band relation
            # (r17) when the audit runs at the registered cap — the
            # audited pair SET is identical (the staged relation is
            # row-identical to the inline sized/ok chain)
            ok_rel=ok if max_bucket == LSH_MAX_BUCKET else None,
        ),
        ep=exact_pair_rows(spark, norms, threshold, AUDIT_PAIR_SAMPLE),
    )


def norm_excluded_stats(spark):
    """Observer for ``norm_cte``'s dropped-row contract (ADVICE r14 #2):
    one row counting the embeddings rows every similarity surface
    excludes at the root — NULL vectors and zero-norm vectors (cosine is
    undefined at norm 0; under ANSI the division raises, r14 structural
    fix) — mirroring the capped-bucket stats so the exclusion is VISIBLE
    at scale instead of silently shrinking downstream row counts.
    Consumed by tools/skew_caps_report.py (`similarity_norm_exclusions`);
    kept = the staged norms relation's own count, so the report cannot
    measure a different rule than the operators apply."""

    emb, rel = stage(spark, "sim_emb", "sim_norms")
    # zero_norm is counted EXACTLY (the norm expression re-evaluated
    # once, report-time cost) rather than derived as nonnull - kept: an
    # embedding array containing a NULL element folds to a NULL norm and
    # is dropped by the same nrm > 0 filter, and the derived form
    # misattributed those rows to zero_norm (code-review r15); they get
    # their own null_norm column.
    zn = f"COUNT(CASE WHEN {_norm(_vec('spark'), 'spark')} = 0 THEN 1 END)"
    return spark.sql(
        "SELECT t.total, t.null_vec, t.zero_norm, "
        "t.nonnull - t.zero_norm - k.kept AS null_norm, k.kept "
        "FROM (SELECT COUNT(*) AS total, "
        "COUNT(CASE WHEN embedding IS NULL THEN 1 END) AS null_vec, "
        f"COUNT(embedding) AS nonnull, {zn} AS zero_norm "
        f"FROM {emb}) t CROSS JOIN "
        f"(SELECT COUNT(*) AS kept FROM {rel}) k"
    )


def quantize_int8_sql(d: str) -> str:
    """Per-vector symmetric int8 quantization with reconstruction audit.

    The 100 TB storage lever for embedding corpora: scale = max|v|/127 per
    vector, q = round(v/scale) in [-127, 127] — 4x smaller than float32 on
    disk/shuffle with ~1e-2 worst-case element error at 64 dims. Emits the
    audit columns (cosine of original vs reconstructed, max abs element
    error) rather than the int8 blobs so the gate checks the quantizer's
    numerics end-to-end.

    One scan, zero shuffles: every expression is a per-row higher-order
    function. Rounding uses floor(x + 0.5) — bit-identical across engines,
    unlike ROUND whose half-way rule differs (Spark HALF_UP vs DuckDB
    half-even on doubles).
    """
    v = _vec(d)
    if d == "spark":
        maxabs = "array_max(transform(v, x -> abs(x)))"
        recon = "transform(v, x -> floor(x / scale + 0.5D) * scale)"
        maxerr = "array_max(zip_with(v, r, (x, y) -> abs(x - y)))"
    else:
        maxabs = "list_max(list_transform(v, x -> abs(x)))"
        recon = "list_transform(v, x -> floor(x / scale + 0.5) * scale)"
        maxerr = f"list_max(list_transform(range(1, {G.EMB_DIM} + 1), i -> abs(v[i] - r[i])))"
    return f"""
    WITH base AS (SELECT vec_id, {v} AS v FROM embeddings),
    s AS (SELECT vec_id, v, greatest({maxabs}, 1e-12) / 127.0 AS scale FROM base),
    rq AS (SELECT vec_id, v, scale, {recon} AS r FROM s)
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           ROUND({_dot('v', 'r', d)} / greatest({_norm('v', d)} * {_norm('r', d)}, 1e-12), 6) AS cos_recon,
           ROUND({maxerr}, 6) AS max_abs_err
    FROM rq ORDER BY vec_id
    """


def _l2sq(a: str, b: str, d: str) -> str:
    """Left-fold squared L2 distance — identical accumulation order on
    both engines (same discipline as :func:`_dot`)."""
    if d == "spark":
        return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
    diffs = f"list_transform(range(1, {G.EMB_DIM} + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
    return f"list_reduce(list_prepend(0.0, {diffs}), (acc, x) -> acc + x)"


KMEANS_K = 8
KMEANS_ITERS = 2


def _km_spark_assign(pts_rel: str, cents_rel: str) -> str:
    """Spark assignment pass: map-side-combinable argmin (the N×k
    broadcast-join rows collapse to N before the shuffle). Shared by the
    unrolled oracle form and the staged iterative builder so the math
    cannot drift between them."""
    return (
        f"SELECT /*+ BROADCAST(c) */ p.vec_id, "
        f"min(struct(ROUND({_l2sq('p.v', 'c.cv', 'spark')}, 6) AS d2, c.c_id AS c)).c AS c_id "
        f"FROM {pts_rel} p CROSS JOIN {cents_rel} c GROUP BY p.vec_id"
    )


def _km_spark_upd(assign_rel: str, long_rel: str) -> str:
    """Spark centroid update: exact-DECIMAL per-(centroid, dim) mean."""
    return (
        f"SELECT a.c_id, l.dim, "
        f"ROUND(CAST(SUM(CAST(l.val AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cval "
        f"FROM {assign_rel} a JOIN {long_rel} l ON a.vec_id = l.vec_id "
        f"GROUP BY a.c_id, l.dim"
    )


def _km_spark_rebuild(upd_rel: str) -> str:
    """Spark centroid re-assembly from long format."""
    return (
        f"SELECT c_id, transform(array_sort(collect_list(struct(dim, cval))), "
        f"s -> s.cval) AS cv FROM {upd_rel} GROUP BY c_id"
    )


def kmeans_sql(d: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS, rel: str | None = None) -> str:
    """Distributed k-means training (Lloyd), ``iters`` iterations unrolled
    as a CTE chain — the trainer that produces the IVF centroids
    (`ivf_topk_sql` notes "at real scale the centroids come from a
    k-means sample"; this is that trainer, oracle-checked).

    Determinism contract (what makes a *trainer* hash-checkable
    cross-engine):
    * init = first ``k`` vectors (the deterministic seed the IVF witness
      already uses);
    * assignment = min squared-L2 via a left-fold (fixed accumulation
      order), rounded to 6dp with centroid-id tie-break;
    * centroid update = per-(centroid, dim) mean from **exact DECIMAL
      sums** (float sums are partitioning-order-dependent; decimal sums
      are not), re-quantized to 6dp each iteration so the next round's
      folds see bit-identical centroids on both engines.

    Scale shape per iteration: the centroid relation (k×dim doubles) is
    broadcast — the assignment pass never shuffles the big side; the
    update is ONE map-side-combined shuffle keyed (c_id, dim) — exactly
    the reduce-by-key update of production distributed k-means. Long
    format appears only on the k*dim-row centroid side, never the corpus.
    """
    n_rel = rel or f"(SELECT * FROM ({norm_cte(d)}))"
    mat = "MATERIALIZED " if d == "duck" else ""
    if d == "spark":
        explode = "LATERAL VIEW posexplode(v) pe AS p, val"
        long_pts = f"SELECT vec_id, p + 1 AS dim, val FROM pts {explode}"
    else:
        long_pts = f"SELECT vec_id, range AS dim, v[range] AS val FROM pts, range(1, {G.EMB_DIM} + 1)"
        rebuild = "list(cval ORDER BY dim)"

    ctes = [f"pts AS {mat}(SELECT vec_id, v FROM {n_rel})",
            f"cents0 AS (SELECT vec_id AS c_id, v AS cv FROM {n_rel} WHERE vec_id < {k})",
            f"long_pts AS {mat}({long_pts})"]
    for i in range(iters):
        if d == "spark":
            ctes.append(f"assign{i} AS ({_km_spark_assign('pts', f'cents{i}')})")
        else:
            ctes.append(f"""assign{i} AS (
            SELECT vec_id, c_id FROM (
                SELECT p.vec_id, c.c_id,
                       ROW_NUMBER() OVER (PARTITION BY p.vec_id
                           ORDER BY ROUND({_l2sq('p.v', 'c.cv', d)}, 6), c.c_id) AS rn
                FROM pts p CROSS JOIN cents{i} c) WHERE rn = 1)""")
        if d == "spark":
            ctes.append(f"upd{i} AS ({_km_spark_upd(f'assign{i}', 'long_pts')})")
            ctes.append(f"cents{i + 1} AS ({_km_spark_rebuild(f'upd{i}')})")
        else:
            ctes.append(f"""upd{i} AS (
            SELECT a.c_id, l.dim,
                   ROUND(CAST(SUM(CAST(l.val AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cval
            FROM assign{i} a JOIN long_pts l ON a.vec_id = l.vec_id
            GROUP BY a.c_id, l.dim)""")
            ctes.append(
                f"cents{i + 1} AS (SELECT c_id, {rebuild} AS cv FROM upd{i} GROUP BY c_id)"
            )
    last = iters - 1
    return f"""
    WITH {", ".join(ctes)},
    sizes AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM assign{last} GROUP BY c_id)
    SELECT u.c_id, CAST(u.dim AS BIGINT) AS dim, u.cval, s.n_members
    FROM upd{last} u JOIN sizes s ON u.c_id = s.c_id
    ORDER BY u.c_id, u.dim
    """


def kmeans(spark, k: int = KMEANS_K, iters: int = KMEANS_ITERS):
    """Staged iterative execution (same math as the unrolled oracle form,
    via the shared _km_spark_* fragments): the long-format point relation
    materializes ONCE (the unrolled CTE re-derives the posexplode per
    iteration) and each iteration's assignment materializes once — the
    unrolled final iteration reads assign{last} from BOTH the update and
    the membership count, re-running the N×k argmin pass, which is the
    single most expensive stage at scale. Centroids (k×dim rows) are
    checkpointed per round so the next assignment starts from data, not
    from the whole prior lineage.

    The loop runs in a scratch scope (``staging.scratch``): its views
    are named after the call, so concurrent calls cannot clobber each
    other's loop state, and the scope releases every checkpoint and
    drops every view on exit. The result — the k×dim-row centroid
    table, the model itself (MLlib's KMeans keeps it on the driver too)
    — is collected inside the scope and returned as local rows. NOTE for plan auditors: this builder *executes* the
    whole loop while building."""
    with scratch(spark) as s:
        pts = s.view(
            "__km_pts",
            s.checkpoint(spark.sql(f"SELECT vec_id, v FROM {stage(spark, 'sim_norms')}"), "pts"),
        )
        v_long = s.view(
            "__km_long",
            s.checkpoint(
                spark.sql(
                    f"SELECT vec_id, p + 1 AS dim, val FROM {pts} "
                    f"LATERAL VIEW posexplode(v) pe AS p, val"
                ),
                "long",
            ),
        )
        cents = f"(SELECT vec_id AS c_id, v AS cv FROM {pts} WHERE vec_id < {k})"
        for i in range(iters):
            v_assign = s.view(
                "__km_assign", s.checkpoint(spark.sql(_km_spark_assign(pts, cents)), "assign")
            )
            if i < iters - 1:
                upd = f"({_km_spark_upd(v_assign, v_long)})"
                cents = s.view(
                    "__km_cents", s.checkpoint(spark.sql(_km_spark_rebuild(upd)), "cents")
                )
        model = spark.sql(f"""
        WITH u AS ({_km_spark_upd(v_assign, v_long)}),
        sizes AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_members
                  FROM {v_assign} GROUP BY c_id)
        SELECT u.c_id, CAST(u.dim AS BIGINT) AS dim, u.cval, s.n_members
        FROM u JOIN sizes s ON u.c_id = s.c_id
        """)
        rows = model.collect()
    return spark.createDataFrame(rows, model.schema).orderBy("c_id", "dim")
