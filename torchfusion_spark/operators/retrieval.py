"""Hybrid retrieval fusion (SURVEY §2-D): reciprocal-rank fusion of the
two certified retrieval rankers — Okapi BM25 (keyword) and exact cosine
top-k (dense) — the standard RAG-pipeline stage between per-ranker
retrieval and generation (Cormack, Clarke & Buettcher, SIGIR 2009:
``RRF(d) = Σ_r 1/(k + rank_r(d))``, k = 60).

Query alignment: the BM25 literal query set uses query ids 1..4
(``textstats.BM25_QUERIES``); the dense side treats the embedding of
vec_id q as query q's query-by-example vector (vec_id aligns with
doc_id in the corpus), so both rankers produce (query_id, doc_id, rank)
lists over the same key domain and fuse without any id mapping.

Determinism: per-ranker ranks come from DECIMAL/6dp-rounded scores with
doc_id tie-breaks (accumulation-order-proof on both engines); each RRF
contribution is ``ROUND(1/(k+rank), 9)`` cast to DECIMAL(18,9) — a pure
function of the integer rank — and the fused score is an exact DECIMAL
sum, so cross-engine float accumulation can never flip a fused ranking.

Scale shape (the part that matters at 100 TB): fusion is a UNION ALL of
the two top-k lists followed by one map-combinable GROUP BY
(query_id, doc_id) — NOT a full-outer join of the rank lists (Spark
cannot broadcast a FULL OUTER side, so the join spelling drags a
sort-merge exchange into every fusion; the union-aggregate shape is one
tiny shuffle and generalizes to R rankers as an R-way union). Inputs
are post-TopK relations — |Q|·k rows regardless of corpus size; the
corpus-sized work happens once in the two staged relations
(``unigrams``, ``sim_norms`` — see ``torchfusion_spark.staging``), both
shared with every other retrieval/scoring query in the session.

Reference note: the reference engine (/root/reference, a DataFusion
front-end) ships no retrieval tier at all — this is a driver-mandated
LLM-pipeline extension, not reference parity.
"""

from __future__ import annotations

from torchfusion_spark.operators import sqlgen as G
from torchfusion_spark.operators import textstats
from torchfusion_spark.operators.similarity import cosine_topk_sql
from torchfusion_spark.operators.textstats import bm25_topk_sql
from torchfusion_spark.staging import stage

RRF_K = 60  # the published default smoothing constant
RRF_IN_K = 20  # per-ranker candidate-list depth fed into the fusion
RRF_OUT_K = 10  # fused top-k emitted per query
# the dense side's query-by-example vectors: one per BM25 literal query id
_QUERY_IDS = sorted({q for q, _ in textstats.BM25_QUERIES})
_DENSE_QUERY_PRED = f"vec_id IN ({', '.join(str(q) for q in _QUERY_IDS)})"


def rrf_fusion_sql(
    d: str,
    *,
    k_in: int = RRF_IN_K,
    k_out: int = RRF_OUT_K,
    rrf_k: int = RRF_K,
    tf_rel: str | None = None,
    norm_rel: str | None = None,
    ordered: bool = True,
) -> str:
    """Dual-dialect RRF over the BM25 and cosine top-k generators.

    Output: (query_id, doc_id, bm_rank, dn_rank, rrf_score, fused_rank)
    — the per-ranker ranks ride along NULL-able so a consumer can see
    which ranker(s) surfaced each document.
    """
    # the rank lists are INTERMEDIATES under the fusion rollup —
    # ordered=False drops their global sorts (r16; rows identical, and a
    # sort's range-sampling pass would re-execute each ranker once)
    bm = bm25_topk_sql(d, k=k_in, tf_rel=tf_rel, with_rank=True, ordered=False)
    dn = cosine_topk_sql(
        d, k=k_in, rel=norm_rel, query_pred=_DENSE_QUERY_PRED, with_rank=True,
        ordered=False,
    )
    contrib = f"CAST(ROUND(CAST(1 AS DOUBLE) / ({rrf_k} + rnk), 9) AS DECIMAL(18,9))"
    return f"""
    WITH bm AS (SELECT query_id, doc_id, bm_rank FROM ({bm})),
    dn AS (SELECT q_id AS query_id, cand_id AS doc_id, dn_rank FROM ({dn})),
    contribs AS (
        SELECT query_id, doc_id, 0 AS is_dense, bm_rank AS rnk FROM bm
        UNION ALL
        SELECT query_id, doc_id, 1 AS is_dense, dn_rank AS rnk FROM dn),
    fused AS (
        SELECT query_id, doc_id,
               MAX(CASE WHEN is_dense = 0 THEN rnk END) AS bm_rank,
               MAX(CASE WHEN is_dense = 1 THEN rnk END) AS dn_rank,
               SUM({contrib}) AS rrf
        FROM contribs GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, bm_rank, dn_rank,
           ROUND(CAST(rrf AS DOUBLE), 9) AS rrf_score,
           CAST(rn AS BIGINT) AS fused_rank
    FROM (
        SELECT query_id, doc_id, bm_rank, dn_rank, rrf,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rrf DESC, doc_id) AS rn
        FROM fused)
    WHERE rn <= {k_out}
    {"ORDER BY query_id, fused_rank" if ordered else ""}
    """


def rrf_fusion(spark):
    """Staged Spark path: both corpus-sized inputs are session-staged
    relations."""
    nrel, trel = stage(spark, "sim_norms", "unigrams")
    return spark.sql(rrf_fusion_sql("spark", tf_rel=trel, norm_rel=nrel))


RAG_CONTEXT_BUDGET = 600  # context char budget per query (~3 lead chunks)


def rag_context_sql(
    d: str,
    *,
    budget: int = RAG_CONTEXT_BUDGET,
    tf_rel: str | None = None,
    norm_rel: str | None = None,
) -> str:
    """RAG context assembly — the serving-prep stage after fusion: for
    each query take the RRF hits in fused order, attach each hit doc's
    LEAD CHUNK (its first ``textstats.CHUNK_SIZE`` characters — the
    opening window of the same chunking the retrieval/embedding prep
    uses), keep hits greedily while the chars consumed BEFORE a hit are
    under ``budget`` (the ``corpus_token_budget`` running-prefix
    discipline — exact BIGINT running sum, reproducible cut), and emit
    the assembled context's length + portable content hash per query.

    Determinism: inclusion is an integer prefix-sum compare over unique
    (query, fused_rank) keys; assembly is the strip-dup-spans ordered
    rebuild (Spark sort-struct array_join / DuckDB string_agg ORDER BY)
    with a fixed single-space separator, fingerprinted with the repo's
    md5-56 — no float anywhere.

    Scale shape: the fused relation is |Q|·k rows and BROADCASTS onto
    ONE documents scan (corpus side never shuffles); the prefix-sum
    window partitions by query_id over ≤ k rows each; the final rollup
    is |Q| rows. NULL-text hits contribute no context and no budget
    charge (a retrievable-but-undecodable doc cannot be packed)."""
    from torchfusion_spark.operators import textstats

    # embedded fusion is an intermediate under the context rollup —
    # unordered for the same range-sampling reason as the rank lists
    fused = rrf_fusion_sql(d, tf_rel=tf_rel, norm_rel=norm_rel, ordered=False)
    size = textstats.CHUNK_SIZE
    hint = "/*+ BROADCAST(f) */ " if d == "spark" else ""
    if d == "spark":
        rebuild = (
            "array_join(transform(array_sort(collect_list("
            "struct(fused_rank, chunk))), x -> x.chunk), ' ')"
        )
    else:
        rebuild = "string_agg(chunk, ' ' ORDER BY fused_rank)"
    return f"""
    WITH fused AS (
        SELECT query_id, doc_id, fused_rank FROM ({fused})),
    hits AS (
        SELECT {hint}f.query_id, f.doc_id, f.fused_rank,
               substr(doc.text, 1, {size}) AS chunk,
               CAST(length(substr(doc.text, 1, {size})) AS BIGINT) AS chunk_len
        FROM fused f JOIN documents doc ON f.doc_id = doc.doc_id
        WHERE doc.text IS NOT NULL),
    budgeted AS (
        SELECT query_id, doc_id, fused_rank, chunk, chunk_len,
               COALESCE(SUM(chunk_len) OVER (
                   PARTITION BY query_id ORDER BY fused_rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS prior_chars
        FROM hits),
    kept AS (SELECT * FROM budgeted WHERE prior_chars < {budget}),
    assembled AS (
        SELECT query_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs_used,
               CAST(MIN(fused_rank) AS BIGINT) AS best_rank,
               CAST(SUM(chunk_len) AS BIGINT) AS chunk_chars,
               {rebuild} AS context
        FROM kept GROUP BY query_id)
    SELECT query_id, n_docs_used, best_rank, chunk_chars,
           CAST(length(context) AS BIGINT) AS context_chars,
           {G.hash56('context', d)} AS context_hash
    FROM assembled
    ORDER BY query_id
    """


def rag_context(spark):
    """Staged Spark path — the staged inputs of :func:`rrf_fusion`."""
    nrel, trel = stage(spark, "sim_norms", "unigrams")
    return spark.sql(rag_context_sql("spark", tf_rel=trel, norm_rel=nrel))
