"""Deduplication operators (SURVEY §2-D): exact, MinHash-LSH, SimHash,
blocked n-gram Jaccard. Each emits one SQL plan per dialect
(``spark`` / ``duck``) from shared fragments — the oracle runs the very
same algorithm, so the correctness gate checks real equivalence.

Scale design (100 TB):
* exact dedup — one shuffle on the content hash; row_number keeps the
  smallest id (deterministic winner), no driver-side state.
* MinHash-LSH — signatures computed in one pass (no shuffle), band keys
  exploded (×8 rows), ONE shuffle on (band, band_key); candidate pairs
  only within buckets (no quadratic blow-up); verification re-joins the
  shingle sets by id. Skewed buckets (boilerplate text) would salt or
  cap bucket size before the self-join at production scale.
* SimHash — one pass per doc; candidates via 8-bit band equality.
* n-gram Jaccard — quadratic verifier confined to (lang, length-bucket)
  blocks; intended for within-block confirmation, not global sweep.
"""

from __future__ import annotations

import itertools
import os
import threading

from torchfusion_spark.operators import sqlgen as G


def exact_dedup_sql(d: str) -> str:
    """Keep the lowest doc_id per exact content hash (md5 of text)."""
    return """
    SELECT doc_id, text_md5 FROM (
        SELECT doc_id, md5(text) AS text_md5,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1 ORDER BY doc_id
    """


def messy_url_case(d: str) -> str:
    """The constructed messy-URL fixture expression (five spellings per
    logical page, derived from (source, doc_id)) — ONE spelling shared by
    :func:`url_canonical_dedup_sql` and ``textstats.url_filter_sql`` so
    the two operators' URL universe can never drift (code-review r08
    discipline: shared fragments, not copies).

    HOT canonical URL (VERDICT r8 item 5): ``doc_id % 19 == 3`` docs
    (~5.26% of any corpus) carry one of three messy spellings of a single
    source-independent portal homepage, all collapsing to ONE canonical
    form — so the keeper MIN window and the quality gate's url-keeper
    join are exercised under a Zipfian hot key at EVERY scale (typical
    canonical groups have ≤5 members; the hot one has N/19). The rule
    lives here — not in the rehearsal generator — because the URL
    universe is fixture-in-query: the canonical form is a pure function
    of (source, doc_id ÷ 100), and with doc_id unique no data-side skew
    can make two pages share a canonical URL."""
    page = G.intdiv("doc_id", "100", d)
    variant = f"CAST(({G.intdiv('doc_id', '20', d)}) % 5 AS INT)"
    s = "STRING" if d == "spark" else "VARCHAR"
    p = f"CAST({page} AS {s})"
    return f"""CASE WHEN doc_id % 19 = 3 THEN
        CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'https://portal.example.com/home?id=1&utm_source=feed'
            WHEN 1 THEN 'https://PORTAL.EXAMPLE.COM:443/home/?id=1'
            ELSE 'http://portal.example.com:80/home?id=1#top'
        END
    ELSE CASE {variant}
        WHEN 0 THEN 'https://' || source || '.example.com/articles/' || {p} || '?b=2&a=1'
        WHEN 1 THEN 'https://' || upper(source) || '.EXAMPLE.COM:443/articles/' || {p} || '/?a=1&b=2'
        WHEN 2 THEN 'http://' || source || '.example.com:80/articles/' || {p} || '?a=1&b=2#comments'
        WHEN 3 THEN 'https://' || source || '.example.com/articles/' || {p} || '/?utm_source=feed&a=1&utm_campaign=daily&b=2'
        ELSE 'https://' || source || '.example.com/articles/' || {p} || '?a=1&fbclid=abc123&b=2'
    END END"""


def url_canonical_dedup_sql(d: str) -> str:
    """URL-canonicalization exact dedup — the cheap first pass real web
    pipelines (C4, RefinedWeb — public method descriptions) run before
    any content hashing: canonicalize each document's URL, then keep the
    earliest crawl per canonical URL. Canonicalization policy (each step
    a published, deterministic rule): strip the fragment, normalize the
    scheme to https, lowercase the host, strip default ports (:80/:443),
    strip trailing slashes, drop tracking parameters (utm_*, ref,
    fbclid, gclid), and sort the surviving query parameters.

    The fixture has no URL column, so a deterministic messy URL is
    constructed in-query from (source, doc_id) — five spellings per
    logical page (mixed-case host, default port, fragment, tracking
    params, unsorted params), all of which must collapse to ONE
    canonical URL (the ``argmax_constructed_array`` fixture-in-query
    pattern; the oracle constructs the identical raw URLs, so the gate
    checks the canonicalization semantics, not the fixture). ``doc_id``
    is the crawl-order proxy: keeper = MIN(doc_id) per canonical URL.

    Scale shape: canonicalization is pure per-row string codegen at scan
    speed; the dedup is ONE shuffle (the keeper window partitions by
    canonical_url) — same single-exchange discipline as ``dedup_exact``.
    At 100 TB the canonical URL is also the natural bucketing key for
    the downstream content-dedup stages.

    NULL handling (ADVICE r08): a NULL source yields a NULL constructed
    URL and a NULL canonical_url; both engines' window PARTITION BY
    groups all NULLs together, so unrelated NULL-source docs would mark
    each other as URL duplicates. A doc with no parseable URL carries no
    URL-dedup evidence, so NULL-canonical rows are treated as SINGLETONS
    (each partitions by its own doc_id → kept = true) and left for the
    content-level dedup stages to adjudicate."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    return f"""
    SELECT doc_id, source, canonical_url, keeper_doc_id,
           (doc_id = keeper_doc_id) AS kept
    FROM (SELECT doc_id, source, canonical_url,
                 MIN(doc_id) OVER (
                     PARTITION BY COALESCE(canonical_url,
                                           CAST(doc_id AS {str_t}))
                 ) AS keeper_doc_id
          FROM ({url_canonical_sql(d)}))
    ORDER BY doc_id
    """


def url_canonical_sql(d: str, rel: str = "documents", url_expr: str | None = None) -> str:
    """The (doc_id, source, canonical_url) canonicalization relation —
    the per-row scan-speed half of :func:`url_canonical_dedup_sql`,
    factored so the incremental path (:func:`build_url_index` /
    :func:`dedup_url_incremental`) canonicalizes ONLY the relation it is
    given: the full corpus once at index build, then each crawl batch —
    never the 100 TB index side again. A URL whose host the scheme
    regex cannot parse canonicalizes to NULL — no URL evidence, so the
    doc rides the NULL-canonical singleton rule downstream instead of
    colliding on a mangled string (URL-fuzzer finding, r11).
    ``url_expr`` overrides the
    fixture URL constructor with a raw column/expression over ``rel`` —
    the real-ingest spelling (and the differential fuzzer's hook: the
    regex chain runs on arbitrary strings there, not just the
    fixture's)."""
    raw_url = url_expr or messy_url_case(d)
    # pre-strip CR/LF from the raw URL (class built with chr() — the
    # backslash-free discipline; constant-folds to a literal pattern):
    # the chain's $-anchored regexes diverge on a trailing newline —
    # Java's $ matches BEFORE a final line terminator, RE2's only at
    # end-of-text — so a newline-tailed crawl URL stripped its fragment
    # on Spark but not on DuckDB (code-review r11). A literal newline
    # is not legal in a URL anyway (it would arrive %0A-encoded).
    flag = "" if d == "spark" else ", 'g'"
    strip_nl = f"regexp_replace(url, concat('[', chr(10), chr(13), ']'), ''{flag})"
    u1 = G.regex_replace_all(
        G.regex_replace_all(strip_nl, "#.*$", "", d), "^http://", "https://", d
    )
    params = G.arr_join(G.arr_sort(G.split_nonempty("q2s", "&", d), d), "&", d)
    return f"""
    WITH raw AS (
        SELECT doc_id, source, {raw_url} AS url FROM {rel}),
    norm AS (
        SELECT doc_id, source, {u1} AS u FROM raw),
    parts AS (
        SELECT doc_id, source, u,
               regexp_extract(u, '^https://([^/?]+)', 1) AS host_raw
        FROM norm),
    pieces AS (
        SELECT doc_id, source,
               {G.regex_replace_all(G.lower_ascii("host_raw"), ":(80|443)$", "", d)} AS host,
               regexp_extract(substr(u, 9 + length(host_raw)), '^([^?]*)', 0) AS path,
               substr(substr(u, 9 + length(host_raw)),
                      length(regexp_extract(substr(u, 9 + length(host_raw)), '^([^?]*)', 0)) + 1) AS q
        FROM parts),
    qnorm AS (
        SELECT doc_id, source, host,
               {G.regex_replace_all("path", "/$", "", d)} AS path,
               substr({G.regex_replace_all(
                   G.regex_replace_all("q", "[?]", "?&", d),
                   "&(utm_[a-z]+|ref|fbclid|gclid)=[^&]*", "", d)}, 2) AS q2s
        FROM pieces)
    SELECT doc_id, source,
           CASE WHEN host = '' THEN NULL ELSE
           'https://' || host || path ||
           CASE WHEN {params} = '' THEN '' ELSE '?' || {params} END
           END AS canonical_url
    FROM qnorm
    """


def _shingle_cte(d: str, n: int = 3, rel: str = "documents") -> str:
    """(doc_id, shingles) for docs with >= n words.

    The empty-doc guard is on the TOKEN count, not on the shingle array:
    ``size(shingles) > 0`` would be pushed below the projection with the
    full shingle expression substituted in, running the whole shingling
    pass a second time (and, after a repartition, on the unfanned side of
    the exchange). ``size(toks) >= n`` is equivalent and pushes a cheap
    split() instead — measured 10× on the shingle stage."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    sh = G.shingles_from_tokens("toks", n, d)
    return (
        f"SELECT doc_id, {sh} AS shingles "
        f"FROM (SELECT doc_id, {toks} AS toks FROM {rel}) "
        f"WHERE {G.arr_size('toks', d)} >= {n}"
    )


def hashed_shingle_sql(d: str, rel: str = "documents") -> str:
    """(doc_id, hx): distinct word-3-gram shingles hashed to int56 — the
    one expensive pass (string building + md5); everything downstream is
    integer arithmetic. The empty-doc guard lives in the shingle CTE (see
    its docstring for why it must not test the shingle array)."""
    return f"SELECT doc_id, {G.shingle_hashes('shingles', d)} AS hx FROM ({_shingle_cte(d, rel=rel)})"


def sig_rel_sql(d: str, hs_rel: str) -> str:
    """(doc_id, hx, sig): hashed shingles plus the 16-perm MinHash
    signature in one relation — signature fold computed exactly once
    when this relation is materialized (the band self-join references it
    on both sides, which would otherwise inline and recompute the fold)."""
    return f"SELECT doc_id, hx, {G.minhash_sig_array('hx', d)} AS sig FROM {hs_rel}"


MAX_BUCKET = 64  # candidate join per bucket ≤ C(64,2) = 2016 pairs


def minhash_ok_sql(d: str, sig_rel: str, max_bucket: int = MAX_BUCKET) -> str:
    """The capped banded relation (doc_id, band, bkey): band keys
    exploded from the signature, hot buckets (> ``max_bucket``) dropped.
    Factored out of :func:`minhash_body_sql` so the Spark arm can stage
    it ONCE per corpus — the candidate self-join references it on both
    sides, and Catalyst's CTE inlining otherwise duplicates the explode
    + bucket-size window per side (measured: the two identical
    (band, bkey) exchanges never unify via ReusedExchange across the
    inlined copies, under broadcast OR sort-merge planning)."""
    band_rel = G.band_explode(sig_rel, G.band_exprs("sig", d), d)
    return f"""
    SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
        FROM ({band_rel}))
    WHERE bsz <= {max_bucket}
    """


def minhash_body_sql(
    d: str,
    sig_rel: str,
    threshold: float,
    max_bucket: int = MAX_BUCKET,
    ordered: bool = True,
    ok_rel: str | None = None,
) -> str:
    """The pipeline downstream of the signature relation
    ``sig_rel(doc_id, hx, sig)``: 8 band keys exploded → bucket
    self-join candidates → Jaccard verification over the hashed shingle
    sets (identical on the oracle; hash collisions are ~2^-56).

    Hot-bucket cap: buckets larger than ``max_bucket`` are excluded from
    the candidate join — a boilerplate-heavy corpus (license headers,
    templates) would otherwise put millions of docs in one bucket and turn
    the bucket join quadratic. The bucket-size count shuffles on the same
    (band, bkey) key as the join, so no extra exchange. Recall effect: a
    pair inside a hot bucket is still found through any of its 7 other
    bands that aren't hot; only pairs whose EVERY shared band is hot are
    lost (near-identical boilerplate — which exact dedup upstream already
    removes). The oracle applies the same cap, so the gate checks the
    capped semantics exactly.

    ``ok_rel`` (Spark arm only, r17): the name of a MATERIALIZED capped
    banded relation (:func:`minhash_ok_sql`) to self-join directly. A
    cached relation preserves its plan's (band, bkey) hash partitioning,
    so BOTH self-join sides read it exchange-free and the explode +
    bucket-size window run once per corpus instead of twice per query
    (plan: 2 × [Exchange → Window] → 1 staged build; see
    plans/r17/dedup_minhash_lsh_*). The oracle keeps the inline CTE
    chain — DuckDB's MATERIALIZED CTEs evaluate once already. The staged
    relation is capped at ``MAX_BUCKET``, so any other ``max_bucket``
    with ``ok_rel`` raises instead of being silently ignored."""
    if ok_rel is not None and max_bucket != MAX_BUCKET:
        raise ValueError(
            f"ok_rel {ok_rel!r} is capped at MAX_BUCKET={MAX_BUCKET}; "
            f"max_bucket={max_bucket} needs the inline spelling (ok_rel=None)"
        )
    inter = G.arr_intersect_size("x.hx", "y.hx", d)
    mat = "MATERIALIZED " if d == "duck" else ""
    if ok_rel is None:
        band_rel = G.band_explode(sig_rel, G.band_exprs("sig", d), d)
        prefix = f"""
    WITH bands AS {mat}({band_rel}),
    sized AS (
        SELECT doc_id, band, bkey,
               COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
        FROM bands),
    ok AS (SELECT doc_id, band, bkey FROM sized WHERE bsz <= {max_bucket}),"""
    else:
        prefix = f"""
    WITH ok AS (SELECT doc_id, band, bkey FROM {ok_rel}),"""
    return f"""{prefix}
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ok a JOIN ok b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT id_a, id_b, ROUND(CAST(ins AS DOUBLE) / (nx + ny - ins), 6) AS jaccard
        FROM (
            SELECT id_a, id_b, {inter} AS ins,
                   {G.arr_size('x.hx', d)} AS nx, {G.arr_size('y.hx', d)} AS ny
            FROM cand
            JOIN {sig_rel} x ON x.doc_id = id_a
            JOIN {sig_rel} y ON y.doc_id = id_b))
    WHERE jaccard >= {threshold}
    {"ORDER BY id_a, id_b" if ordered else ""}
    """


def minhash_lsh_sql(d: str, threshold: float = 0.6) -> str:
    """Single-statement form (the DuckDB oracle; also a valid Spark plan).

    Note for Spark execution prefer :func:`minhash_lsh` below — the
    signature CTE is referenced on both band sides and both verify sides,
    and Catalyst inlines CTEs, recomputing it each time; the staged
    builder caches it."""
    body = minhash_body_sql(d, "s", threshold)
    # DuckDB inlines CTEs referenced multiple times just like Catalyst —
    # the signature relation sits on 4 join sides; MATERIALIZED evaluates
    # it once (measured 2.6s → <1s on the sf0.01 oracle)
    mat = "MATERIALIZED " if d == "duck" else ""
    return body.replace(
        "WITH bands AS",
        f"WITH hs AS {mat}({hashed_shingle_sql(d)}),\n"
        f"    s AS {mat}({sig_rel_sql(d, 'hs')}),\n    bands AS",
        1,
    )


def minhash_lsh(spark, threshold: float = 0.6, ordered: bool = True):
    """Spark-side staged execution: materialize the signature relation
    (doc_id, hx, sig) ONCE (it is ~1% of the input; at 100 TB this is
    persist-to-disk or a checkpoint), then run the band/verify pipeline
    over the cached view — the shingle pass, the md5 pass and the 16-perm
    fold each run exactly once regardless of how many times the self-join
    references the relation.

    The input is repartitioned first: a single small parquet file arrives
    as ONE partition and shingling is CPU-bound — without the fan-out the
    whole stage runs on one core. Width adapts to the row count
    (cpu_fanout): full parallelism at scale, a few tasks at gate sf.

    The staged signature is memoized per (session, loaded tables):
    ``minhash_clusters`` runs the identical signature pipeline immediately
    after ``minhash_lsh`` in gate order, and recomputing the one expensive
    pass (shingle + md5 + fold) would double its cost for nothing. The key
    follows the docs-view identity, so switching sf_dir OR swapping the
    view directly rebuilds."""
    from torchfusion_spark.session import memo_lock, staged_cache

    key = _docs_key(spark)
    with memo_lock(spark, "minhash_sig"):
        if getattr(spark, "_tf_minhash_sig_key", object()) != key:
            # derive from the SESSION-STAGED hashed-shingle relation shared
            # with containment/decontaminate — the shingle+md5 pass is the
            # dominant cost of every shingle-based operator and previously ran
            # a second time here over a private docs view
            # (r16 note: a NumPy-under-mapInArrow spelling of the signature
            # fold was measured SLOWER than this SQL fold — warm noop-sink
            # 0.59s vs 0.21s at sf0.1, plus ~10s cold Python-worker spin-up —
            # because the hx array column must round-trip the Arrow boundary
            # for the Jaccard verify; the JVM fold stays)
            sig = staged_cache(
                spark,
                "minhash_sig",
                spark.sql(sig_rel_sql("spark", _staged_hx(spark))),
            )
            sig.count()  # materialize before the self-join races both sides into the fill
            sig.createOrReplaceTempView("__minhash_sig")
            # stage the capped banded relation beside the signature (r17):
            # the candidate self-join reads it on BOTH sides, and the
            # cached plan keeps its (band, bkey) hash partitioning, so the
            # join needs no exchange at all — the explode + bucket-size
            # window run once per corpus here (cost visible in the
            # first-run/staging bill, same key/lock as the signature)
            ok = staged_cache(
                spark,
                "minhash_ok",
                spark.sql(minhash_ok_sql("spark", "__minhash_sig")),
            )
            ok.count()  # same fill-race rule as the signature
            ok.createOrReplaceTempView("__minhash_ok")
            spark._tf_minhash_sig_key = key
        # resolve the returned plan INSIDE the memo lock: resolving after
        # release would let a concurrent docs-view swap replace
        # __minhash_sig between the memo check and spark.sql, binding the
        # plan to the other corpus's signatures (ADVICE r08 TOCTOU)
        return spark.sql(
            minhash_body_sql(
                "spark",
                "__minhash_sig",
                threshold,
                ordered=ordered,
                ok_rel="__minhash_ok",
            )
        )


_DOCS_LOCK = threading.Lock()


def _docs_key(spark):
    """Identity of the live ``documents`` view for staged-memo keying:
    (load_tables key, semantic plan hash of the view). EVERY memo derived
    from the docs view keys on this, not the tables key alone — a caller
    that swaps the view directly (the property-test pattern) invalidates
    ``_staged_docs``, and a tables-key-only derived memo would keep
    serving relations cached from the PREVIOUS corpus, silently mixing
    corpora in downstream joins (code-review r07: the span operators'
    anti-join would strip the new corpus with the old corpus's grams).
    An un-analyzable view yields a fresh ``object()`` → always rebuild."""
    try:
        return (
            getattr(spark, "_tf_tables_loaded", None),
            spark.table("documents").semanticHash(),
        )
    except Exception:  # noqa: BLE001 — unknown plan identity → always rebuild
        return object()


def _staged_docs(spark):
    """Fan the documents table out to full parallelism once; a single
    small parquet file arrives as ONE split and every dedup signature
    pass is CPU-bound (at cluster scale the input already has enough
    splits and this shuffle is a no-op-sized rebalance).

    Memoized per (session, loaded tables, SEMANTIC PLAN of the live
    ``documents`` view) and lock-guarded: the parallel bench prewarm
    runs ``_staged_hx`` and ``_staged_substring_grams`` concurrently and
    both prep the docs view — without the memo each pays the fan-out
    count() job and both write the same ``__dedup_docs`` slot. The
    semantic-hash component invalidates the memo when a caller swaps
    the ``documents`` view DIRECTLY (the established pattern in the
    property/differential tests) without bumping
    ``spark._tf_tables_loaded`` — a tables-key-only memo would silently
    serve the PREVIOUS corpus to every downstream consumer (code-review
    r07)."""
    from torchfusion_spark.session import cpu_fanout

    key = _docs_key(spark)
    with _DOCS_LOCK:
        if getattr(spark, "_tf_dedup_docs_key", object()) != key:
            cpu_fanout(spark.table("documents")).createOrReplaceTempView("__dedup_docs")
            spark._tf_dedup_docs_key = key
    return "__dedup_docs"


def _staged_hx(spark, then=None) -> str:
    """The hashed-shingle relation (doc_id, hx) staged ONCE per (session,
    loaded tables): the shingle-build + md5 pass is the dominant cost of
    every shingle-based operator (containment, both decontaminate
    variants), and each of their plans references it on two or more CTE
    sides — Catalyst inlines CTEs, so without staging the md5 pass runs
    per reference. Memoized the same way as the MinHash signature memo
    (keyed on the docs-view identity, so switching sf_dir or swapping
    the view rebuilds).

    ``then`` is invoked INSIDE the memo lock (the
    ``similarity._staged_norms`` discipline): a consumer resolving its
    plan from ``__tf_hx`` after release races a concurrent docs-view
    swap (ADVICE r08 TOCTOU class, closed family-wide in r9)."""
    from torchfusion_spark.session import memo_lock, staged_cache

    key = _docs_key(spark)
    with memo_lock(spark, "hx"):
        if getattr(spark, "_tf_hx_key", object()) != key:
            hx = staged_cache(
                spark, "tf_hx", spark.sql(hashed_shingle_sql("spark", rel=_staged_docs(spark)))
            )
            hx.count()
            hx.createOrReplaceTempView("__tf_hx")
            spark._tf_hx_key = key
        if then is not None:
            return then("__tf_hx")
    return "__tf_hx"


def _simhash_band_keys(bands: int, d: str) -> list[str]:
    """8-bit band keys sliced out of the simhash word — one spelling for
    the batch join, the cap stats, and any persisted variant."""
    return [f"({G.shr('simhash', str(8 * i), d)} & 255)" for i in range(bands)]


def simhash_sig_sql(d: str, rel: str = "documents", bits: int = 32) -> str:
    """s(doc_id, simhash): majority-vote sign bits over per-token hashes."""
    toks = G.arr_distinct(G.split_ws(G.lower_ascii("text"), d), d)
    hashes = G.transform("toks", f"t -> {G.hash56('t', d)}", d)
    bit_terms = []
    for b in range(bits):
        ones = G.arr_size(G.afilter("hashes", f"h -> ({G.shr('h', str(b), d)} & 1) = 1", d), d)
        bit_terms.append(f"(CASE WHEN 2 * {ones} > n THEN CAST({1 << b} AS BIGINT) ELSE 0 END)")
    simhash = " + ".join(bit_terms)
    return f"""
    SELECT doc_id, {simhash} AS simhash FROM (
        SELECT doc_id, {hashes} AS hashes, {G.arr_size('toks', d)} AS n
        FROM (SELECT doc_id, {toks} AS toks FROM {rel}))
    WHERE n > 0
    """


SIMHASH_MAX_BUCKET = 256  # hot-band cap; recall recovered via other bands


def simhash_ok_sql(
    d: str, s_rel: str, bits: int = 32, max_bucket: int = SIMHASH_MAX_BUCKET
) -> str:
    """The capped banded relation (doc_id, simhash, band, bkey) for the
    SimHash-shaped families — :func:`minhash_ok_sql`'s twin, factored
    out so the Spark arm can stage it once per signature relation (the
    pair self-join reads it on both sides; inlined CTE copies never
    unify via ReusedExchange — see ``minhash_ok_sql``)."""
    bands = bits // 8
    band_rel = G.band_explode(
        s_rel, _simhash_band_keys(bands, d), d, carry="doc_id, simhash"
    )
    return f"""
    SELECT doc_id, simhash, band, bkey FROM (
        SELECT doc_id, simhash, band, bkey,
               COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
        FROM ({band_rel}))
    WHERE bsz <= {max_bucket}
    """


def simhash_body_sql(
    d: str,
    s_rel: str,
    bits: int = 32,
    max_hamming: int = 2,
    max_bucket: int = SIMHASH_MAX_BUCKET,
    ordered: bool = True,
    ok_rel: str | None = None,
) -> str:
    """Near-dup pairs from the signature relation: 8-bit band collision
    candidates via an EXPLODED equi-join, Hamming-distance verification.

    The naive spelling — self-join on ``(band0 = band0') OR (band1 =
    band1') OR ...`` — cannot hash-partition (Spark plans it as a
    BroadcastNestedLoopJoin: quadratic, caught by tools/plan_audit.py).
    Instead each signature explodes into (band, bkey) rows and candidates
    come from ONE shuffle on the band key — the same shape as the MinHash
    pipeline. The signature rides along (one BIGINT), so verification
    needs no join back to {s_rel}.

    Pigeonhole guarantee unchanged: ``max_hamming`` bit flips touch at
    most that many of the ``bits/8`` bands, so every qualifying pair
    still shares >= bands - max_hamming exact band keys. Hot buckets
    (8-bit keys are coarse: 256 values/band) are capped like MinHash's —
    a pair in a capped bucket is found through any of its other shared
    bands; with max_hamming=2 of 4 bands, >= 2 bands match, so only
    pairs whose EVERY matching band is hot are lost (near-identical
    boilerplate that upstream exact dedup already removed). The oracle
    runs the identical capped SQL.

    ``ok_rel`` (Spark arm only, r17): a MATERIALIZED capped banded
    relation (:func:`simhash_ok_sql`) to self-join directly — same
    staged-``ok`` discipline as :func:`minhash_body_sql`, including its
    refusal of a ``max_bucket`` other than the staged cap
    (``SIMHASH_MAX_BUCKET``)."""
    if ok_rel is not None and max_bucket != SIMHASH_MAX_BUCKET:
        raise ValueError(
            f"ok_rel {ok_rel!r} is capped at SIMHASH_MAX_BUCKET={SIMHASH_MAX_BUCKET}; "
            f"max_bucket={max_bucket} needs the inline spelling (ok_rel=None)"
        )
    ham = f"bit_count({G.xor('sim_a', 'sim_b', d)})"
    if ok_rel is None:
        bands = bits // 8
        band_rel = G.band_explode(
            s_rel, _simhash_band_keys(bands, d), d, carry="doc_id, simhash"
        )
        prefix = f"""
    WITH bands AS ({band_rel}),
    sized AS (
        SELECT doc_id, simhash, band, bkey,
               COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
        FROM bands),
    ok AS (SELECT doc_id, simhash, band, bkey FROM sized WHERE bsz <= {max_bucket}),"""
    else:
        prefix = f"""
    WITH ok AS (SELECT doc_id, simhash, band, bkey FROM {ok_rel}),"""
    return f"""{prefix}
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sim_a,
                        b.doc_id AS id_b, b.simhash AS sim_b
        FROM ok a JOIN ok b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
    FROM cand
    WHERE {ham} <= {max_hamming}
    {"ORDER BY id_a, id_b" if ordered else ""}
    """


def simhash_sql(d: str, bits: int = 32, max_hamming: int = 2) -> str:
    """Single-statement form (the DuckDB oracle; also a valid Spark plan —
    but prefer :func:`simhash` below: the signature CTE sits on both sides
    of the self-join and Catalyst recomputes inlined CTEs)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    return simhash_body_sql(d, "s", bits, max_hamming).replace(
        "WITH bands AS",
        f"WITH s AS {mat}({simhash_sig_sql(d, bits=bits)}),\n    bands AS",
        1,
    )


def _staged_simhash_sig(spark, bits: int = 32) -> str:
    """The SimHash signature relation staged once per (session, loaded
    tables, bits) — memoized like the MinHash signature so the banded
    join and the cap-stats observer share one per-token hash + bit-vote
    pass instead of each re-running it."""
    from torchfusion_spark.session import memo_lock, staged_cache

    key = (_docs_key(spark), bits)
    with memo_lock(spark, "simhash_sig"):
        if getattr(spark, "_tf_simhash_sig_key", object()) != key:
            s = staged_cache(
                spark,
                "simhash_sig",
                spark.sql(simhash_sig_sql("spark", rel=_staged_docs(spark), bits=bits)),
            )
            s.count()
            s.createOrReplaceTempView("__simhash_sig")
            # capped banded relation staged beside the signature (r17,
            # the __minhash_ok discipline): both pair-join sides read it
            # exchange-free, explode + bucket-size window run once
            ok = staged_cache(
                spark,
                "simhash_ok",
                spark.sql(simhash_ok_sql("spark", "__simhash_sig", bits=bits)),
            )
            ok.count()
            ok.createOrReplaceTempView("__simhash_ok")
            spark._tf_simhash_sig_key = key
    return "__simhash_sig"


def simhash(spark, bits: int = 32, max_hamming: int = 2):
    """Staged Spark execution: signatures computed once over the fanned-out
    input (the CPU-heavy pass), cached, then the banded self-join runs
    over the 12-byte-per-doc signature relation (via the staged capped
    banded relation — see ``_staged_simhash_sig``)."""
    _staged_simhash_sig(spark, bits)
    return spark.sql(
        simhash_body_sql(
            "spark", "__simhash_sig", bits, max_hamming, ok_rel="__simhash_ok"
        )
    )


def simhash_capped_bucket_stats(spark, bits: int = 32, max_bucket: int = SIMHASH_MAX_BUCKET):
    """Observability for the hot-band cap (ADVICE r03): the (band, bkey,
    bsz) buckets the cap EXCLUDES from the candidate join. The DuckDB
    oracle runs the identical capped SQL, so the correctness gate is
    blind to cap-induced recall loss by construction — this is the
    measurement surface: ``df.count()`` is the number of capped buckets,
    ``sum(bsz*(bsz-1)/2)`` bounds the per-band candidate pairs the cap
    dropped (a pair is truly lost only if EVERY shared band is capped).
    tests/test_skew_and_caps.py pins the fixture-corpus value."""
    return capped_bucket_stats(
        spark,
        _staged_simhash_sig(spark, bits),
        _simhash_band_keys(bits // 8, "spark"),
        max_bucket,
    )


def capped_bucket_stats(
    spark, rel: str, band_keys: list[str], max_bucket: int, carry: str = "doc_id"
):
    """ONE spelling for every banded family's cap observer (SimHash,
    MinHash, the multimodal payload fingerprint, the embedding sign-LSH
    buckets — ``carry`` names the family's id column): the (band, bkey,
    bsz) buckets the hot-band cap EXCLUDES from the candidate join, over
    the family's own staged relation and band-key expressions — a future
    cap-semantics fix lands in every observer at once (code-review
    r12)."""
    exploded = G.band_explode(rel, band_keys, "spark", carry=carry)
    return spark.sql(f"""
    SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS bsz
    FROM ({exploded})
    GROUP BY band, bkey HAVING COUNT(*) > {max_bucket}
    ORDER BY band, bkey
    """)


def capped_bucket_report(rows, max_bucket: int) -> dict:
    """The skew report's per-family dict from a collected stats frame —
    shared so the three report sections cannot drift either."""
    return {
        "max_bucket": max_bucket,
        "capped_buckets": len(rows),
        "largest_bucket": max((r.bsz for r in rows), default=0),
        "excluded_pair_bound": sum(r.bsz * (r.bsz - 1) // 2 for r in rows),
    }


def minhash_capped_bucket_stats(spark, max_bucket: int = MAX_BUCKET):
    """MinHash-LSH twin of :func:`simhash_capped_bucket_stats`: the
    (band, bkey) buckets whose size exceeds the hot-bucket cap."""
    minhash_lsh(spark)  # ensure __minhash_sig is staged (memoized)
    return capped_bucket_stats(
        spark, "__minhash_sig", G.band_exprs("sig", "spark"), max_bucket
    )


def ngram_blocks_sql(d: str, rel: str = "documents", n: int = 5) -> str:
    """g(doc_id, lang, len_bucket, gs): char-n-gram shingle sets with the
    (lang, length-bucket) blocking keys that bound the quadratic join.

    Shingles are hashed to int56 (same portable md5 prefix as minhash):
    the O(pairs × set-size) intersect/union verify compares 8-byte ints
    instead of 5-char strings, and both dialects hash identically so the
    oracle still matches exactly (collisions ~2^-56)."""
    gs = G.shingle_hashes(G.char_shingles_from("s", n, d), d)
    idiv = "div" if d == "spark" else "//"
    return f"""
    SELECT doc_id, lang, n_chars {idiv} 64 AS len_bucket, {gs} AS gs
    FROM (SELECT doc_id, lang, n_chars, {G.lower_ascii("text")} AS s FROM {rel})
    """


NGRAM_MAX_BLOCK = 512  # per-block join ≤ C(512,2) ≈ 131k pairs


def ngram_body_sql(d: str, g_rel: str, threshold: float, max_block: int = NGRAM_MAX_BLOCK) -> str:
    """Verify join, with two result-preserving prunings and one cap:

    * size-ratio prefilter: J(A,B) <= min|A|,|B| / max|A|,|B| for distinct
      sets, so pairs whose set sizes differ by more than the threshold
      ratio can't pass — evaluated on two ints BEFORE the O(set-size)
      intersect, killing most of the quadratic block;
    * |union| = |a| + |b| - |inter| — one hash-set build per pair, not
      two, and the intersect is computed once in the inner select;
    * hot-block cap (same policy as the minhash bucket cap): a
      (lang, len_bucket) block larger than ``max_block`` is excluded from
      the self-join — one boilerplate-heavy language/length combination
      would otherwise make this stage globally quadratic. Unlike minhash
      bands there is no redundancy to recover capped pairs, which is why
      this operator is the bounded *verifier*; the minhash path is the
      global sweep. The size count shuffles on the same (lang, len_bucket)
      key as the join; the oracle applies the identical cap."""
    inter = G.arr_intersect_size("a.gs", "b.gs", d)
    mat = "MATERIALIZED " if d == "duck" else ""
    # NULL-lang docs form their own block and near-dup among themselves
    # (r12 sweep of the pack-fuzzer class) — via an INJECTIVE non-null
    # block key ('0' for NULL, '1' || lang otherwise: '0' cannot collide
    # with any '1'-prefixed real lang), not a null-safe join operator:
    # the <=> spelling cost 2 extra shingle-set exchanges at sf1, and a
    # key derived only in the join de-co-partitioned it from the cap
    # window. One hoisted key drives BOTH, so the window's exchange is
    # reused by the self-join exactly as before (code-review r12 third
    # pass).
    lang_key = "CASE WHEN lang IS NULL THEN '0' ELSE '1' || lang END"
    return f"""
    WITH gn AS {mat}(
        SELECT doc_id, lang_key, len_bucket, gs, n FROM (
            SELECT doc_id, lang_key, len_bucket, gs, {G.arr_size('gs', d)} AS n,
                   COUNT(*) OVER (PARTITION BY lang_key, len_bucket) AS blk
            FROM (SELECT *, {lang_key} AS lang_key FROM {g_rel} g_rel_t))
        WHERE blk <= {max_block})
    SELECT id_a, id_b, jaccard FROM (
        -- greatest(union, 1): two empty-shingle docs (text shorter than
        -- the gram width) pass the size-ratio prefilter with n=0 on both
        -- sides; the bare denominator is then 0 — Spark's default ANSI
        -- mode throws DIVIDE_BY_ZERO while DuckDB NULLs the row out. The
        -- guard makes both engines emit jaccard 0, dropped by the
        -- threshold filter identically.
        SELECT id_a, id_b, ROUND(CAST(ins AS DOUBLE) / greatest(na + nb - ins, 1), 6) AS jaccard FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, {inter} AS ins,
                   a.n AS na, b.n AS nb
            FROM gn a JOIN gn b
              ON a.lang_key = b.lang_key
             AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
             AND least(a.n, b.n) >= {threshold} * greatest(a.n, b.n)))
    WHERE jaccard >= {threshold}
    ORDER BY id_a, id_b
    """


def ngram_jaccard_sql(d: str, n: int = 5, threshold: float = 0.7) -> str:
    """Character-n-gram Jaccard near-dup within (lang, length-bucket)
    blocks — the bounded quadratic verifier. Single-statement form; for
    Spark prefer :func:`ngram_jaccard` (shingle sets cached once, not
    recomputed per join side)."""
    body = ngram_body_sql(d, "g", threshold)
    mat = "MATERIALIZED " if d == "duck" else ""
    return body.replace(
        "WITH gn AS", f"WITH g AS {mat}({ngram_blocks_sql(d, n=n)}),\n    gn AS", 1
    )


def ngram_jaccard(spark, n: int = 5, threshold: float = 0.7):
    from torchfusion_spark.session import staged_cache

    g = staged_cache(
        spark, "ngram_blocks", spark.sql(ngram_blocks_sql("spark", rel=_staged_docs(spark), n=n))
    )
    g.count()
    g.createOrReplaceTempView("__ngram_blocks")
    return spark.sql(ngram_body_sql("spark", "__ngram_blocks", threshold))


# -- duplicate clusters: connected components over near-dup pairs ----------


SMALL_GRAPH_EDGES = 200_000  # ~3 MB of (src, dst) pairs — one task's work


def _cc_single_task(edges):
    """Exact union-find over the whole edge set in ONE task (edges
    coalesced to a single partition, streamed in Arrow batches). Smaller
    id always stays root, so root == min reachable id — identical output
    to the iterative propagation. Only used when the edge count (already
    known: edges are checkpointed) is tiny relative to a single executor:
    the pair graph after LSH banding is ~candidate-pair sized, orders of
    magnitude below the corpus, so even 100 TB runs often land here."""
    import pandas as pd
    from pyspark.sql import functions as F

    def op(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["src"], pdf["dst"]):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        nodes = sorted(parent)
        yield pd.DataFrame(
            {"doc_id": nodes, "component": [find(n) for n in nodes]},
            dtype="int64",
        )

    return (
        edges.coalesce(1)
        .mapInPandas(op, schema="doc_id bigint, component bigint")
        .orderBy("doc_id")
    )


def _observed(obs, fallback, timeout_s: float = 30.0) -> dict:
    """Bounded read of an ``Observation``'s metrics (code-review r16).

    The metrics ride the driver's shared listener bus, which silently
    DROPS events when its queue overflows — ``Observation.get`` would
    then block FOREVER, wedging the CC loop with no error after the
    checkpoint action already succeeded (the pre-r16 ``collect()``
    control reads were synchronous action results, immune to listener
    loss). Poll the non-blocking JVM probe with exponential backoff up
    to ``timeout_s``; on expiry recompute the same values synchronously
    from the already-materialized checkpoint (``fallback`` — the exact
    pre-r16 spelling, one extra job paid only in the event-drop case)."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    wait = 0.001
    while True:
        try:
            if not obs._jo.getOrEmpty().isEmpty():
                return obs.get  # resolved — the blocking read returns at once
        except Exception:  # noqa: BLE001 — probe API missing → fall back now
            return fallback()
        if _time.monotonic() >= deadline:
            return fallback()
        _time.sleep(wait)
        wait = min(wait * 2, 0.05)


def connected_components(pairs, max_iter: int = 25):
    """(id_a, id_b) near-dup pairs → (doc_id, component) where component
    is the minimum doc_id reachable through the pair graph.

    Iterative min-label propagation on DataFrames: each round joins the
    current labels across the (symmetrized) edge set and keeps the
    elementwise min. Rounds needed = graph diameter (near-dup clusters
    are shallow; 25 caps pathological chains). ``localCheckpoint``
    truncates the lineage each round — without it the plan doubles per
    iteration and Catalyst re-analysis dominates at ~10 rounds. At
    cluster scale swap for ``checkpoint`` on durable storage and the
    large-star/small-star variant if components get deep.

    Edge sets below ``SMALL_GRAPH_EDGES`` short-circuit to an exact
    single-task union-find (:func:`_cc_single_task`) — the per-round
    join/action overhead of the loop dwarfs the work itself there, and
    the output is identical.

    Per-round checkpoints are slot-tracked (``staged_checkpoint`` with a
    per-call nonce) over TWO alternating label slots: round r's labels
    land in slot r%2, releasing round r-2's blocks — rounds r and r-1
    must both stay live because round r's plan reads round r-1's blocks
    up to the moment its checkpoint materializes. A long loop therefore
    holds two label generations instead of ``max_iter``. The changed-
    label count and the initial edge count ride the checkpoint actions
    as ``observe()`` metrics (r16) — no separate count job per round.
    """
    from pyspark.sql import functions as F

    from torchfusion_spark.session import staged_checkpoint, staging_nonce

    spark = pairs.sparkSession
    nonce = staging_nonce(spark)
    # one-pass symmetrize (r16, guide §2.4/§1.2): stack() emits both edge
    # directions from a SINGLE execution of the upstream plan — the
    # fwd.union(fwd.swapped) spelling planned the (un-materialized) pair
    # subtree once per union branch, so the first checkpoint re-ran the
    # whole banded LSH self-join + Jaccard verify twice
    edges = pairs.selectExpr("stack(2, id_a, id_b, id_b, id_a) AS (src, dst)")
    # slots share the cc_{nonce}_ prefix so a consumer can release exactly
    # this call's scratch (release_staged_group(spark, f"cc_{nonce}_"))
    # without dropping a concurrent call's live checkpoints; the nonce is
    # exposed on the returned DataFrame as _tf_cc_nonce (ADVICE r04)
    # observe() folds the small-graph edge count into the checkpoint
    # action itself (r16, guide §1.2: one fewer job per call — the count
    # previously re-scanned the materialized blocks as its own action)
    from pyspark.sql import Observation

    obs_e = Observation()
    edges = staged_checkpoint(
        spark,
        f"cc_{nonce}_edges",
        edges.distinct().observe(obs_e, F.count(F.lit(1)).alias("n")),
    )
    n_edges = _observed(obs_e, lambda: {"n": edges.count()})["n"]
    if n_edges <= SMALL_GRAPH_EDGES:
        out = _cc_single_task(edges)
        out._tf_cc_nonce = nonce
        return out
    labels = staged_checkpoint(
        spark,
        f"cc_{nonce}_labels_init",
        edges.select(F.col("src").alias("node")).distinct().withColumn("comp", F.col("node")),
    )
    for rnd in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("comp").alias("dcomp")), "dst"
            )
            .groupBy("src")
            .agg(F.min("dcomp").alias("ncomp"))
            .select(F.col("src").alias("node"), "ncomp")
        )
        # the changed-label count is observed DURING the checkpoint action
        # (r16, guide §1.2): the old spelling re-joined the new labels
        # against the old ones as a separate per-round count job — two
        # extra scans plus a join exchange per round, computing a number
        # the checkpoint's own rows already contain
        joined = labels.join(nbr, "node", "left").withColumn(
            "newcomp",
            F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))),
        )
        obs_r = Observation()
        joined = joined.observe(
            obs_r,
            F.count(F.when(F.col("newcomp") != F.col("comp"), 1)).alias("changed"),
        )
        new_labels = staged_checkpoint(
            spark,
            # letter suffix, NOT a digit: release_staged_group treats any
            # trailing "_<digits>" as a nonce reference when matching
            # protected in-flight groups, so a generation digit would make
            # this slot un-releasable whenever some thread's live staging
            # nonce happens to equal the generation (code-review r12)
            f"cc_{nonce}_labels{'AB'[rnd % 2]}",
            joined.select("node", F.col("newcomp").alias("comp")),
        )
        changed = _observed(
            obs_r,
            # fallback: the pre-r16 re-join count over the two live
            # checkpoints (both materialized at this point)
            lambda _new=new_labels, _old=labels: {
                "changed": _new.select(F.col("node"), F.col("comp").alias("ncomp2"))
                .join(_old, "node")
                .filter(F.col("ncomp2") != F.col("comp"))
                .count()
            },
        )["changed"]
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter with changes still propagating would return
        # silently WRONG components (partially propagated labels) that the
        # memoizing callers then cache — fail loudly instead; the exact
        # oracle would disagree anyway, but with no hint of the cause.
        # Release this failed call's checkpoint group and in-flight nonce
        # first (code-review r16 — the star loop's discipline): nothing
        # can reference the group after the raise, and an unreleased one
        # pins four localCheckpoint generations until this pool thread
        # draws a new nonce.
        from torchfusion_spark.session import finish_staging_nonce, release_staged_group

        release_staged_group(spark, f"cc_{nonce}_")
        finish_staging_nonce(spark, nonce)
        raise RuntimeError(
            f"connected_components: label propagation did not converge in "
            f"{max_iter} rounds ({changed} labels still changing) — the "
            "graph has a component of diameter > max_iter; raise max_iter "
            "or use connected_components_star (O(log n) rounds)"
        )
    out = labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component")).orderBy(
        "doc_id"
    )
    out._tf_cc_nonce = nonce
    return out


def minhash_clusters(spark, threshold: float = 0.6):
    """MinHash-LSH pairs → duplicate clusters (the canonical corpus-dedup
    output: keep one doc per component). Memoized per (session, loaded
    tables, threshold) like the signature relation: the canonical-
    selection pipeline runs right after the clusters query in gate order
    and would otherwise repeat the whole iterative CC loop."""
    from torchfusion_spark.session import memo_lock, release_staged_group, staged_cache

    key = (_docs_key(spark), threshold)
    with memo_lock(spark, "minhash_clusters"):
        if getattr(spark, "_tf_clusters_key", object()) != key:
            # ordered=False (r16): the pair relation's global ORDER BY is
            # pure waste as CC input — a range-partition sort (plus the
            # range partitioner's boundary-sampling pass, which re-executes
            # the whole pair join once) feeding a loop that immediately
            # re-shuffles the edges; the label output is identical.
            cc = connected_components(minhash_lsh(spark, threshold, ordered=False))
            labels = staged_cache(spark, "minhash_clusters", cc)
            labels.count()
            # the cached labels now hold the data — THIS call's CC edge/label
            # checkpoint scratch is dead weight. Release only the nonce-scoped
            # group (ADVICE r04): a bare "cc_" release would unpersist a
            # concurrent connected_components call's live localCheckpoint
            # blocks mid-loop, which lineage truncation makes unrecoverable.
            nonce = getattr(cc, "_tf_cc_nonce", None)
            if nonce is not None:
                release_staged_group(spark, f"cc_{nonce}_")
            labels.createOrReplaceTempView("__minhash_clusters")
            spark._tf_clusters_key = key
    return spark.table("__minhash_clusters")


def minhash_clusters_oracle_sql(d_unused: str = "duck", threshold: float = 0.6) -> str:
    """DuckDB oracle: transitive closure via recursive CTE (min reachable
    label per node) over the same pair relation."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({minhash_lsh_sql("duck", threshold)}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
    reach(node, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node)
    SELECT node AS doc_id, MIN(lab) AS component FROM reach
    GROUP BY node ORDER BY doc_id
    """


CONTAIN_MAX_DF = 64  # stop-shingle cap: a shingle in > this many docs is dropped
CONTAIN_THRESHOLD = 0.8


def containment_sql(
    d: str,
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = CONTAIN_MAX_DF,
    sh_rel: str | None = None,
) -> str:
    """Containment near-dup (doc-inside-doc): pairs where the smaller
    shingle set is >= ``threshold`` inside the pair's intersection —
    catches quotes/embeddings/supersets that Jaccard's size-ratio
    prefilter *deliberately* excludes (`ngram_body_sql`).

    Scale shape — an inverted index, not a blocked self-join: explode
    word-3-gram hashes, drop shingles appearing in > ``max_df`` docs (the
    stop-shingle cap — boilerplate shingles would otherwise emit C(df,2)
    pairs each; standard df-pruning, identically applied by the oracle),
    then ONE shuffle on the shingle hash makes co-shingle pairs, and one
    (id_a, id_b) aggregate counts the intersection. Pairs that share no
    rare shingle never materialize, so the candidate count is bounded by
    sum over shingles of C(df<=max_df, 2), never N².
    """
    mat = "MATERIALIZED " if d == "duck" else ""
    return containment_body_sql(d, threshold, "shp").replace(
        "WITH sizes AS",
        f"WITH shp AS {mat}({containment_pruned_sql(d, max_df, sh_rel)}),\n    sizes AS",
        1,
    )


def containment_pruned_sql(d: str, max_df: int = CONTAIN_MAX_DF, sh_rel: str | None = None) -> str:
    """(doc_id, h): distinct exploded shingle hashes with stop-shingles
    (df > max_df) removed — the inverted-index input relation."""
    hs = sh_rel or f"({hashed_shingle_sql(d)})"
    if d == "spark":
        exploded = f"SELECT doc_id, h FROM {hs} LATERAL VIEW explode(hx) AS h"
    else:
        exploded = f"SELECT doc_id, UNNEST(hx) AS h FROM {hs}"
    mat = "MATERIALIZED " if d == "duck" else ""
    return f"""
    WITH sh0 AS {mat}(SELECT DISTINCT doc_id, h FROM ({exploded})),
    rare AS (SELECT h FROM sh0 GROUP BY h HAVING COUNT(*) <= {max_df})
    SELECT sh0.doc_id, sh0.h FROM sh0 JOIN rare ON sh0.h = rare.h
    """


def containment_score_sql(threshold: float) -> str:
    """Scoring tail over CTEs named ``sizes(doc_id, n)`` and
    ``shared(id_a, id_b, ins)`` — ONE spelling of the ROUND precision,
    the ``least`` denominator, and the threshold comparison, shared by
    the relational form (oracle) and the staged Spark builder so the two
    paths cannot silently drift on a future edit."""
    return f"""
    SELECT id_a, id_b, ins,
           ROUND(CAST(ins AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
    FROM shared JOIN sizes sa ON id_a = sa.doc_id
                JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(ins AS DOUBLE) / least(sa.n, sb.n) >= {threshold}
    ORDER BY id_a, id_b
    """


def containment_body_sql(d: str, threshold: float, pruned_rel: str) -> str:
    """Pipeline downstream of the pruned relation ``pruned_rel(doc_id, h)``
    — referenced on THREE sides (size count + both join sides), which is
    why the Spark builder stages it through cache() instead of letting
    Catalyst inline and recompute the explode/DISTINCT/df-prune per use."""
    return f"""
    WITH sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM {pruned_rel} GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS ins
        FROM {pruned_rel} a JOIN {pruned_rel} b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    {containment_score_sql(threshold)}
    """


def containment(spark, threshold: float = CONTAIN_THRESHOLD, max_df: int = CONTAIN_MAX_DF):
    """Staged Spark path — grouped inverted lists, not a row self-join
    (round-6 plan pass, VERDICT r05 item 3: the prior shape shuffled the
    exploded relation on every reference, 7 exchanges at sf0.1).

    Semantics are identical to ``containment_sql`` (the oracle keeps the
    relational spelling); the physical shape is chosen so the one big
    relation — the exploded (doc_id, shingle-hash) rows — crosses a
    full-row shuffle exactly ONCE:

    1. explode ``array_distinct(hx)`` from the session-staged hashed
       shingles — per-row, zero shuffle (``array_distinct`` ≡ the
       relational DISTINCT doc_id, h);
    2. stop-shingles (df > ``max_df``) found with a map-side-combinable
       COUNT — reducers see per-mapper partials, so a boilerplate shingle
       appearing in billions of docs costs rows-per-mapper, never a
       billion-row reducer partition (the skew reason this is an
       aggregate + anti-join rather than a COUNT window);
    3. LEFT ANTI join against the stop list (small: boilerplate shingles
       only — AQE broadcasts it; if it ever outgrew broadcast, AQE's
       skew-join split still bounds the hot h partitions);
    4. the single big shuffle: group the pruned rows by h into
       ``collect_list(doc_id)`` — lists are ≤ ``max_df`` = 64 elements BY
       CONSTRUCTION (pruning already happened), so the aggregation
       buffers are bounded and hot-key-safe;
    5. pair generation is IN-ROW: a double LATERAL VIEW explode over the
       ≤64-element list emits each co-shingle pair (id_a < id_b) with no
       join and no shuffle — C(64,2) ≤ 2016 rows per shingle worst-case;
    6. the pair count and the per-doc sizes are both map-combinable
       aggregates over the staged grouped relation; the final
       pairs⋈sizes joins have the (tiny) pair relation as one side, so
       AQE broadcasts whichever side is small at any scale.

    The grouped relation is staged via ``localCheckpoint`` (slot-tracked,
    superseded blocks released) because sizes + pairs both derive from
    it; the cache manager historically failed to substitute these CTE
    shapes back into the plan, while a checkpoint truncates lineage
    outright. At cluster scale swap to ``checkpoint()`` with a reliable
    dir if the job must survive executor loss mid-query.

    Round 7 (VERDICT r06 item 6): the inverted index (__contain_sh) and
    the per-doc sizes (__contain_sizes) are MEMOIZED per (session,
    loaded tables, max_df) like every other staged signature relation —
    the index of a 100 TB corpus is built once and probed by every
    downstream containment query, not rebuilt per invocation. The sizes
    aggregate is folded into the staging pass (it used to re-explode
    __contain_sh inside every timed query), so the steady-state query is
    in-row pair generation + one pair aggregate + the two
    pairs⋈sizes joins (pair side tiny → AQE broadcast)."""
    _staged_containment(spark, max_df)
    return spark.sql(
        f"""
        WITH sizes AS (SELECT doc_id, n FROM __contain_sizes),
        shared AS (
            SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS ins
            FROM __contain_sh
            LATERAL VIEW explode(docs) A AS id_a
            LATERAL VIEW explode(docs) B AS id_b
            WHERE id_a < id_b
            GROUP BY id_a, id_b)
        {containment_score_sql(threshold)}
        """
    )


def containment_exploded_spark_sql(hx_rel: str) -> str:
    """Spark spelling of the distinct exploded (doc_id, h) relation —
    ONE definition shared by the staged index builder and
    ``tools/skew_caps_report.py`` so the relation the report measures is
    the relation the operator prunes (code-review r07: the report
    previously hand-spelled an equivalent-but-different form that could
    silently drift)."""
    return f"SELECT doc_id, h FROM {hx_rel} LATERAL VIEW explode(array_distinct(hx)) AS h"


def containment_stop_body_sql(exploded_rel: str, max_df: int = CONTAIN_MAX_DF) -> str:
    """(h, df) stop-shingle rows over an exploded relation — the single
    spelling of the df-prune predicate (df > max_df ⇔ dropped)."""
    return (
        f"SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM {exploded_rel} "
        f"GROUP BY h HAVING COUNT(*) > {max_df}"
    )


def _staged_containment(spark, max_df: int = CONTAIN_MAX_DF) -> tuple[str, str]:
    """Stage the containment inverted index once per (session, tables,
    max_df): ``__contain_sh`` (h, docs≤max_df — localCheckpoint, see
    ``containment``) and ``__contain_sizes`` (doc_id, n — cache; derived
    from the SAME pruned exploded pass so the df-prune can never drift
    between the index and the denominator)."""
    from torchfusion_spark.session import memo_lock, staged_cache, staged_checkpoint

    key = (_docs_key(spark), max_df)
    with memo_lock(spark, "containment"):
        if getattr(spark, "_tf_contain_key", object()) != key:
            hx = _staged_hx(spark)
            grouped = staged_checkpoint(
                spark,
                "contain_sh",
                spark.sql(
                    f"""
                    WITH exploded AS ({containment_exploded_spark_sql(hx)}),
                    stop AS ({containment_stop_body_sql("exploded", max_df)})
                    SELECT e.h, collect_list(e.doc_id) AS docs
                    FROM exploded e LEFT ANTI JOIN stop s ON e.h = s.h
                    GROUP BY e.h
                    """
                ),
            )
            grouped.createOrReplaceTempView("__contain_sh")
            sizes = staged_cache(
                spark,
                "contain_sizes",
                spark.sql(
                    """
                    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                    FROM __contain_sh LATERAL VIEW explode(docs) AS doc_id
                    GROUP BY doc_id
                    """
                ),
            )
            sizes.count()
            sizes.createOrReplaceTempView("__contain_sizes")
            spark._tf_contain_key = key
    return "__contain_sh", "__contain_sizes"


# --- exact-substring dedup (suffix-grouping formulation) -------------------

SUBSTRING_K = 8  # minimum duplicated-span length, in word tokens


def substring_grams_sql(d: str, k: int = SUBSTRING_K, rel: str = "documents") -> str:
    """(doc_id, pos, hx): POSITIONAL word-k-gram hashes — one row per
    token offset, unlike the distinct-shingle relations (position is the
    whole point: spans are reconstructed from it). Docs shorter than k
    tokens emit nothing (``seq`` is empty-guarded). ``pos`` is cast to
    BIGINT for cross-engine schema parity (Spark ``sequence`` yields INT,
    DuckDB ``range`` BIGINT)."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    n_pos = f"{G.arr_size('toks', d)} - {k - 1}"
    pos_gen = G.seq("1", n_pos, d)
    pos = f"explode({pos_gen})" if d == "spark" else f"UNNEST({pos_gen})"
    gram = G.arr_join(G.arr_slice("toks", "pos", k, d), " ", d)
    return f"""
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, {G.hash56(gram, d)} AS hx
    FROM (
        SELECT doc_id, toks, {pos} AS pos
        FROM (SELECT doc_id, {toks} AS toks FROM {rel})
    )
    """


def substring_body_sql(d: str, grams_rel: str, k: int = SUBSTRING_K) -> str:
    """Maximal cross-document duplicated spans from a positional-gram
    relation ``grams_rel(doc_id, pos, hx)``.

    Exact-substring dedup à la the public suffix-array method
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022), re-expressed relationally so a distributed engine never
    builds a corpus-wide suffix array: a k-gram hash appearing in >= 2
    DISTINCT documents witnesses a duplicated substring of >= k tokens,
    and overlapping/adjacent duplicated k-grams within a document merge
    into maximal spans by gaps-and-islands (new island when the gap
    exceeds k, i.e. coverage [pos, pos+k-1] no longer touches the
    previous span). Within-doc self-repetition is deliberately out of
    scope here — `text_dup_gram_fraction` / `text_repetition` cover it —
    so the duplicate test is MIN(doc_id) <> MAX(doc_id), which is
    map-combinable (no COUNT(DISTINCT ...) shuffle).

    Scale shape — linear, never pairwise: the classic failure mode of
    substring dedup at 100 TB is emitting one row per *pair* of
    documents sharing a boilerplate gram (C(df,2) per hot gram). This
    formulation never forms pairs at all: duplicated positions are
    marked by MIN/MAX(doc_id) windows over the gram hash — the hot gram
    costs its own positional rows within one hx partition,
    O(occurrences), not O(occurrences²). TWO shuffles total (the hx
    window, the per-doc island window; r8 — the previous
    aggregate+equi-join spelling paid a third exchange and a join for
    the same marking, measured 0.63s→0.46s at sf0.1) and the final
    per-(doc, island) aggregate reuses the window's doc_id exchange."""
    return f"""
    WITH marked AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   MIN(doc_id) OVER (PARTITION BY hx) AS mn,
                   MAX(doc_id) OVER (PARTITION BY hx) AS mx
            FROM {grams_rel})
        WHERE mn <> mx
    ),
    runs AS (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM marked
    ),
    islands AS (
        SELECT doc_id, pos,
               SUM(CASE WHEN prev IS NULL OR pos > prev + {k} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM runs
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_tokens
    FROM islands
    GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """


def substring_sql(d: str, k: int = SUBSTRING_K) -> str:
    """Relational (oracle) composition: positional grams inline."""
    mat = "MATERIALIZED " if d == "duck" else ""
    body = substring_body_sql(d, "grams", k)
    return body.replace(
        "WITH marked AS",
        f"WITH grams AS {mat}({substring_grams_sql(d, k)}),\n    marked AS",
        1,
    )


def _staged_substring_grams(spark, k: int = SUBSTRING_K) -> str:
    """Positional-gram relation staged once per (session, loaded tables):
    the plan references it on both the aggregate and the join side, and
    Catalyst inlines CTEs — without staging the tokenize+md5 pass runs
    twice (same discipline as ``_staged_hx``; param-scoped on k)."""
    from torchfusion_spark.session import memo_lock, staged_cache

    key = (_docs_key(spark), k)
    with memo_lock(spark, "subgrams"):
        if getattr(spark, "_tf_subgram_key", object()) != key:
            g = staged_cache(
                spark,
                "tf_subgrams",
                spark.sql(substring_grams_sql("spark", k, rel=_staged_docs(spark))),
            )
            g.count()
            g.createOrReplaceTempView("__tf_subgrams")
            spark._tf_subgram_key = key
    return "__tf_subgrams"


def dedup_substring(spark, k: int = SUBSTRING_K):
    """Spark path: staged positional grams, then the shared body SQL."""
    return spark.sql(substring_body_sql("spark", _staged_substring_grams(spark, k), k))


def strip_dup_spans_body_sql(
    d: str, grams_rel: str, k: int = SUBSTRING_K, docs_rel: str = "documents"
) -> str:
    """The ACTION step of exact-substring dedup (the public suffix-array
    method's second half): produce the deduplicated corpus, not just the
    span report. Every token covered by a duplicated k-gram is removed
    from all but the gram's EARLIEST document (owner = MIN(doc_id)),
    which keeps exactly one occurrence of each duplicated substring
    corpus-wide — the earliest — and emits per doc the before/removed/
    kept token counts plus a portable fingerprint of the reconstructed
    (lower-cased, single-space) cleaned text.

    Scale shape — linear like the span reporter: ownership is a
    MIN(doc_id) window over the gram hash (never doc pairs); `foreign`
    is every occurrence in a later document than its gram's owner —
    ``doc_id > owner`` already implies the gram spans ≥ 2 documents, so
    the window filter replaces the previous aggregate + self-join and
    its extra exchange (r8, same fusion as ``substring_body_sql``);
    coverage explodes k positions per foreign gram (O(k × occurrences));
    the anti-join removes covered tokens with one (doc_id, tpos)
    shuffle; reconstruction is a per-doc aggregate whose groups are
    doc-sized. A hot boilerplate gram in a billion docs costs its
    occurrences, never C(df, 2). No DISTINCT on coverage — the
    anti-join is existence-based, so overlapping grams covering the same
    token are free.

    Tokenization is the gram relation's own (lower + single-space
    split), so coverage positions and token positions can never drift."""
    return f"""
    WITH foreign_grams AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   MIN(doc_id) OVER (PARTITION BY hx) AS owner
            FROM {grams_rel})
        WHERE doc_id > owner
    ),
    {_strip_tail_sql(d, k, docs_rel=docs_rel)}
    """


def _strip_tail_sql(
    d: str, k: int, base_where: str = "", docs_rel: str = "documents"
) -> str:
    """The shared strip-and-rebuild tail: given a ``foreign_grams``
    (doc_id, pos) CTE of gram occurrences whose spans must go, explode
    their k-token coverage, anti-join it out of the positional token
    stream, and rebuild each doc's cleaned text with counts + portable
    fingerprint. ONE spelling shared by :func:`strip_dup_spans_body_sql`
    (foreign = non-earliest duplicated grams) and
    ``textstats.decontaminate_spans_sql`` (foreign = benchmark-matching
    grams), so the two action-step operators can never drift on
    tokenization, coverage arithmetic, or reconstruction.

    Scan split (code-review r07): only the HEAVY pass — the per-token
    explode + element_at, O(total corpus tokens) — reads ``docs_rel``
    (the Spark builders pass the staged fanned-out docs view so the
    CPU-bound pass never runs on one parquet split); the LIGHT per-doc
    token-count relation reads the raw table. Catalyst inlines view
    references, so routing BOTH through the fan-out view would run its
    repartition shuffle twice per query."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    tok_at = G.elem_at("toks", "tpos", d)
    n_toks = G.arr_size("toks", d)
    tok_pos = G.seq("1", n_toks, d)
    cover_pos = G.seq("pos", f"pos + {k - 1}", d)
    if d == "spark":
        tok_explode = f"LATERAL VIEW explode({tok_pos}) AS tpos"
        cover_explode = f"LATERAL VIEW explode({cover_pos}) AS tpos"
        anti = "LEFT ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.tpos = c.tpos"
        where_kept = ""
        rebuild = (
            "array_join(transform(array_sort(collect_list(struct(tpos, tok))), "
            "x -> x.tok), ' ')"
        )
    else:
        tok_explode = f", UNNEST({tok_pos}) AS u(tpos)"
        cover_explode = f", UNNEST({cover_pos}) AS u(tpos)"
        anti = ""
        where_kept = (
            "WHERE NOT EXISTS (SELECT 1 FROM covered c "
            "WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos)"
        )
        rebuild = "string_agg(tok, ' ' ORDER BY tpos)"
    return f"""covered AS (
        SELECT doc_id, CAST(tpos AS BIGINT) AS tpos FROM foreign_grams {cover_explode}
    ),
    base AS (
        SELECT doc_id, CAST({n_toks} AS BIGINT) AS n
        FROM (SELECT doc_id, {toks} AS toks FROM documents {base_where})
    ),
    tok AS (
        SELECT doc_id, CAST(tpos AS BIGINT) AS tpos, {tok_at} AS tok
        FROM (SELECT doc_id, {toks} AS toks FROM {docs_rel} {base_where}) {tok_explode}
    ),
    kept AS (
        SELECT t.doc_id, t.tpos, t.tok FROM tok t {anti} {where_kept}
    ),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
               {rebuild} AS cleaned
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n AS n_tokens,
           b.n - COALESCE(a.kept_tokens, 0) AS removed_tokens,
           COALESCE(a.kept_tokens, 0) AS kept_tokens,
           {G.hash56("COALESCE(a.cleaned, '')", d)} AS cleaned_fp
    FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    ORDER BY b.doc_id"""


def strip_dup_spans_sql(d: str, k: int = SUBSTRING_K) -> str:
    """Relational (oracle) composition: positional grams inline."""
    mat = "MATERIALIZED " if d == "duck" else ""
    body = strip_dup_spans_body_sql(d, "grams", k)
    return body.replace(
        "WITH foreign_grams AS",
        f"WITH grams AS {mat}({substring_grams_sql(d, k)}),\n    foreign_grams AS",
        1,
    )


def strip_dup_spans(spark, k: int = SUBSTRING_K):
    """Spark path: staged positional grams, then the shared body SQL; the
    token scan reads the staged fanned-out docs view — the per-token
    explode is CPU-bound and a single parquet split would pin it to one
    core (code-review r07)."""
    return spark.sql(
        strip_dup_spans_body_sql(
            "spark", _staged_substring_grams(spark, k), k, docs_rel=_staged_docs(spark)
        )
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (VERDICT r13 item 3): the C4/RefinedWeb
# third dedup granularity between document-level (MinHash/SimHash) and
# span-level (dedup_substring / corpus_strip_dup_spans) — drop every
# occurrence of any LINE repeated >= LINE_DUP_THRESHOLD times corpus-wide
# (the nav-bar / cookie-banner killer; C4 §2.2 "three-sentence span"
# variant applied line-wise as in RefinedWeb's line-wise filter).
# ---------------------------------------------------------------------------

LINE_W = 3  # fixture lining width (tokens per synthetic line) — the test
# corpus carries no newlines, so "lines" are derived as non-overlapping
# LINE_W-token blocks; on a real crawl corpus the lines relation is a
# split-on-'\n' explode and the body below is unchanged (it only sees
# (doc_id, line_no, line, hx))
LINE_DUP_THRESHOLD = 3  # a line occurring >= 3 times is boilerplate (C4)


def lines_rel_sql(d: str, w: int = LINE_W, docs_rel: str = "documents") -> str:
    """(doc_id, line_no, line, hx): the corpus as an ordered line stream.
    Lines are non-overlapping ``w``-token blocks of the lower-cased
    single-space token stream (the gram relation's own tokenization, so
    the three dedup granularities can never drift on case folding or
    split semantics); the trailing partial block is a line too. '' text
    tokenizes to [''] = one line (the engine-pinned empty-token rule);
    NULL text yields no lines (and re-enters via the base LEFT JOIN).
    ``hx`` is the portable 56-bit line hash every downstream step keys
    on — the rollup and the anti-join never ship the line text."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    n = G.arr_size("toks", d)
    nlines = G.intdiv(f"{n} + {w - 1}", str(w), d)
    line = G.arr_join(G.arr_slice("toks", f"(line_no - 1) * {w} + 1", w, d), " ", d)
    if d == "spark":
        explode = f"LATERAL VIEW explode({G.seq('1', 'nl', d)}) AS line_no"
    else:
        explode = f", UNNEST({G.seq('1', 'nl', d)}) AS u(line_no)"
    return f"""
    SELECT doc_id, CAST(line_no AS BIGINT) AS line_no, line,
           {G.hash56("line", d)} AS hx
    FROM (
        SELECT doc_id, {line} AS line, line_no
        FROM (SELECT doc_id, toks, {nlines} AS nl
              FROM (SELECT doc_id, {toks} AS toks FROM {docs_rel})) {explode}
    )
    """


def strip_boilerplate_lines_body_sql(
    d: str,
    lines_rel: str,
    threshold: int = LINE_DUP_THRESHOLD,
    docs_rel: str = "documents",
    w: int = LINE_W,
) -> str:
    """Corpus-wide line-frequency filter over a (doc_id, line_no, line,
    hx) relation: rollup line-hash occurrence counts, drop EVERY
    occurrence of a hot line (unlike the span rule there is no earliest
    owner — boilerplate is noise in all its homes), rebuild each doc's
    cleaned text from its kept lines in order, and emit per-doc
    before/removed/kept line counts plus the portable fingerprint of
    the reconstruction. Documents with NULL text surface as 0-line rows
    via the base LEFT JOIN, fingerprinting ''.

    Scale shape — the cheapest of the three dedup granularities: the
    rollup is a map-combinable COUNT on the 56-bit line hash (partial
    aggregation collapses each executor's occurrences before the ONE
    hash-key shuffle; a nav-bar line in a billion docs crosses the wire
    as one (hx, count) row per map task, never as rows). The hot set —
    lines repeated at least ``threshold`` times — is boilerplate-sized, orders of
    magnitude smaller than the corpus, so the Spark side BROADCASTS it
    into a LEFT ANTI JOIN probe: the corpus-sized line stream never
    shuffles on the probe. Reconstruction is a per-doc aggregate whose
    groups are doc-sized. No caps needed: a hot line inflates one
    BIGINT count, never a pair set."""
    hint = "/*+ BROADCAST(h) */ " if d == "spark" else ""
    if d == "spark":
        anti = f"SELECT {hint}l.doc_id, l.line_no, l.line FROM {lines_rel} l LEFT ANTI JOIN hot h ON l.hx = h.hx"
    else:
        anti = (
            f"SELECT l.doc_id, l.line_no, l.line FROM {lines_rel} l "
            "WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.hx = l.hx)"
        )
    toks = G.split_ws(G.lower_ascii("text"), d)
    n = G.arr_size("toks", d)
    nlines = G.intdiv(f"{n} + {w - 1}", str(w), d)  # same w as lines_rel —
    # the base arithmetic and the line relation must never disagree on
    # the lining width (code-review r14)
    if d == "spark":
        rebuild = (
            "array_join(transform(array_sort(collect_list(struct(line_no, line))), "
            "x -> x.line), ' ')"
        )
    else:
        rebuild = "string_agg(line, ' ' ORDER BY line_no)"
    return f"""
    WITH hot AS (
        SELECT hx FROM {lines_rel} GROUP BY hx HAVING COUNT(*) >= {threshold}
    ),
    kept AS (
        {anti}
    ),
    base AS (
        SELECT doc_id,
               CAST(CASE WHEN toks IS NULL THEN 0 ELSE {nlines} END AS BIGINT) AS n
        FROM (SELECT doc_id, {toks} AS toks FROM {docs_rel})
    ),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_lines,
               {rebuild} AS cleaned
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n AS n_lines,
           b.n - COALESCE(a.kept_lines, 0) AS removed_lines,
           COALESCE(a.kept_lines, 0) AS kept_lines,
           {G.hash56("COALESCE(a.cleaned, '')", d)} AS cleaned_fp
    FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    ORDER BY b.doc_id
    """


def strip_boilerplate_lines_sql(
    d: str, threshold: int = LINE_DUP_THRESHOLD, w: int = LINE_W
) -> str:
    """Relational (oracle) composition: lines CTE inline. DuckDB gets a
    MATERIALIZED lines CTE (it is referenced by both the rollup and the
    probe — the engine-inlining discipline, mirrored by the Spark
    builder's staged view). ``w`` plumbs through BOTH the lines relation
    and the body's base arithmetic, mirroring the Spark path, so a
    non-default lining width stays hash-gateable (code-review r14)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    body = strip_boilerplate_lines_body_sql(d, "lines_rel", threshold, w=w)
    return body.replace(
        "WITH hot AS",
        f"WITH lines_rel AS {mat}({lines_rel_sql(d, w)}),\n    hot AS",
        1,
    )


def _staged_lines(spark, w: int = LINE_W, then=None):
    """The (doc_id, line_no, line, hx) relation staged once per (session,
    docs-view identity, w): the plan references it on both the rollup
    and the anti-join probe side and Catalyst inlines CTEs — without
    staging the tokenize+md5 lining pass runs twice (the
    ``_staged_substring_grams`` discipline).

    ``then`` is invoked INSIDE the memo lock (the ``_staged_hx``
    discipline): a consumer resolving its plan from ``__tf_lines`` after
    release races a concurrent docs-view swap, binding the hot set to
    one corpus and the base CTE to the other (ADVICE r08 TOCTOU class;
    code-review r14 caught this staging helper shipping without it)."""
    from torchfusion_spark.session import memo_lock, staged_cache

    key = _docs_key(spark)
    # view/slot/memo-attr are all w-scoped (the semantic_dedup
    # parameter-scoped-names discipline): two widths alternating in one
    # session must not unpersist each other's staged relation mid-collect
    # (code-review r14)
    view = f"__tf_lines_{w}"
    with memo_lock(spark, "lines"):
        if getattr(spark, f"_tf_lines_key_{w}", object()) != key:
            g = staged_cache(
                spark,
                f"tf_lines_{w}",
                spark.sql(lines_rel_sql("spark", w, docs_rel=_staged_docs(spark))),
            )
            g.count()
            g.createOrReplaceTempView(view)
            setattr(spark, f"_tf_lines_key_{w}", key)
        if then is not None:
            return then(view)
    return view


def strip_boilerplate_lines(
    spark, threshold: int = LINE_DUP_THRESHOLD, w: int = LINE_W
):
    """Spark path: staged line stream, then the shared body SQL (resolved
    inside the memo lock — see ``_staged_lines``); the per-doc n_lines
    pass reads the raw table (light arithmetic — the scan-split
    discipline of ``_strip_tail_sql``)."""
    return _staged_lines(
        spark,
        w,
        then=lambda rel: spark.sql(
            strip_boilerplate_lines_body_sql("spark", rel, threshold, w=w)
        ),
    )


_CANON_SELECT = """
    SELECT component,
           CAST(n_members AS BIGINT) AS n_members,
           doc_id AS canonical_doc,
           quality_score AS best_quality
    FROM (
        SELECT c.component, c.doc_id, q.quality_score,
               COUNT(*) OVER (PARTITION BY c.component) AS n_members,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY q.quality_score DESC, c.doc_id) AS rn
        FROM {clusters} c JOIN {quality} q ON c.doc_id = q.doc_id)
    WHERE rn = 1 ORDER BY component
"""


def canonical_oracle_sql(threshold: float = 0.6) -> str:
    """DuckDB oracle for the composed dedup→canonical pipeline: the
    recursive-CTE transitive closure (same as the clusters oracle)
    joined with the quality subquery, best doc per cluster by
    (quality DESC, doc_id) — deterministic despite quality ties."""
    from torchfusion_spark.operators.textstats import text_quality_sql

    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({minhash_lsh_sql("duck", threshold)}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
    reach(node, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node),
    clusters AS (SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node),
    quality AS (SELECT doc_id, quality_score FROM ({text_quality_sql("duck")}))
    {_CANON_SELECT.format(clusters="clusters", quality="quality")}
    """


def dedup_canonical(spark, threshold: float = 0.6):
    """Composed pipeline: near-dup clusters (iterative min-label CC over
    LSH pairs) → per-cluster canonical selection by quality score. The
    window partitions are cluster-sized (bounded by the hot-bucket cap
    upstream); singleton docs never enter a cluster and are implicitly
    kept — the result is the *decision table* a 100 TB dedup pass ships
    to the filter stage (anti-join corpus against non-canonical ids)."""
    from torchfusion_spark.operators.textstats import text_quality_sql

    minhash_clusters(spark, threshold).createOrReplaceTempView("__dedup_clusters")
    spark.sql(text_quality_sql("spark")).createOrReplaceTempView("__doc_quality")
    return spark.sql(
        _CANON_SELECT.format(clusters="__dedup_clusters", quality="__doc_quality")
    )


def build_minhash_index(spark, path: str) -> None:
    """Persist the corpus-side dedup state: the signature relation
    (doc_id, hx, sig) and the exploded band-key relation (band, bkey,
    doc_id). Build once over the corpus; incremental batches dedup
    against it without re-shingling a byte of the existing 100 TB."""
    from torchfusion_spark.session import cpu_fanout

    cpu_fanout(spark.table("documents")).createOrReplaceTempView("__mhidx_docs")
    sig = spark.sql(
        sig_rel_sql("spark", f"({hashed_shingle_sql('spark', rel='__mhidx_docs')})")
    ).cache()
    sig.count()
    sig.createOrReplaceTempView("__mhidx_sig")
    sig.write.mode("overwrite").parquet(f"{path}/sig")
    exploded = G.band_explode("__mhidx_sig", G.band_exprs("sig", "spark"), "spark")
    # same hot-bucket cap as the batch LSH path (minhash_body_sql): an
    # uncapped boilerplate bucket in the index would make every future
    # ingest probe quadratic against it
    spark.sql(
        f"""
        SELECT doc_id, band, bkey FROM (
            SELECT doc_id, band, bkey,
                   COUNT(*) OVER (PARTITION BY band, bkey) AS bsz
            FROM ({exploded}))
        WHERE bsz <= {MAX_BUCKET}
        """
    ).write.mode("overwrite").parquet(f"{path}/bands")
    sig.unpersist()


def dedup_incremental(spark, new_rel: str, path: str, threshold: float = 0.6):
    """Dedup a NEW batch against the persisted index: the batch's band
    keys form the (small) broadcast side, so the index band relation is
    filtered by a broadcast hash join — the 100 TB index side never
    shuffles and is never re-shingled. Candidates verify exact Jaccard
    via the stored shingle-hash sets. Returns (new_id, old_id, jaccard)
    pairs with jaccard >= threshold.

    This is the production dedup shape: the full-corpus LSH runs once
    (`build_minhash_index`), every subsequent ingest batch is an
    incremental probe."""
    from torchfusion_spark.session import staged_cache

    new_sig = staged_cache(
        spark, "mhinc_sig", spark.sql(sig_rel_sql("spark", f"({hashed_shingle_sql('spark', rel=new_rel)})"))
    )
    new_sig.count()
    new_sig.createOrReplaceTempView("__mhinc_sig")
    spark.sql(
        G.band_explode("__mhinc_sig", G.band_exprs("sig", "spark"), "spark")
    ).createOrReplaceTempView("__mhinc_bands")
    spark.read.parquet(f"{path}/sig").createOrReplaceTempView("__mhidx_sig_r")
    spark.read.parquet(f"{path}/bands").createOrReplaceTempView("__mhidx_bands_r")
    inter = G.arr_intersect_size("x.hx", "y.hx", "spark")
    return spark.sql(f"""
    WITH cand AS (
        SELECT /*+ BROADCAST(n) */ DISTINCT n.doc_id AS new_id, i.doc_id AS old_id
        FROM __mhidx_bands_r i JOIN __mhinc_bands n
          ON i.band = n.band AND i.bkey = n.bkey AND i.doc_id <> n.doc_id)
    SELECT new_id, old_id, jaccard FROM (
        SELECT new_id, old_id,
               ROUND(CAST({inter} AS DOUBLE) /
                     ({G.arr_size('x.hx', 'spark')} + {G.arr_size('y.hx', 'spark')} - {inter}), 6) AS jaccard
        FROM cand JOIN __mhinc_sig x ON x.doc_id = new_id
                  JOIN __mhidx_sig_r y ON y.doc_id = old_id)
    WHERE jaccard >= {threshold}
    ORDER BY new_id, old_id
    """)


def build_url_index(spark, path: str, rel: str = "documents") -> None:
    """Persist the canonical-URL seen-set — the URL-layer analogue of
    :func:`build_minhash_index` (VERDICT r8 item 4): one (canonical_url,
    keeper_doc_id) row per canonical form, aggregated from a single
    canonicalization pass over the corpus. Cross-snapshot URL dedup is
    the first thing a recurring-crawl pipeline runs (C4/RefinedWeb
    practice): build once, then every ingest batch probes incrementally.

    The index deliberately carries ONLY (canonical_url, keeper_doc_id) —
    no source, no raw URL — so the probe side is structurally incapable
    of re-canonicalizing it. NULL-canonical docs are singletons
    (``url_canonical_dedup_sql`` semantics) and carry no seen-set
    evidence, so they are not indexed. At 100 TB the parquet directory
    would be written bucketed by canonical_url; the probe below never
    shuffles it either way (the batch broadcasts)."""
    # HAVING, not WHERE (r16): the NULL-singleton filter on the derived
    # canonical_url runs post-aggregate on the grouped attribute. The
    # WHERE form pushed the predicate below the aggregate and inlined a
    # second copy of the whole canonicalization chain (the nested
    # regexp_replace/translate tree) into the Filter — doubling a plan
    # whose Catalyst/codegen compile alone measured 6.8 s cold vs 1.1 s
    # for this form at sf0.1, on this staging critical path. Rows are
    # identical (verified: 501-row index equal elementwise; the oracle
    # gate re-proves it via dedup_url_incremental).
    spark.sql(
        f"""
        SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM ({url_canonical_sql("spark", rel=rel)})
        GROUP BY canonical_url
        HAVING canonical_url IS NOT NULL
        """
    ).write.mode("overwrite").parquet(f"{path}/urls")


def _url_split_subq(d: str) -> str:
    """The deterministic index/batch split point for the incremental-URL
    registry witness: half the max crawl id, as a scalar subquery so
    both dialects derive it declaratively (empty corpus → NULL → both
    slices empty, no special-casing). Shared by the Spark builder and
    the oracle so the split can never drift."""
    return f"(SELECT {G.intdiv('MAX(doc_id)', '2', d)} FROM documents)"


def url_incremental_equiv_sql(d: str) -> str:
    """The DuckDB-expressible equivalence that PINS the incremental URL
    dedup (VERDICT r9 item 5): with index doc_ids preceding batch
    doc_ids (crawl order), probing the persisted seen-set must equal the
    full-corpus :func:`url_canonical_dedup_sql` over index ∪ batch
    restricted to batch docs — the equality
    ``tests/test_extensions.py::test_incremental_url_dedup_matches_full_corpus``
    already proves in-engine; registering it puts the driver's hash gate
    on the incremental path every rotation."""
    return f"""
    WITH full_dedup AS ({url_canonical_dedup_sql(d)})
    SELECT doc_id, source, canonical_url, keeper_doc_id, kept
    FROM full_dedup
    WHERE doc_id >= {_url_split_subq(d)}
    ORDER BY doc_id
    """


def _pid_start_time(pid: int) -> float | None:
    """Absolute start time (epoch seconds) of ``pid`` from
    ``/proc/<pid>/stat`` field 22 (clock ticks since boot) + the boot
    time from ``/proc/stat``. Parsed after the last ')' — the comm field
    may contain spaces and parens. None when unknowable (no procfs):
    /proc/<pid>'s own inode timestamps are NOT a reliable proxy (dentry
    eviction recreates them with the current time — code-review r12)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        ticks = float(stat.rsplit(")", 1)[1].split()[19])  # field 22
        with open("/proc/stat") as f:
            btime = next(
                float(line.split()[1]) for line in f if line.startswith("btime ")
            )
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, IndexError, ValueError):
        return None


_URL_INDEX_MAX_AGE_SEC = 7 * 24 * 3600  # undecidable-ownership backstop only


def _marker_recorded_start(full: str) -> float | None:
    """The builder's own process-start time, recorded on the marker's
    second line at build-complete; None for pre-r12 markers."""
    try:
        with open(os.path.join(full, "_TF_BUILT")) as f:
            lines = f.read().splitlines()
        return float(lines[1])
    except (OSError, IndexError, ValueError):
        return None


def _url_index_cleanup(base: str) -> None:
    """Best-effort ``.scratch/url_index_*`` hygiene (ADVICE r10 #4):
    remove this process's index dirs at interpreter exit, and sweep
    dirs left by DEAD pids (a crashed session cannot clean up after
    itself). A live foreign pid is the OWNER — never touched — exactly
    when its /proc start time matches the start time the builder
    recorded on the marker (pid recycling is thereby detected
    precisely, not inferred from ages: an idle week-old but live owner
    keeps its dirs — code-review r12 both passes). Only when ownership
    is UNDECIDABLE (no procfs, or a pre-start-time marker) does the
    7-day age backstop apply, so a recycled pid cannot pin a dead
    session's dirs forever (ADVICE r11 #3). Disk-growth hygiene only,
    never correctness."""
    import shutil
    import time

    try:
        entries = os.listdir(base)
    except OSError:
        return
    for name in entries:
        if not name.startswith("url_index_"):
            continue
        try:
            pid = int(name.rsplit("_", 1)[1])
        except ValueError:
            continue
        full = os.path.join(base, name)
        if pid != os.getpid():
            try:
                os.kill(pid, 0)  # raises if the pid is gone
            except ProcessLookupError:
                pass  # dead owner — sweep
            except OSError:
                continue  # EPERM etc.: alive but unprobeable — leave it
            else:
                live_start = _pid_start_time(pid)
                recorded = _marker_recorded_start(full)
                if live_start is not None and recorded is not None:
                    if abs(live_start - recorded) < 2.0:
                        continue  # verified owner — never touch
                    # start times disagree: the pid was recycled — sweep
                elif live_start is not None:
                    # the pid is provably ALIVE but the marker carries no
                    # start time (a pre-r13 marker, or a build still in
                    # progress): the live pid may well BE the owner, so
                    # the ordinary 7-day backstop must not sweep the dir
                    # out from under it (ADVICE r13 #4 — the old backstop
                    # here deleted a live owner's week-old dir mid-probe).
                    # A true owner upgrades its legacy marker on its next
                    # successful probe, so the only way this state lasts
                    # is a DEAD owner whose pid was recycled by a
                    # long-lived foreign process — bound that disk growth
                    # with a 4x backstop instead of pinning forever
                    # (code-review r13): at 28 idle days the plausibility
                    # of a resolved-but-uncollected plan is nil on both
                    # branches of the ambiguity.
                    if time.time() - os.path.getmtime(full) < 4 * _URL_INDEX_MAX_AGE_SEC:
                        continue
                elif time.time() - os.path.getmtime(full) < _URL_INDEX_MAX_AGE_SEC:
                    continue  # pid probe undecidable (no procfs) and young — leave it
        shutil.rmtree(full, ignore_errors=True)


def url_incremental_query(spark):
    """Registry builder for ``dedup_url_incremental`` (VERDICT r9
    item 5): persist the canonical-URL seen-set over the lower-half
    crawl (built once per corpus — the index build is the
    once-per-snapshot cost the incremental shape exists to amortize),
    then probe the upper-half batch against it. The index parquet lives
    under the repo's gitignored ``.scratch`` dir at a path derived from
    the corpus key + pid, with a ``_TF_BUILT`` marker written AFTER the
    parquet lands: the build is skipped whenever the marker exists, so
    an A→B→A docs-view swap-back reuses corpus A's intact index instead
    of overwriting files a previously resolved, not-yet-collected plan
    for A still references (ADVICE r10 #4 — the old session-attribute
    memo forgot A when B was built and re-overwrote A's path). Stale
    dirs are swept at exit / when their owning pid is dead. The whole
    check-build-probe runs inside the ``url_index`` memo lock
    (resolve-inside-lock, the ADVICE r08 TOCTOU discipline).

    The split point is collected ONCE here (a 1-row control-plane read,
    the ``connected_components`` sanctioned class) and inlined as a
    LITERAL into both slice predicates: as a scalar subquery the probe
    plan re-ran the MAX(doc_id) aggregate four times (each reference of
    either slice re-executes it — 4 full doc_id column scans and 4
    single-partition exchanges per probe, measured r11). The oracle
    keeps the declarative subquery spelling; results are identical
    because both derive the same half-the-max-crawl-id split. An empty
    corpus (MAX = NULL) makes both slices empty via a FALSE predicate —
    the same rows the oracle's NULL-comparison split yields."""
    import atexit

    from torchfusion_spark.session import memo_lock

    with memo_lock(spark, "url_index"):
        key = _docs_key(spark)
        row = spark.sql(f"SELECT {_url_split_subq('spark')} AS s").first()
        split = "NULL" if row is None or row.s is None else str(row.s)
        idx_pred = "FALSE" if split == "NULL" else f"doc_id < {split}"
        batch_pred = "FALSE" if split == "NULL" else f"doc_id >= {split}"
        path = _url_index_path(key)
        if type(key) is object:  # unkeyed sentinel: bound this session's dirs
            _drop_prev_unkeyed(spark, path)
        base = os.path.dirname(path)
        if not getattr(url_incremental_query, "_cleanup_registered", False):
            atexit.register(_url_index_cleanup, base)
            url_incremental_query._cleanup_registered = True
            _url_index_cleanup(base)  # sweep dead-pid leftovers now
        marker = os.path.join(path, "_TF_BUILT")
        if not os.path.exists(marker):
            build_url_index(
                spark,
                path,
                rel=f"(SELECT * FROM documents WHERE {idx_pred}) __url_idx_src",
            )
            with open(marker, "w") as f:
                # line 2: this process's start time — the cleanup sweep's
                # exact ownership proof against pid recycling
                start = _pid_start_time(os.getpid())
                f.write(os.path.basename(path) + (f"\n{start}" if start else ""))
        elif _marker_recorded_start(path) is None:
            # legacy (pre-r13) marker with no start-time line: upgrade it
            # in place on this successful probe — the path is keyed to
            # OUR pid, so ownership is certain — closing the window in
            # which a foreign sweep sees a live pid but no recorded start
            # (ADVICE r13 #4).
            start = _pid_start_time(os.getpid())
            if start is not None:
                with open(marker, "w") as f:
                    f.write(f"{os.path.basename(path)}\n{start}")
        else:
            # touch-on-probe (code-review r13 second pass): the sweep's
            # no-procfs branch reads dir mtime as "idleness" with a 7-day
            # backstop, but a probe skips the build and would otherwise
            # never refresh it — an ACTIVE owner on a procfs-less host
            # must still look active to that mtime check. (This branch
            # only runs when the marker already carries a start time, so
            # it cannot defend PRE-r13 owners — those never execute this
            # code, and one idling >28 days remains sweepable by design:
            # the 4x bound is the accepted plausibility cutoff, ADVICE
            # r13 #4.)
            try:
                os.utime(path)
            except OSError:
                pass
        batch = f"(SELECT * FROM documents WHERE {batch_pred}) __url_batch_src"
        return dedup_url_incremental(spark, batch, path)


def _url_index_path(key) -> str:
    """Index parquet dir for a docs-view key — shared by the builder and
    its tests so the path scheme cannot drift between them. Keyed by
    (md5 of the key's repr, pid): the pid isolates concurrent
    processes, the tag isolates corpora within one. The ``_docs_key``
    always-rebuild sentinel (a bare ``object()`` for un-analyzable
    views) gets a per-instance nonce path: its repr embeds a transient
    address that CPython can REUSE for a later sentinel, so two
    different unknown corpora could alias one marker path and skip the
    rebuild the sentinel exists to force (code-review r11)."""
    import hashlib

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
    )
    if type(key) is object:  # the un-analyzable-view sentinel
        nonce = next(_url_index_nonce)
        return os.path.join(base, f"url_index_unkeyed{nonce}_{os.getpid()}")
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    return os.path.join(base, f"url_index_{tag}_{os.getpid()}")


def _drop_prev_unkeyed(spark, new_path: str) -> None:
    """Disk hygiene for the un-analyzable-view sentinel (ADVICE r11 #3):
    the sentinel forces a rebuild per call, so without this every
    unkeyed probe leaks a dir until interpreter exit. The previous
    unkeyed dir is dropped when THE SAME THREAD of this session mints
    its next one — per-(session, thread) tracking: two SparkSessions in
    one process must not delete each other's live index dirs
    (code-review r12), and two THREADS sharing one session must not
    either — thread B superseding "the session's" previous dir while
    thread A's just-resolved probe plan is still collecting against it
    rmtree'd A's files mid-scan (ADVICE r13 #2; the caller's
    ``url_index`` memo lock doesn't cover A's collect, which runs after
    the lock is released). A finished thread's last dir persists until
    interpreter exit, where ``_url_index_cleanup`` removes every
    own-pid dir unconditionally. Caveat this trades away: an unexecuted
    probe plan from the same thread's PREVIOUS unkeyed call loses its
    backing files — unkeyed views carry no reuse-across-builds
    guarantee (that is what the sentinel means), so only each thread's
    most recent build's plans are supported."""
    import shutil
    import threading

    prev_by_thread = spark.__dict__.setdefault("_tf_url_unkeyed_prev", {})
    prev = prev_by_thread.setdefault(threading.get_ident(), [])
    while prev:
        shutil.rmtree(prev.pop(), ignore_errors=True)
    prev.append(new_path)


_url_index_nonce = itertools.count()


def dedup_url_incremental(spark, new_rel: str, path: str):
    """URL-dedup a NEW crawl batch against the persisted seen-set: the
    batch is canonicalized (scan-speed codegen on the small side only)
    and BROADCAST against the index, so the 100 TB index side never
    shuffles and never re-canonicalizes — it is a bare parquet scan of
    (canonical_url, keeper_doc_id). Output schema matches
    ``url_canonical_dedup_sql``: per batch doc, the canonical URL, the
    keeper (the index's earliest crawl if the URL was ever seen, else
    the batch's earliest occurrence) and the kept flag. With index
    doc_ids preceding batch doc_ids (crawl order), the result is pinned
    equal to the full-corpus ``dedup_url_canonical`` over index ∪ batch
    restricted to batch docs (tests/test_extensions.py).

    Probe shape (VERDICT r13 item 6 — was 3 shuffles, now 2): the old
    spelling paid a window over a COALESCE key AND a DISTINCT on the
    index-hit set — two batch-keyed exchanges doing one job. Now the
    batch arm and the index-hit arm UNION ALL into ONE map-combinable
    GROUP BY that resolves both keepers per URL (the fusion shape that
    replaces a LEFT JOIN whose both references Catalyst would inline
    and compute twice). NULL canonical URLs never enter the rollup —
    they are singletons by definition and resolve in the final
    projection's CASE, so the group key is the bare canonical_url with
    no skew-prone all-NULLs partition. The index side still streams
    against a BROADCAST batch-URL projection and never shuffles;
    duplicate batch URLs produce duplicate index-hit rows that the
    MIN() dedupes for free (the index is unique per canonical_url by
    construction, so MIN is exact, not a tie-break). The remaining
    exchanges are the keeper rollup and the presentation sort the
    oracle's ORDER BY pins."""
    spark.sql(url_canonical_sql("spark", rel=new_rel)).createOrReplaceTempView(
        "__urlinc_batch"
    )
    spark.read.parquet(f"{path}/urls").createOrReplaceTempView("__urlidx_r")
    return spark.sql("""
    WITH resolved AS (
        SELECT canonical_url,
               MIN(CASE WHEN src = 0 THEN k END) AS batch_keeper,
               MIN(CASE WHEN src = 1 THEN k END) AS idx_keeper
        FROM (
            SELECT canonical_url, doc_id AS k, 0 AS src
            FROM __urlinc_batch WHERE canonical_url IS NOT NULL
            UNION ALL
            SELECT /*+ BROADCAST(b) */ i.canonical_url, i.keeper_doc_id, 1
            FROM __urlidx_r i JOIN (SELECT canonical_url FROM __urlinc_batch
                                    WHERE canonical_url IS NOT NULL) b
              ON i.canonical_url = b.canonical_url)
        GROUP BY canonical_url)
    SELECT /*+ BROADCAST(r) */ w.doc_id, w.source, w.canonical_url,
           CASE WHEN w.canonical_url IS NULL THEN w.doc_id
                ELSE COALESCE(r.idx_keeper, r.batch_keeper) END AS keeper_doc_id,
           CASE WHEN w.canonical_url IS NULL THEN TRUE
                ELSE (r.idx_keeper IS NULL AND w.doc_id = r.batch_keeper) END AS kept
    FROM __urlinc_batch w LEFT JOIN resolved r ON w.canonical_url = r.canonical_url
    ORDER BY w.doc_id
    """)


def connected_components_star(pairs, max_iter: int = 20):
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — converges in O(log n) rounds instead of min-label
    propagation's O(diameter), which is the difference that matters on
    deep or chain-shaped duplicate graphs (transcript/page sequences)
    where :func:`connected_components` would need diameter rounds.

    Each round: large-star connects every neighbor larger than u to
    m = min(N(u) ∪ {u}); small-star does the same for the
    smaller-or-equal neighborhood. The edge set monotonically contracts
    toward stars rooted at component minima; termination = stable
    symmetric edge set (count + hash-sum compare, no driver-side edge
    materialization). Output matches :func:`connected_components`:
    (doc_id, component=min reachable id).

    No ``SMALL_GRAPH_EDGES`` short-circuit ON PURPOSE: this function is
    the registered witness for the star path itself — short-circuiting
    to the single-task union-find at gate scale would certify the fast
    path twice and the contraction loop never. Checkpoints are
    slot-tracked over TWO alternating slots (the sibling's discipline):
    each checkpoint releases the blocks from two checkpoints ago, which
    nothing references anymore (the current edge set is a checkpointed
    leaf independent of its ancestors), so a long loop holds two edge
    generations instead of ~3 per round until driver GC."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from torchfusion_spark.session import staged_checkpoint, staging_nonce

    spark = pairs.sparkSession
    nonce = staging_nonce(spark)
    n_ck = 0

    def ck_sig(df):
        """Checkpoint ``df`` and return (checkpoint, (count, xor-hash)).

        The termination signature rides the checkpoint action as
        ``observe()`` metrics (r16, guide §1.2): the old spelling
        re-scanned the materialized blocks as a separate per-round
        collect job. bit_xor: order-independent and overflow-free (SUM
        of xxhash64 trips ANSI ARITHMETIC_OVERFLOW)."""
        nonlocal n_ck
        obs = Observation()
        # letter suffix, not a digit — see connected_components' labels slot
        out = staged_checkpoint(
            spark,
            f"ccs_{nonce}_e{'AB'[n_ck % 2]}",
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ),
        )
        n_ck += 1
        # bounded read with a synchronous recompute fallback — see
        # :func:`_observed` (a dropped listener event must cost one extra
        # job, never a wedged loop)
        m = _observed(
            obs,
            lambda _e=out: _e.select(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            )
            .collect()[0]
            .asDict(),
        )
        return out, (m["n"], m["h"])

    def sym(e):
        # one-pass symmetrize (r16): stack() emits both directions from a
        # single execution of e's plan; the self-union spelling ran the
        # un-materialized upstream subtree once PER BRANCH — for the LSH
        # callers that re-executed the banded pair join twice inside the
        # first checkpoint (measured 2.5–2.9s of the query's 4.7s wall
        # at sf0.1), and re-ran each round's window chain twice
        return (
            e.filter("u <> v").selectExpr("stack(2, u, v, v, u) AS (u, v)").distinct()
        )

    e, prev = ck_sig(sym(pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))))
    # per-u neighborhood minimum via a window, not groupBy+join (r16,
    # guide §2.2): the aggregate-then-equi-join spelling shuffles the
    # edge set TWICE per star step (once into the groupBy, once into the
    # join) plus the tiny mins side; MIN(v) OVER (PARTITION BY u) is one
    # hash exchange on the same key with identical per-row results.
    from pyspark.sql import Window

    by_u = Window.partitionBy("u")
    for _ in range(max_iter):
        # large-star: (v, m) for v > u, m = min(N(u) ∪ {u})
        large = (
            e.withColumn("m", F.least(F.col("u"), F.min("v").over(by_u)))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ONE checkpoint per round (r16, guide §1.2): the large-star
        # output feeds the small-star step lazily inside the same plan —
        # materializing it separately bought nothing (each round's plan
        # is a short linear chain; lineage is truncated at the round
        # boundary either way) and cost a second checkpoint pass + action
        # round trip per round
        e2 = sym(large)
        # small-star over the smaller-or-equal neighborhood; emits (v, m)
        # and (u, m) per es row in one stack() pass (the (u, m) arm fires
        # once per es row instead of once per distinct u — sym()'s
        # DISTINCT collapses the copies, same set)
        es = e2.filter(F.col("v") < F.col("u")).withColumn("m", F.min("v").over(by_u))
        small = es.selectExpr("stack(2, v, m, u, m) AS (u, v)")
        e, cur = ck_sig(sym(small))
        if cur == prev:
            break
        prev = cur
    else:
        # falling out of the round budget without a stable edge set would
        # return components computed from a PARTIALLY contracted graph —
        # silently wrong labels the driver would certify (the sibling
        # propagation loop fails loudly for the same reason). Rounds grow
        # ~log2(diameter), so 20 covers ~500k-deep chains; deeper graphs
        # must raise max_iter, not get wrong answers. Release this failed
        # call's checkpoint group first — nothing can reference it after
        # the raise, and the builder's supersede-release only ever
        # targets the last SUCCESSFUL nonce (code-review r12).
        from torchfusion_spark.session import finish_staging_nonce, release_staged_group

        release_staged_group(spark, f"ccs_{nonce}_")
        finish_staging_nonce(spark, nonce)
        raise RuntimeError(
            f"connected_components_star: edge set still contracting after "
            f"{max_iter} rounds — component diameter exceeds ~2^{max_iter}; "
            "raise max_iter"
        )
    # the returned plan reads only the FINAL edge checkpoint; the other
    # alternating slot holds the penultimate generation — dead weight the
    # moment the loop ends, so release it here and leave exactly one live
    # slot per call for the builder's supersede-release to reap. The
    # nonce's in-flight record is deliberately NOT cleared here (ADVICE
    # r13 #3 suggested clearing at completion, but this round's review
    # showed that reopens the code-review r12 race: between this return
    # and the caller's collect(), a sibling thread's supersede-release
    # would no longer see this thread in _protected_nonces and could
    # unpersist the final edge checkpoint mid-read — localCheckpoint
    # lineage is unrecoverable). The cost of keeping the record is a
    # BOUNDED leak: at most one superseded group per *idle* pool thread,
    # reaped by a later call's whole-prefix supersede sweep once this
    # thread's record is overwritten by its next nonce draw (or the
    # thread exits); the race it prevents is wrong results. Only the FAILURE
    # path below clears the record eagerly — after a raise nothing can
    # reference the group.
    from torchfusion_spark.session import release_staged_group

    release_staged_group(spark, f"ccs_{nonce}_e{'AB'[n_ck % 2]}")
    comp = (
        e.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("doc_id"), F.least(F.col("u"), F.col("mv")).alias("component"))
    )
    out = comp.orderBy("doc_id")
    out._tf_cc_nonce = nonce
    return out
