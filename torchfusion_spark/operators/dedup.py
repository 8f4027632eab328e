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

from torchfusion_spark.operators import sqlgen as G
from torchfusion_spark.staging import declare, scratch, stage


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
    (plan: 2 × [Exchange → Window] → 1 staged build; ``tools/perf_probe.py
    --plans-dir`` shows it for ``dedup_minhash_lsh``). The oracle keeps the inline CTE
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
    """Spark-side staged execution: the band/verify pipeline over the
    session-staged signature relation (doc_id, hx, sig) and its capped
    banded relation (``minhash_sig`` below) — the shingle pass, the md5
    pass and the 16-perm fold each run once per corpus regardless of how
    many times the self-join references the relation, and
    ``minhash_clusters`` reuses them right after in gate order."""
    sig, ok = stage(spark, "minhash_sig")
    return spark.sql(
        minhash_body_sql("spark", sig, threshold, ordered=ordered, ok_rel=ok)
    )


@declare("docs", deps=("documents",))
def _docs(ctx):
    """The documents fanned out to full parallelism once: a single small
    parquet file arrives as ONE split and every dedup signature pass is
    CPU-bound (at cluster scale the input already has enough splits and
    this shuffle is a no-op-sized rebalance)."""
    from torchfusion_spark.session import cpu_fanout

    return ctx.view("__dedup_docs", cpu_fanout(ctx.spark.table(ctx.dep("documents"))))


@declare("hx_shingles", deps=("docs",), prewarm=True)
def _hx(ctx):
    """The hashed-shingle relation (doc_id, hx): the shingle-build + md5
    pass is the dominant cost of every shingle-based operator (MinHash,
    containment, both decontaminate variants, the Bloom benchmark set),
    and their plans reference it on two or more CTE sides — Catalyst
    inlines CTEs, so without staging the md5 pass runs per reference."""
    return ctx.cache(
        "__tf_hx", ctx.spark.sql(hashed_shingle_sql("spark", rel=ctx.dep("docs")))
    )


@declare("minhash_sig", deps=("hx_shingles",))
def _minhash_sig(ctx):
    """(signature view, capped banded view). The signature derives from
    the staged shingles (r16 note: a NumPy-under-mapInArrow spelling of
    the fold was measured SLOWER than this SQL fold — warm noop-sink
    0.59s vs 0.21s at sf0.1, plus ~10s cold Python-worker spin-up —
    because the hx array column must round-trip the Arrow boundary for
    the Jaccard verify). The capped banded relation is staged beside it
    (r17): the candidate self-join reads it on BOTH sides, and the
    cached plan keeps its (band, bkey) hash partitioning, so the join
    needs no exchange at all."""
    sig = ctx.cache(
        "__minhash_sig", ctx.spark.sql(sig_rel_sql("spark", ctx.dep("hx_shingles")))
    )
    return sig, ctx.cache("__minhash_ok", ctx.spark.sql(minhash_ok_sql("spark", sig)))


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


@declare("simhash_sig", deps=("docs",), params={"bits": 32})
def _simhash_sig(ctx, bits):
    """(signature view, capped banded view) of the SimHash family — the
    banded join and the cap-stats observer share one per-token hash +
    bit-vote pass, and the pair self-join reads the capped banded
    relation on both sides exchange-free (the ``minhash_sig``
    discipline).

    Payback: inlined, ``dedup_simhash`` goes from 2 to 6 exchanges at
    sf0.001, past its plan-audit ceiling; at sf0.1 staged best + build
    0.81 s, inline best 0.71 s."""
    spark = ctx.spark
    sig = ctx.cache(
        "__simhash_sig", spark.sql(simhash_sig_sql("spark", rel=ctx.dep("docs"), bits=bits))
    )
    return sig, ctx.cache("__simhash_ok", spark.sql(simhash_ok_sql("spark", sig, bits=bits)))


def simhash(spark, bits: int = 32, max_hamming: int = 2):
    """Staged Spark execution: signatures computed once over the fanned-out
    input (the CPU-heavy pass), cached, then the banded self-join runs
    over the 12-byte-per-doc signature relation (via the staged capped
    banded relation — see ``simhash_sig``)."""
    sig, ok = stage(spark, "simhash_sig", bits=bits)
    return spark.sql(simhash_body_sql("spark", sig, bits, max_hamming, ok_rel=ok))


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
        stage(spark, "simhash_sig", bits=bits)[0],
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
    return capped_bucket_stats(
        spark, stage(spark, "minhash_sig")[0], G.band_exprs("sig", "spark"), max_bucket
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


@declare("ngram_blocks", deps=("docs",), params={"n": 5})
def _ngram_blocks(ctx, n):
    """The per-doc n-gram shingle sets, read on both sides of the
    Jaccard self-join.

    Payback: inlined, ``dedup_ngram_jaccard`` goes from 3 to 5 exchanges
    at sf0.001; at sf0.1 staged best + build 14.14 s, inline best
    18.86 s."""
    return ctx.cache(
        "__ngram_blocks", ctx.spark.sql(ngram_blocks_sql("spark", rel=ctx.dep("docs"), n=n))
    )


def ngram_jaccard(spark, n: int = 5, threshold: float = 0.7):
    """Spark path: the shingle sets staged once (both join sides read
    them), then the shared body SQL."""
    return spark.sql(ngram_body_sql("spark", stage(spark, "ngram_blocks", n=n), threshold))


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

    from py4j.protocol import Py4JError

    deadline = _time.monotonic() + timeout_s
    wait = 0.001
    while True:
        try:
            if not obs._jo.getOrEmpty().isEmpty():
                return obs.get  # resolved — the blocking read returns at once
        except (AttributeError, Py4JError):  # probe API missing → fall back now
            return fallback()
        if _time.monotonic() >= deadline:
            return fallback()
        _time.sleep(wait)
        wait = min(wait * 2, 0.05)


def connected_components(s, pairs, max_iter: int = 25):
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

    Per-round checkpoints go to the caller's scratch scope ``s``
    (``torchfusion_spark.staging.scratch``) as one loop, which keeps its
    two newest generations — round r's plan reads round r-1's blocks up
    to the moment its checkpoint materializes — so a long loop holds two
    label generations instead of ``max_iter``. The returned plan reads the
    scope's checkpoints: materialize it before the scope exits. The
    changed-label count and the initial edge count ride the checkpoint
    actions as ``observe()`` metrics (r16) — no separate count job per
    round.
    """
    from pyspark.sql import functions as F

    # one-pass symmetrize (r16, guide §2.4/§1.2): stack() emits both edge
    # directions from a SINGLE execution of the upstream plan — the
    # fwd.union(fwd.swapped) spelling planned the (un-materialized) pair
    # subtree once per union branch, so the first checkpoint re-ran the
    # whole banded LSH self-join + Jaccard verify twice
    edges = pairs.selectExpr("stack(2, id_a, id_b, id_b, id_a) AS (src, dst)")
    # observe() folds the small-graph edge count into the checkpoint
    # action itself (r16, guide §1.2: one fewer job per call — the count
    # previously re-scanned the materialized blocks as its own action)
    from pyspark.sql import Observation

    obs_e = Observation()
    edges = s.checkpoint(
        edges.distinct().observe(obs_e, F.count(F.lit(1)).alias("n")), "edges"
    )
    n_edges = _observed(obs_e, lambda: {"n": edges.count()})["n"]
    if n_edges <= SMALL_GRAPH_EDGES:
        return _cc_single_task(edges)
    labels = s.checkpoint(
        edges.select(F.col("src").alias("node")).distinct().withColumn("comp", F.col("node")),
        "labels",
    )
    for _ in range(max_iter):
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
        new_labels = s.checkpoint(
            joined.select("node", F.col("newcomp").alias("comp")), "labels"
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
        # The scope releases this call's checkpoints on the way out.
        raise RuntimeError(
            f"connected_components: label propagation did not converge in "
            f"{max_iter} rounds ({changed} labels still changing) — the "
            "graph has a component of diameter > max_iter; raise max_iter "
            "or use connected_components_star (O(log n) rounds)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    ).orderBy("doc_id")


def _lsh_pairs(ctx, threshold):
    """The MinHash-LSH pair relation over the staged signatures, as CC
    input. ordered=False (r16): the pair relation's global ORDER BY is
    pure waste there — a range-partition sort (plus the range
    partitioner's boundary-sampling pass, which re-executes the whole
    pair join once) feeding a loop that immediately re-shuffles the
    edges; the label output is identical."""
    sig, ok = ctx.dep("minhash_sig")
    return ctx.spark.sql(minhash_body_sql("spark", sig, threshold, ordered=False, ok_rel=ok))


@declare("minhash_clusters", deps=("minhash_sig",), params={"threshold": 0.6}, prewarm=True)
def _minhash_clusters(ctx, threshold):
    """The cached cluster labels: the canonical-selection pipeline runs
    right after the clusters query in gate order and would otherwise
    repeat the whole iterative CC loop. The cache materializes inside
    the loop's scratch scope, which then frees the loop's checkpoints."""
    with scratch(ctx.spark) as s:
        return ctx.cache("__minhash_clusters", connected_components(s, _lsh_pairs(ctx, threshold)))


def minhash_clusters(spark, threshold: float = 0.6):
    """MinHash-LSH pairs → duplicate clusters (the canonical corpus-dedup
    output: keep one doc per component), staged once per corpus and
    threshold."""
    return spark.table(stage(spark, "minhash_clusters", threshold=threshold))


@declare("minhash_clusters_star", deps=("minhash_sig",), params={"threshold": 0.6})
def _minhash_clusters_star(ctx, threshold):
    """The same clusters by star contraction
    (:func:`connected_components_star`). Checkpointed, not cached: a
    checkpoint of the labels does not read the loop's scratch, and a
    superseded checkpoint is released only after its replacement
    materializes.

    Payback: exempt from a timing — it holds the star-contraction loop's
    output, which must be materialized outside the loop's ``scratch``
    scope."""
    with scratch(ctx.spark) as s:
        return ctx.checkpoint(
            "__minhash_clusters_star", connected_components_star(s, _lsh_pairs(ctx, threshold))
        )


def minhash_clusters_star(spark, threshold: float = 0.6):
    """:func:`minhash_clusters` via star contraction, staged once per
    corpus and threshold."""
    return spark.table(stage(spark, "minhash_clusters_star", threshold=threshold))


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

    The grouped relation is staged via ``localCheckpoint`` (a registry
    checkpoint, released once its replacement lands) because sizes +
    pairs both derive from it; the cache manager historically failed to substitute these CTE
    shapes back into the plan, while a checkpoint truncates lineage
    outright. At cluster scale swap to ``checkpoint()`` with a reliable
    dir if the job must survive executor loss mid-query.

    Round 7 (VERDICT r06 item 6): the inverted index and the per-doc
    sizes are the session-staged ``containment_index`` relation — the
    index of a 100 TB corpus is built once and probed by every
    downstream containment query, not rebuilt per invocation. The sizes
    aggregate is folded into the staging pass (it used to re-explode
    the index inside every timed query), so the steady-state query is
    in-row pair generation + one pair aggregate + the two
    pairs⋈sizes joins (pair side tiny → AQE broadcast)."""
    sh, sizes = stage(spark, "containment_index", max_df=max_df)
    return spark.sql(
        f"""
        WITH sizes AS (SELECT doc_id, n FROM {sizes}),
        shared AS (
            SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS ins
            FROM {sh}
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


@declare(
    "containment_index", deps=("hx_shingles",), params={"max_df": CONTAIN_MAX_DF}, prewarm=True
)
def _containment_index(ctx, max_df):
    """The containment inverted index: (h, docs≤max_df) —
    localCheckpoint, see ``containment`` — and the per-doc sizes
    (doc_id, n) — cache; derived from the SAME pruned exploded pass so
    the df-prune can never drift between the index and the
    denominator.

    Payback: inlined, ``dedup_containment`` goes from 2 to 10 exchanges
    at sf0.001, past its plan-audit ceiling; at sf0.1 staged best +
    build 1.07 s, inline best 1.03 s."""
    spark = ctx.spark
    sh = ctx.checkpoint(
        "__contain_sh",
        spark.sql(
            f"""
            WITH exploded AS ({containment_exploded_spark_sql(ctx.dep("hx_shingles"))}),
            stop AS ({containment_stop_body_sql("exploded", max_df)})
            SELECT e.h, collect_list(e.doc_id) AS docs
            FROM exploded e LEFT ANTI JOIN stop s ON e.h = s.h
            GROUP BY e.h
            """
        ),
    )
    sizes = ctx.cache(
        "__contain_sizes",
        spark.sql(
            f"""
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM {sh} LATERAL VIEW explode(docs) AS doc_id
            GROUP BY doc_id
            """
        ),
    )
    return sh, sizes


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


@declare("substring_grams", deps=("docs",), params={"k": SUBSTRING_K}, prewarm=True)
def _substring_grams(ctx, k):
    """Positional-gram relation: the plan references it on both the
    aggregate and the join side, and Catalyst inlines CTEs — without
    staging the tokenize+md5 pass runs twice."""
    return ctx.cache(
        "__tf_subgrams", ctx.spark.sql(substring_grams_sql("spark", k, rel=ctx.dep("docs")))
    )


def dedup_substring(spark, k: int = SUBSTRING_K):
    """Spark path: staged positional grams, then the shared body SQL."""
    return spark.sql(substring_body_sql("spark", stage(spark, "substring_grams", k=k), k))


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
    grams, docs = stage(spark, "substring_grams", "docs", k=k)
    return spark.sql(strip_dup_spans_body_sql("spark", grams, k, docs_rel=docs))


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


@declare("doc_lines", deps=("docs",), params={"w": LINE_W}, prewarm=True)
def _doc_lines(ctx, w):
    """The (doc_id, line_no, line, hx) relation: the plan references it
    on both the rollup and the anti-join probe side and Catalyst inlines
    CTEs — without staging the tokenize+md5 lining pass runs twice.

    Payback: inlined, ``corpus_strip_boilerplate_lines`` goes from 3 to
    5 exchanges at sf0.001; at sf0.1 staged best + build 1.67 s, inline
    best 0.75 s."""
    return ctx.cache(
        "__tf_lines", ctx.spark.sql(lines_rel_sql("spark", w, docs_rel=ctx.dep("docs")))
    )


def strip_boilerplate_lines(
    spark, threshold: int = LINE_DUP_THRESHOLD, w: int = LINE_W
):
    """Spark path: staged line stream, then the shared body SQL; the
    per-doc n_lines pass reads the raw table (light arithmetic — the
    scan-split discipline of ``_strip_tail_sql``)."""
    rel = stage(spark, "doc_lines", w=w)
    return spark.sql(strip_boilerplate_lines_body_sql("spark", rel, threshold, w=w))


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
    to the filter stage (anti-join corpus against non-canonical ids).
    The clusters are the staged view for this threshold and corpus, the
    quality scores a CTE, so concurrent callers share no name."""
    from torchfusion_spark.operators.textstats import text_quality_sql

    clusters = stage(spark, "minhash_clusters", threshold=threshold)
    return spark.sql(
        f"WITH quality AS (SELECT doc_id, quality_score FROM ({text_quality_sql('spark')}))"
        + _CANON_SELECT.format(clusters=clusters, quality="quality")
    )


def build_url_index(spark, path: str, rel: str = "documents") -> None:
    """Persist the canonical-URL seen-set (VERDICT r8 item 4): one
    (canonical_url, keeper_doc_id) row per canonical form, aggregated
    from a single canonicalization pass over the corpus. Cross-snapshot URL dedup is
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


def _url_split_subq(d: str, rel: str = "documents") -> str:
    """The deterministic index/batch split point for the incremental-URL
    registry witness: half the max crawl id, as a scalar subquery so
    both dialects derive it declaratively (empty corpus → NULL → both
    slices empty, no special-casing). Shared by the Spark builder and
    the oracle so the split can never drift."""
    return f"(SELECT {G.intdiv('MAX(doc_id)', '2', d)} FROM {rel})"


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


@declare("url_index", deps=("documents",), prewarm=True)
def _url_index(ctx):
    """The persisted canonical-URL seen-set over the lower-half crawl:
    (index dir, upper-half batch relation). The index parquet goes into
    this build's own staging dir (``ctx.dir``), which lives until the
    process exits: after a documents-view swap the index is rebuilt into
    a new dir, and a plan resolved against the old one still reads its
    files.

    The split point is collected ONCE here (a 1-row control-plane read,
    the ``connected_components`` sanctioned class) and inlined as a
    LITERAL into both slice predicates: as a scalar subquery the probe
    plan re-ran the MAX(doc_id) aggregate four times (each reference of
    either slice re-executes it — 4 full doc_id column scans and 4
    single-partition exchanges per probe, measured r11). The oracle
    keeps the declarative subquery spelling; results are identical
    because both derive the same half-the-max-crawl-id split. An empty
    corpus (MAX = NULL) makes both slices empty via a FALSE predicate —
    the same rows the oracle's NULL-comparison split yields.

    Payback: exempt from a timing — it is the persisted seen-set that
    ``dedup_url_incremental`` exists to probe; inlined, that query would
    be a batch dedup over the whole crawl."""
    spark, docs = ctx.spark, ctx.dep("documents")
    row = spark.sql(f"SELECT {_url_split_subq('spark', docs)} AS s").first()
    split = "NULL" if row is None or row.s is None else str(row.s)
    idx_pred = "FALSE" if split == "NULL" else f"doc_id < {split}"
    batch_pred = "FALSE" if split == "NULL" else f"doc_id >= {split}"
    path = ctx.dir("url_index")
    build_url_index(spark, path, rel=f"(SELECT * FROM {docs} WHERE {idx_pred}) __url_idx_src")
    return path, f"(SELECT * FROM {docs} WHERE {batch_pred}) __url_batch_src"


def url_incremental_query(spark):
    """Registry builder for ``dedup_url_incremental`` (VERDICT r9
    item 5): probe the upper-half batch against the staged URL seen-set
    (``url_index`` — built once per corpus, the once-per-snapshot cost
    the incremental shape exists to amortize)."""
    path, batch = stage(spark, "url_index")
    return dedup_url_incremental(spark, batch, path)


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
    oracle's ORDER BY pins. The batch is a CTE and the index a direct
    parquet scan, so the probe names nothing in the session catalog."""
    return spark.sql(f"""
    WITH batch AS (SELECT * FROM ({url_canonical_sql("spark", rel=new_rel)})),
    resolved AS (
        SELECT canonical_url,
               MIN(CASE WHEN src = 0 THEN k END) AS batch_keeper,
               MIN(CASE WHEN src = 1 THEN k END) AS idx_keeper
        FROM (
            SELECT canonical_url, doc_id AS k, 0 AS src
            FROM batch WHERE canonical_url IS NOT NULL
            UNION ALL
            SELECT /*+ BROADCAST(b) */ i.canonical_url, i.keeper_doc_id, 1
            FROM parquet.`{path}/urls` i JOIN (SELECT canonical_url FROM batch
                                               WHERE canonical_url IS NOT NULL) b
              ON i.canonical_url = b.canonical_url)
        GROUP BY canonical_url)
    SELECT /*+ BROADCAST(r) */ w.doc_id, w.source, w.canonical_url,
           CASE WHEN w.canonical_url IS NULL THEN w.doc_id
                ELSE COALESCE(r.idx_keeper, r.batch_keeper) END AS keeper_doc_id,
           CASE WHEN w.canonical_url IS NULL THEN TRUE
                ELSE (r.idx_keeper IS NULL AND w.doc_id = r.batch_keeper) END AS kept
    FROM batch w LEFT JOIN resolved r ON w.canonical_url = r.canonical_url
    ORDER BY w.doc_id
    """)


def connected_components_star(s, pairs, max_iter: int = 20):
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
    path twice and the contraction loop never. Checkpoints go to the
    caller's scratch scope ``s`` as one loop (the sibling's discipline):
    each checkpoint releases the blocks from two checkpoints ago, which
    nothing references anymore (the current edge set is a checkpointed
    leaf independent of its ancestors), so a long loop holds two edge
    generations instead of ~3 per round until driver GC. The returned
    plan reads the scope's checkpoints: materialize it before the scope
    exits."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def ck_sig(df):
        """Checkpoint ``df`` and return (checkpoint, (count, xor-hash)).

        The termination signature rides the checkpoint action as
        ``observe()`` metrics (r16, guide §1.2): the old spelling
        re-scanned the materialized blocks as a separate per-round
        collect job. bit_xor: order-independent and overflow-free (SUM
        of xxhash64 trips ANSI ARITHMETIC_OVERFLOW)."""
        obs = Observation()
        out = s.checkpoint(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ),
            "edges",
        )
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
        # must raise max_iter, not get wrong answers. The scope releases
        # this call's checkpoints on the way out.
        raise RuntimeError(
            f"connected_components_star: edge set still contracting after "
            f"{max_iter} rounds — component diameter exceeds ~2^{max_iter}; "
            "raise max_iter"
        )
    comp = (
        e.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("doc_id"), F.least(F.col("u"), F.col("mv")).alias("component"))
    )
    return comp.orderBy("doc_id")
