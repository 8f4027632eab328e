"""Text analysis operators (SURVEY §2-D): quality scoring, n-gram-style
language ID, tokenizer-aware token counting, document fingerprinting.
Pure column expressions — no Python in the pipeline; one scan, no shuffle
(fingerprint grouping shuffles once on the fingerprint).
"""

from __future__ import annotations

from torchfusion_spark.operators import dedup
from torchfusion_spark.operators import sqlgen as G
from torchfusion_spark.session import scoped
from torchfusion_spark.staging import declare, scratch, stage

# tiny stopword marker sets for the language-ID heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "de", "los"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def text_quality_sql(d: str) -> str:
    """Length/punctuation/stopword/digit ratios + a composite quality score."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    n_toks = G.arr_size("toks", d)
    stop_lit = G.array_lit([f"'{w}'" for w in _LANG_MARKERS["en"]], d)
    n_stop = G.arr_size(G.afilter("toks", f"t -> array_contains({stop_lit}, t)", d), d) \
        if d == "spark" else G.arr_size(G.afilter("toks", f"t -> list_contains({stop_lit}, t)", d), d)
    punct = G.regex_count("text", "[.,!?;:]", d)
    digits = G.regex_count("text", "[0-9]", d)
    return f"""
    WITH t AS (SELECT doc_id, text, length(text) AS n_char, {toks} AS toks FROM documents),
    m AS (
        SELECT doc_id, n_char,
               {n_toks} AS n_tokens,
               ROUND(CAST(n_char AS DOUBLE) / greatest({n_toks}, 1), 6) AS avg_token_len,
               ROUND(CAST({punct} AS DOUBLE) / greatest(n_char, 1), 6) AS punct_ratio,
               ROUND(CAST({digits} AS DOUBLE) / greatest(n_char, 1), 6) AS digit_ratio,
               ROUND(CAST({n_stop} AS DOUBLE) / greatest({n_toks}, 1), 6) AS stopword_ratio
        FROM t)
    SELECT doc_id, n_char, n_tokens, avg_token_len, punct_ratio, digit_ratio, stopword_ratio,
           ROUND(
             (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN avg_token_len BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN punct_ratio < 0.1 THEN 0.15 ELSE 0.0 END)
             + least(stopword_ratio * 3, 0.15), 6) AS quality_score
    FROM m ORDER BY doc_id
    """


def gopher_rules_sql(d: str, rel: str = "documents") -> str:
    """Gopher-style quality-rule filter (Rae et al. 2021, Appendix A —
    public method): the seven document-level heuristics web pipelines
    apply before any model-based scoring, each emitted as an exact 0/1
    flag plus the all-rules-pass keep decision. Published thresholds
    kept verbatim — word count in [50, 100000], mean word length in
    [3, 10], symbol-to-word ratio ('#' or '...') <= 0.1, <= 90% of
    lines bullet-started, <= 30% of lines ellipsis-ended, >= 80% of
    words containing an alphabetic character, >= 2 distinct stop words
    present. The stop-word rule is applied per-language (the doc's own
    ``lang``'s marker list) — the paper's set is English-only and a
    multilingual corpus would flag every non-English doc; CCNet applies
    exactly this per-language adaptation.

    Determinism: every threshold is an exact BIGINT cross-
    multiplication (``10 * n_sym <= n_words``), never a float ratio —
    the ``corpus_source_filter`` discipline — so summation order or
    rounding cannot diverge the engines. Scale shape: ONE scan, zero
    joins, zero shuffles (the final ORDER BY is presentation only);
    every rule is whole-stage-codegen array/regex arithmetic, so at
    100 TB this runs at scan speed and the keep flag composes with any
    downstream sampler as a plain filter."""
    # tokens are lower_ascii-folded ONCE and reused for both membership
    # tests (stop words, [a-z]) and length statistics: lower_ascii is a
    # 1:1 A-Z translate, so it preserves every element's length — unlike
    # unicode lower(), whose case maps diverge between engines (Spark
    # lower('İ') = 'i'+U+0307, two codepoints; DuckDB = 'i', one — the
    # r11 Gopher-fuzzer finding that is the reason lower() is banned
    # here in the first place).
    raw = G.split_ws(G.lower_ascii("text"), d)
    toks = G.afilter(raw, "t -> length(t) > 0", d)
    if d == "spark":
        sum_len = "aggregate(toks, 0L, (a, x) -> a + length(x))"
        alpha_lam = "t -> t rlike '[a-z]'"
        lines = "split(text, chr(10))"
    else:
        sum_len = "COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)"
        alpha_lam = "t -> regexp_matches(t, '[a-z]')"
        lines = "string_split(text, chr(10))"
    n_alpha = G.arr_size(G.afilter("toks", alpha_lam, d), d)
    stop_cases = " ".join(
        f"WHEN '{lang}' THEN {G.arr_intersect_size(G.arr_distinct('toks', d), G.array_lit([repr(w) for w in words], d), d)}"
        for lang, words in _LANG_MARKERS.items()
    )
    n_stop = f"(CASE lang {stop_cases} ELSE 0 END)"
    n_sym = G.regex_count("text", "#|[.][.][.]", d)
    n_bullet = G.arr_size(
        G.afilter("lines", "l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%'", d), d
    )
    n_ell = G.arr_size(G.afilter("lines", "l -> l LIKE '%...'", d), d)
    return f"""
    WITH t AS (
        SELECT doc_id, lang, text, {toks} AS toks,
               {lines} AS lines FROM {rel}),
    m AS (
        SELECT doc_id,
               CAST({G.arr_size('toks', d)} AS BIGINT) AS n_words,
               CAST({sum_len} AS BIGINT) AS sum_len,
               CAST({n_alpha} AS BIGINT) AS n_alpha,
               CAST({n_stop} AS BIGINT) AS n_stop,
               CAST({n_sym} AS BIGINT) AS n_sym,
               CAST({G.arr_size('lines', d)} AS BIGINT) AS n_lines,
               CAST({n_bullet} AS BIGINT) AS n_bullet,
               CAST({n_ell} AS BIGINT) AS n_ell
        FROM t),
    f AS (
        SELECT doc_id, n_words,
               CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
               CAST(CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT) AS r_mean_word_len,
               CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS BIGINT) AS r_symbol_ratio,
               CAST(CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS r_bullet_lines,
               CAST(CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis_lines,
               CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS BIGINT) AS r_alpha_words,
               CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop_words
        FROM m)
    SELECT doc_id, n_words,
           r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
           r_ellipsis_lines, r_alpha_words, r_stop_words,
           CAST(7 - (r_word_count + r_mean_word_len + r_symbol_ratio
                     + r_bullet_lines + r_ellipsis_lines + r_alpha_words
                     + r_stop_words) AS BIGINT) AS n_failed,
           CAST(CASE WHEN r_word_count + r_mean_word_len + r_symbol_ratio
                          + r_bullet_lines + r_ellipsis_lines + r_alpha_words
                          + r_stop_words = 7 THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM f ORDER BY doc_id
    """


def lang_id_sql(d: str) -> str:
    """Marker-word language ID; deterministic tie-break by fixed language
    order. Emits predicted vs labeled language."""
    toks = G.arr_distinct(G.split_ws(G.lower_ascii("text"), d), d)
    contains = "array_contains" if d == "spark" else "list_contains"
    scores = {
        lang: G.arr_size(
            G.afilter(
                "toks",
                f"t -> {contains}({G.array_lit([repr(w) for w in words], d)}, t)",
                d,
            ),
            d,
        )
        for lang, words in _LANG_MARKERS.items()
    }
    score_sel = ", ".join(f"{e} AS s_{lang}" for lang, e in scores.items())
    langs = list(_LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]] + [
            f"s_{lang} > s_{other}" for other in langs[:i]
        ]
        cases.append(f"WHEN {' AND '.join(conds) if conds else 'TRUE'} THEN '{lang}'")
    predicted = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
    WITH t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {score_sel} FROM t)
    SELECT doc_id, lang AS labeled_lang, {predicted} AS predicted_lang,
           s_en, s_de, s_fr, s_es, s_zh
    FROM s ORDER BY doc_id
    """


def token_count_sql(d: str) -> str:
    """Whitespace tokens vs BPE-ish regex tokens (word pieces + standalone
    punctuation) — the token-budget estimator."""
    ws = G.arr_size(G.split_ws("text", d), d)
    bpe = G.regex_count("text", "[a-z0-9]+|[^a-z0-9 ]", d)
    return f"""
    SELECT doc_id,
           {ws} AS ws_tokens,
           {bpe} AS bpe_tokens,
           ROUND(CAST({bpe} AS DOUBLE) / greatest({ws}, 1), 6) AS expansion
    FROM documents ORDER BY doc_id
    """


def fingerprint_sql(d: str) -> str:
    """Normalized-content fingerprint (56-bit) + duplicate-group sizes."""
    # duckdb regexp_replace is first-match-only without the 'g' flag
    la = G.lower_ascii("text")
    norm = (
        f"trim(regexp_replace({la}, '[^a-z0-9 ]', ''))"
        if d == "spark"
        else f"trim(regexp_replace({la}, '[^a-z0-9 ]', '', 'g'))"
    )
    fp = G.hash56(norm, d)
    return f"""
    WITH f AS (SELECT doc_id, {fp} AS fingerprint FROM documents)
    SELECT fingerprint, COUNT(*) AS group_size, MIN(doc_id) AS canonical_doc
    FROM f GROUP BY fingerprint
    ORDER BY canonical_doc
    """


def corpus_clean_sql(d: str) -> str:
    """Composed training-corpus cleaning pipeline in ONE declarative plan:
    length-bounds filter → exact-dedup winner per content hash → per-lang
    corpus stats. The stages fuse: the filter reaches the scan, the dedup
    is one shuffle on the content hash, the rollup is a second (tiny)
    shuffle — at 100 TB this is the shape you want (no intermediate
    materialization between pipeline stages). Identical ANSI on both
    dialects."""
    return """
    WITH kept AS (
        SELECT doc_id, lang, n_chars, md5(text) AS h FROM documents
        WHERE n_chars BETWEEN 64 AND 100000),
    w AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM kept)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM w WHERE rn = 1 GROUP BY lang ORDER BY lang NULLS FIRST
    """


def quality_gate_sql(d: str) -> str:
    """Composed per-document KEEP decision — the FineWeb/RefinedWeb-style
    multi-stage gate fused into ONE declarative plan: a document survives
    when (1) it passes all seven Gopher heuristics, (2) its SOURCE passes
    the domain-level quality gate, and (3) it is the canonical-URL
    keeper (earliest crawl for its canonical URL). Emits the three
    verdicts, the fused ``kept`` flag, and a comma-joined
    ``drop_reasons`` audit column (concat_ws skips NULLs identically on
    both dialects) — the reason codes are what a production pipeline
    logs per rejected doc.

    Scale shape: the stages compose without intermediate
    materialization. Gopher rules are scan-speed codegen; the source
    gate costs its fingerprint window + a |sources|-row rollup that
    BROADCASTS onto the doc stream; the URL keeper is one MIN window.
    The gopher ⋈ url join co-partitions two doc-keyed relations on
    doc_id — at 100 TB these are the same partitioning, so the join
    adds no third fact exchange beyond the two stages' own.

    NULL-source docs FAIL CLOSED: the source gate is a LEFT join and a
    missing verdict counts as source_ok = 0 with reason 'source' — an
    inner join would drop the doc from the output entirely, losing it
    from the rejection log the gate exists to produce (code-review
    r08)."""
    from torchfusion_spark.operators.dedup import url_canonical_dedup_sql

    g = gopher_rules_sql(d)
    s = source_filter_sql(d)
    u = url_canonical_dedup_sql(d)
    return f"""
    WITH g AS ({g}),
    s AS ({s}),
    u AS ({u})
    SELECT g.doc_id,
           CAST(g.kept AS INT) AS gopher_ok,
           CAST(COALESCE(s.kept, 0) AS INT) AS source_ok,
           CAST(CASE WHEN u.kept THEN 1 ELSE 0 END AS INT) AS url_keeper,
           CAST(CASE WHEN g.kept = 1 AND COALESCE(s.kept, 0) = 1 AND u.kept
                THEN 1 ELSE 0 END AS INT) AS kept,
           concat_ws(',',
               CASE WHEN g.kept = 0 THEN 'gopher' END,
               CASE WHEN COALESCE(s.kept, 0) = 0 THEN 'source' END,
               CASE WHEN NOT u.kept THEN 'url_dup' END) AS drop_reasons
    FROM g JOIN u ON g.doc_id = u.doc_id
           LEFT JOIN s ON u.source = s.source
    ORDER BY g.doc_id
    """


def url_filter_sql(d: str) -> str:
    """URL-quality filtering — the C4/RefinedWeb pre-canonicalization
    pass that rejects documents by URL shape alone, before any content
    is read: blocklisted hosts, asset/feed extensions
    (.css/.js/.xml/.rss), excessive path depth (> 5 segments),
    overly-dynamic query strings (> 3 parameters), and digit-dominated
    paths (calendar/pagination archives — digits exceeding half the
    non-slash path characters). Each rule is an exact 0/1 flag plus the
    all-rules keep decision, the ``text_gopher_rules`` shape applied to
    the URL column.

    Parsing note: this filter parses the RAW url (http or https, port
    attached) because it runs BEFORE canonicalization — deliberately a
    different parse than ``url_canonical_dedup_sql``'s, which operates
    on the https-forced form and needs the pre-lowercase host length.
    The splitting fragments they do share (non-empty param/segment
    counting) come from one ``sqlgen.split_nonempty`` spelling.

    Fixture: the shared messy-URL constructor (``dedup.messy_url_case``
    — ONE spelling with ``dedup_url_canonical``, so the two operators'
    URL universe cannot drift), decorated for the filter witnesses by
    doc_id slices: %10==3 docs get a blocklisted ad-tracker host,
    %10==7 an asset stylesheet path, %10==9 a digit-heavy deep calendar
    path. The rules fire on real slices of the corpus, and the digit
    rule is an exact cross-multiplication (2×digits vs non-slash
    length), never a float ratio.

    Scale shape: ONE scan, zero joins, zero shuffles (the ORDER BY is
    presentation only) — every rule is whole-stage-codegen string/regex
    arithmetic, so at 100 TB this runs at scan speed ahead of every
    content stage, which is the entire point of URL-first filtering."""
    from torchfusion_spark.operators.dedup import messy_url_case

    s = "STRING" if d == "spark" else "VARCHAR"
    page = f"CAST({G.intdiv('doc_id', '100', d)} AS {s})"
    url = f"""CASE CAST(doc_id % 10 AS INT)
        WHEN 3 THEN 'https://ads.tracker.example/articles/' || {page} || '?a=1'
        WHEN 7 THEN 'https://' || source || '.example.com/assets/style.css'
        WHEN 9 THEN 'https://' || source || '.example.com/2024/01/02/03/04/05/index.html'
        ELSE {messy_url_case(d)}
    END"""
    n_segments = G.arr_size(G.split_nonempty("path", "/", d), d)
    n_params = G.arr_size(G.split_nonempty("qpart", "&", d), d)
    n_digits = G.regex_count("path", "[0-9]", d)
    return f"""
    WITH raw AS (
        SELECT doc_id, {url} AS url FROM documents),
    parts AS (
        SELECT doc_id, url,
               {G.lower_ascii("regexp_extract(url, '^https?://([^/:?]+)', 1)")} AS host,
               regexp_extract({G.regex_replace_all("url", "^https?://[^/?]*", "", d)},
                              '^([^?#]*)', 0) AS path,
               regexp_extract(url, '[?]([^#]*)', 1) AS qpart
        FROM raw),
    f AS (
        SELECT doc_id, url, host,
               CAST(CASE WHEN host NOT IN ('ads.tracker.example', 'src12.example.com')
                    THEN 1 ELSE 0 END AS INT) AS r_host_ok,
               CAST(CASE WHEN path LIKE '%.css' OR path LIKE '%.js'
                           OR path LIKE '%.xml' OR path LIKE '%.rss'
                    THEN 0 ELSE 1 END AS INT) AS r_ext_ok,
               CAST(CASE WHEN {n_segments} <= 5 THEN 1 ELSE 0 END AS INT) AS r_depth_ok,
               CAST(CASE WHEN {n_params} <= 3 THEN 1 ELSE 0 END AS INT) AS r_params_ok,
               CAST(CASE WHEN 2 * {n_digits} <= length(replace(path, '/', ''))
                    THEN 1 ELSE 0 END AS INT) AS r_digit_ok
        FROM parts)
    SELECT doc_id, url, host,
           r_host_ok, r_ext_ok, r_depth_ok, r_params_ok, r_digit_ok,
           CAST(5 - (r_host_ok + r_ext_ok + r_depth_ok + r_params_ok + r_digit_ok)
                AS BIGINT) AS n_failed,
           CAST(CASE WHEN r_host_ok + r_ext_ok + r_depth_ok + r_params_ok
                          + r_digit_ok = 5 THEN 1 ELSE 0 END AS INT) AS kept
    FROM f ORDER BY doc_id
    """


def source_filter_sql(d: str) -> str:
    """Per-source (domain-level) quality gating — the RefinedWeb/CCNet
    move of scoring whole *sources* and dropping every document from a
    source whose aggregate quality fails the bar, rather than filtering
    document-by-document. ``source`` is this corpus's domain analogue.

    Per source: doc count, mean quality score (same per-doc formula as
    :func:`text_quality_sql`), and the fraction of docs that are exact
    duplicates corpus-wide (fingerprint appears >1×). The gate is
    data-adaptive — a source is kept when its mean quality is at or above
    the corpus-wide mean AND at most half its docs are duplicates — so it
    discriminates on any vintage without hand-tuned thresholds.

    Cross-engine float discipline: the per-doc score is rounded to 6
    decimals, scaled to an exact BIGINT (micro-quality ``q6``), and all
    aggregation/comparison happens on exact integers — the keep decision
    is a cross-multiplication (``sum_q6 * tot_docs >= tot_q6 * n_docs``),
    never a float compare, so Spark and DuckDB cannot diverge on
    summation order. The q6 sums and the cross-multiply run at 128-bit
    width (Spark DECIMAL(38,0) / DuckDB HUGEINT — r8, promoted from the
    SCALE.md note): the bound is docs × 1e6 × docs, which overflows
    BIGINT around 3e9 documents; at 128 bits the headroom is ~1e38.

    Scale shape: one scan computes per-doc (q6, fingerprint); ONE shuffle
    on fingerprint (window count — the unavoidable global dup check); one
    map-combinable shuffle on source (tiny: |sources| rows); the 1-row
    corpus total broadcasts back. No joins against the fact table."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    n_toks = G.arr_size("toks", d)
    stop_lit = G.array_lit([f"'{w}'" for w in _LANG_MARKERS["en"]], d)
    contains = "array_contains" if d == "spark" else "list_contains"
    n_stop = G.arr_size(G.afilter("toks", f"t -> {contains}({stop_lit}, t)", d), d)
    punct = G.regex_count("text", "[.,!?;:]", d)
    big = "DECIMAL(38,0)" if d == "spark" else "HUGEINT"
    la = G.lower_ascii("text")
    norm = (
        f"trim(regexp_replace({la}, '[^a-z0-9 ]', ''))"
        if d == "spark"
        else f"trim(regexp_replace({la}, '[^a-z0-9 ]', '', 'g'))"
    )
    fp = G.hash56(norm, d)
    return f"""
    WITH t AS (
        SELECT doc_id, source, text, length(text) AS n_char, {toks} AS toks
        FROM documents),
    m AS (
        SELECT doc_id, source, {fp} AS fingerprint,
               {n_toks} AS n_tokens,
               ROUND(CAST(n_char AS DOUBLE) / greatest({n_toks}, 1), 6) AS avg_token_len,
               ROUND(CAST({punct} AS DOUBLE) / greatest(n_char, 1), 6) AS punct_ratio,
               ROUND(CAST({n_stop} AS DOUBLE) / greatest({n_toks}, 1), 6) AS stopword_ratio
        FROM t),
    q AS (
        SELECT source, fingerprint,
               CAST(ROUND((
                 (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN avg_token_len BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN punct_ratio < 0.1 THEN 0.15 ELSE 0.0 END)
                 + least(stopword_ratio * 3, 0.15)) * 1000000) AS BIGINT) AS q6
        FROM m),
    fc AS (
        SELECT source, q6,
               COUNT(*) OVER (PARTITION BY fingerprint) AS fp_count
        FROM q),
    src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(CAST(q6 AS {big})) AS sum_q6,
               CAST(SUM(CASE WHEN fp_count > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
        FROM fc GROUP BY source),
    tot AS (SELECT SUM(sum_q6) AS tot_q6, SUM(CAST(n_docs AS {big})) AS tot_docs FROM src)
    SELECT s.source, s.n_docs,
           ROUND(CAST(s.sum_q6 AS DOUBLE) / 1000000.0 / s.n_docs, 6) AS mean_quality,
           s.dup_docs,
           ROUND(CAST(s.dup_docs AS DOUBLE) / s.n_docs, 6) AS dup_fraction,
           CAST(CASE WHEN s.sum_q6 * t.tot_docs >= t.tot_q6 * CAST(s.n_docs AS {big})
                      AND s.dup_docs * 2 <= s.n_docs
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM src s CROSS JOIN tot t
    ORDER BY s.source NULLS FIRST
    """


# per-lang keep-rate (percent): downsample the dominant language — the
# standard corpus-rebalancing move; hash-based so the sample is
# deterministic, reproducible across engines/runs, and needs NO shuffle
# (a scan-side filter), unlike TABLESAMPLE/rand() which are
# engine-RNG-dependent.
SAMPLE_RATES = {"en": 25, "de": 50, "fr": 50, "es": 50, "zh": 50}
SAMPLE_DEFAULT = 75


def hash_stratified_sample_sql(d: str) -> str:

    str_t = "STRING" if d == "spark" else "VARCHAR"
    bucket = f"{G.hash56(f'CAST(doc_id AS {str_t})', d)} % 100"
    cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {bucket} < (CASE lang {cases} ELSE {SAMPLE_DEFAULT} END)
    ORDER BY doc_id
    """


def top_tokens_sql(d: str, k: int = 5) -> str:
    """Per-language top-k tokens (heavy hitters) with deterministic
    count-then-token ordering. Two shuffles — (lang, token) count then
    per-lang top-k window; at scale the count is map-side-combined so the
    exploded token stream never shuffles raw."""

    toks = G.split_ws(G.lower_ascii("text"), d)
    if d == "spark":
        exploded = (
            f"SELECT lang, t FROM (SELECT lang, {toks} AS toks FROM documents) "
            f"LATERAL VIEW explode(toks) AS t"
        )
    else:
        exploded = f"SELECT lang, UNNEST({toks}) AS t FROM documents"
    return f"""
    WITH c AS (
        SELECT lang, t, COUNT(*) AS n FROM ({exploded}) WHERE t <> '' GROUP BY lang, t),
    r AS (
        SELECT lang, t AS token, CAST(n AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, t) AS rk
        FROM c)
    SELECT lang, token, n FROM r WHERE rk <= {k} ORDER BY lang NULLS FIRST, token
    """


def repetition_sql(d: str) -> str:
    """Gopher-style repetition metrics per doc: top-token ratio and
    distinct-token ratio. Exploded (doc, token) counts with map-side
    combine — the token stream shuffles pre-aggregated, then one
    per-doc rollup. High top_token_ratio / low distinct_ratio flags
    low-quality repetitive text for corpus filtering."""

    toks = G.split_ws(G.lower_ascii("text"), d)
    if d == "spark":
        exploded = (
            f"SELECT doc_id, t FROM (SELECT doc_id, {toks} AS toks FROM documents) "
            f"LATERAL VIEW explode(toks) AS t"
        )
    else:
        exploded = f"SELECT doc_id, UNNEST({toks}) AS t FROM documents"
    return f"""
    WITH c AS (
        SELECT doc_id, t, COUNT(*) AS n FROM ({exploded}) WHERE t <> ''
        GROUP BY doc_id, t),
    a AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(n) AS BIGINT) AS top_n
        FROM c GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
           ROUND(CAST(top_n AS DOUBLE) / n_tokens, 6) AS top_token_ratio,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio
    FROM a ORDER BY doc_id
    """


DECONTAM_MIN_OVERLAP = 5


def decontaminate_sql(d: str, sh_rel: str | None = None) -> str:
    """Benchmark decontamination: flag corpus docs sharing >= K word-3-gram
    hashes with a benchmark set (here the deterministic doc_id%50==0
    slice, standing in for an eval suite). The benchmark shingle set is
    tiny relative to the corpus — broadcast side of the hash join; the
    corpus stream shuffles once on the shingle hash, then rolls up per
    doc. The standard pre-training hygiene op.

    ``sh_rel``: a pre-staged (doc_id, hx) relation — the Spark builder
    passes the staged ``hx_shingles`` relation so the shingle+md5 pass (referenced on
    both CTE sides, which Catalyst inlines) runs once per session, not
    per reference."""
    hs = sh_rel or f"({dedup.hashed_shingle_sql(d)})"
    if d == "spark":
        exploded = f"SELECT doc_id, h FROM {hs} LATERAL VIEW explode(hx) AS h"
    else:
        exploded = f"SELECT doc_id, UNNEST(hx) AS h FROM {hs}"
    mat = "MATERIALIZED " if d == "duck" else ""
    return f"""
    WITH sh AS {mat}({exploded}),
    bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
    SELECT doc_id, CAST(COUNT(DISTINCT sh.h) AS BIGINT) AS n_overlap
    FROM sh JOIN bench ON sh.h = bench.h
    WHERE doc_id % 50 <> 0
    GROUP BY doc_id
    HAVING COUNT(DISTINCT sh.h) >= {DECONTAM_MIN_OVERLAP}
    ORDER BY doc_id
    """


# Bloom-prefiltered decontamination: the 100 TB shape of the same hygiene
# op. Parameters sized so the filter is a broadcast-trivial ~64 KB at any
# corpus scale (the filter is keyed by the BENCHMARK set, which is small
# and fixed; corpus size only affects probe volume).
BLOOM_WORDS = 16_384  # 32-bit words → m = 524 288 bits (64 KB)
BLOOM_K = 2  # hash probes per shingle
# fixed odd multipliers / offsets for the k index functions (same
# linear-congruential arithmetic family as the MinHash permutations —
# products stay < 2^53, safe under Spark ANSI and DuckDB alike)
BLOOM_A = (741_721, 523_131)
BLOOM_B = (98_765, 12_345)


def decontaminate_bloom_sql(
    d: str,
    sh_rel: str | None = None,
    bench_rel: str | None = None,
    bloom_rel: str | None = None,
) -> str:
    """Bloom-prefiltered benchmark decontamination — identical OUTPUT to
    :func:`decontaminate_sql` (the exact-join verify removes Bloom false
    positives; false negatives are impossible), different SCALE shape:

    1. the benchmark slice's shingle hashes fold into a fixed 64 KB Bloom
       filter (32-bit words bit_or-aggregated per word index) — one tiny
       aggregation over the small side;
    2. every corpus shingle probes the filter via k=2 broadcast joins on
       word index (the filter relation is ≤16 384 rows → Spark broadcasts
       it; the probe is pure codegen integer arithmetic);
    3. only surviving shingles (~FP-rate of the corpus) reach the exact
       hash join + per-doc rollup that the plain operator runs on
       EVERYTHING.

    At 100 TB the win is step 3's shuffle shrinking by ~the filter's
    rejection rate; the filter itself is corpus-size-independent. The
    whole pipeline — including the Bloom arithmetic — is generated for
    both dialects from this one function (portable md5-derived hashes),
    so the DuckDB oracle verifies the filter bit-for-bit, not just the
    final answer.

    ``sh_rel``: pre-staged (doc_id, hx) relation (see
    :func:`decontaminate_sql`).

    ``bench_rel``/``bloom_rel``: pre-staged benchmark-hash and filter
    relations (round 6, VERDICT r05 item 4) — the Spark builder stages
    both once per session (``bloom_filter``), because at 100 TB
    the filter is built ONCE against the (fixed) benchmark suite and
    persisted; the steady-state query is only the codegen probe + exact
    verify. The oracle always builds inline, so the driver row still
    certifies the filter construction bit-for-bit."""
    hs = sh_rel or f"({dedup.hashed_shingle_sql(d)})"
    if d == "spark":
        exploded = f"SELECT doc_id, h FROM {hs} LATERAL VIEW explode(hx) AS h"
    else:
        exploded = f"SELECT doc_id, UNNEST(hx) AS h FROM {hs}"

    cand_joins = "\n        ".join(
        "JOIN bloom b{j} ON b{j}.w = {w} AND (b{j}.bits & {mask}) <> 0".format(
            j=j,
            w=G.shr(_bloom_idx(j, "sh.h"), "5", d),
            mask=G.shl("CAST(1 AS BIGINT)", _bloom_idx(j, "sh.h") + " & 31", d),
        )
        for j in range(BLOOM_K)
    )
    hint = "/*+ BROADCAST(b0, b1) */ " if d == "spark" else ""
    mat = "MATERIALIZED " if d == "duck" else ""
    if bench_rel and bloom_rel:
        bench_cte = f"bench_h AS (SELECT h FROM {bench_rel})"
        bloom_cte = f"bloom AS (SELECT w, bits FROM {bloom_rel})"
    else:
        bench_cte = f"bench_h AS {mat}(SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)"
        bloom_cte = f"bloom AS {mat}({bloom_fold_sql(d, 'bench_h')})"
    return f"""
    WITH sh AS {mat}({exploded}),
    {bench_cte},
    {bloom_cte},
    cand AS (
        SELECT {hint}sh.doc_id, sh.h FROM sh
        {cand_joins}
        WHERE sh.doc_id % 50 <> 0)
    SELECT cand.doc_id, CAST(COUNT(DISTINCT cand.h) AS BIGINT) AS n_overlap
    FROM cand JOIN bench_h ON cand.h = bench_h.h
    GROUP BY cand.doc_id
    HAVING COUNT(DISTINCT cand.h) >= {DECONTAM_MIN_OVERLAP}
    ORDER BY cand.doc_id
    """


def _bloom_idx(j: int, h: str = "h") -> str:
    """Bit index j for shingle hash ``h`` (same LCG family as MinHash)."""
    return f"((({h} % {G.MINHASH_P}) * {BLOOM_A[j]} + {BLOOM_B[j]}) % {BLOOM_WORDS * 32})"


def bloom_fold_sql(d: str, bench_rel: str) -> str:
    """(w, bits): fold the benchmark hashes in ``bench_rel(h)`` into the
    64 KB filter — one pass emitting all k probe rows per shingle (an
    inlined struct array, not k UNION ALL re-derivations), bit_or per
    32-bit word index. Shared by the inline (oracle) and staged (Spark
    steady-state) paths so the filter arithmetic has one spelling."""
    probe_structs = ", ".join(
        "named_struct('w', {w}, 'mask', {mask})".format(
            w=G.shr(_bloom_idx(j), "5", d),
            mask=G.shl("CAST(1 AS BIGINT)", _bloom_idx(j) + " & 31", d),
        )
        if d == "spark"
        else "{{'w': {w}, 'mask': {mask}}}".format(
            w=G.shr(_bloom_idx(j), "5", d),
            mask=G.shl("CAST(1 AS BIGINT)", _bloom_idx(j) + " & 31", d),
        )
        for j in range(BLOOM_K)
    )
    if d == "spark":
        probes = (
            f"SELECT w, mask FROM {bench_rel} "
            f"LATERAL VIEW inline(array({probe_structs})) AS w, mask"
        )
    else:
        probes = (
            f"SELECT UNNEST(pl, recursive := true) "
            f"FROM (SELECT [{probe_structs}] AS pl FROM {bench_rel})"
        )
    return f"SELECT w, CAST(bit_or(mask) AS BIGINT) AS bits FROM ({probes}) GROUP BY w"


def decontaminate_spans_sql(
    d: str, grams_rel: str | None = None, docs_rel: str = "documents"
) -> str:
    """Span-level benchmark decontamination — the surgical variant of
    ``decontaminate_sql``: instead of FLAGGING whole corpus docs that
    overlap the benchmark suite, strip exactly the overlapping spans
    (every token covered by a positional word-8-gram whose hash appears
    in a benchmark doc) and rebuild the cleaned text, keeping the rest
    of the document. The standard move when a long document contains one
    quoted benchmark item: drop the quote, keep the doc.

    Benchmark set = the deterministic ``doc_id % 50 = 0`` slice (same
    stand-in convention as the doc-level decontaminate ops); benchmark
    docs themselves are excluded from the output. The strip/rebuild tail
    is ``dedup._strip_tail_sql`` — the SAME spelling as
    ``corpus_strip_dup_spans`` — so the two action-step operators cannot
    drift on tokenization, coverage arithmetic, or reconstruction.

    Scale shape: the benchmark gram-hash set is tiny and fixed →
    broadcast side of the probe join; corpus positional grams stream
    through one equi-join on the gram hash; thereafter identical to the
    substring strip (existence anti-join + doc-sized rebuild groups). At
    100 TB the benchmark set is built once and persisted, like the Bloom
    filter relation."""
    k = dedup.SUBSTRING_K
    gs = grams_rel or "grams"
    inline = (
        ""
        if grams_rel
        else (
            f"grams AS {'MATERIALIZED ' if d == 'duck' else ''}"
            f"({dedup.substring_grams_sql(d, k)}),\n    "
        )
    )
    return f"""
    WITH {inline}bench AS (
        SELECT DISTINCT hx FROM {gs} WHERE doc_id % 50 = 0
    ),
    foreign_grams AS (
        SELECT g.doc_id, g.pos FROM {gs} g
        JOIN bench ON g.hx = bench.hx
        WHERE g.doc_id % 50 <> 0
    ),
    {dedup._strip_tail_sql(d, k, base_where="WHERE doc_id % 50 <> 0", docs_rel=docs_rel)}
    """


def decontaminate_spans(spark):
    """Spark path: session-staged positional grams, shared tail SQL."""
    grams, docs = stage(spark, "substring_grams", "docs")
    return spark.sql(decontaminate_spans_sql("spark", grams, docs_rel=docs))


@declare("bloom_filter", deps=("hx_shingles",), prewarm=True)
def _bloom_filter(ctx):
    """(benchmark-hash set view, Bloom filter view) — the 100 TB
    deployment shape: the filter depends only on the (fixed) benchmark
    suite, so it is built once and persisted while the corpus-side probe
    runs per batch."""
    spark = ctx.spark
    bench = ctx.cache(
        "__tf_bench_h",
        spark.sql(
            f"SELECT DISTINCT h FROM {ctx.dep('hx_shingles')} LATERAL VIEW explode(hx) AS h "
            f"WHERE doc_id % 50 = 0"
        ),
    )
    return bench, ctx.cache("__tf_bloom", spark.sql(bloom_fold_sql("spark", bench)))


# PII-ish patterns, backslash-free so one spelling survives BOTH Spark's
# backslash-escaping string literals and DuckDB's literal ones (sqlgen
# convention): [.] for a literal dot, explicit [0-9] classes.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_URL = "https?://[^ ]+"
PII_LONG_ID = "[0-9]{6,}"


def pii_redact_sql(d: str, rel: str = "documents") -> str:
    """PII scrubbing for training corpora: replace emails / URLs / long
    digit runs with typed placeholder tokens and report per-doc match
    counts plus a fingerprint of the redacted text (so the gate verifies
    the *replacement*, not just the counts).

    One scan, zero shuffles — every expression is per-row; at 100 TB this
    runs at parquet-read speed inside whole-stage codegen (no Python)."""
    red = G.regex_replace_all("text", PII_EMAIL, "<EMAIL>", d)
    red = G.regex_replace_all(red, PII_URL, "<URL>", d)
    red = G.regex_replace_all(red, PII_LONG_ID, "<ID>", d)
    return f"""
    WITH r AS (
        SELECT doc_id,
               CAST({G.regex_count("text", PII_EMAIL, d)} AS BIGINT) AS n_emails,
               CAST({G.regex_count("text", PII_URL, d)} AS BIGINT) AS n_urls,
               CAST({G.regex_count("text", PII_LONG_ID, d)} AS BIGINT) AS n_long_ids,
               {red} AS red
        FROM {rel})
    SELECT doc_id, n_emails, n_urls, n_long_ids,
           CAST(length(red) AS BIGINT) AS redacted_len,
           {G.hash56("red", d)} AS redacted_hash
    FROM r ORDER BY doc_id
    """


WEIGHTED_SAMPLE_K = 100


def weighted_sample_sql(d: str, k: int = WEIGHTED_SAMPLE_K) -> str:
    """Weighted sampling without replacement (Efraimidis–Spirtes A-ES):
    key = ln(u) / w with u a deterministic per-doc uniform from the
    portable hash and w = n_chars; the k largest keys are the sample.
    Hash-derived u makes the draw reproducible across engines, runs and
    partitionings — unlike rand(), which is executor-order-dependent.

    Scale shape: one scan + one global TopK (Spark's sort-limit is a
    per-partition TopK then a k-row merge — no full sort, no shuffle of
    the losers). Keys are rounded to 6dp with doc_id tie-break so libm
    vs JVM ln() last-ulp drift can't reorder the cutoff."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    u = f"(({G.hash56(f'CAST(doc_id AS {str_t})', d)} % 1000000) + 0.5) / 1000000.0"
    return f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               ROUND(ln({u}) / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS sample_key
        FROM documents)
    SELECT doc_id, lang, n_chars, sample_key
    FROM keyed ORDER BY sample_key DESC, doc_id LIMIT {k}
    """


GROUP_QUOTA = 40


def group_quota_sample_sql(d: str, quota: int = GROUP_QUOTA) -> str:
    """Per-group quota sampling: exactly ``quota`` docs per language (or
    all of them for rarer groups), chosen by deterministic hash order —
    the data-mixture balancing op for corpus assembly.

    One shuffle on lang (the window partition key); the hash order makes
    the pick reproducible and unbiased by storage order. A skewed group
    costs one hot window partition — acceptable because the quota cutoff
    discards everything past rank ``quota`` at the first stage boundary."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    h = G.hash56(f"CAST(doc_id AS {str_t})", d)
    return f"""
    WITH r AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS BIGINT) AS rk
        FROM documents)
    SELECT doc_id, lang, rk FROM r WHERE rk <= {quota}
    ORDER BY lang NULLS FIRST, rk
    """


TOKEN_BUDGET = 5000


def token_budget_sql(d: str, budget: int = TOKEN_BUDGET) -> str:
    """Greedy per-language token-budget fill: walk each language's docs in
    deterministic hash order, keep while the running token total stays
    within budget — the mixture-assembly op that turns sampling weights
    into an actual bounded training set.

    One shuffle (the per-lang window); the cumulative sum is BIGINT (no
    float drift) and the hash order makes the cut reproducible across
    engines, runs and partitionings."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    h = G.hash56(f"CAST(doc_id AS {str_t})", d)
    n_toks = G.arr_size(G.split_ws("text", d), d)
    return f"""
    WITH t AS (
        SELECT doc_id, lang, CAST({n_toks} AS BIGINT) AS n_tokens, {h} AS h
        FROM documents),
    c AS (
        SELECT doc_id, lang, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t)
    SELECT doc_id, lang, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {budget}
    ORDER BY lang NULLS FIRST, cum_tokens, doc_id
    """


def entropy_sql(d: str) -> str:
    """Character-distribution Shannon entropy per doc — the gibberish /
    mojibake filter (natural text sits ~2-4 bits/char, random bytes near
    the alphabet's max).

    Determinism: per-char terms p*log2(p) are rounded to 9dp and summed
    as DECIMAL — a float SUM across the group would be accumulation-order
    -dependent across engines/partitionings. One map-side-combined
    (doc, char) count, one per-doc rollup; the doc length comes from a
    SUM window over the counts relation (same doc_id partitioning, so no
    extra exchange) rather than a join against a second aggregate, which
    would re-derive the explode+count per CTE reference."""
    chars = G.transform(G.seq("1", "length(s)", d), "i -> substr(s, i, 1)", d)
    if d == "spark":
        exploded = "SELECT doc_id, ch FROM c LATERAL VIEW explode(chars) AS ch"
    else:
        exploded = "SELECT doc_id, UNNEST(chars) AS ch FROM c"
    return f"""
    WITH c AS (SELECT doc_id, {chars} AS chars
               FROM (SELECT doc_id, {G.lower_ascii("text")} AS s FROM documents)),
    e AS ({exploded}),
    counts AS (
        SELECT doc_id, ch, COUNT(*) AS cnt FROM e GROUP BY doc_id, ch),
    terms AS (
        SELECT doc_id,
               CAST(ROUND((cnt / len) * ln(cnt / len) / ln(2), 9) AS DECIMAL(18,9)) AS term
        FROM (SELECT doc_id, cnt,
                     CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS DOUBLE) AS len
              FROM counts))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           ROUND(-CAST(SUM(term) AS DOUBLE), 6) AS entropy_bits
    FROM terms GROUP BY doc_id ORDER BY doc_id
    """


SEQ_LEN = 512  # tokens per packed training sequence
PACK_SHARDS = 8  # per-language parallelism of the prefix-sum


def pack_t_sql(
    d: str, shards: int = PACK_SHARDS, rel: str = "documents",
    n_toks: str | None = None, key: str | None = None, order_tail: str = "doc_id",
) -> str:
    """The tokenized pack input relation (doc_id, lang, n_tokens, h,
    shard[, order-tail extras]) — the ONLY corpus-sized pass of
    :func:`pack_sequences_sql`. Split out so the Spark registry builder
    can stage it once (``pack_tokens``) instead of letting Catalyst's
    CTE inlining re-scan + re-tokenize documents for the shard-total
    rollup (the r14 bench showed two full parquet scans of ``text`` in
    the plan — a doubled dominant scan at 100 TB)."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    h = G.hash56(key or f"CAST(doc_id AS {str_t})", d)
    n_toks = n_toks or G.arr_size(G.split_ws("text", d), d)
    extra = [c.strip() for c in order_tail.split(",") if c.strip() != "doc_id"]
    xc = "".join(f", {c}" for c in extra)
    return (
        f"SELECT doc_id, lang, CAST({n_toks} AS BIGINT) AS n_tokens, h,"
        f" h % {shards} AS shard{xc}\n        FROM (SELECT *, {h} AS h FROM {rel})"
    )


@declare(
    "pack_tokens",
    deps=("docs",),
    # the partition count is part of the staged LAYOUT (the cumsum
    # window's exchange-free property holds only for the partitioning
    # the cache was built with): keying on it re-stages after a
    # mid-session conf change instead of reusing the stale layout
    # (ADVICE r15 #2)
    key=lambda spark, **_: int(spark.conf.get("spark.sql.shuffle.partitions")),
    params={"shards": PACK_SHARDS},
    prewarm=True,
)
def _pack_tokens(ctx, shards):
    """Pack input relation, hash-partitioned on the prefix-sum window
    keys (lang, shard) BEFORE caching, so that over the staged view (1)
    the per-(lang, shard) cumsum window needs no exchange — the
    InMemoryTableScan already reports the required partitioning — and
    (2) the shard-total rollup aggregates complete without exchange on
    the same co-partitioned cache instead of re-scanning + re-tokenizing
    documents (VERDICT r14 item 2: the pack ladder now pays ONE
    corpus-sized shuffle — this staging repartition — plus the final
    pack rollup's map-combined partials; the tiny (langs × shards)
    offset relation broadcasts back)."""
    t = ctx.spark.sql(
        pack_t_sql("spark", shards=shards, rel=ctx.dep("docs"))
    ).repartition(ctx.key, "lang", "shard")
    return ctx.cache("__tf_pack_t", t)


def pack_sequences_sql(
    d: str, seq_len: int = SEQ_LEN, shards: int = PACK_SHARDS,
    rel: str = "documents", n_toks: str | None = None, key: str | None = None,
    order_tail: str = "doc_id", lead_ctes: str = "", t_rel: str | None = None,
) -> str:
    """Sequence packing for pretraining batches: concatenate each
    language's docs in deterministic hash order and chunk the token
    stream into fixed ``seq_len`` packs; each doc is assigned to the pack
    where it STARTS (pack_id = start_offset DIV seq_len), with a count of
    docs spanning a pack boundary.

    Scale design — a naive ``SUM() OVER (PARTITION BY lang ...)`` puts an
    entire language (possibly 50 of 100 TB) in ONE window partition. This
    is instead a distributed two-level prefix sum: (1) windowed cumsum
    within (lang, shard = h % shards) — parallelism ``shards`` per
    language; (2) a tiny (langs × shards) shard-total relation whose
    per-language running offset is broadcast back. Global start offset =
    shard prefix + local cumsum − own tokens. All BIGINT arithmetic (no
    float drift); hash order makes pack assignment reproducible across
    engines, runs and partitionings.

    ``rel``/``n_toks``/``key``/``order_tail``/``lead_ctes`` let the
    pretraining pipeline pack its UPSAMPLED survivor stream (hash key =
    doc_id#epoch_idx so each training copy lands independently, token
    counts precomputed, tie-break extended to the copy index); registry
    defaults are byte-identical. Columns named in ``order_tail`` beyond
    doc_id must exist in ``rel`` and are carried through ``t``.
    ``t_rel`` (Spark builder path) swaps the inline tokenize CTE for the
    pre-staged, (lang, shard)-partitioned ``pack_tokens`` relation —
    identical columns/values, so the oracle text is unchanged.

    NULL safety (r12 pack fuzzer, the ADVICE r10 #3 class): the
    shard-offset join is null-safe on ``lang`` so a NULL-lang doc packs
    its own NULL-lang stream — a plain equi-join dropped those docs on
    BOTH engines in lockstep, invisible to the hash gate and caught
    only by the fuzzer's plain-Python reference; and the presentation
    ORDER BY pins NULLS FIRST on both nullable keys (Spark's ASC
    default vs DuckDB's NULLS LAST)."""
    pack_id = G.intdiv("start_tok", str(seq_len), d)
    end_pack = G.intdiv("start_tok + n_tokens - 1", str(seq_len), d)
    first_doc = "min_by(doc_id, start_tok)" if d == "spark" else "arg_min(doc_id, start_tok)"
    t_body = (
        f"SELECT * FROM {t_rel}"
        if t_rel is not None
        else pack_t_sql(
            d, shards=shards, rel=rel, n_toks=n_toks, key=key, order_tail=order_tail
        )
    )
    return f"""
    WITH {lead_ctes}t AS (
        {t_body}),
    loc AS (
        SELECT doc_id, lang, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang, shard ORDER BY h, {order_tail}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcum
        FROM t),
    tot AS (SELECT lang, shard, SUM(n_tokens) AS tot FROM t GROUP BY lang, shard),
    pre AS (
        SELECT lang, shard,
               COALESCE(SUM(tot) OVER (
                   PARTITION BY lang ORDER BY shard
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM tot),
    g AS (
        SELECT loc.doc_id, loc.lang, loc.n_tokens,
               pre.off + loc.lcum - loc.n_tokens AS start_tok
        FROM loc JOIN pre
          ON {G.null_eq("loc.lang", "pre.lang", d)}
         AND loc.shard = pre.shard)
    SELECT lang,
           CAST({pack_id} AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(SUM(CASE WHEN {pack_id} <> {end_pack} THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
           CAST({first_doc} AS BIGINT) AS first_doc
    FROM g GROUP BY lang, {pack_id}
    ORDER BY lang NULLS FIRST, pack_id NULLS FIRST
    """


CHUNK_SIZE = 200  # characters per retrieval chunk
CHUNK_OVERLAP = 50  # characters shared between adjacent chunks


def chunk_overlap_sql(d: str, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> str:
    """Overlapping character-window chunking (the retrieval / embedding
    prep step): fixed ``size``-char windows advancing by ``size-overlap``,
    trailing partial kept. Pure per-row fan-out at the scan — zero
    shuffles, no Python; at 100 TB this runs at parquet-scan speed and
    the chunk stream feeds straight into the embedding/inference stage
    without materializing.

    Chunk identity is the portable 56-bit content hash, so chunk-level
    dedup can run downstream with the same hash discipline as doc-level."""
    stride = size - overlap
    # chunk start offsets: 1, 1+stride, ... — last window begins at or
    # before the final character (trailing partial included, empty docs
    # produce one empty chunk guarded by greatest())
    n_win = f"{G.intdiv(f'greatest(n_chars - 1, 0)', str(stride), d)} + 1"
    starts = G.seq("0", f"{n_win} - 1", d)
    # the explode CARRIES text so the chunk substr never re-joins
    # documents — a join back on doc_id would shuffle both sides at scale
    if d == "spark":
        exploded = "SELECT doc_id, lang, text, i FROM s LATERAL VIEW explode(idx) AS i"
    else:
        exploded = "SELECT doc_id, lang, text, UNNEST(idx) AS i FROM s"
    chunk = f"substr(text, 1 + i * {stride}, {size})"
    return f"""
    WITH s AS (
        -- NULL-text docs emit NO chunks (the multimodal frame rule; an
        -- unguarded fan-out emitted one meaningless all-NULL chunk row —
        -- agreed by both engines, caught by the r12 chunk fuzzer's
        -- python reference)
        SELECT doc_id, lang, text, length(text) AS n_chars, {starts} AS idx
        FROM documents WHERE text IS NOT NULL),
    c AS (
        SELECT doc_id, lang, i AS chunk_idx, {chunk} AS chunk
        FROM ({exploded}))
    SELECT doc_id, lang,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(1 + chunk_idx * {stride} AS BIGINT) AS start_pos,
           CAST(length(chunk) AS BIGINT) AS chunk_len,
           {G.hash56('chunk', d)} AS chunk_hash
    FROM c ORDER BY doc_id, chunk_idx
    """


def train_split_sql(d: str, pct_train: int = 80, pct_val: int = 10) -> str:
    """Deterministic train/val/test split matrix: each doc lands in a
    split by portable hash bucket (hash56(doc_id) % 100) — reproducible
    across engines/runs/partitionings, unlike rand()-based splits, and
    membership is computable per-row at the scan (a filter, not a join,
    when materializing one split at 100 TB). One tiny shuffle for the
    (split, lang) rollup with map-side combine."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    bucket = f"{G.hash56(f'CAST(doc_id AS {str_t})', d)} % 100"
    n_toks = G.arr_size(G.split_ws("text", d), d)
    return f"""
    WITH t AS (
        SELECT lang,
               CASE WHEN {bucket} < {pct_train} THEN 'train'
                    WHEN {bucket} < {pct_train + pct_val} THEN 'val'
                    ELSE 'test' END AS split,
               CAST({n_toks} AS BIGINT) AS n_tokens
        FROM documents)
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY split, lang ORDER BY split, lang NULLS FIRST
    """


DUP_GRAM_N = 5  # word n-gram size for the corpus-wide duplication metric


def dup_gram_exploded_sql(d: str, n: int = DUP_GRAM_N, rel: str = "documents") -> str:
    """The (doc_id, gram-hash) relation dup_gram_fraction_sql consumes
    THREE times — exposed so the Spark path can stage it once (cache +
    temp view) instead of re-scanning and re-shingling per reference
    (Catalyst inlines CTEs; an unstaged run scans documents 6×).

    Deliberately CTE-free (nested subqueries): a WITH inside the cached
    view gets its CTERelationDef ids remapped when the view is embedded
    in an outer WITH query, the canonicalized plans stop matching, and
    the cache is silently bypassed."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    sh = G.shingles_from_tokens("toks", n, d)
    gh = G.hash56("g", d)
    if d == "spark":
        exploded = "SELECT doc_id, g FROM s LATERAL VIEW explode(grams) AS g"
    else:
        exploded = "SELECT doc_id, UNNEST(grams) AS g FROM s"
    return f"""
    SELECT doc_id, {gh} AS gh FROM (
        {exploded.replace("FROM s", f'''FROM (
            SELECT doc_id, {sh} AS grams FROM (
                SELECT doc_id, {toks} AS toks FROM {rel}) t) s''')})
    """


@declare("dupgram_exploded", deps=("documents",))
def _dupgram_exploded(ctx):
    return ctx.cache(
        "__dupgram_e", ctx.spark.sql(dup_gram_exploded_sql("spark", rel=ctx.dep("documents")))
    )


def dup_gram_fraction_sql(d: str, n: int = DUP_GRAM_N, e_rel: str | None = None) -> str:
    """Corpus-wide duplicated n-gram fraction per document (the C4 /
    Gopher-style inter-document repetition filter): the share of a doc's
    distinct word n-grams that also occur in at least one OTHER document.

    Shape: distinct grams are staged per doc (hoisted token array — the
    shingle transform never re-splits), exploded ONCE into a staged
    relation (``e_rel`` on Spark — cached temp view; MATERIALIZED CTE on
    DuckDB), counted per gram hash (map-side combine), joined back on
    the gram hash, then one per-doc rollup. No all-pairs anything: cost
    is O(total grams), and the gram-hash shuffle is the same backbone
    every dedup op here uses."""
    mat = "MATERIALIZED " if d == "duck" else ""
    e_body = e_rel or f"{mat}({dup_gram_exploded_sql(d, n)})"
    e_cte = f"e AS {e_body}," if e_rel is None else ""
    e_name = e_rel if e_rel is not None else "e"
    return f"""
    WITH {e_cte}
    c AS (SELECT gh, COUNT(*) AS n_docs FROM {e_name} GROUP BY gh),
    r AS (
        SELECT e.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM {e_name} e JOIN c ON e.gh = c.gh GROUP BY e.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(r.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(r.n_dup, 0) AS BIGINT) AS n_dup_grams,
           ROUND(CAST(COALESCE(r.n_dup, 0) AS DOUBLE)
                 / greatest(COALESCE(r.n_grams, 0), 1), 6) AS dup_fraction
    FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """


BPE_TOP_K = 30  # merge candidates reported


def bpe_pairs_sql(d: str, k: int = BPE_TOP_K) -> str:
    """Adjacent-token pair frequencies — the BPE merge-candidate
    statistic that seeds tokenizer training. Same inverted shape as
    ``top_tokens_sql``: pairs exploded from a hoisted token array (the
    lambda never re-splits), counted with map-side combine, then a
    cheap global TopK with deterministic count-then-pair ordering."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    n = G.arr_size("toks", d)
    pair = G.arr_join(G.arr_slice("toks", "i", 2, d), " ", d)
    pairs = G.transform(G.seq("1", f"{n} - 1", d), f"i -> {pair}", d)
    if d == "spark":
        exploded = "SELECT p FROM s LATERAL VIEW explode(pairs) AS p"
    else:
        exploded = "SELECT UNNEST(pairs) AS p FROM s"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    s AS (SELECT doc_id, {pairs} AS pairs FROM t),
    e AS ({exploded}),
    c AS (SELECT p AS pair, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY p),
    r AS (SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rk FROM c)
    SELECT pair, n FROM r WHERE rk <= {k} ORDER BY n DESC, pair
    """


WINNOW_K = 8  # character k-gram size
WINNOW_W = 4  # winnowing window (positions per window)


def winnow_fingerprint_sql(d: str, k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """MOSS-style winnowing fingerprints: hash every character k-gram by
    position (the rolling-hash pass), then select the minimum hash of
    each window of ``w`` consecutive positions; the distinct selected
    hashes are the doc's fingerprint set. Guarantees any shared substring
    of length >= k + w - 1 yields a shared fingerprint — the
    position-robust dedup/overlap primitive (plain content hashing
    breaks on any 1-char edit).

    Shape: per-row fan-out to (doc, pos, hash), one doc-partitioned
    window pass (doc-sized partitions — bounded, unlike language-sized),
    one per-doc rollup. Checksum sums hashes mod 1e9+7 (BIGINT-safe at
    any doc count)."""
    npos = f"greatest(length(s) - {k - 1}, 0)"
    gram_hash = G.hash56(f"substr(s, i, {k})", d)
    hashes = G.transform(G.seq("1", npos, d), f"i -> {gram_hash}", d)
    if d == "spark":
        exploded = ("SELECT doc_id, n_pos, pos, h FROM g "
                    "LATERAL VIEW posexplode(hx) AS pos, h")
        pos_adj = "pos + 1"  # posexplode is 0-based
    else:
        exploded = ("SELECT doc_id, n_pos, generate_subscripts(hx, 1) AS pos, "
                    "UNNEST(hx) AS h FROM g")
        pos_adj = "pos"
    return f"""
    WITH t AS (SELECT doc_id, {G.lower_ascii("text")} AS s FROM documents),
    g AS (SELECT doc_id, {npos} AS n_pos, {hashes} AS hx FROM t),
    e AS (SELECT doc_id, n_pos, {pos_adj} AS pos, h FROM ({exploded})),
    wmin AS (
        SELECT doc_id, n_pos, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel
        FROM e),
    fp AS (
        -- greatest(..., 1): a doc with 1..w-1 k-grams still has a
        -- fingerprint (the min of all its hashes — winnowing's standard
        -- short-input degenerate case); the bare bound emitted NO row,
        -- making a 10-char doc indistinguishable from an empty one
        SELECT DISTINCT doc_id, n_pos, sel
        FROM wmin WHERE pos <= greatest(n_pos - {w} + 1, 1) AND n_pos > 0)
    SELECT doc_id,
           CAST(MIN(n_pos) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(sel % 1000000007) AS BIGINT) AS fp_checksum
    FROM fp GROUP BY doc_id ORDER BY doc_id
    """


SHUFFLE_SEED = "ts3"  # bump to re-deal the training order
SHUFFLE_SHARDS = 8


def shuffle_shards_sql(d: str, n_shards: int = SHUFFLE_SHARDS, seed: str = SHUFFLE_SEED) -> str:
    """Deterministic global training-order shuffle: every doc gets a
    pseudo-random but reproducible (shard, pos) from the portable
    md5-int56 hash of (doc_id, seed) — the ORDER the `write_train_shards`
    sink materializes, exposed as an oracle-checked relation.

    Scale shape: ONE shuffle (the window's partition-by-shard exchange —
    the same single exchange the sink's repartitionByRange pays; modulo
    sharding here keeps the assignment portable across engines, where
    range bounds would be sampling-dependent). Epoch re-deals are a seed
    bump, not a new data layout; determinism means any worker can
    recompute any shard's order without coordination."""
    hkey = G.hash56(f"CAST(doc_id AS STRING) || ':{seed}'", d)
    return f"""
    WITH h AS (SELECT doc_id, {hkey} AS hkey FROM documents)
    SELECT doc_id, CAST(hkey % {n_shards} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hkey % {n_shards}
                                   ORDER BY hkey, doc_id) - 1 AS BIGINT) AS pos
    FROM h ORDER BY shard, pos
    """


MIXTURE_BUDGET = 20_000  # total training-token budget to allocate


def mixture_plan_sql(d: str, budget: int = MIXTURE_BUDGET) -> str:
    """Data-mixture planning: inventory tokens per source, allocate a
    BALANCED per-source target (budget DIV n_sources), and emit the
    per-source keep decision — take everything from undersupplied
    sources, a fractional keep rate from oversupplied ones. This is the
    planning step that turns mixture weights into concrete per-source
    sampling rates before `sample_hash_stratified` materializes them.

    All allocation arithmetic is integer (BIGINT div/least) so the plan
    is bit-identical across engines; the display rate is the only float
    and is rounded. One map-side-combined rollup; the source count comes
    from a COUNT(*) OVER () window on the few-row aggregated relation —
    NOT a scalar subquery, which Catalyst would inline per referencing
    expression and re-run the full-corpus aggregation each time (plan
    audit measured 4 derivations). Nothing scales with corpus size but
    the first aggregation."""
    n_toks = G.arr_size(G.split_ws("text", d), d)
    target = G.intdiv(str(budget), "n_src", d)
    # r16 (sampling-family fuzzer finding, the winsorize greatest/least
    # class again): SQL least() SKIPS NULL arguments on BOTH engines, so
    # a source whose docs are all NULL-text (available_tokens = NULL)
    # silently got planned_tokens = target — a full allocation of tokens
    # that don't exist, invisible to the cross-engine hash gate. The
    # COALESCE pins the no-countable-tokens source to planned 0;
    # available_tokens stays NULL (the faithful inventory) and keep_rate
    # stays NULL (unknown denominator).
    planned = f"least(COALESCE(available_tokens, 0), {target})"
    return f"""
    WITH avail AS (
        SELECT source, CAST(SUM({n_toks}) AS BIGINT) AS available_tokens
        FROM documents GROUP BY source),
    w AS (SELECT source, available_tokens, COUNT(*) OVER () AS n_src FROM avail)
    SELECT source, available_tokens,
           CAST({target} AS BIGINT) AS target_tokens,
           CAST({planned} AS BIGINT) AS planned_tokens,
           ROUND(CAST({planned} AS DOUBLE) / available_tokens, 6) AS keep_rate
    FROM w ORDER BY source NULLS FIRST
    """


TEMP_ALPHA = "0.3"  # XLM-R's multilingual sampling exponent


def temperature_mixture_sql(
    d: str, budget: int = MIXTURE_BUDGET, rel: str = "documents",
    n_toks: str | None = None,
) -> str:
    """Temperature-scaled mixture sampling (public method: the
    exponentiated-multinomial rebalancing of XLM-R / mT5 — sample
    language i with probability q_i = p_i^alpha / sum_j p_j^alpha,
    alpha < 1 flattening the distribution so low-resource languages are
    upsampled relative to their raw share). Emits, per language: raw and
    tempered shares, the token target under the budget, the planned
    (capped) take, the keep rate for downsampling, and the repeat
    factor > 1 where the tempered target EXCEEDS availability — the
    upsample signal the balanced `corpus_mixture_plan` cannot express.

    Determinism: the only transcendental is pow(p, alpha); its result is
    immediately rounded to 9 decimals and CAST to DECIMAL(12,9), the
    normalizer is an exact DECIMAL sum (no float summation order), and
    every downstream ratio divides those identical 9dp values — so both
    engines derive bit-identical shares unless pow itself differs at a
    rounding boundary, the same accepted risk class as the 6dp cosine
    rounding. Scale shape: one map-combined rollup to |languages| rows;
    the windows run on that tiny relation; nothing after the first
    aggregate scales with the corpus.

    ``rel``/``n_toks`` parameterize the corpus relation and its token
    expression so the pretraining pipeline (r10) can plan the mixture
    over its SURVIVOR set (carrying a precomputed ``n_tokens`` column)
    with the registry defaults byte-identical."""
    n_toks = n_toks or G.arr_size(G.split_ws("text", d), d)
    pa = f"CAST(ROUND(pow(CAST(n AS DOUBLE) / total, {TEMP_ALPHA}), 9) AS DECIMAL(12,9))"
    return f"""
    WITH avail AS (
        SELECT lang, CAST(SUM({n_toks}) AS BIGINT) AS n
        FROM {rel} GROUP BY lang),
    w AS (SELECT lang, n, SUM(n) OVER () AS total FROM avail),
    t AS (SELECT lang, n, total, {pa} AS pa FROM w),
    z AS (SELECT lang, n, total, pa, SUM(pa) OVER () AS zsum FROM t),
    plan AS (
        SELECT lang, n,
               ROUND(CAST(n AS DOUBLE) / total, 6) AS p_raw,
               ROUND(CAST(pa AS DOUBLE) / CAST(zsum AS DOUBLE), 6) AS p_temp,
               CAST(FLOOR(CAST(pa AS DOUBLE) * {budget} / CAST(zsum AS DOUBLE))
                    AS BIGINT) AS target_tokens
        FROM z)
    SELECT lang,
           n AS available_tokens, p_raw, p_temp, target_tokens,
           CAST(LEAST(n, target_tokens) AS BIGINT) AS planned_tokens,
           ROUND(CAST(LEAST(n, target_tokens) AS DOUBLE) / n, 6) AS keep_rate,
           ROUND(CAST(target_tokens AS DOUBLE) / n, 6) AS repeat_factor
    FROM plan ORDER BY lang NULLS FIRST
    """


# ---------------------------------------------------------------------------
# BM25 keyword retrieval + unigram-LM perplexity (round 7)
#
# Two retrieval/quality operators a training-data team reaches for next
# after dedup: BM25 keyword search over the corpus (targeted subset
# selection / eyeballing — the Okapi BM25 formula, public knowledge) and
# CCNet-style language-model quality scoring (Wenzek et al. 2019: score
# every document under a corpus LM and bucket into head/middle/tail per
# language; the perplexity filter that curated CCNet/RedPajama). Both
# consume ONE shared per-doc term-frequency relation so the tokenize +
# count pass — the only corpus-sized cost — is paid once per session.
# ---------------------------------------------------------------------------

BM25_K1 = "1.2"  # Okapi defaults
BM25_B = "0.75"
BM25_TOP_K = 10
# fixed literal query set (terms drawn from the corpus vocabulary)
BM25_QUERIES = [
    (1, "hash"), (1, "join"),
    (2, "vector"), (2, "scan"), (2, "merge"),
    (3, "stream"), (3, "window"),
    (4, "customer"), (4, "slow"), (4, "batch"),
]


def _bm25_term_lit(t: str) -> str:
    """Quote a BM25 query term as a SQL string literal — the ONE quoting
    path for both splices that embed the term set (the VALUES query list
    and the Spark-arm df prefilter's IN list, ADVICE r16): a term outside
    the safe charset fails loudly here instead of breaking only one arm
    and silently diverging Spark from the oracle text."""
    assert t and all(c.isalnum() or c in "_-" for c in t), (
        f"BM25 term {t!r} needs escaping — extend _bm25_term_lit first"
    )
    return f"'{t}'"


def unigram_tf_sql(d: str, rel: str = "documents") -> str:
    """The (doc_id, lang, tok, tf, n_tok) per-document term-frequency
    relation both retrieval operators consume. Deliberately CTE-free
    (nested subqueries) for the same cache-canonicalization reason as
    ``dup_gram_exploded_sql``: a WITH inside a cached view gets its
    CTERelationDef ids remapped on embedding and silently bypasses the
    cache. ``lang`` rides along (functionally dependent on doc_id) so
    the per-language perplexity buckets need no join back to the docs
    table, and the per-doc length ``n_tok`` is a SUM window folded into
    the staging build — BM25's length normalizer would otherwise pay a
    corpus-sized doc_id exchange per query. The portable token hash
    ``th`` is folded in the same way: DSIR references its hashed feature
    bucket on three CTE sides (both distribution rollups + the terms
    join), and with CTE inlining the md5 pass would run 3× per query —
    staged once here, the downstream ``% buckets`` is free BIGINT math
    (code-review r07)."""
    toks = G.split_ws(G.lower_ascii("text"), d)
    if d == "spark":
        exploded = f"SELECT doc_id, lang, tok FROM (SELECT doc_id, lang, {toks} AS toks FROM {rel}) t LATERAL VIEW explode(toks) AS tok"
    else:
        exploded = f"SELECT doc_id, lang, UNNEST({toks}) AS tok FROM {rel}"
    return f"""
    SELECT doc_id, lang, tok, {G.hash56('tok', d)} AS th,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tok
    FROM ({exploded}) GROUP BY doc_id, lang, tok
    """


@declare("unigrams", deps=("docs",), prewarm=True)
def _unigrams(ctx):
    """The unigram-tf relation shared by ``text_bm25_topk``,
    ``text_lm_perplexity``, ``sample_dsir_importance``, the quality
    labels and classifier, and BPE training; the tokenize scan reads the
    fanned-out docs view so the CPU-bound explode never runs on one
    parquet split."""
    return ctx.cache(
        "__tf_unigrams", ctx.spark.sql(unigram_tf_sql("spark", rel=ctx.dep("docs")))
    )


def bm25_topk_sql(
    d: str,
    k: int = BM25_TOP_K,
    tf_rel: str | None = None,
    with_rank: bool = False,
    ordered: bool = True,
) -> str:
    """Okapi BM25 top-k retrieval for a fixed literal query set.

    ``with_rank`` additionally emits the per-query rank as ``bm_rank``
    (CAST to BIGINT for cross-engine schema identity) — consumed by the
    RRF fusion; the default reproduces the registered ``text_bm25_topk``
    text byte-for-byte.

    Shape: ONE corpus-sized shuffle builds the (doc, term, tf, n_tok)
    relation (map-side combined; the doc-length window is folded into
    the shared staging build); the per-term doc frequency is a vocab-sized
    rollup joined onto the tiny literal query set and BROADCAST; corpus
    totals (N, total tokens) are a 1-row relation cross-joined back (a
    single-row broadcast, same shape as ``corpus_source_filter``'s).
    Per-query top-k is the ``sim_cosine_topk`` window pattern — fine for
    a handful of queries; a 10⁶-query workload would swap in a two-level
    partial-TopK merge.

    Determinism: idf and the length normalizer are pure double
    arithmetic on exact integers (products < 2^53), per-term scores are
    rounded to 9dp and summed as DECIMAL (the ``entropy_sql``
    discipline), so cross-engine float accumulation order can never
    flip a ranking."""
    mat = "MATERIALIZED " if d == "duck" else ""
    tf_body = tf_rel or f"{mat}({unigram_tf_sql(d)})"
    tf_cte = f"tf AS {tf_body}," if tf_rel is None else ""
    tfn = tf_rel or "tf"
    vals = ", ".join(f"({q}, {_bm25_term_lit(t)})" for q, t in BM25_QUERIES)
    rank_col = ",\n           CAST(rn AS BIGINT) AS bm_rank" if with_rank else ""
    if d == "spark":
        qsrc = f"SELECT * FROM VALUES {vals} AS t(query_id, term)"
    else:
        qsrc = f"SELECT * FROM (VALUES {vals}) t(query_id, term)"
    hint = "/*+ BROADCAST(qdf) */ " if d == "spark" else ""
    k1, b = BM25_K1, BM25_B
    # Spark arm only (r16, guide §2.3): the per-term document-frequency
    # rollup feeds a join against the LITERAL query-term set — only
    # those terms' counts are ever read, so pre-filtering the tf scan to
    # the term literals shrinks the df aggregation's exchange from
    # vocab-sized to |query terms| with bit-identical qdf rows (COUNT
    # per surviving tok is unchanged by dropping non-matching toks).
    # At corpus scale this is the difference between shuffling every
    # distinct token and shuffling the handful being queried. The duck
    # arm keeps the declarative full rollup — the registered oracle
    # text stays byte-identical.
    if d == "spark":
        terms = ", ".join(sorted({_bm25_term_lit(t) for _, t in BM25_QUERIES}))
        df_src = f"(SELECT tok FROM {tfn} WHERE tok IN ({terms})) __df_t"
    else:
        df_src = tfn
    return f"""
    WITH {tf_cte}
    stats AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(tf) AS BIGINT) AS tot_tokens
        FROM {tfn}),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM {df_src} GROUP BY tok),
    q AS ({qsrc}),
    qdf AS (
        SELECT CAST(q.query_id AS BIGINT) AS query_id, q.term, df.df
        FROM q JOIN df ON q.term = df.tok),
    scored AS (
        SELECT {hint}qdf.query_id, t.doc_id,
               CAST(ROUND(
                 ln(1.0 + (s.n_docs - qdf.df + 0.5) / (qdf.df + 0.5))
                 * (t.tf * ({k1} + 1))
                 / (t.tf + {k1} * (1 - {b} + {b} * (CAST(t.n_tok AS DOUBLE)
                                                    * s.n_docs / s.tot_tokens))),
                 9) AS DECIMAL(18,9)) AS s_term
        FROM {tfn} t JOIN qdf ON t.tok = qdf.term CROSS JOIN stats s),
    agg AS (
        SELECT query_id, doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               SUM(s_term) AS score
        FROM scored GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, n_matched,
           ROUND(CAST(score AS DOUBLE), 6) AS bm25{rank_col}
    FROM (
        SELECT query_id, doc_id, n_matched, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rn
        FROM agg)
    WHERE rn <= {k}
    {"ORDER BY query_id, rn" if ordered else ""}
    """


QUANTILE_EXACT = True
"""Cut-point precision switch for :func:`quantile_cut_case` (VERDICT r9
item 1). True → exact interpolated percentiles (Spark ``percentile`` /
DuckDB ``quantile_cont``), required for the oracle hash gate — exact at
gate scale is cheap because the cut aggregate reads only the doc-sized
score relation. False → the SPARK side swaps to ``approx_percentile``
(t-digest, accuracy 10k) — the production-scale spelling, where an exact
percentile aggregate would buffer every score; production has no DuckDB
oracle so the swap is Spark-only and the assignment plan (tiny cut
aggregate → broadcast → comparison) is identical either way."""


def quantile_cut_case(
    d: str,
    *,
    rel: str,
    score: str,
    n: int,
    desc: bool,
    by: str | None = None,
    alias: str = "s",
) -> tuple[str, str, str]:
    """Scale-safe NTILE(n) replacement, shared by every scorer that
    buckets documents by rank (VERDICT r9 item 1 — the global
    unpartitioned ``NTILE(5) OVER (ORDER BY score)`` moved the ENTIRE
    per-doc score relation into one window partition on one task;
    ~10^10 rows at 100 TB, and unlike a JVM floor it concentrates).

    Returns ``(cuts_cte_def, join_clause, case_expr)``: the cuts CTE is
    a TINY aggregate computing the n-1 percentile cut points of
    ``score`` over ``rel`` (1 output row global, |by| rows when
    grouped), the join broadcasts them back onto the score relation,
    and the CASE assigns bucket 1..n by comparison — exactly the
    ``events_winsorize`` broadcast-quantile shape, with the same 6dp
    rounding of the interpolated cut (last-ulp drift discipline).

    Semantics vs NTILE: buckets are value-defined, not
    exactly-equal-sized — every doc tied at a cut value lands in the
    SAME (better) bucket instead of being split by the doc_id
    tie-break. That is deterministic and identical on both dialects,
    which is what the hash gate requires; the oracle SQL changes in
    lockstep because both sides emit from this one fragment.

    The grouped join is NULL-SAFE (Spark ``<=>``, DuckDB ``IS NOT
    DISTINCT FROM``) so a NULL ``by`` group keeps its docs: GROUP BY
    emits a NULL-key cuts row on both dialects, and the old NTILE
    ``PARTITION BY lang`` kept NULL-lang docs in their own partition —
    a plain equi-join here would silently drop them (ADVICE r10 #3),
    invisible to the hash gate because both dialects emit from this
    fragment in lockstep."""
    whens, cols = [], []
    for i in range(1, n):
        # the fraction must be a LITERAL, never an in-SQL division: Spark
        # evaluates `1.0/3` as DECIMAL division at scale 6 (p=0.333333)
        # while DuckDB keeps full precision — a 3e-7 disagreement in p
        # that interpolation amplifies past the 6dp cut rounding on tied
        # score groups (caught by the quantile_cut differential fuzzer).
        # repr() of the Python float is the exact IEEE double; both
        # engines convert the same decimal string to that same double.
        frac = repr((n - i) / n if desc else i / n)
        if d == "spark" and not QUANTILE_EXACT:
            p = f"approx_percentile({score}, {frac}, 10000)"
        elif d == "spark":
            p = f"percentile({score}, {frac})"
        else:
            p = f"quantile_cont({score}, {frac})"
        cols.append(f"ROUND({p}, 6) AS c{i}")
        op = ">=" if desc else "<="
        whens.append(f"WHEN {alias}.{score} {op} cuts.c{i} THEN {i}")
    key = f"{by}, " if by else ""
    grp = f" GROUP BY {by}" if by else ""
    cuts = f"cuts AS (SELECT {key}{', '.join(cols)} FROM {rel}{grp})"
    join = (
        f"JOIN cuts ON {G.null_eq(f'{alias}.{by}', f'cuts.{by}', d)}"
        if by
        else "CROSS JOIN cuts"
    )
    case = f"CASE {' '.join(whens)} ELSE {n} END"
    return cuts, join, case


def lm_scored_sql(d: str, tf_rel: str | None = None) -> str:
    """The corpus-scale half of :func:`lm_perplexity_sql`: per-doc
    (n_tokens, avg_nll, ppl) under the add-one-smoothed unigram LM.
    Split out so the Spark registry builder can checkpoint this
    doc-sized relation ONCE and run the tercile tail over the
    checkpoint — Spark inlines a twice-referenced CTE (measured: the
    cuts aggregate + final select would each recompute the whole
    tf ⋈ LM chain), while the DuckDB oracle composes the same fragment
    as a MATERIALIZED CTE."""
    mat = "MATERIALIZED " if d == "duck" else ""
    tf_body = tf_rel or f"{mat}({unigram_tf_sql(d)})"
    tf_cte = f"tf AS {tf_body}," if tf_rel is None else ""
    tfn = tf_rel or "tf"
    hint = "/*+ BROADCAST(uni) */ " if d == "spark" else ""
    return f"""
    WITH {tf_cte}
    uni AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM {tfn} GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_tokens,
                   CAST(COUNT(*) AS BIGINT) AS v_size FROM uni),
    terms AS (
        SELECT {hint}t.doc_id, t.lang, t.tf,
               CAST(ROUND(t.tf * ln((uni.cnt + 1.0) / (tot.t_tokens + tot.v_size)),
                          9) AS DECIMAL(18,9)) AS lp
        FROM {tfn} t JOIN uni ON t.tok = uni.tok CROSS JOIN tot),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               SUM(lp) AS lp_sum
        FROM terms GROUP BY doc_id, lang)
    SELECT doc_id, lang, n_tokens,
           ROUND(-CAST(lp_sum AS DOUBLE) / n_tokens, 6) AS avg_nll,
           ROUND(exp(-CAST(lp_sum AS DOUBLE) / n_tokens), 4) AS ppl
    FROM per_doc
    """


def lm_bucket_sql(d: str, scored_rel: str, lead_ctes: str = "") -> str:
    """Tercile tail over a (doc_id, lang, n_tokens, avg_nll, ppl)
    relation: per-language cut points from a |langs|-row aggregate,
    broadcast-joined back, head/middle/tail by comparison (the
    :func:`quantile_cut_case` fragment — no per-lang sort, so a
    dominant language can no longer concentrate one window partition).
    ``lead_ctes`` lets the one-statement composition prepend the scored
    CTE itself (oracle path); it must end with a comma."""
    cuts, join, case = quantile_cut_case(
        d, rel=scored_rel, score="avg_nll", n=3, desc=False, by="lang"
    )
    hint = "/*+ BROADCAST(cuts) */ " if d == "spark" else ""
    return f"""
    WITH {lead_ctes}{cuts}
    SELECT {hint}s.doc_id, s.lang, s.n_tokens, s.avg_nll, s.ppl,
           CASE {case} WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM {scored_rel} s {join}
    ORDER BY s.doc_id
    """


def lm_perplexity_sql(d: str, tf_rel: str | None = None) -> str:
    """CCNet-style LM quality scoring (Wenzek et al. 2019, public): score
    every document under an add-one-smoothed unigram LM trained on the
    corpus itself, then bucket into head/middle/tail per language by
    perplexity terciles — the curation signal CCNet/RedPajama filter on.

    Shape: corpus unigram counts are a vocab-sized rollup of the shared
    tf relation, BROADCAST onto it for the per-term log-probs; the
    corpus totals are a 1-row cross join. Per-doc accumulation follows
    the ``entropy_sql`` determinism discipline (terms rounded to 9dp,
    summed as DECIMAL). The per-language tercile is the
    :func:`quantile_cut_case` broadcast-cut assignment (VERDICT r9
    item 1 — the former per-lang NTILE sort put a dominant language,
    ~half the web, on one task); the registry builder checkpoints the
    scored relation so Spark computes it once (see
    :func:`lm_scored_sql`)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    lead = f"scored AS {mat}({lm_scored_sql(d, tf_rel)}),\n    "
    return lm_bucket_sql(d, "scored", lead_ctes=lead)


DSIR_BUCKETS = 65_536  # hashed feature space — bounded at ANY corpus scale


def dsir_scored_sql(
    d: str, tf_rel: str | None = None, target_lang: str = "en",
    buckets: int = DSIR_BUCKETS,
) -> str:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    score every document by the average log-likelihood ratio of its
    tokens under a TARGET distribution vs the RAW corpus distribution,
    then bucket by quintile — the data-selection signal that up-weights
    documents resembling the target domain. The target here is the
    corpus's ``lang = '<target_lang>'`` slice (the "formal text" anchor
    playing Wikipedia's role in the paper); the raw distribution is the
    whole corpus. DSIR proper resamples with Gumbel noise; this
    operator emits the deterministic ranking (quintile buckets +
    top-40% keep flag) so the decision is exact and cross-engine
    reproducible.

    Faithful to the paper's HASHED n-gram features: tokens hash into a
    fixed 65536-bucket space (portable md5-int56, the repo's
    standard), so the weight relation is bounded at any corpus scale —
    a raw-token vocabulary over 100 TB of web text (~10⁸+ types with
    typos/URLs) would not be broadcastable, hashed buckets always are.
    Per-term ratios follow the ``entropy_sql`` determinism discipline
    (9dp DECIMAL sums); corpus totals are 1-row cross joins. This
    generator emits the per-doc SCORE relation only; the quintile
    assignment lives in :func:`dsir_bucket_sql` (broadcast cut points —
    the former global NTILE sort was VERDICT r9's one scale-killer)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    tf_body = tf_rel or f"{mat}({unigram_tf_sql(d)})"
    tf_cte = f"tf AS {tf_body}," if tf_rel is None else ""
    tfn = tf_rel or "tf"
    # the md5 pass lives in the staged tf relation's `th` column (built
    # once, materialized); only the parameter-scoped modulo runs here
    hb = f"(th % {buckets})"
    w_hint = "/*+ BROADCAST(w) */ " if d == "spark" else ""
    t_hint = "/*+ BROADCAST(tgt) */ " if d == "spark" else ""
    return f"""
    WITH {tf_cte}
    raw AS (SELECT {hb} AS hb, CAST(SUM(tf) AS BIGINT) AS rcnt
            FROM {tfn} GROUP BY {hb}),
    tgt AS (SELECT {hb} AS hb, CAST(SUM(tf) AS BIGINT) AS tcnt
            FROM {tfn} WHERE lang = '{target_lang}' GROUP BY {hb}),
    tot AS (SELECT CAST(SUM(rcnt) AS BIGINT) AS r_tot,
                   CAST(COUNT(*) AS BIGINT) AS v_size FROM raw),
    ttot AS (SELECT CAST(COALESCE(SUM(tcnt), 0) AS BIGINT) AS t_tot FROM tgt),
    w AS (
        SELECT {t_hint}raw.hb,
               ln((COALESCE(tgt.tcnt, 0) + 1.0) / (ttot.t_tot + tot.v_size))
               - ln((raw.rcnt + 1.0) / (tot.r_tot + tot.v_size)) AS wt
        FROM raw LEFT JOIN tgt ON raw.hb = tgt.hb
        CROSS JOIN tot CROSS JOIN ttot),
    terms AS (
        SELECT {w_hint}t.doc_id, t.lang, t.tf,
               CAST(ROUND(t.tf * w.wt, 9) AS DECIMAL(18,9)) AS lw
        FROM {tfn} t JOIN w ON (t.th % {buckets}) = w.hb),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               SUM(lw) AS lw_sum
        FROM terms GROUP BY doc_id, lang)
    SELECT doc_id, lang, n_tokens,
           ROUND(CAST(lw_sum AS DOUBLE) / n_tokens, 6) AS avg_log_ratio
    FROM per_doc
    """


def dsir_bucket_sql(d: str, scored_rel: str, lead_ctes: str = "") -> str:
    """Quintile tail over a (doc_id, lang, n_tokens, avg_log_ratio)
    relation: four global cut points from a 1-row aggregate, broadcast
    back, quintile + top-40% keep by comparison — the
    :func:`quantile_cut_case` fragment (VERDICT r9 item 1; the former
    global NTILE sort was the one 100 TB scale-killer)."""
    cuts, join, case = quantile_cut_case(
        d, rel=scored_rel, score="avg_log_ratio", n=5, desc=True
    )
    hint = "/*+ BROADCAST(cuts) */ " if d == "spark" else ""
    return f"""
    WITH {lead_ctes}{cuts}
    SELECT doc_id, lang, n_tokens, avg_log_ratio,
           CAST(q AS BIGINT) AS quintile,
           CASE WHEN q <= 2 THEN 1 ELSE 0 END AS kept
    FROM (
        SELECT {hint}s.doc_id, s.lang, s.n_tokens, s.avg_log_ratio,
               {case} AS q
        FROM {scored_rel} s {join})
    ORDER BY doc_id
    """


def dsir_importance_sql(
    d: str, tf_rel: str | None = None, target_lang: str = "en",
    buckets: int = DSIR_BUCKETS,
) -> str:
    """One-statement composition of :func:`dsir_scored_sql` +
    :func:`dsir_bucket_sql` — the oracle path (scored is a MATERIALIZED
    CTE, computed once) and the plain-SQL convenience form. The Spark
    registry builder instead checkpoints the scored relation and runs
    the bucket tail over the checkpoint, because Spark inlines a
    twice-referenced CTE (the cuts aggregate + final select would each
    recompute the whole tf ⋈ weights chain)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    lead = (
        f"scored AS {mat}({dsir_scored_sql(d, tf_rel, target_lang, buckets)}),\n    "
    )
    return dsir_bucket_sql(d, "scored", lead_ctes=lead)


# ---------------------------------------------------------------------------
# Model-based quality classification (round 9)
#
# The one pipeline stage every modern public curation recipe ends with —
# DCLM, FineWeb-Edu and Nemotron-CC all filter on the score of a TRAINED
# classifier (fastText-style linear model over bag-of-n-gram features),
# not just heuristics. fastText's supervised mode IS a linear classifier
# over hashed n-gram features, and its closed-form, deterministic sibling
# is multinomial Naive Bayes: per-feature log-odds weights derived from
# class-conditional counts. That formulation needs no SGD (no iteration
# order, no learning rate, no float accumulation ambiguity), so the
# trained weights are bit-reproducible across engines — the property the
# oracle hash gate requires and the reason NB stands in for logistic
# regression here (the serving plan — broadcast weight vector, scan-speed
# scoring — is identical for any linear model).
# ---------------------------------------------------------------------------

CLS_TRAIN_PCT = 80  # share of docs (by portable hash bucket) used for training


@declare("quality_labels", deps=("unigrams", "docs"), prewarm=True)
def _quality_labels(ctx):
    """The (doc_id, label, is_train) relation for the quality classifier:
    the classifier references it three times (class counts, prior, final
    score join) — Spark's CTE inlining would run it three times per
    query.

    r17 (guide §2.4): the label pass derives its word metrics from the
    staged tf relation via :func:`cls_labels_from_tf_sql` instead of
    re-tokenizing the corpus — the prewarm's second full tokenization
    scan is gone; only the line/symbol residual reads raw text.

    Checkpointed, not cached: a CTE inside a cached view gets its
    CTERelationDef ids remapped on embedding so the cache manager
    silently fails to substitute (the ``unigram_tf_sql``/``containment``
    lesson); the checkpoint's LogicalRDD leaf cannot be bypassed."""
    return ctx.checkpoint(
        "__tf_cls_labels",
        ctx.spark.sql(cls_labels_from_tf_sql(ctx.dep("unigrams"), docs_rel=ctx.dep("docs"))),
    )


# Per-doc scored relations of the quality pipelines, checkpointed so a
# quantile_cut_case bucket tail's cuts aggregate and final select read
# one computation (VERDICT r9 item 1: Spark inlines a twice-referenced
# CTE), and staged so the ensemble and pretraining pipelines reuse the
# classifier and perplexity scores instead of rescoring the corpus
# (VERDICT r10 item 4).


@declare("ppl_scored", deps=("unigrams",))
def _ppl_scored(ctx):
    return ctx.checkpoint(
        "__tf_ppl_scored", ctx.spark.sql(lm_scored_sql("spark", tf_rel=ctx.dep("unigrams")))
    )


@declare("dsir_scored", deps=("unigrams",))
def _dsir_scored(ctx):
    return ctx.checkpoint(
        "__tf_dsir_scored", ctx.spark.sql(dsir_scored_sql("spark", tf_rel=ctx.dep("unigrams")))
    )


@declare("cls_scored", deps=("unigrams", "quality_labels"))
def _cls_scored(ctx):
    return ctx.checkpoint(
        "__tf_cls_scored",
        ctx.spark.sql(
            quality_classifier_scored_sql(
                "spark", tf_rel=ctx.dep("unigrams"), lab_rel=ctx.dep("quality_labels")
            )
        ),
    )


@declare("pretrain_keep", deps=("hx_shingles", "cls_scored", "ppl_scored"))
def _pretrain_keep(ctx):
    return ctx.checkpoint(
        "__tf_pretrain_keep",
        ctx.spark.sql(
            pretrain_keep_sql(
                "spark",
                sh_rel=ctx.dep("hx_shingles"),
                cls_rel=ctx.dep("cls_scored"),
                ppl_rel=ctx.dep("ppl_scored"),
            )
        ),
    )


def cls_labels_from_tf_sql(
    tf_rel: str, docs_rel: str = "documents", train_pct: int = CLS_TRAIN_PCT
) -> str:
    """Spark-arm ``cls_labels`` derived from the session-staged unigram-tf
    relation instead of a second full-corpus tokenization pass (VERDICT
    r16 item 3, guide §2.4 common-subexpression reuse): the staging
    prewarm used to tokenize the corpus TWICE — once into ``__tf_unigrams``
    and once inside :func:`gopher_rules_sql`'s label pass — and the two
    builds were the top staging_components rows (9.5 s + 7.0 s at sf0.1
    on a quiet host). The word-level Gopher metrics are exact functions
    of the tf relation; only the line/symbol metrics still need the raw
    text, and that residual scan does NO tokenize/array work.

    Equivalence to ``cls_labels_sql('spark')`` row-for-row:

    * both tokenizations are ``split_ws(lower_ascii(text))``; Gopher then
      filters empty tokens while tf keeps them as rows, so
      ``n_words  = SUM(tf)   FILTER (length(tok) > 0)``,
      ``sum_len  = SUM(tf * length(tok))``  (empty tokens add 0),
      ``n_alpha  = SUM(tf)   FILTER (tok RLIKE '[a-z]')``  ('' never
      matches), reproduce ``arr_size``/``aggregate`` over the filtered
      array exactly;
    * tf rows are DISTINCT per (doc_id, tok), so counting rows whose tok
      is in the doc's language marker list equals
      ``arr_intersect_size(arr_distinct(toks), markers)``;
    * the line/symbol metrics (n_sym, n_lines, n_bullet, n_ell) are
      computed from the raw text with the byte-identical expressions;
    * ``kept`` = the conjunction of the seven rule predicates — identical
      to ``sum(rules) = 7`` because each rule is 1 iff its predicate is
      TRUE (NULL predicates count 0 in both spellings);
    * a NULL-text doc has no tf rows; the LEFT JOIN from the raw scan
      leaves its word metrics NULL, every rule predicate evaluates to
      not-TRUE, kept = 0 — exactly what ``gopher_rules_sql`` yields for
      NULL arrays. kept = 1 requires n_words >= 50, so no doc absent
      from tf can ever be labeled 1.

    The registered oracle texts keep embedding :func:`cls_labels_sql`
    verbatim; this is the Spark staging builder only, and the staged
    rows are verified elementwise against the embedded spelling by
    tests and the oracle gate."""
    d = "spark"
    # l.doc_id: the split bucket is computed in the final select, where a
    # bare doc_id would be ambiguous between the joined sides
    split_bucket = f"{G.hash56('CAST(l.doc_id AS STRING)', d)} % 100"
    lines = "split(text, chr(10))"
    n_sym = G.regex_count("text", "#|[.][.][.]", d)
    n_bullet = G.arr_size(
        G.afilter("lines", "l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%'", d), d
    )
    n_ell = G.arr_size(G.afilter("lines", "l -> l LIKE '%...'", d), d)
    stop_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN (CASE WHEN array_contains("
            f"{G.array_lit([repr(w) for w in words], d)}, tok) THEN 1 ELSE 0 END)"
            for lang, words in _LANG_MARKERS.items()
        )
        + " ELSE 0 END"
    )
    return f"""
    WITH wm AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN length(tok) > 0 THEN tf ELSE 0 END) AS BIGINT) AS n_words,
               CAST(SUM(tf * length(tok)) AS BIGINT) AS sum_len,
               CAST(SUM(CASE WHEN tok RLIKE '[a-z]' THEN tf ELSE 0 END) AS BIGINT) AS n_alpha,
               CAST(SUM({stop_case}) AS BIGINT) AS n_stop
        FROM {tf_rel} GROUP BY doc_id),
    lm AS (
        SELECT doc_id,
               CAST({n_sym} AS BIGINT) AS n_sym,
               CAST({G.arr_size('lines', d)} AS BIGINT) AS n_lines,
               CAST({n_bullet} AS BIGINT) AS n_bullet,
               CAST({n_ell} AS BIGINT) AS n_ell
        FROM (SELECT doc_id, text, {lines} AS lines FROM {docs_rel}))
    SELECT l.doc_id,
           CAST(CASE WHEN w.n_words BETWEEN 50 AND 100000
                      AND 3 * w.n_words <= w.sum_len AND w.sum_len <= 10 * w.n_words
                      AND 10 * l.n_sym <= w.n_words
                      AND 10 * l.n_bullet <= 9 * l.n_lines
                      AND 10 * l.n_ell <= 3 * l.n_lines
                      AND 5 * w.n_alpha >= 4 * w.n_words
                      AND w.n_stop >= 2
                THEN 1 ELSE 0 END AS INT) AS label,
           CAST(CASE WHEN {split_bucket} < {train_pct} THEN 1 ELSE 0 END
                AS INT) AS is_train
    FROM lm l LEFT JOIN wm w ON l.doc_id = w.doc_id
    """


def cls_labels_sql(
    d: str, train_pct: int = CLS_TRAIN_PCT, rel: str = "documents"
) -> str:
    """The (doc_id, label, is_train) relation the classifier trains on:
    Gopher-pass as the label, portable-hash train split. Factored out so
    the Spark side can stage it once per session (three CTE references
    under Spark's CTE inlining would run the Gopher codegen pass three
    times) while the oracle embeds it as a MATERIALIZED CTE."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    split_bucket = f"{G.hash56(f'CAST(doc_id AS {str_t})', d)} % 100"
    return f"""
    SELECT doc_id, CAST(kept AS INT) AS label,
           CAST(CASE WHEN {split_bucket} < {train_pct} THEN 1 ELSE 0 END
                AS INT) AS is_train
    FROM ({gopher_rules_sql(d, rel=rel)})
    """


def quality_classifier_scored_sql(
    d: str, tf_rel: str | None = None, lab_rel: str | None = None,
    buckets: int = DSIR_BUCKETS, train_pct: int = CLS_TRAIN_PCT,
) -> str:
    """Trained linear quality classifier (DCLM / FineWeb-Edu-style model
    gate, public method): train a multinomial Naive Bayes log-odds model
    over the corpus's hashed unigram features, score EVERY document, and
    emit the score, the predicted class, and a quintile keep decision —
    the "classifier filtering" stage that follows the heuristic gates in
    every published large-scale pipeline.

    Label: the Gopher all-rules-pass flag (:func:`gopher_rules_sql`) — a
    derivable, deterministic stand-in for DCLM's "looks like instruction
    data" labels; the training target is the documents the heuristic
    pipeline already trusts. Training docs are the ``train_pct``% split
    by portable doc-hash bucket (the :func:`train_split_sql` spelling),
    so the witness demonstrates the honest shape — fit on one split,
    score the full corpus — rather than test-on-train.

    Model: w_b = ln((pos_b + 1)/(pos_tot + V)) − ln((neg_b + 1)/
    (neg_tot + V)) per hashed feature bucket b (add-one smoothing over
    the OBSERVED bucket universe V), bias = ln((n_pos + 1)/(n_neg + 1)).
    A doc's decision statistic is bias + Σ tf·w_b; the ranking score is
    the length-normalized Σ tf·w_b / n_tokens (``avg_log_odds``); the
    quintile + top-40% keep tail lives in
    :func:`quality_classifier_bucket_sql` — the DSIR output shape.

    Faithful to fastText's HASHED feature space (the same 65536 md5
    buckets :func:`dsir_importance_sql` uses): the weight relation is
    bounded — and therefore broadcastable — at ANY corpus scale, where a
    raw web vocabulary would not be. Buckets never seen in training get
    the pure-smoothing weight via a LEFT join from the full bucket
    universe (an INNER join would silently drop their tokens from every
    scored doc).

    Determinism: class counts and totals are exact BIGINTs; per-term
    contributions tf·w_b are rounded to 9dp and summed as DECIMAL (the
    ``entropy_sql`` discipline); bias and the decision statistic round
    to 6dp before the sign compare — the only transcendental is ln on
    exact-integer ratios, the repo's accepted risk class.

    Scale shape: ONE corpus-sized tf shuffle (shared, session-staged —
    BM25/LM/DSIR read the same relation); the label relation is
    scan-speed Gopher codegen (session-staged on Spark — CTE inlining
    would re-run the label pass per reference) joined to the fact
    exactly twice, both doc_id-keyed and co-partitioned: once against
    tf for the train-slice class counts, once against the per-doc score
    rollup (docs-sized, far smaller than tf). Class counts roll up
    map-side to ≤V rows; the weight vector BROADCASTS back onto tf; one
    per-doc rollup. This generator emits the per-doc SCORE relation
    only; the quintile assignment lives in
    :func:`quality_classifier_bucket_sql` (broadcast cut points — the
    former global NTILE sort was VERDICT r9's one scale-killer)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    tf_body = tf_rel or f"{mat}({unigram_tf_sql(d)})"
    tf_cte = f"tf AS {tf_body}," if tf_rel is None else ""
    tfn = tf_rel or "tf"
    lab_cte = (
        f"lab AS {mat}({cls_labels_sql(d, train_pct)})," if lab_rel is None else ""
    )
    labn = lab_rel or "lab"
    w_hint = "/*+ BROADCAST(w) */ " if d == "spark" else ""
    # cls is bounded at V rows (≤64Ki) at ANY corpus scale, but its static
    # size estimate is join-derived and pessimistic — without the hint the
    # b LEFT JOIN cls plans an SMJ over two tiny bounded relations
    c_hint = "/*+ BROADCAST(cls) */ " if d == "spark" else ""
    return f"""
    WITH {tf_cte}
    {lab_cte}
    cls AS (
        SELECT (t.th % {buckets}) AS hb,
               CAST(SUM(CASE WHEN lab.label = 1 THEN t.tf ELSE 0 END) AS BIGINT) AS pos_cnt,
               CAST(SUM(CASE WHEN lab.label = 0 THEN t.tf ELSE 0 END) AS BIGINT) AS neg_cnt
        FROM {tfn} t JOIN {labn} lab ON t.doc_id = lab.doc_id
        WHERE lab.is_train = 1
        GROUP BY (t.th % {buckets})),
    b AS (SELECT (th % {buckets}) AS hb FROM {tfn} GROUP BY (th % {buckets})),
    tot AS (SELECT CAST(COALESCE(SUM(pos_cnt), 0) AS BIGINT) AS pos_tot,
                   CAST(COALESCE(SUM(neg_cnt), 0) AS BIGINT) AS neg_tot
            FROM cls),
    vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_size FROM b),
    prior AS (
        SELECT ROUND(ln((SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) + 1.0)
                        / (SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) + 1.0)),
                     6) AS bias
        FROM {labn} WHERE is_train = 1),
    w AS (
        SELECT {c_hint}b.hb,
               ln((COALESCE(cls.pos_cnt, 0) + 1.0) / (tot.pos_tot + vsz.v_size))
               - ln((COALESCE(cls.neg_cnt, 0) + 1.0) / (tot.neg_tot + vsz.v_size)) AS wt
        FROM b LEFT JOIN cls ON b.hb = cls.hb
        CROSS JOIN tot CROSS JOIN vsz),
    terms AS (
        SELECT {w_hint}t.doc_id, t.lang, t.tf,
               CAST(ROUND(t.tf * w.wt, 9) AS DECIMAL(18,9)) AS lw
        FROM {tfn} t JOIN w ON (t.th % {buckets}) = w.hb),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               SUM(lw) AS lw_sum
        FROM terms GROUP BY doc_id, lang)
    SELECT p.doc_id, p.lang, p.n_tokens, lab.label, lab.is_train,
           ROUND(CAST(p.lw_sum AS DOUBLE) / p.n_tokens, 6) AS avg_log_odds,
           CAST(CASE WHEN ROUND(pr.bias + CAST(p.lw_sum AS DOUBLE), 6) > 0
                THEN 1 ELSE 0 END AS INT) AS predicted
    FROM per_doc p JOIN {labn} lab ON p.doc_id = lab.doc_id
    CROSS JOIN prior pr
    """


def quality_classifier_bucket_sql(
    d: str, scored_rel: str, lead_ctes: str = ""
) -> str:
    """Quintile tail over the classifier's per-doc score relation
    (doc_id, lang, n_tokens, label, is_train, avg_log_odds, predicted):
    four global cut points from a 1-row aggregate, broadcast back,
    quintile + top-40% keep by comparison — the
    :func:`quantile_cut_case` fragment (VERDICT r9 item 1)."""
    cuts, join, case = quantile_cut_case(
        d, rel=scored_rel, score="avg_log_odds", n=5, desc=True
    )
    hint = "/*+ BROADCAST(cuts) */ " if d == "spark" else ""
    return f"""
    WITH {lead_ctes}{cuts}
    SELECT doc_id, lang, n_tokens, label, is_train, avg_log_odds, predicted,
           CAST(q AS BIGINT) AS quintile,
           CAST(CASE WHEN q <= 2 THEN 1 ELSE 0 END AS INT) AS kept
    FROM (
        SELECT {hint}s.doc_id, s.lang, s.n_tokens, s.label, s.is_train,
               s.avg_log_odds, s.predicted, {case} AS q
        FROM {scored_rel} s {join})
    ORDER BY doc_id
    """


def quality_classifier_sql(
    d: str, tf_rel: str | None = None, lab_rel: str | None = None,
    buckets: int = DSIR_BUCKETS, train_pct: int = CLS_TRAIN_PCT,
) -> str:
    """One-statement composition of :func:`quality_classifier_scored_sql`
    + :func:`quality_classifier_bucket_sql` — the oracle path (scored is
    a MATERIALIZED CTE) and the plain-SQL convenience form; the Spark
    registry builder checkpoints the scored relation instead (Spark
    inlines a twice-referenced CTE, which would re-run the whole
    train + score chain for the cuts aggregate)."""
    mat = "MATERIALIZED " if d == "duck" else ""
    scored = quality_classifier_scored_sql(d, tf_rel, lab_rel, buckets, train_pct)
    lead = f"scored AS {mat}({scored}),\n    "
    return quality_classifier_bucket_sql(d, "scored", lead_ctes=lead)


def quality_ensemble_sql(
    d: str, tf_rel: str | None = None, lab_rel: str | None = None
) -> str:
    """Quality-signal ensembling (public method: Nemotron-CC buckets
    documents by the AGREEMENT of multiple quality classifiers rather
    than any single score — high-agreement docs feed long-horizon
    training, disagreement triggers rephrasing/repair). Three signals
    this engine already certifies individually: the Gopher heuristic
    verdict, the trained NB classifier's top-40% keep, and the CCNet
    perplexity bucket (head/middle pass, tail fail). Emits the per-doc
    0/1 signals, the agreement count, the tier ('high' = all 3,
    'medium' = 2, 'low' otherwise) and a majority keep flag.

    Scale shape: pure composition — both sub-pipelines read the SAME
    session-staged tf relation (and the classifier its staged labels),
    so the ensemble adds exactly ONE doc_id-keyed join over the two
    doc-sized score relations (co-partitioned at 100 TB) on top of the
    stages' own audited plans. Determinism inherits the sub-operators'
    disciplines; the tier is integer arithmetic on their 0/1 outputs.

    Gopher verdict rides the classifier output (its ``label`` column IS
    the Gopher kept flag) — no third scan of the corpus. When no staged
    ``tf_rel`` is supplied (the oracle path), ONE shared materialized tf
    CTE is hoisted here and passed to both sub-generators — letting each
    inline its own would tokenize the corpus twice per oracle run
    (code-review r09). Both sub-pipelines' scored relations are hoisted
    as MATERIALIZED CTEs so their quintile/tercile cut aggregates
    (:func:`quantile_cut_case`, VERDICT r9 item 1) read them without
    recompute; the Spark registry builder checkpoints them instead."""
    if tf_rel is None:
        mat0 = "MATERIALIZED " if d == "duck" else ""
        tf_body = f"tf AS {mat0}({unigram_tf_sql(d)}),"
        tf_rel = "tf"
    else:
        tf_body = ""
    mat = "MATERIALIZED " if d == "duck" else ""
    cls_scored = quality_classifier_scored_sql(d, tf_rel=tf_rel, lab_rel=lab_rel)
    ppl_scored = lm_scored_sql(d, tf_rel=tf_rel)
    lead = f"""{tf_body}
    cls_scored AS {mat}({cls_scored}),
    ppl_scored AS {mat}({ppl_scored}),
    """
    return quality_ensemble_bucket_sql(
        d, "cls_scored", "ppl_scored", lead_ctes=lead
    )


def quality_ensemble_bucket_sql(
    d: str, cls_scored_rel: str, ppl_scored_rel: str, lead_ctes: str = ""
) -> str:
    """The ensemble's composition tail over the two per-doc score
    relations: applies the classifier quintile and perplexity tercile
    tails (each a nested-WITH CTE, so their ``cuts`` names stay
    scoped), then joins the two doc-sized signal relations once on
    doc_id — the ONE extra join the ensemble adds."""
    cls = quality_classifier_bucket_sql(d, cls_scored_rel)
    ppl = lm_bucket_sql(d, ppl_scored_rel)
    return f"""
    WITH {lead_ctes}
    cls AS ({cls}),
    ppl AS ({ppl}),
    sig AS (
        SELECT c.doc_id, c.lang,
               CAST(c.label AS INT) AS gopher_ok,
               CAST(c.kept AS INT) AS classifier_ok,
               CAST(CASE WHEN p.ppl_bucket <> 'tail' THEN 1 ELSE 0 END AS INT) AS ppl_ok
        FROM cls c JOIN ppl p ON c.doc_id = p.doc_id)
    SELECT doc_id, lang, gopher_ok, classifier_ok, ppl_ok,
           CAST(gopher_ok + classifier_ok + ppl_ok AS INT) AS n_signals,
           CASE WHEN gopher_ok + classifier_ok + ppl_ok = 3 THEN 'high'
                WHEN gopher_ok + classifier_ok + ppl_ok = 2 THEN 'medium'
                ELSE 'low' END AS tier,
           CAST(CASE WHEN gopher_ok + classifier_ok + ppl_ok >= 2
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM sig ORDER BY doc_id
    """


BPE_TRAIN_ROUNDS = 3  # merge rounds in the trainer witness


def _bpe_sym0_sql(d: str, tfn: str) -> str:
    """Round-0 symbol stream: (word, freq, pos, sym) — character symbols
    per distinct word plus the end-of-word marker ``_``, weighted by the
    corpus word frequency rolled up from the tf relation. The ONLY
    dialect-split fragment (per-row sequence explode); the series itself
    comes from the shared ``sqlgen.seq`` spelling (code-review r09 —
    a future fix to the helper must reach this stream too)."""
    series = G.seq("1", "length(tok) + 1", d)
    if d == "spark":
        pos_src = (
            f"SELECT tok AS word, freq, CAST(pos AS BIGINT) AS pos FROM words "
            f"LATERAL VIEW explode({series}) AS pos"
        )
    else:
        pos_src = (
            f"SELECT tok AS word, freq, CAST(UNNEST({series}) AS BIGINT) AS pos "
            f"FROM words"
        )
    return f"""
    WITH words AS (
        SELECT tok, CAST(SUM(tf) AS BIGINT) AS freq FROM {tfn} GROUP BY tok)
    SELECT word, freq, pos,
           CASE WHEN pos <= length(word)
                THEN substr(word, CAST(pos AS INT), 1) ELSE '_' END AS sym
    FROM ({pos_src})
    """


def _bpe_top_sql(rel: str) -> str:
    """Most frequent adjacent symbol pair over ``rel`` — dialect-free
    (count DESC, then lexicographic (a, b) tie-break)."""
    return f"""
    SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT sym AS a, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS b, freq
        FROM {rel})
    WHERE b IS NOT NULL GROUP BY a, b
    ORDER BY cnt DESC, a, b LIMIT 1
    """


def _spark_str_lit(x: str) -> str:
    """Escape a DATA-derived string for a Spark SQL literal: backslashes
    BEFORE quotes — Spark's default string literals are
    backslash-escaping (unlike DuckDB's), so a corpus token like c:\\temp
    would otherwise parse-error or silently map '\\t' to a tab and
    mismatch a symbol compare (code-review r09; the PII "backslash-free"
    convention applied to data literals)."""
    return x.replace("\\", "\\\\").replace("'", "\\'")


def _pair_lit_rel(a: str, b: str) -> str:
    """A learned merge pair as a 1-row Spark relation literal."""
    return f"(SELECT '{_spark_str_lit(a)}' AS a, '{_spark_str_lit(b)}' AS b)"


def _bpe_merge_sql(rel: str, top_rel: str) -> str:
    """One greedy left-to-right merge of ``top_rel``'s (a, b) pair over
    the symbol stream ``rel`` — dialect-free. The non-overlap rule
    ('aaa' + (a,a) merges positions 1-2, never 2-3) is gaps-and-islands:
    consecutive matching positions share a pos − ROW_NUMBER island key,
    and a match merges iff its offset from the island head is even; the
    consumed right-symbol rows drop via one LAG pass and positions
    re-rank for the next round.

    ``top_rel`` joins via LEFT JOIN ON true, not CROSS JOIN: when the
    pair supply dries up before the round budget (a degenerate corpus
    whose every word is fully merged), an empty top relation must make
    the round a NO-OP on the stream — a cross join would annihilate it,
    and the apply path (:func:`bpe_apply_sql`) would emit an empty
    corpus where the trainer's merge list simply ended early."""
    return f"""
    SELECT word, freq,
           CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
           CASE WHEN merged THEN a || b ELSE sym END AS sym
    FROM (
        SELECT *, LAG(merged) OVER (PARTITION BY word ORDER BY pos) AS consumed
        FROM (
            SELECT *, mt AND ((pos - MIN(pos) OVER (PARTITION BY word, mt, grp)) % 2 = 0) AS merged
            FROM (
                SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY pos) AS grp
                FROM (
                    SELECT s.word, s.freq, s.pos, s.sym, t.a, t.b,
                           (s.sym = t.a
                            AND LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = t.b) AS mt
                    FROM {rel} s LEFT JOIN {top_rel} t ON true))))
    WHERE NOT COALESCE(consumed, false)
    """


def bpe_train_sql(
    d: str, rounds: int = BPE_TRAIN_ROUNDS, tf_rel: str | None = None
) -> str:
    """Iterative BPE merge training (Sennrich et al. 2016, public
    method) as ONE statement: start from character symbols per word
    (end-of-word marker ``_``), then repeatedly (a) count adjacent
    symbol pairs weighted by word frequency, (b) merge the most
    frequent pair corpus-wide with the reference algorithm's greedy
    left-to-right non-overlap rule. Emits the learned merge table —
    (round, left_sym, right_sym, merged_sym, pair_count) — the artifact
    a tokenizer trainer ships; ``corpus_bpe_pairs`` is this operator's
    round-1 statistic.

    This single-statement form is the ORACLE (DuckDB materializes each
    round's symbol CTE, so the chain is linear). Catalyst instead
    INLINES CTEs: each round references its predecessor twice (pair
    count + merge), so the unrolled statement duplicates the prior
    round's whole chain per reference — 82 Window nodes for 3 rounds,
    measured — which is why the Spark side runs :func:`bpe_train`'s
    checkpointed round loop instead (the ``minhash_clusters``
    discipline). Both sides are composed from the SAME three fragment
    generators (``_bpe_sym0_sql`` / ``_bpe_top_sql`` /
    ``_bpe_merge_sql``), so the algorithms cannot drift.

    Scale shape: the only corpus-sized work is the word-frequency
    rollup (on Spark read from the shared session-staged tf relation —
    zero extra corpus scans; exactly how production BPE trainers
    operate on a word-count table). Every merge round runs on the
    VOCAB-sized symbol relation — |vocab| × avg word length rows,
    bounded regardless of corpus size — with word-keyed windows; the
    per-round top pair is a 1-row relation cross-joined back (the
    whitelisted single-row broadcast shape).

    Determinism: pure integer/string arithmetic; top-pair ties break on
    (left, right) lexicographic order."""
    mat = "MATERIALIZED " if d == "duck" else ""
    if tf_rel is None:
        tf_body = f"tf AS {mat}({unigram_tf_sql(d)}),"
        tfn = "tf"
    else:
        tf_body = ""
        tfn = tf_rel
    ctes = [f"s0 AS {mat}({_bpe_sym0_sql(d, tfn)})"]
    outs = []
    for r in range(1, rounds + 1):
        ctes += [
            f"t{r} AS {mat}({_bpe_top_sql(f's{r - 1}')})",
            f"s{r} AS {mat}({_bpe_merge_sql(f's{r - 1}', f't{r}')})",
        ]
        outs.append(
            f"SELECT CAST({r} AS BIGINT) AS round, a AS left_sym, b AS right_sym, "
            f"a || b AS merged_sym, cnt AS pair_count FROM t{r}"
        )
    union = "\nUNION ALL\n".join(outs)
    return f"""
    WITH {tf_body}
    {", ".join(ctes)}
    SELECT round, left_sym, right_sym, merged_sym, pair_count
    FROM ({union}) ORDER BY round
    """


_BPE_CKPT_EVERY = 4  # literal-merge chain depth before a re-checkpoint


def bpe_train(spark, rounds: int = BPE_TRAIN_ROUNDS, tf_rel: str | None = None):
    """Iterative BPE trainer over the staged tf relation (``tf_rel``, by
    default this session's ``unigrams``), returning the merge-table
    DataFrame: the same fragments as the oracle statement, executed as a
    checkpointed round loop so each round's symbol stream is
    materialized ONCE (Catalyst's CTE inlining makes the one-statement
    form exponential in rounds — see :func:`bpe_train_sql`). The round-0
    stream snapshots the tf relation into a checkpoint; checkpoints are
    immutable, so later rounds read one corpus by construction.

    r17 (guide §1.2 — fewer driver barriers): the trained ARTIFACT is
    the ≤rounds-row merge table; the final symbol stream is never
    consumed. And with the top pair supplied as collected LITERALS, a
    merge references its predecessor stream exactly ONCE, so the round
    chain is LINEAR — the exponential CTE blow-up only exists in the
    oracle's literal-free form, where ``t{r}`` and ``s{r}`` EACH
    reference ``s{r-1}``. So the per-round intermediate checkpoints
    are gone: only the round-0 stream is checkpointed (it is the one
    relation every round re-reads), and each round is ONE bounded
    collect of the top pair over the literal-merge lineage built so
    far, with AQE disabled for the loop (see the inline comment).
    Measured at sf0.1: 19 → 8 jobs/run at wall parity (~1.9 s warm),
    merge table bit-identical. The re-executed merge windows all
    partition by ``word``, so the re-run chain adds zero exchanges —
    only mapper work bounded by rounds × vocab-stream size;
    ``_BPE_CKPT_EVERY`` bounds the lineage depth for a caller passing
    a large round budget. (Two fused single-action designs were
    measured and REJECTED: an observe() metric on the top subtree
    never resolves through a temp view — the listener matches only the
    registered Dataset's own actions (r16 prototype) — and embedding
    the 1-row top subquery in the checkpoint plan plus an accumulated
    log-row union, the oracle statement's own shape, re-executes top
    per reference: 17 jobs but 1.98 → 2.37 s warm, slower than the
    barriers it removed.)"""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    tfn = stage(spark, "unigrams") if tf_rel is None else tf_rel
    merges = []
    # AQE off for the round loop only: every relation here is
    # vocab-bounded (the corpus-sized tf rollup is staged upstream), so
    # runtime re-optimization has nothing to decide, and its per-shuffle
    # stage jobs are pure scheduling overhead on an iterative loop —
    # measured at sf0.1: 16 → 8 jobs/run and 2.45 → 1.88 s warm with
    # AQE off, plans static and sizes known-bounded at any corpus scale.
    # The loop runs on a clone taken after ``tfn`` is staged, so the
    # clone sees ``tfn`` and the caller's session keeps AQE on.
    loop = scoped(spark, {"spark.sql.adaptive.enabled": "false"})
    with scratch(loop) as sc:
        # the current stream: the s0 view + an inline merge chain
        cur = sc.view("__bpe_s", sc.checkpoint(loop.sql(_bpe_sym0_sql("spark", tfn)), "s"))
        depth = 0  # literal merges since the last checkpoint
        for r in range(1, rounds + 1):
            top = loop.sql(_bpe_top_sql(cur)).collect()
            if not top:  # degenerate corpus: no adjacent pairs left
                break
            a, b, cnt = top[0].a, top[0].b, top[0].cnt
            merges.append((r, a, b, a + b, cnt))
            if r == rounds:
                break
            cur = f"({_bpe_merge_sql(cur, _pair_lit_rel(a, b))})"
            depth += 1
            if depth >= _BPE_CKPT_EVERY:
                # bound lineage depth for large round budgets:
                # re-checkpoint and restart the inline chain (the
                # default 3-round trainer never reaches this — its
                # deepest chain is 2 merges)
                ck = sc.checkpoint(loop.sql(f"SELECT * FROM {cur}"), "s")
                cur = sc.view("__bpe_s", ck)
                depth = 0
    schema = StructType(
        [
            StructField("round", LongType(), False),
            StructField("left_sym", StringType(), False),
            StructField("right_sym", StringType(), False),
            StructField("merged_sym", StringType(), False),
            StructField("pair_count", LongType(), False),
        ]
    )
    return spark.createDataFrame(merges, schema).orderBy("round")


@declare("bpe_merges", deps=("unigrams",))
def _bpe_merges(ctx) -> tuple[tuple[str, str], ...]:
    """The learned merge pairs: ``corpus_bpe_apply`` re-reads them per
    invocation, and re-running the 3-round trainer each time would
    triple the staging actions for an artifact of ≤3 tuples."""
    rows = bpe_train(ctx.spark, tf_rel=ctx.dep("unigrams")).collect()
    return tuple((r.left_sym, r.right_sym) for r in rows)


def bind_tf_and_merges(spark, then):
    """Resolve ``then(tf_view, merges)`` over the staged tf relation and
    the merges learned from it — one corpus by construction."""
    tfn, merges = stage(spark, "unigrams", "bpe_merges")
    return then(tfn, list(merges))


def bpe_apply_sql(
    d: str,
    tf_rel: str | None = None,
    merges: list[tuple[str, str]] | None = None,
    rounds: int = BPE_TRAIN_ROUNDS,
) -> str:
    """Apply the learned BPE merges to the corpus — the inference half
    of the tokenizer story (train → segment): per document, the word
    count, the symbol count BEFORE any merge (chars + end-of-word
    marker), the symbol count AFTER the learned merges, and the
    compression ratio — the token-count estimate a data pipeline uses
    to budget sequences under the trained tokenizer.

    Spark path (``merges`` given): the learned pairs embed as escaped
    1-row literals (:func:`_pair_lit_rel`) and the merge chain is
    LINEAR — each round references only its predecessor, so Catalyst's
    CTE inlining nests rather than duplicates (unlike the trainer,
    whose pair-count + merge double reference forced the checkpointed
    loop). Oracle path (``merges`` None): the merges re-derive
    in-statement via the trainer's own fragment CTEs (DuckDB
    materializes them), so both sides segment with pairs learned by the
    identical algorithm.

    Scale shape: ALL merge work happens on the VOCAB-sized symbol
    stream — a word is segmented once no matter how many documents
    carry it; the per-word post-merge symbol counts (vocab-sized,
    bounded) BROADCAST onto the shared staged tf relation, and one
    map-combined doc rollup emits the stats. Empty merge supply (a
    degenerate corpus that fully merges early) is a no-op round by the
    LEFT JOIN ON true contract in ``_bpe_merge_sql``."""
    # supported combinations only (code-review r09, third pass):
    # explicit merges embed SPARK-escaped literals (_spark_str_lit's
    # backslash doubling corrupts DuckDB's non-escaping literals), and
    # the merges=None in-statement chain double-references each round —
    # exponential under Catalyst's CTE inlining (the trainer's measured
    # 82-window blow-up), linear only under DuckDB's materialization
    if (merges is not None) != (d == "spark"):
        raise ValueError(
            "bpe_apply_sql: pass merges= on the spark dialect only "
            "(duck derives them in-statement)"
        )
    mat = "MATERIALIZED " if d == "duck" else ""
    if tf_rel is None:
        tf_body = f"tf AS {mat}({unigram_tf_sql(d)}),"
        tfn = "tf"
    else:
        tf_body = ""
        tfn = tf_rel
    ctes = [f"s0 AS {mat}({_bpe_sym0_sql(d, tfn)})"]
    if merges is None:
        n = rounds
        for r in range(1, n + 1):
            ctes += [
                f"t{r} AS {mat}({_bpe_top_sql(f's{r - 1}')})",
                f"s{r} AS {mat}({_bpe_merge_sql(f's{r - 1}', f't{r}')})",
            ]
    else:
        n = len(merges)
        for r, (a, b) in enumerate(merges, start=1):
            ctes.append(f"s{r} AS ({_bpe_merge_sql(f's{r - 1}', _pair_lit_rel(a, b))})")
    hint = "/*+ BROADCAST(pw) */ " if d == "spark" else ""
    return f"""
    WITH {tf_body}
    {", ".join(ctes)},
    pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms FROM s{n} GROUP BY word)
    SELECT {hint}t.doc_id, t.lang,
           CAST(SUM(t.tf) AS BIGINT) AS n_words,
           CAST(SUM(t.tf * (length(t.tok) + 1)) AS BIGINT) AS syms_before,
           CAST(SUM(t.tf * pw.n_syms) AS BIGINT) AS syms_after,
           ROUND(CAST(SUM(t.tf * pw.n_syms) AS DOUBLE)
                 / SUM(t.tf * (length(t.tok) + 1)), 6) AS compression
    FROM {tfn} t JOIN pw ON t.tok = pw.word
    GROUP BY t.doc_id, t.lang
    ORDER BY t.doc_id
    """


UPSAMPLE_SEED = "up1"  # bump to re-deal the fractional-copy lottery


def upsample_epochs_sql(
    d: str, budget: int = MIXTURE_BUDGET, seed: str = UPSAMPLE_SEED,
    rel: str = "documents", n_toks: str | None = None,
    carry: tuple[str, ...] = (),
) -> str:
    """Materialize the temperature-mixture plan's repeat factors into
    concrete per-document training copies — the step that turns
    :func:`temperature_mixture_sql`'s per-language ``repeat_factor``
    into an actual epoch list (XLM-R/mT5 practice: low-resource
    languages are SAMPLED more than once per epoch; a factor of 2.3
    means every doc appears twice and 30% of docs a third time).

    Exact-integer discipline: per language, whole copies
    q = target DIV avail and the fractional remainder r = target MOD
    avail select docs by portable-hash lottery — a doc gets the extra
    copy iff bucket(doc) · avail < r · 1e6 (bucket ∈ [0, 1e6)), an
    exact 128-bit cross-multiplication (DECIMAL(38,0)/HUGEINT — avail
    is corpus-token-scaled, so BIGINT products could overflow at
    ~1e12 tokens), never a float compare. Deterministic across
    engines/runs/partitionings; expected copied tokens per language =
    the tempered target.

    Scale shape: the mixture plan is a |languages|-row rollup that
    BROADCASTS onto one documents scan; the copy fan-out is a per-row
    sequence explode at scan speed — zero data-sized shuffles (the
    ORDER BY is presentation). Downsampled-out docs (q = 0, lottery
    miss) vanish via the empty sequence.

    ``rel``/``n_toks``/``carry`` parameterize the corpus relation, its
    token expression, and extra columns to carry through the fan-out
    (the pretraining pipeline threads ``n_tokens`` so packing needs no
    join back); registry defaults are byte-identical to round 9.

    The mixture join is null-safe on ``lang`` (r12 sweep of the pack
    fuzzer's finding class): the mixture plan's GROUP BY keeps a
    NULL-lang row, but a plain equi-join silently gave NULL-lang docs
    ZERO training copies on both engines in lockstep — invisible to
    the hash gate, the ADVICE r10 #3 class."""
    mix = temperature_mixture_sql(d, budget=budget, rel=rel, n_toks=n_toks)
    str_t = "STRING" if d == "spark" else "VARCHAR"
    big = "DECIMAL(38,0)" if d == "spark" else "HUGEINT"
    key_expr = f"CAST(doc_id AS {str_t}) || '#{seed}'"
    bucket = f"{G.hash56(key_expr, d)} % 1000000"
    idiv = G.intdiv("m.target_tokens", "m.available_tokens", d)
    series = G.seq("1", "n_copies", d)
    cc = "".join(f", {c}" for c in carry)
    cd = "".join(f", d.{c}" for c in carry)
    if d == "spark":
        fan = (
            f"SELECT doc_id, lang, n_copies{cc}, epoch_idx FROM counted "
            f"LATERAL VIEW explode({series}) AS epoch_idx"
        )
    else:
        fan = (
            f"SELECT doc_id, lang, n_copies{cc}, "
            f"CAST(UNNEST({series}) AS BIGINT) AS epoch_idx FROM counted"
        )
    hint = "/*+ BROADCAST(m) */ " if d == "spark" else ""
    return f"""
    WITH mix AS ({mix}),
    counted AS (
        SELECT {hint}d.doc_id, d.lang,
               CAST(({idiv})
                    + CASE WHEN CAST({bucket} AS {big}) * m.available_tokens
                                < CAST(m.target_tokens % m.available_tokens AS {big}) * 1000000
                           THEN 1 ELSE 0 END AS BIGINT) AS n_copies{cd}
        FROM {rel} d JOIN mix m ON {G.null_eq("d.lang", "m.lang", d)})
    SELECT doc_id, lang, n_copies{cc}, CAST(epoch_idx AS BIGINT) AS epoch_idx
    FROM ({fan})
    ORDER BY doc_id, epoch_idx
    """


# ---------------------------------------------------------------------------
# The end-to-end pretraining recipe (round 10, VERDICT r9 item 4)
#
# The FineWeb/Nemotron-CC shape a real curation user runs as ONE job:
# URL-quality filter → canonical-URL dedup → quality-signal ensemble
# keep → benchmark decontamination (eval slice held out, overlapping
# docs dropped) → temperature mixture plan over the SURVIVORS →
# upsample materialization → sequence packing. Every stage is an
# independently-certified operator; this witness proves they COMPOSE
# without recomputation: one tf build, one Gopher/label pass, one
# shingle pass, one documents scan into the survivor set, then a
# language-bounded plan drives copy fan-out and the two-level-prefix
# pack — no repeated corpus scans (the survivor relation is
# checkpointed on Spark / MATERIALIZED on the oracle).
# ---------------------------------------------------------------------------


def pretrain_keep_sql(
    d: str,
    tf_rel: str | None = None,
    lab_rel: str | None = None,
    sh_rel: str | None = None,
    cls_rel: str | None = None,
    ppl_rel: str | None = None,
) -> str:
    """The pipeline's SURVIVOR relation (doc_id, lang, n_tokens): a doc
    trains iff it passes all five URL-shape rules, is its canonical
    URL's earliest crawl, wins the Nemotron-style quality-signal
    majority (Gopher ∧/∨ classifier ∧/∨ perplexity, ≥2 of 3), is not
    part of the held-out eval slice (doc_id % 50 == 0 — the
    ``decontaminate_sql`` benchmark stand-in, excluded from training
    outright) and shares < 5 word-3-grams with that slice. n_tokens is
    computed here once (scan-speed split) so no downstream stage
    touches text again.

    Plan shape: uf/uk are scan-speed codegen + one keeper window; ens
    reads the two scored relations (checkpointed on Spark, MATERIALIZED
    here); cont reads the staged shingle relation; the four verdicts
    join the documents scan doc_id-keyed (co-partitioned at 100 TB) —
    each CTE is referenced exactly ONCE, so Catalyst's CTE inlining
    duplicates nothing."""
    mat = "MATERIALIZED " if d == "duck" else ""
    lead = ""
    if cls_rel is None or ppl_rel is None:
        if tf_rel is None:
            lead += f"tf AS {mat}({unigram_tf_sql(d)}),\n    "
            tf_rel = "tf"
        if cls_rel is None:
            scored = quality_classifier_scored_sql(d, tf_rel=tf_rel, lab_rel=lab_rel)
            lead += f"cls_scored AS {mat}({scored}),\n    "
            cls_rel = "cls_scored"
        if ppl_rel is None:
            lead += f"ppl_scored AS {mat}({lm_scored_sql(d, tf_rel=tf_rel)}),\n    "
            ppl_rel = "ppl_scored"
    n_toks = G.arr_size(G.split_ws("text", d), d)
    return f"""
    WITH {lead}uf AS ({url_filter_sql(d)}),
    uk AS ({dedup.url_canonical_dedup_sql(d)}),
    ens AS ({quality_ensemble_bucket_sql(d, cls_rel, ppl_rel)}),
    cont AS {mat}({decontaminate_sql(d, sh_rel=sh_rel)})
    SELECT d.doc_id, d.lang, CAST({n_toks} AS BIGINT) AS n_tokens
    FROM documents d
    JOIN uf ON d.doc_id = uf.doc_id
    JOIN uk ON d.doc_id = uk.doc_id
    JOIN ens ON d.doc_id = ens.doc_id
    LEFT JOIN cont ON d.doc_id = cont.doc_id
    WHERE uf.kept = 1 AND uk.kept AND ens.kept = 1
      AND cont.doc_id IS NULL AND d.doc_id % 50 <> 0
    """


def pretrain_tail_sql(
    d: str,
    rel: str,
    budget: int = MIXTURE_BUDGET,
    seq_len: int = SEQ_LEN,
    shards: int = PACK_SHARDS,
    lead_ctes: str = "",
) -> str:
    """Mixture → upsample → pack over the survivor relation ``rel``:
    the temperature plan rolls survivors up to |languages| rows and
    BROADCASTS back for the exact-lottery copy fan-out (n_tokens rides
    the fan so packing needs no join back to the corpus); each training
    COPY packs independently under a doc_id#epoch_idx hash key through
    the two-level prefix sum. Nothing here re-reads text."""
    str_t = "STRING" if d == "spark" else "VARCHAR"
    ups = upsample_epochs_sql(
        d, budget=budget, rel=rel, n_toks="n_tokens", carry=("n_tokens",)
    )
    key = f"CAST(doc_id AS {str_t}) || '#' || CAST(epoch_idx AS {str_t})"
    return pack_sequences_sql(
        d,
        seq_len=seq_len,
        shards=shards,
        rel="ups",
        n_toks="n_tokens",
        key=key,
        order_tail="doc_id, epoch_idx",
        lead_ctes=f"{lead_ctes}ups AS ({ups}),\n    ",
    )


def pretrain_corpus_sql(d: str) -> str:
    """One-statement composition of :func:`pretrain_keep_sql` +
    :func:`pretrain_tail_sql` — the oracle path (survivors are a
    MATERIALIZED CTE, every staged relation inlined MATERIALIZED) and
    the plain-SQL convenience form. The Spark registry builder instead
    binds the session-staged tf/label/shingle relations, checkpoints
    the two scored relations and the survivor set, and runs the tail
    over the checkpoints — same fragments, computed once."""
    mat = "MATERIALIZED " if d == "duck" else ""
    keep = pretrain_keep_sql(d)
    return pretrain_tail_sql(d, "keep", lead_ctes=f"keep AS {mat}({keep}),\n    ")


