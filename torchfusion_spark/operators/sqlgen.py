"""Dialect-parameterized SQL fragments.

The extension operators (dedup, similarity, text stats) must produce
bit-identical results on Spark and on the DuckDB oracle. The only way to
guarantee that for hash-based pipelines is to share one SQL generator and
swap dialect spellings: same hash (md5-hex → int56), same arithmetic,
same thresholds.

Spark's builtin ``hash``/``xxhash64`` do NOT exist in DuckDB, hence the
portable hash: first 14 hex chars of md5 → 56-bit int (fits BIGINT with
headroom for the (a*x+b) mod p minhash arithmetic below).
"""

from __future__ import annotations

import numpy as np

# minhash universe: p prime > 2^32; x reduced mod p (< 2^33) times a < 2^20
# keeps a*x+b < 2^53 — no bigint overflow on either engine (Spark ANSI
# mode would error on overflow; DuckDB wraps — staying small avoids both).
MINHASH_P = 4294967311
_K = 16  # permutations
_BANDS = 8  # bands of R = K/BANDS = 2 rows each

_rng = np.random.default_rng(42)
MINHASH_A = [int(a) for a in _rng.integers(1, 1 << 20, size=_K)]
MINHASH_B = [int(b) for b in _rng.integers(0, MINHASH_P, size=_K)]

# hyperplanes for sign-LSH over 64-dim embeddings (8 planes → 256 buckets)
N_PLANES = 8
EMB_DIM = 64
PLANES = np.round(np.random.default_rng(7).standard_normal((N_PLANES, EMB_DIM)), 6).tolist()

# multi-band sign-LSH (r16): LSH_BANDS bands × LSH_BAND_BITS sign bits =
# 64 hyperplanes drawn from the SAME seed-7 stream. numpy fills C-order
# from one generator stream, so PLANES — the 8-plane prefix the
# collapse operator's coarse band-0 bucket keeps using — is exactly
# PLANES_MB[:N_PLANES] (asserted below as executable documentation).
# 16 bits/band keeps the expected *background* bucket at N/65536 rows, so
# the hot-bucket cap engages only on genuine near-dup clusters until
# N ≈ cap·2^16 ≈ 268M vectors; past that, add bits (the documented
# r ≈ log2(N/cap) scale knob), never widen the cap.
LSH_BANDS = 4
LSH_BAND_BITS = 16
PLANES_MB = np.round(
    np.random.default_rng(7).standard_normal((LSH_BANDS * LSH_BAND_BITS, EMB_DIM)), 6
).tolist()
assert PLANES == PLANES_MB[:N_PLANES]


def hash56(expr: str, d: str) -> str:
    """Portable 56-bit string hash: md5 hex prefix as integer."""
    if d == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 14), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 14)) AS BIGINT)"


def split_ws(expr: str, d: str) -> str:
    return f"split({expr}, ' ')" if d == "spark" else f"string_split({expr}, ' ')"


def lower_ascii(expr: str) -> str:
    """ASCII-only case fold — ONE spelling for both dialects. Never use
    ``lower()`` on text that feeds grouping, hashing or counting: the
    engines' unicode case maps diverge (Spark lower('İ') = 'i'+U+0307,
    two codepoints; DuckDB = 'i', one — r11 fuzzer finding), which
    silently splits token/shingle group identity cross-engine across
    the whole dedup/tf family. ``translate`` folds A-Z only and passes
    every other codepoint through untouched, byte-identical on both
    engines; the fixture corpus is all-lowercase, so swapping this in
    changed no committed result."""
    return (
        f"translate({expr}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        f" 'abcdefghijklmnopqrstuvwxyz')"
    )


def arr_join(arr: str, sep: str, d: str) -> str:
    """Join array elements with a separator. Spark's ``concat_ws`` never
    returns NULL — an empty (or NULL) array joins to '' — while DuckDB's
    ``array_to_string`` returns NULL for both, so the DuckDB side
    COALESCEs to '' to pin one semantics. Caught by the URL fuzzer: a
    URL with no query params joined an empty param list to NULL on the
    oracle side only, nulling its canonical form (the fixture universe
    always carries params, so the hash gate never saw it)."""
    if d == "spark":
        return f"concat_ws('{sep}', {arr})"
    return f"COALESCE(array_to_string({arr}, '{sep}'), '')"


def arr_slice(arr: str, start: str, length: int, d: str) -> str:
    if d == "spark":
        return f"slice({arr}, {start}, {length})"
    return f"list_slice({arr}, {start}, {start} + {length - 1})"


def seq(lo: str, hi: str, d: str) -> str:
    """[lo..hi] inclusive; empty when hi < lo (guarded — Spark's sequence
    would count *down*)."""
    if d == "spark":
        return f"CASE WHEN {hi} >= {lo} THEN sequence(CAST({lo} AS INT), CAST({hi} AS INT)) ELSE array() END"
    return f"range(CAST({lo} AS BIGINT), CAST({hi} AS BIGINT) + 1)"


def transform(arr: str, lam: str, d: str) -> str:
    fn = "transform" if d == "spark" else "list_transform"
    return f"{fn}({arr}, {lam})"


def afilter(arr: str, lam: str, d: str) -> str:
    fn = "filter" if d == "spark" else "list_filter"
    return f"{fn}({arr}, {lam})"


def arr_distinct(arr: str, d: str) -> str:
    fn = "array_distinct" if d == "spark" else "list_distinct"
    return f"{fn}({arr})"


def split_nonempty(expr: str, sep: str, d: str) -> str:
    """Split ``expr`` on a literal separator and drop empty fragments —
    the shared fragment for URL query-param and path-segment counting
    (one spelling for both URL operators, code-review r08)."""
    parts = f"split({expr}, '{sep}')" if d == "spark" else f"string_split({expr}, '{sep}')"
    return afilter(parts, "x -> x != ''", d)


def arr_sort(arr: str, d: str) -> str:
    """Ascending sort of an array's elements."""
    return f"array_sort({arr})" if d == "spark" else f"list_sort({arr})"


def arr_size(arr: str, d: str) -> str:
    return f"size({arr})" if d == "spark" else f"len({arr})"


def arr_intersect_size(a: str, b: str, d: str) -> str:
    if d == "spark":
        return f"size(array_intersect({a}, {b}))"
    return f"len(list_intersect({a}, {b}))"


def null_eq(a: str, b: str, d: str) -> str:
    """Null-safe equality — ONE spelling for both dialects (Spark
    ``<=>``, DuckDB ``IS NOT DISTINCT FROM``). Required on any join
    between a per-group plan/stats relation and the stream it grades
    when the group key is nullable (lang, source): plain ``=`` drops
    the NULL group on BOTH engines in lockstep, invisible to the hash
    gate (the r10 quantile-cuts / r12 pack-upsample-ngram class).
    Scale note: Spark plans ``<=>`` as a hash-joinable key, but its
    static size estimate goes unknown — for joins where that demotes a
    broadcast, prefer a precomputed non-null key pair (the ngram
    blocking join uses ``(key IS NULL, coalesce(key, ''))``)."""
    op = "<=>" if d == "spark" else "IS NOT DISTINCT FROM"
    return f"{a} {op} {b}"


def xor(a: str, b: str, d: str) -> str:
    return f"({a} ^ {b})" if d == "spark" else f"xor({a}, {b})"


def shr(x: str, n: str, d: str) -> str:
    return f"shiftright({x}, {n})" if d == "spark" else f"({x} >> ({n}))"


def shl(x: str, n: str, d: str) -> str:
    return f"shiftleft({x}, {n})" if d == "spark" else f"(({x}) << ({n}))"


def array_lit(vals: list, d: str) -> str:
    body = ", ".join(str(v) for v in vals)
    return f"array({body})" if d == "spark" else f"[{body}]"


def elem(arr: str, i: int, d: str) -> str:
    """1-based element access."""
    return f"element_at({arr}, {i})" if d == "spark" else f"{arr}[{i}]"


def elem_at(arr: str, idx: str, d: str) -> str:
    """1-based element access by a dynamic index expression."""
    return f"element_at({arr}, CAST({idx} AS INT))" if d == "spark" else f"{arr}[{idx}]"


def regex_count(expr: str, pattern: str, d: str) -> str:
    if d == "spark":
        return f"size(regexp_extract_all({expr}, '{pattern}', 0))"
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


def regex_replace_all(expr: str, pattern: str, repl: str, d: str) -> str:
    """Replace ALL matches. Spark's regexp_replace is global by default;
    DuckDB needs the explicit 'g' flag (first-match-only otherwise).
    Patterns must avoid backslashes — Spark string literals eat them while
    DuckDB's don't; use [.] / [0-9]-style classes instead."""
    if d == "spark":
        return f"regexp_replace({expr}, '{pattern}', '{repl}')"
    return f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"


def intdiv(a: str, b: str, d: str) -> str:
    """Integer (floor-toward-zero) division on BIGINTs. Spark's `/` is
    DOUBLE division under ANSI; DuckDB spells integer division `//`."""
    return f"(({a}) DIV ({b}))" if d == "spark" else f"(({a}) // ({b}))"


def shingles_from_tokens(toks_col: str, n: int, d: str) -> str:
    """Distinct word n-gram shingles over a PRE-STAGED token-array column.

    The token array must be hoisted into its own projection by the caller:
    an inline ``split(...)`` here would sit inside the transform lambda and
    be re-evaluated once per shingle position — O(words²) per document."""
    n_sh = f"greatest({arr_size(toks_col, d)} - {n - 1}, 0)"
    gram = arr_join(arr_slice(toks_col, "i", n, d), " ", d)
    return arr_distinct(transform(seq("1", n_sh, d), f"i -> {gram}", d), d)


def char_shingles_from(s_col: str, n: int, d: str) -> str:
    """Distinct character n-gram shingles over a PRE-STAGED lowercased
    string column (hoisted for the same per-lambda-element reason)."""
    n_sh = f"greatest(length({s_col}) - {n - 1}, 0)"
    return arr_distinct(transform(seq("1", n_sh, d), f"i -> substr({s_col}, i, {n})", d), d)


def shingle_hashes(shingles_expr: str, d: str) -> str:
    """Hash each shingle once (md5 is the expensive part — never per-perm)."""
    return transform(shingles_expr, f"s -> {hash56('s', d)} % {MINHASH_P}", d)


def minhash_sig_array(hashed_expr: str, d: str) -> str:
    """The K-element signature as ONE array expression.

    Spark: a single ``aggregate`` fold keeping the elementwise min of the
    K permuted hashes — compact codegen (the K-separate-columns form
    generated a method so large the first-run JIT dominated wall-clock).
    DuckDB (interpreted; oracle only): K passes of list_min, same values.
    """
    A = array_lit(MINHASH_A, d)
    B = array_lit(MINHASH_B, d)
    if d == "spark":
        init = f"array_repeat(CAST({MINHASH_P} AS BIGINT), {_K})"
        step = (
            f"(acc, x) -> transform(acc, (m, k) -> "
            f"least(m, (element_at({A}, k + 1) * x + element_at({B}, k + 1)) % {MINHASH_P}))"
        )
        return f"aggregate({hashed_expr}, {init}, {step})"
    inner = f"list_transform({hashed_expr}, x -> ({A}[k] * x + {B}[k]) % {MINHASH_P})"
    return f"list_transform(range(1, {_K} + 1), k -> list_aggregate({inner}, 'min'))"


def band_exprs(sig_expr: str, d: str) -> list[str]:
    """Band keys: concat of R=2 adjacent signature mins (1-based element
    access into the signature array)."""
    r = _K // _BANDS
    return [
        "concat_ws('-', "
        + ", ".join(
            f"CAST({elem(sig_expr, i * r + j + 1, d)} AS STRING)" for j in range(r)
        )
        + ")"
        for i in range(_BANDS)
    ]


def band_explode(rel: str, keys: list[str], d: str, carry: str = "doc_id") -> str:
    """Exploded band relation: one (``carry``…, band, bkey) row per input
    row per band — ONE spelling of the {'band': i, 'bkey': expr} encoding
    shared by every LSH family member (batch self-join, cap stats): a
    drift between two members' spellings silently yields zero
    candidates, so the helper exists to make that drift impossible."""
    if d == "spark":
        structs = ", ".join(
            f"named_struct('band', {i}, 'bkey', {b})" for i, b in enumerate(keys)
        )
        return (
            f"SELECT {carry}, band, bkey FROM {rel} "
            f"LATERAL VIEW inline(array({structs})) AS band, bkey"
        )
    structs = ", ".join("{'band': %d, 'bkey': %s}" % (i, b) for i, b in enumerate(keys))
    return (
        f"SELECT {carry}, UNNEST(bl, recursive := true) "
        f"FROM (SELECT {carry}, [{structs}] AS bl FROM {rel})"
    )
