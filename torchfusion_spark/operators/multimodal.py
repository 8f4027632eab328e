"""Multimodal columns (SURVEY §2-D): opaque binary payloads + typed
metadata, with decode / feature-extraction as Arrow-batched
``mapInPandas`` operators.

The container has no image/audio libraries, so the *decode* step is
stubbed exactly as mandated: a clearly-marked NotImplementedError path
for real codecs, and a deterministic byte-level feature extractor whose
Spark-side plumbing (binary Arrow batches, schema, batch shape) is real
and whose outputs a SQL oracle can reproduce independently.

Scale: mapInPandas streams Arrow batches — constant memory per task, no
shuffle; partitioning follows the input. Real image decode would slot
into `_decode_real` with zero plumbing changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from torchfusion_spark.operators.dedup import simhash_ok_sql
from torchfusion_spark.staging import declare, stage

FEATURE_SCHEMA = (
    "doc_id bigint, mime string, n_bytes bigint, first_byte int, last_byte int, checksum16 int"
)


def attach_payload(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct<mime, n_bytes>).

    The multimodal table shape: payload is an opaque binary column (here
    utf-8 bytes standing in for image/audio), metadata is typed.

    Fanned out first: the local documents parquet is one split, and every
    downstream op here is per-row Python work — the one case where a
    single-partition input serializes the whole job. Width adapts to the
    row count (cpu_fanout): full parallelism at scale, a handful of tasks
    for the small correctness-gate inputs. ``docs``: an already fanned-out
    documents relation (the staged ``docs`` view)."""
    from torchfusion_spark.session import cpu_fanout

    d = docs if docs is not None else cpu_fanout(spark.table("documents"))
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_real(payload: bytes, mime: str):  # pragma: no cover - env has no codecs
    """Real decode path — image/audio libs are not in this container."""
    raise NotImplementedError(
        f"decoding {mime!r} requires codec libraries (PIL/torchaudio) not present; "
        "install them and route decode here — the Spark plumbing is unchanged"
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic byte-level features via mapInPandas (Arrow batches)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # a NULL text row arrives as payload None — the row must come
            # through with SQL semantics (NULL n_bytes/checksum, the CASE
            # ELSE -1 for the byte probes), not die in len(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": payloads.map(len, na_action="ignore"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if b is not None and len(b) else -1
                    ),
                    "last_byte": payloads.map(
                        lambda b: b[-1] if b is not None and len(b) else -1
                    ),
                    "checksum16": payloads.map(
                        lambda b: sum(b[:16]) % 256, na_action="ignore"
                    ),
                }
            )

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def features_query(spark: SparkSession) -> DataFrame:
    return extract_features(attach_payload(spark)).orderBy("doc_id")


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_offset int, frame_sum int"
FRAME_BYTES = 32
FRAME_EVERY = 4  # sample every 4th frame


def _iter_frames(b):
    """The ONE sampled-frame geometry: yield (frame_idx, offset, bytes)
    for every ``FRAME_EVERY``-th ``FRAME_BYTES``-byte frame of a payload.
    Shared by :func:`sample_frames` and :func:`frame_fingerprints` so the
    slicing rule (and its two byte-true DuckDB oracles) cannot drift
    between the families (code-review r13)."""
    step = FRAME_BYTES * FRAME_EVERY
    for idx, off in enumerate(range(0, len(b), step)):
        yield idx, off, b[off : off + FRAME_BYTES]


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame-sampling plumbing (video stand-in): the payload is a stream
    of fixed-size frames; emit every ``FRAME_EVERY``-th frame's metadata.
    One input row fans out to N output rows — the mapInPandas shape real
    video frame extraction uses (decoder would replace the byte slicing)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in ("doc_id", "frame_idx", "frame_offset", "frame_sum")}
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:  # NULL payload: no frames (oracle: range(NULL) unnests to 0 rows)
                    continue
                for idx, off, fb in _iter_frames(b):
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(idx)
                    rows["frame_offset"].append(off)
                    rows["frame_sum"].append(sum(fb) % 65536)
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema=FRAME_SCHEMA)


def frames_query(spark: SparkSession) -> DataFrame:
    return sample_frames(attach_payload(spark)).orderBy("doc_id", "frame_idx")


def _duck_byte(h: str, i: str) -> str:
    """DuckDB expression for the ``i``-th (1-based) BYTE of the payload
    whose hex dump is column ``h`` (``hex(encode(text))``).  DuckDB's
    ``substr`` has no BLOB overload, so exact byte access goes through
    the hex string: two hex digits decoded by ``strpos`` against a
    '123456789ABCDEF' table ('0' maps to 0 because strpos returns 0 on a
    miss).  This is what makes every multimodal oracle *byte*-true — the
    Spark side hashes UTF-8 payload bytes, and the pre-r13 codepoint
    spelling (``unicode(substr(text, i, 1))``) silently diverged on any
    non-ASCII text (ADVICE r12, verified with chr(200) corpora)."""
    return (
        f"(16*strpos('123456789ABCDEF', substr({h}, CAST(2*({i})-1 AS INT), 1))"
        f" + strpos('123456789ABCDEF', substr({h}, CAST(2*({i}) AS INT), 1)))"
    )


# the per-doc payload relation every byte-true oracle starts from: the hex
# dump of the utf-8 payload plus its byte length (octet_length, not the
# codepoint-counting length())
_DUCK_PAYLOAD = (
    "SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n FROM documents"
)


# Oracle: same frame slicing straight off the payload BYTES (hex-dump
# access — the corpus need not be ASCII).
FRAMES_ORACLE = f"""
WITH f AS (
    SELECT doc_id, h, n,
           unnest(range(0, (n + {FRAME_BYTES * FRAME_EVERY} - 1) // {FRAME_BYTES * FRAME_EVERY})) AS i
    FROM ({_DUCK_PAYLOAD}))
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST(i * {FRAME_BYTES * FRAME_EVERY} AS INT) AS frame_offset,
       CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(
                   range(i * {FRAME_BYTES * FRAME_EVERY} + 1,
                         least(i * {FRAME_BYTES * FRAME_EVERY} + {FRAME_BYTES}, n) + 1),
                   j -> CAST({_duck_byte("h", "j")} AS BIGINT))),
           (a, x) -> a + x) % 65536 AS INT) AS frame_sum
FROM f ORDER BY doc_id, frame_idx
"""


THUMB_WIDTH = 16
# thumb serialized to a csv string: the driver's canonicalizer can't hash
# list cells, and a 16-int vector survives the round-trip losslessly
RESIZE_SCHEMA = "doc_id bigint, thumb string"


def byte_thumbnail(df: DataFrame) -> DataFrame:
    """Resize plumbing (image stand-in): downsample the payload to a
    fixed-width vector by stride sampling — the decode→resize→features
    UDF shape with the codec call stubbed to byte arithmetic."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for b in pdf["payload"]:
                n = len(b) if b is not None else 0  # NULL → '' (oracle's COALESCE arm)
                if n == 0:
                    thumbs.append("")
                    continue
                stride = -(-n // THUMB_WIDTH)
                thumbs.append(
                    ",".join(str(b[j * stride]) for j in range(THUMB_WIDTH) if j * stride < n)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "thumb": thumbs})

    return df.mapInPandas(op, schema=RESIZE_SCHEMA)


def thumbnail_query(spark: SparkSession) -> DataFrame:
    return byte_thumbnail(attach_payload(spark)).orderBy("doc_id")


RESIZE_ORACLE = f"""
SELECT doc_id,
       COALESCE(array_to_string(list_transform(
           list_filter(range(0, {THUMB_WIDTH}),
                       j -> j * ((n + {THUMB_WIDTH - 1}) // {THUMB_WIDTH}) < n),
           j -> CAST({_duck_byte("h", f"j * ((n + {THUMB_WIDTH - 1}) // {THUMB_WIDTH}) + 1")} AS INT)), ','), '') AS thumb
FROM ({_DUCK_PAYLOAD}) ORDER BY doc_id
"""


# DuckDB oracle: reproduces the byte-level features straight from the
# utf-8 payload bytes (hex-dump access — no ASCII assumption).
FEATURES_ORACLE = f"""
SELECT doc_id,
       'text/plain' AS mime,
       n AS n_bytes,
       CASE WHEN n > 0 THEN CAST({_duck_byte("h", "1")} AS INT) ELSE -1 END AS first_byte,
       CASE WHEN n > 0 THEN CAST({_duck_byte("h", "n")} AS INT) ELSE -1 END AS last_byte,
       CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, least(n, 16) + 1),
                              i -> CAST({_duck_byte("h", "i")} AS BIGINT))),
           (a, x) -> a + x) % 256 AS INT) AS checksum16
FROM ({_DUCK_PAYLOAD}) ORDER BY doc_id
"""


PHASH_BITS = 32
PHASH_MAX_HAMMING = 3


def _ahash32(b: bytes) -> int:
    """32-bit byte-level aHash (average hash — the standard perceptual-
    image-dedup fingerprint, computed here over raw payload bytes since
    the env has no codecs; a real decoder would feed pixel blocks into
    the SAME bit rule with zero plumbing changes): split the payload
    into 32 contiguous stride-sized blocks, bit j = 1 iff block j's mean
    byte >= the payload's mean byte. The compare is an exact BIGINT
    cross-multiplication (``bsum * n >= tsum * blen`` — the
    corpus_source_filter discipline), never a float mean, so the DuckDB
    oracle reproduces every bit exactly. Empty trailing blocks (n < 32)
    contribute bit 0 — in the oracle they simply produce no group row."""
    n = len(b)
    stride = -(-n // PHASH_BITS)
    tot = sum(b)
    h = 0
    for blk in range(PHASH_BITS):
        seg = b[blk * stride : (blk + 1) * stride]
        if seg and sum(seg) * n >= tot * len(seg):
            h |= 1 << blk
    return h


def perceptual_hash(df: DataFrame) -> DataFrame:
    """(doc_id, payload, ...) → (doc_id, simhash): the aHash fingerprint
    via mapInPandas (Arrow batches — the real multimodal decode→hash
    plumbing). The output column is named ``simhash`` so the banded
    Hamming self-join is the EXACT generator the text SimHash family
    already certifies (`dedup.simhash_body_sql`) — one pair algorithm,
    two fingerprint front-ends. NULL/empty payloads emit no row (the
    text family's ``WHERE n > 0``): an undecodable image cannot be
    near anything."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None or len(b) == 0:
                    continue
                ids.append(did)
                sigs.append(_ahash32(bytes(b)))
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    return df.mapInPandas(op, schema="doc_id bigint, simhash bigint")


@declare("payload_phash", deps=("docs",), prewarm=True)
def _payload_phash(ctx):
    """(fingerprint view, capped banded view): the payload-fingerprint
    relation — 12 bytes per doc, so repeated dedup calls never re-run
    the Arrow scan — and, beside it (r17, the ``minhash_sig``
    discipline), the capped banded relation the pair self-join reads on
    both sides exchange-free.

    Payback: inlined, ``multimodal_dedup`` goes from 2 to 6 exchanges
    and from 0 to 2 Python evaluations at sf0.001; at sf0.1 staged best
    + build 1.12 s, inline best 0.32 s."""
    spark = ctx.spark
    sig = ctx.cache(
        "__mm_phash", perceptual_hash(attach_payload(spark, spark.table(ctx.dep("docs"))))
    )
    ok = ctx.cache("__mm_phash_ok", spark.sql(simhash_ok_sql("spark", sig, bits=PHASH_BITS)))
    return sig, ok


def dedup_query(spark: SparkSession, max_hamming: int = PHASH_MAX_HAMMING) -> DataFrame:
    """Perceptual near-dup pairs over the binary payload (the image-dedup
    stage of a multimodal 100 TB pipeline): one linear Arrow scan builds
    the 32-bit fingerprints, then the text-SimHash banded self-join
    (8-bit band keys, hot buckets capped, Hamming verify on the carried
    signature — ONE shuffle on the band key, never all-pairs) finds
    pairs within ``max_hamming``. Pigeonhole: <= 3 flipped bits touch
    <= 3 of the 4 bands, so every qualifying pair shares a band key."""
    from torchfusion_spark.operators.dedup import simhash_body_sql

    rel, ok = stage(spark, "payload_phash")
    return spark.sql(simhash_body_sql("spark", rel, PHASH_BITS, max_hamming, ok_rel=ok))


def mm_dedup_oracle_sql(max_hamming: int = PHASH_MAX_HAMMING) -> str:
    """DuckDB oracle: recompute the aHash straight from the utf-8 payload
    BYTES (hex-dump access — pre-r13 this read codepoints and diverged on
    any non-ASCII text, ADVICE r12) with the same exact-integer bit rule,
    then run the IDENTICAL banded-join SQL the Spark side uses."""
    from torchfusion_spark.operators.dedup import simhash_body_sql

    fingerprint = f"""
    SELECT b.doc_id,
           SUM(CASE WHEN b.bsum * b.n >= t.tsum * b.blen
                    THEN CAST(1 AS BIGINT) << b.blk ELSE 0 END) AS simhash
    FROM (
        SELECT doc_id, n, CAST((i - 1) // stride AS INT) AS blk,
               SUM(c) AS bsum, COUNT(*) AS blen
        FROM (
            SELECT doc_id, n, stride, i,
                   CAST({_duck_byte("h", "i")} AS BIGINT) AS c
            FROM (
                SELECT doc_id, h, n, stride, unnest(range(1, n + 1)) AS i
                FROM (
                    SELECT doc_id, h, n,
                           (n + {PHASH_BITS - 1}) // {PHASH_BITS} AS stride
                    FROM ({_DUCK_PAYLOAD})
                    WHERE h IS NOT NULL AND n > 0)))
        GROUP BY doc_id, n, blk) b
    JOIN (
        SELECT doc_id, SUM(CAST({_duck_byte("h", "i")} AS BIGINT)) AS tsum
        FROM (
            SELECT doc_id, h, unnest(range(1, n + 1)) AS i
            FROM ({_DUCK_PAYLOAD}) WHERE h IS NOT NULL AND n > 0)
        GROUP BY doc_id) t ON b.doc_id = t.doc_id
    GROUP BY b.doc_id
    """
    return simhash_body_sql("duck", "ph", PHASH_BITS, max_hamming).replace(
        "WITH bands AS",
        f"WITH ph AS MATERIALIZED ({fingerprint}),\n    bands AS",
        1,
    )


def phash_capped_bucket_stats(spark: SparkSession, max_bucket: int | None = None):
    """Observability for multimodal_dedup's hot-band cap (the SimHash
    family's measurement discipline): the (band, bkey, bsz) buckets the
    cap excludes from the candidate join, computed over the staged
    fingerprint relation with the SAME band-key spelling the pair query
    uses (``_simhash_band_keys``), so this cannot measure a different
    cap than the operator applies."""
    from torchfusion_spark.operators.dedup import (
        SIMHASH_MAX_BUCKET,
        _simhash_band_keys,
        capped_bucket_stats,
    )

    cap = SIMHASH_MAX_BUCKET if max_bucket is None else max_bucket
    rel, _ = stage(spark, "payload_phash")
    return capped_bucket_stats(spark, rel, _simhash_band_keys(PHASH_BITS // 8, "spark"), cap)


# ---------------------------------------------------------------------------
# Frame-level perceptual dedup (VERDICT r12 item 6): whole-payload aHash
# misses near-dup VIDEO/long-audio whose duplication is per-segment — at
# 100 TB the unit of perceptual identity is the sampled frame, and the
# doc-level verdict is an overlap fraction (the containment shape).
# ---------------------------------------------------------------------------

FRAME_KEY_MULT = 1 << 20  # fkey = doc_id * MULT + frame_idx; 2^20 sampled
# frames/payload = ~1.5 days of video at 1 sampled frame/128 bytes-of-
# second — a real pipeline would shard longer payloads upstream
FRAME_MAX_HAMMING = PHASH_MAX_HAMMING


def frame_fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, payload, ...) → (doc_id, frame_idx, simhash): the
    ``sample_frames`` 1→N fan-out feeding each sampled frame (a ≤
    ``FRAME_BYTES``-byte slice every ``FRAME_EVERY`` frames) through the
    SAME exact-integer aHash bit rule as the whole-payload fingerprint
    (``_ahash32``; frames are ≤ 32 bytes so the stride is 1 and bit j is
    the per-byte threshold ``c_j * flen >= fsum`` — the DuckDB oracle
    reproduces every bit). NULL/empty payloads emit no frames (an
    undecodable video can be near nothing). Frame indices must fit the
    downstream BIGINT packing (doc·FRAME_KEY_MULT+idx) — a payload with
    >= 2^20 sampled frames would silently collide into the next doc's
    key space on BOTH engines (gate-invisible), so the cliff raises
    loudly here instead (code-review r13). doc_id has the mirror-image
    cliffs (ADVICE r13 #1): a NEGATIVE doc_id makes Spark's DIV
    (truncate-toward-zero) and DuckDB's // (floor) unpack the key to
    DIFFERENT docs — silently and gate-invisibly on corpora where only
    one engine's rows land in a capped bucket — and a doc_id >= 2^43
    overflows the BIGINT product; both raise loudly here too."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sigs = [], [], []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None or len(b) == 0:
                    continue
                if did is not None and (did < 0 or did >= (1 << 43)):
                    raise ValueError(
                        f"doc_id {did} outside the packable range [0, 2^43): "
                        "negative ids unpack differently under Spark DIV "
                        "(truncate) vs DuckDB // (floor), and ids >= 2^43 "
                        "overflow doc_id*FRAME_KEY_MULT — remap ids upstream"
                    )
                bb = bytes(b)
                for idx, _off, fb in _iter_frames(bb):
                    if idx >= FRAME_KEY_MULT:
                        raise ValueError(
                            f"doc {did}: {idx + 1}+ sampled frames exceed the "
                            f"FRAME_KEY_MULT={FRAME_KEY_MULT} packing range — "
                            "shard the payload upstream"
                        )
                    ids.append(did)
                    idxs.append(idx)
                    sigs.append(_ahash32(fb))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "simhash": sigs})

    return df.mapInPandas(op, schema="doc_id bigint, frame_idx int, simhash bigint")


@declare("frame_phash", deps=("docs",), prewarm=True)
def _frame_phash(ctx):
    """(per-frame fingerprint view, capped banded view over the PACKED
    frame key — the tail's ``fsig`` spelling verbatim): the
    ``payload_phash`` discipline.

    Payback: inlined, ``multimodal_frame_dedup`` goes from 6 to 12
    exchanges and from 0 to 4 Python evaluations at sf0.001; at sf0.1
    staged best + build 0.83 s, inline best 0.60 s."""
    spark = ctx.spark
    sig = ctx.cache(
        "__mm_fphash", frame_fingerprints(attach_payload(spark, spark.table(ctx.dep("docs"))))
    )
    fsig = f"(SELECT doc_id * {FRAME_KEY_MULT} + frame_idx AS doc_id, simhash FROM {sig})"
    return sig, ctx.cache(
        "__mm_fphash_ok", spark.sql(simhash_ok_sql("spark", fsig, bits=PHASH_BITS))
    )


def frame_dedup_tail_sql(
    d: str,
    fp_rel: str,
    max_hamming: int = FRAME_MAX_HAMMING,
    ok_rel: str | None = None,
) -> str:
    """The frame-pair → doc-verdict tail over a (doc_id, frame_idx,
    simhash) relation. Frames pack into one BIGINT key (doc*MULT+idx) so
    the banded-Hamming pair generator is the text-SimHash SQL VERBATIM —
    one pair algorithm, three fingerprint front-ends (token, payload,
    frame); same-doc frame pairs drop on unpack. The doc verdict is the
    containment shape: a pair is a near-dup when either side has >= half
    its sampled frames matched (exact 2*matched >= n_frames integers —
    catches the short-clip-inside-long-video case the symmetric Jaccard
    ratio misses). Scale: one shuffle on the band key (hot bands capped
    at {SIMHASH_MAX_BUCKET}), one pair-sized rollup, two doc-keyed
    equi-joins for the frame counts — never all-pairs."""
    from torchfusion_spark.operators.dedup import simhash_body_sql

    m = FRAME_KEY_MULT
    div = "DIV" if d == "spark" else "//"
    mat = "MATERIALIZED " if d == "duck" else ""
    # ordered=False (r16): the pair relation is an INTERMEDIATE here —
    # its global sort would cost a range exchange (plus the range
    # partitioner's sampling re-execution of the banded join) feeding a
    # rollup that destroys order anyway; the doc verdict is unchanged.
    body = simhash_body_sql(
        d, "fsig", PHASH_BITS, max_hamming, ordered=False, ok_rel=ok_rel
    )
    return f"""
    WITH fp AS {mat}(SELECT * FROM {fp_rel}),
    fsig AS (
        SELECT doc_id * {m} + frame_idx AS doc_id, simhash FROM fp),
    pairs AS ({body}),
    cross_pairs AS (
        SELECT id_a {div} {m} AS doc_a, CAST(id_a % {m} AS INT) AS frame_a,
               id_b {div} {m} AS doc_b, CAST(id_b % {m} AS INT) AS frame_b
        FROM pairs WHERE id_a {div} {m} <> id_b {div} {m}),
    counts AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames
        FROM fp GROUP BY doc_id),
    roll AS (
        SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_frame_pairs,
               CAST(COUNT(DISTINCT frame_a) AS BIGINT) AS matched_a,
               CAST(COUNT(DISTINCT frame_b) AS BIGINT) AS matched_b
        FROM cross_pairs GROUP BY doc_a, doc_b)
    SELECT r.doc_a, r.doc_b, r.n_frame_pairs,
           r.matched_a, ca.n_frames AS frames_a,
           r.matched_b, cb.n_frames AS frames_b,
           CAST(CASE WHEN 2 * r.matched_a >= ca.n_frames
                       OR 2 * r.matched_b >= cb.n_frames
                     THEN 1 ELSE 0 END AS INT) AS near_dup
    FROM roll r
    JOIN counts ca ON r.doc_a = ca.doc_id
    JOIN counts cb ON r.doc_b = cb.doc_id
    ORDER BY doc_a, doc_b
    """


def frame_dedup_query(spark: SparkSession, max_hamming: int = FRAME_MAX_HAMMING) -> DataFrame:
    rel, ok = stage(spark, "frame_phash")
    return spark.sql(frame_dedup_tail_sql("spark", rel, max_hamming, ok_rel=ok))


def mm_frame_dedup_oracle_sql(max_hamming: int = FRAME_MAX_HAMMING) -> str:
    """DuckDB oracle: per-frame aHash recomputed straight from the utf-8
    payload BYTES (hex-dump access, byte-true on non-ASCII text), then
    the identical packed-key banded tail. Frames are ≤ 32 bytes, so the
    aHash stride is 1 and bit j is the exact per-byte threshold
    ``c_j * flen >= fsum`` — no float arithmetic anywhere."""
    step = FRAME_BYTES * FRAME_EVERY
    # ONE materialized per-byte expansion (hex-dump access is the
    # oracle's heaviest relation — the pre-review spelling expanded it
    # twice, once per join side; code-review r13)
    fingerprint = f"""
    WITH fbytes AS MATERIALIZED (
        SELECT doc_id, fi, CAST(i - fi * {step} - 1 AS INT) AS j,
               CAST({_duck_byte("h", "i")} AS BIGINT) AS c
        FROM (
            SELECT doc_id, h, fi,
                   unnest(range(fi * {step} + 1,
                                least(fi * {step} + {FRAME_BYTES}, n) + 1)) AS i
            FROM (
                SELECT doc_id, h, n,
                       unnest(range(0, (n + {step} - 1) // {step})) AS fi
                FROM ({_DUCK_PAYLOAD})
                WHERE h IS NOT NULL AND n > 0))),
    fstat AS (
        SELECT doc_id, fi, SUM(c) AS fsum, COUNT(*) AS flen
        FROM fbytes GROUP BY doc_id, fi)
    SELECT fb.doc_id, fb.fi AS frame_idx,
           SUM(CASE WHEN fb.c * fs.flen >= fs.fsum
                    THEN CAST(1 AS BIGINT) << fb.j ELSE 0 END) AS simhash
    FROM fbytes fb JOIN fstat fs ON fb.doc_id = fs.doc_id AND fb.fi = fs.fi
    GROUP BY fb.doc_id, fb.fi
    """
    return frame_dedup_tail_sql("duck", f"(SELECT * FROM ({fingerprint}))", max_hamming)


def frame_phash_capped_bucket_stats(spark: SparkSession, max_bucket: int | None = None):
    """Hot-band cap observability for the FRAME fingerprint family —
    same measurement discipline as :func:`phash_capped_bucket_stats`,
    over the packed frame keys the pair query actually joins on."""
    from torchfusion_spark.operators.dedup import (
        SIMHASH_MAX_BUCKET,
        _simhash_band_keys,
        capped_bucket_stats,
    )

    cap = SIMHASH_MAX_BUCKET if max_bucket is None else max_bucket

    rel, _ = stage(spark, "frame_phash")
    fs = f"(SELECT doc_id * {FRAME_KEY_MULT} + frame_idx AS doc_id, simhash FROM {rel})"
    return capped_bucket_stats(spark, fs, _simhash_band_keys(PHASH_BITS // 8, "spark"), cap)
