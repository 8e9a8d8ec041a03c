"""Multimodal column plumbing: opaque binary payloads + typed
metadata, decoded/feature-extracted via Arrow-batched pandas stages.

Decode is REAL for formats parseable without codec libraries — PCM
WAV, uncompressed BMP, binary PPM (llm/codecs.py, stdlib+numpy) — and
a clearly-marked deterministic byte-feature STUB for codec formats
(JPEG/MP3/H.264; the container has no PIL/ffmpeg). The kernel
dispatches on magic bytes; the Spark-side contract (schema, binary
column handling, mapInPandas batch shape, partitioning) is identical
on both paths, so installing a codec lib extends DECODERS without
touching any plan.

Binary payloads are synthesized from document text (utf-8 bytes) so
every byte-level result is deterministic and DuckDB-verifiable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..registry import QuerySpec


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents"))


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal table shape: binary payload + typed metadata
    struct. payload = utf8 bytes of the text (a stand-in for image
    bytes); metadata mirrors what an ingest service would attach."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("image/png").alias("mime"),
            (F.col("n_chars") % 640 + 1).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 1).cast("int").alias("height"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column operator surface: byte length, content digest,
    metadata projection — everything JVM-side on BinaryType."""
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def _round6(x: float) -> float:
    """round-half-AWAY to 6 places (SQL ROUND semantics; Python's
    builtin round is half-even and disagrees on exact dyadic halves
    like 105/128 = 0.8203125)."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _byte_features(b: bytes) -> tuple[float, int, list[float]]:
    """Vectorized byte stats: mean, max, and a 4-bin byte-range
    histogram. numpy over the whole buffer — never ``for x in b``;
    payloads are megabytes at production scale and a Python per-byte
    loop inside a pandas UDF is the row-at-a-time anti-pattern."""
    if not b:
        return 0.0, 0, [0.0, 0.0, 0.0, 0.0]
    arr = np.frombuffer(b, dtype=np.uint8)
    quarters = np.bincount(arr >> 6, minlength=4)
    return (
        _round6(float(arr.mean())),
        int(arr.max()),
        [_round6(float(q) / len(b)) for q in quarters],
    )


def fake_decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB decode kernel (deterministic fake).

    Real version would decode image bytes and emit pooled features;
    the container lacks codecs, so this derives features from the raw
    bytes: mean/max byte value and a 4-dim 'embedding' from byte-range
    histograms. Deterministic, so tests pin exact values. Arrow hands
    us column batches — the vectorized (not per-row) shape is the part
    that matters at scale.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        mean_b, max_b, hist = [], [], []
        for raw in payloads:
            m, mx, h = _byte_features(bytes(raw))
            mean_b.append(m)
            max_b.append(mx)
            hist.append(h)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mean_byte": mean_b,
                "max_byte": max_b,
                "byte_hist": hist,
            }
        )


DECODE_FEATURES_SCHEMA = (
    "doc_id long, decoder string, width int, height int, sample_rate int,"
    " n_channels int, n_samples long, mean_val double, peak_val double,"
    " mean_rgb array<double>, max_byte int, byte_hist array<double>"
)

DECODE_FEATURES_GOLDEN_SCHEMA = DECODE_FEATURES_SCHEMA + (
    ", golden_resize_md5 string, golden_out_w int, golden_out_h int,"
    " golden_out_bytes long, golden_wav_ahash string"
)

_DECODE_FIELDS = [f.strip().split(" ")[0] for f in DECODE_FEATURES_SCHEMA.split(",")]


def decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Dispatching decode kernel: REAL decoders for formats the
    container can parse without codec libraries (PCM WAV via stdlib
    ``wave``, uncompressed 24-bpp BMP and binary PPM via struct+numpy,
    see llm/codecs.py), deterministic byte-feature stub for everything
    else (JPEG/MP3/... until a codec lib is installed). One unified
    nullable feature schema; ``decoder`` says which path ran."""
    from . import codecs

    for pdf in batches:
        rows: dict[str, list] = {f: [] for f in _DECODE_FIELDS}
        for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(raw) if raw is not None else b""
            feat = codecs.decode_media(b)
            if feat is None:
                mean_val, max_byte, hist = _byte_features(b)
                feat = {"decoder": "raw", "mean_val": mean_val,
                        "max_byte": max_byte, "byte_hist": hist}
            feat["doc_id"] = doc_id
            for f in _DECODE_FIELDS:
                rows[f].append(feat.get(f))
        yield pd.DataFrame(rows, columns=_DECODE_FIELDS)


def _golden_constants() -> dict:
    """The five golden columns, computed THROUGH the real kernels —
    ``make_resize_kernel`` on the golden PPM and ``media_phash_kernel``
    on the golden WAV — exactly the code paths the former standalone
    1-row legs drove. Called INSIDE an executor task (see
    decode_features_golden), so the driver hash check still proves the
    real kernels reproduce the pure-codec literals in the oracle; what
    changed (optimization round 13) is only the plumbing: the two
    standalone 1-row mapInPandas legs each cost a full Python-stage
    round trip + a pickled-RDD scan + a broadcast exchange (~0.55 s
    apiece at any SF — pure fixed overhead), where riding the existing
    decode crossing costs ~2 ms once per task."""
    import hashlib

    ppm, _, _ = _golden_media()
    r = next(make_resize_kernel(2, 2)(
        iter([pd.DataFrame({"doc_id": [0], "payload": [ppm]})])))
    w = next(media_phash_kernel(
        iter([pd.DataFrame({"doc_id": [0], "payload": [_golden_wav()]})])))
    return {
        "golden_resize_md5": hashlib.md5(bytes(r["out_payload"][0])).hexdigest(),
        "golden_out_w": int(r["out_width"][0]),
        "golden_out_h": int(r["out_height"][0]),
        "golden_out_bytes": int(r["n_out_bytes"][0]),
        "golden_wav_ahash": w["dhash"][0],
    }


def decode_features_golden(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """decode_features + the golden-proof columns in one crossing
    (golden computed once per task, through the real kernels)."""
    golden = None
    for pdf in decode_features(batches):
        if golden is None:
            golden = _golden_constants()
        for k, v in golden.items():
            pdf[k] = v
        yield pdf


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over the binary column. Rows-only
    check: the testdata payloads are utf-8 text bytes, so they take the
    stub path; the real WAV/BMP/PPM decoders behind the same kernel are
    pinned by tests/test_multimodal.py with synthesized media bytes."""
    media = media_table(spark, sf_dir)
    return media.select("doc_id", "payload").mapInPandas(
        decode_features, schema=DECODE_FEATURES_SCHEMA
    )


def _golden_media() -> tuple[bytes, str, int]:
    """Deterministic 4x4 PPM + the md5/byte-count of its 2x2
    nearest-neighbor resize, computed from the pure codec. The
    registered query re-derives these THROUGH the distributed
    mapInPandas resize plan — the driver hash-check then proves the
    Spark plumbing (binary schema, Arrow batching, kernel dispatch)
    reproduces the pure-Python codec, whose pixel-exactness is pinned
    independently in tests/test_multimodal.py."""
    import hashlib

    from . import codecs

    px = (np.arange(48, dtype=np.int64) * 37 % 256).astype(np.uint8)
    ppm = codecs.encode_ppm(px.reshape(4, 4, 3))
    resized = codecs.resize_image(ppm, 2, 2)
    return ppm, hashlib.md5(resized).hexdigest(), len(resized)


def multimodal_decode_features_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered shape of decode_features: array columns
    (byte_hist, mean_rgb) flattened to scalar doubles so the result is
    hashable row-wise and fully oracle-checkable. The array-typed
    builder above stays the composable API.

    Also carries the golden-resize columns: a 1-row golden PPM runs
    through the REAL resize kernel (make_resize_kernel's mapInPandas
    plan) and the md5/shape of the output broadcast-joins onto every
    row — the resize/resample op's driver-checked proof (_golden_media
    explains the trust chain).

    Round 6 adds the perceptual-dedup leg: per-doc dHash of the
    deterministic synthetic image through the REAL media_phash_kernel
    plus the banded near-dup partner count (perceptual_dedup_table),
    both re-derived independently by the DuckDB oracle, and the
    golden WAV's ahash64 through the same kernel (literal-pinned like
    the resize md5; invariances proven in tests/test_image_phash.py).

    Optimization round 13: the golden columns ride INSIDE the decode
    crossing (decode_features_golden) instead of two standalone 1-row
    mapInPandas legs + broadcast cross joins — same kernels, same
    values, two Python stage round trips and two broadcast exchanges
    removed (measured: the two legs cost ~0.55 s each standalone at
    ANY scale; the in-kernel computation is ~2 ms once per task)."""
    media = media_table(spark, sf_dir)
    feats = media.select("doc_id", "payload").mapInPandas(
        decode_features_golden, schema=DECODE_FEATURES_GOLDEN_SCHEMA
    )
    feats = feats.join(perceptual_dedup_table(spark, sf_dir), "doc_id")
    return feats.select(
        "doc_id",
        "decoder",
        "width",
        "height",
        "sample_rate",
        "n_channels",
        "n_samples",
        "mean_val",
        "peak_val",
        "max_byte",
        F.element_at("byte_hist", 1).alias("hist_q0"),
        F.element_at("byte_hist", 2).alias("hist_q1"),
        F.element_at("byte_hist", 3).alias("hist_q2"),
        F.element_at("byte_hist", 4).alias("hist_q3"),
        F.element_at("mean_rgb", 1).alias("rgb_r"),
        F.element_at("mean_rgb", 2).alias("rgb_g"),
        F.element_at("mean_rgb", 3).alias("rgb_b"),
        "golden_resize_md5",
        "golden_out_w",
        "golden_out_h",
        "golden_out_bytes",
        "pdhash",
        "near_dup_cnt",
        "golden_wav_ahash",
    )


# Full DuckDB oracle for the stub path the testdata exercises (utf-8
# text payloads never carry WAV/BMP/PPM magic, so decode_media returns
# None and the deterministic byte-feature stub runs): re-derive the
# per-byte stats SQL-side via hex expansion. The real-decoder paths are
# pinned by tests/test_multimodal.py on synthesized media bytes.
# Template — formatted into MULTIMODAL_DECODE_FEATURES_ORACLE at the
# bottom of the module (the golden literals need _golden_wav/_golden_media).
_MULTIMODAL_DECODE_FEATURES_ORACLE_T = """
WITH hx AS (
  SELECT doc_id, lower(hex(encode(text))) AS h,
         octet_length(encode(text)) AS n
  FROM documents
), b AS (
  SELECT doc_id,
         strpos('0123456789abcdef', substr(h, 2*i-1, 1)) * 16
         + strpos('0123456789abcdef', substr(h, 2*i, 1)) - 17 AS v
  FROM (SELECT doc_id, h,
               unnest(generate_series(1, n)) AS i
        FROM hx)
), agg AS (
  SELECT doc_id,
         round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_val,
         CAST(max(v) AS INTEGER) AS max_byte,
         round(CAST(count(*) FILTER (v < 64) AS DOUBLE) / count(*), 6) AS hist_q0,
         round(CAST(count(*) FILTER (v >= 64 AND v < 128) AS DOUBLE) / count(*), 6) AS hist_q1,
         round(CAST(count(*) FILTER (v >= 128 AND v < 192) AS DOUBLE) / count(*), 6) AS hist_q2,
         round(CAST(count(*) FILTER (v >= 192) AS DOUBLE) / count(*), 6) AS hist_q3
  FROM b GROUP BY doc_id
), pxl AS (
  SELECT doc_id,
         [CASE WHEN doc_id % 3 = 0 AND i = 4
               THEN ((((((doc_id // 4) * 73 + i) * ((doc_id // 4) * 73 + i)) % 1000003) * 2654435761 // 512) % 256 + 128) % 256
               ELSE (((((doc_id // 4) * 73 + i) * ((doc_id // 4) * 73 + i)) % 1000003) * 2654435761 // 512) % 256 END
          for i in generate_series(0, 71)] AS px
  FROM documents
), dh AS (
  SELECT doc_id,
         CAST(list_sum([CASE WHEN px[(k // 8) * 9 + (k % 8) + 2] > px[(k // 8) * 9 + (k % 8) + 1]
                   THEN CAST(1 AS BIGINT) << (31 - k) ELSE CAST(0 AS BIGINT) END
                   for k in generate_series(0, 31)]) AS BIGINT) AS hi,
         CAST(list_sum([CASE WHEN px[((k + 32) // 8) * 9 + ((k + 32) % 8) + 2] > px[((k + 32) // 8) * 9 + ((k + 32) % 8) + 1]
                   THEN CAST(1 AS BIGINT) << (31 - k) ELSE CAST(0 AS BIGINT) END
                   for k in generate_series(0, 31)]) AS BIGINT) AS lo
  FROM pxl
), pcnt AS (
  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS near_dup_cnt
  FROM dh a JOIN dh b
    ON a.doc_id <> b.doc_id
   AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
  GROUP BY a.doc_id
)
SELECT hx.doc_id,
       'raw' AS decoder,
       CAST(NULL AS INTEGER) AS width,
       CAST(NULL AS INTEGER) AS height,
       CAST(NULL AS INTEGER) AS sample_rate,
       CAST(NULL AS INTEGER) AS n_channels,
       CAST(NULL AS BIGINT) AS n_samples,
       coalesce(agg.mean_val, 0.0) AS mean_val,
       CAST(NULL AS DOUBLE) AS peak_val,
       coalesce(agg.max_byte, 0) AS max_byte,
       coalesce(agg.hist_q0, 0.0) AS hist_q0,
       coalesce(agg.hist_q1, 0.0) AS hist_q1,
       coalesce(agg.hist_q2, 0.0) AS hist_q2,
       coalesce(agg.hist_q3, 0.0) AS hist_q3,
       CAST(NULL AS DOUBLE) AS rgb_r,
       CAST(NULL AS DOUBLE) AS rgb_g,
       CAST(NULL AS DOUBLE) AS rgb_b,
       '{golden_md5}' AS golden_resize_md5,
       CAST(2 AS INTEGER) AS golden_out_w,
       CAST(2 AS INTEGER) AS golden_out_h,
       CAST({golden_bytes} AS BIGINT) AS golden_out_bytes,
       printf('%08x%08x', dh.hi, dh.lo) AS pdhash,
       coalesce(pcnt.near_dup_cnt, CAST(0 AS BIGINT)) AS near_dup_cnt,
       '{ahash_hex}' AS golden_wav_ahash
FROM hx LEFT JOIN agg USING (doc_id)
     JOIN dh USING (doc_id)
     LEFT JOIN pcnt USING (doc_id)
"""


RESIZE_SCHEMA = (
    "doc_id long, decoder string, out_payload binary,"
    " out_width int, out_height int, out_rate int, n_out_bytes long"
)


def make_resize_kernel(out_w: int = 32, out_h: int = 32, out_rate: int = 8000):
    """mapInPandas kernel factory: REAL nearest-neighbor image resize
    (BMP/PPM -> canonical P6 PPM) and PCM resample (WAV -> WAV at
    ``out_rate``) via llm/codecs.py; anything undecodable passes
    through with decoder='raw' and a null payload (same
    dispatch-on-magic-bytes contract as decode_features)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in batches:
            rows = {f: [] for f in ("doc_id", "decoder", "out_payload",
                                    "out_width", "out_height", "out_rate",
                                    "n_out_bytes")}
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(raw) if raw is not None else b""
                kind = codecs.sniff(b)
                out = dict.fromkeys(rows)
                out["doc_id"] = doc_id
                try:
                    if kind in ("bmp", "ppm"):
                        p = codecs.resize_image(b, out_w, out_h)
                        out.update(decoder=kind, out_payload=p,
                                   out_width=out_w, out_height=out_h,
                                   n_out_bytes=len(p))
                    elif kind == "wav":
                        p = codecs.resample_wav(b, out_rate)
                        out.update(decoder="wav", out_payload=p,
                                   out_rate=out_rate, n_out_bytes=len(p))
                    else:
                        out.update(decoder="raw", n_out_bytes=0)
                except ValueError:
                    out.update(decoder="raw", n_out_bytes=0)
                for f in rows:
                    rows[f].append(out[f])
            yield pd.DataFrame(rows)

    return kernel


def multimodal_frame_sample_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/chunk sampling of a binary payload: every 32nd byte-offset
    chunk of 16 bytes (video frame-sampling shape) via JVM-side
    substring on binary — no Python. Chunk digests are md5 over the
    hex chunks sorted per doc (collect_list order is nondeterministic
    across partitions, so the digest sorts first)."""
    media = media_table(spark, sf_dir)
    chunks = media.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, int(greatest(length(payload) - 16, 0) / 32)),"
                " i -> substring(payload, i * 32 + 1, 16))"
            )
        ).alias("chunk"),
    )
    return (
        chunks.select("doc_id", F.lower(F.hex("chunk")).alias("hx"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            # A NULL payload yields one all-NULL chunk group: its digest
            # is NULL (nothing to hash), matching SQL string_agg's
            # NULL-on-empty — collect_list alone silently skips the NULL
            # and md5('') fabricated a digest for absent content
            # (round-7 fuzz find).
            F.when(
                F.count("hx") > 0,
                F.md5(F.array_join(F.array_sort(F.collect_list("hx")), "")),
            ).alias("chunks_digest"),
        )
    )


def multimodal_binary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary stats + frame/chunk sampling as ONE per-asset profile
    (registry consolidation, round 2): the JVM-side byte stats join the
    chunk-sample aggregate on doc_id — co-partitioned equi-join on the
    unique asset key, the same shape a real media-curation profile
    table is built with. Component builders above keep standalone
    semantics for tests."""
    stats = multimodal_binary_stats(spark, sf_dir)
    frames = multimodal_frame_sample_sorted(spark, sf_dir)
    return stats.join(frames, "doc_id")


MULTIMODAL_BINARY_PROFILE_ORACLE = """
WITH chunks AS (
  -- DuckDB has no BLOB substring: hex the whole payload once and
  -- slice CHARACTERS (2 hex chars per byte -> byte offset i*32 maps
  -- to hex offset i*64, 16 bytes to 32 hex chars)
  SELECT doc_id,
         lower(substr(hx_all, i * 64 + 1, 32)) AS hx
  FROM (SELECT doc_id, hex(encode(text)) AS hx_all,
               unnest(generate_series(0, CAST(greatest(octet_length(encode(text)) - 16, 0) // 32 AS BIGINT))) AS i
        FROM documents)
), fr AS (
  SELECT doc_id, count(*) AS n_chunks,
         md5(string_agg(hx, '' ORDER BY hx)) AS chunks_digest
  FROM chunks GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS INTEGER) AS n_bytes,
       sha256(d.text) AS sha256,
       'image/png' AS mime,
       CAST(d.n_chars % 640 + 1 AS INTEGER) AS width,
       CAST(d.n_chars % 480 + 1 AS INTEGER) AS height,
       fr.n_chunks, fr.chunks_digest
FROM documents d JOIN fr USING (doc_id)
"""


# --- perceptual image dedup (dHash) ---------------------------------------

PHASH_SCHEMA = "doc_id long, decoder string, dhash string"


def image_phash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: 64-bit dHash (codecs.dhash64) for decodable
    image payloads, null for everything else — the perceptual near-dup
    key. Same dispatch-on-magic contract as decode_features."""
    from . import codecs

    for pdf in batches:
        ids, dec, hh = [], [], []
        for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(raw) if raw is not None else b""
            kind = codecs.sniff(b)
            ids.append(doc_id)
            if kind in ("bmp", "ppm"):
                try:
                    hh.append(f"{codecs.dhash64(b):016x}")
                    dec.append(kind)
                    continue
                except ValueError:
                    pass
            hh.append(None)
            dec.append("raw")
        yield pd.DataFrame({"doc_id": ids, "decoder": dec, "dhash": hh})


def media_phash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Modality-dispatching fingerprint kernel: dHash for images,
    ahash64 (spectral-delta fingerprint) for WAV audio — one 64-bit
    perceptual key column across modalities, so the SAME banded pair
    generator (image_near_dup_pairs) dedups the whole media table.
    Cross-modality collisions are impossible at the pair stage only by
    hash luck, so pair consumers should group by ``decoder`` first."""
    from . import codecs

    for pdf in batches:
        ids, dec, hh = [], [], []
        for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(raw) if raw is not None else b""
            kind = codecs.sniff(b)
            ids.append(doc_id)
            try:
                if kind in ("bmp", "ppm"):
                    hh.append(f"{codecs.dhash64(b):016x}")
                    dec.append(kind)
                    continue
                if kind == "wav":
                    hh.append(f"{codecs.ahash64(b):016x}")
                    dec.append("wav")
                    continue
            except ValueError:
                pass
            hh.append(None)
            dec.append("raw")
        yield pd.DataFrame({"doc_id": ids, "decoder": dec, "dhash": hh})


def _banded(hashes: DataFrame) -> DataFrame:
    """(doc_id, _h int64, band, key) rows — 4 per hash — SHUFFLED on
    (band, key). The explicit repartition is the sharing point: every
    consumer (both self-join sides, a per-doc hash projection) sits on
    an identical Exchange, so ReuseExchange computes the hash-kernel
    subtree once per query instead of once per consumer."""
    # hex -> signed int64 via two 32-bit halves: conv().cast(long) of
    # the full 16 hex chars overflows for top-bit hashes; shiftleft
    # wraps into the sign bit without an overflow check.
    hi = F.conv(F.substring("dhash", 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring("dhash", 9, 8), 16, 10).cast("long")
    h = hashes.where(F.col("dhash").isNotNull()).select(
        "doc_id",
        F.shiftleft(hi, 32).bitwiseOR(lo).alias("_h"),
        *[
            F.substring("dhash", 1 + 4 * i, 4).alias(f"band{i}")
            for i in range(4)
        ],
    )
    return (
        h.select(
            "doc_id",
            "_h",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"), F.col(f"band{i}").alias("key")
                        )
                        for i in range(4)
                    ]
                )
            ).alias("_b"),
        )
        .select(
            "doc_id", "_h", F.col("_b.band").alias("band"), F.col("_b.key").alias("key")
        )
        .repartition(F.col("band"), F.col("key"))
    )


def image_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 3, symmetric: bool = False,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Image near-dup candidate pairs over a (doc_id, dhash) frame:
    pigeonhole-banded like simhash — split the 64-bit hash into 4
    16-bit bands; any pair within hamming distance <= 3 MUST collide
    in at least one band, so the default (3) returns a COMPLETE pair
    inventory. Distances above 3 can split 1 bit per band and miss
    the band join — callers passing a larger max_hamming get recall,
    not completeness (use 5+ bands for a guarantee at distance 4).
    Exact hamming verify is JVM-side: bit_count(xor) on the conv'd
    int64 — no Python in the join or verify path, and the band join
    is O(sum bucket^2), never all-pairs.

    ``symmetric=True`` emits BOTH directions (doc_a <> doc_b) so a
    per-doc partner count is one groupBy over this frame — a
    both-directions union of the asymmetric form would duplicate the
    entire join subtree (2x the scans and kernel runs in the plan).

    ``bands``: a caller-supplied pre-banded frame (``_banded(hashes)``,
    possibly checkpointed) — lets a query that ALSO consumes the banded
    frame elsewhere share one materialized subtree instead of relying
    on runtime ReuseExchange (round-7 perf fix)."""
    if bands is None:
        bands = _banded(hashes)
    # Alias-based self-join of the SAME DataFrame: both sides have
    # identical canonical plans, so ReuseExchange computes the banded
    # subtree (and everything below it — possibly an expensive hash
    # kernel) ONCE and replays the shuffle for the probe side. A
    # column-renaming projection on one side breaks the canonical
    # equality and doubles the subtree.
    a = bands.alias("a")
    b = bands.alias("b")
    keep = (
        F.col("a.doc_id") != F.col("b.doc_id")
        if symmetric
        else F.col("a.doc_id") < F.col("b.doc_id")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .where(keep)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a._h").bitwiseXOR(F.col("b._h"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


# The banded pair generator is hash-agnostic: any (doc_id, 16-hex-char
# 64-bit key) frame works, so the audio fingerprints from
# media_phash_kernel flow through the same plan.
media_near_dup_pairs = image_near_dup_pairs


# --- driver-registered perceptual-dedup leg (round 6) ---------------------
#
# The testdata payloads are utf-8 text (no image/audio magic), so to put
# the REAL perceptual kernels under the driver's hash oracle we derive a
# deterministic 9x8 grayscale PPM per document from doc_id alone — the
# formula is simple integer arithmetic that a DuckDB oracle re-derives
# bit-for-bit, including the dHash itself (9x8 is dhash64's native grid,
# so its resize step is the identity and every gradient bit is
# SQL-expressible). doc_id // 4 keys the image content — BOUNDED
# duplicate groups of 4 docs each, so planned pairs are O(N) at any
# corpus size (a modulus key like doc_id % 41 makes every group grow
# with N and the pair inventory quadratic: 6.3M pairs at sf0.1 —
# measured, rejected). doc_id % 3 == 0 perturbs one pixel (planned
# hamming<=2 near-duplicates inside each group). The pixel mix is
# NONLINEAR in (group, pixel) — square then multiply — because any
# mix linear in the group id gives different groups near-identical
# gradient signatures (the comparison bits depend mostly on the
# per-pixel step pattern, which a linear form shares across groups;
# measured: 15 cross-group partners per doc). With the squared mix,
# 1250 groups produce 1250 distinct hashes and ~1e-5 of sampled
# cross-group pairs land within hamming 3 — accidental pairs both
# sides (Spark and oracle) count identically. All intermediates fit
# int64: x <= 73*(max_doc/4), x^2 reduced mod 1000003 before the
# multiplier.

_SYN_GROUP = 4  # docs per synthetic image (bounded duplicate group)
_SYN_PERTURB = 3  # every 3rd doc gets a one-pixel perturbation
_SYN_A = 2654435761
_SYN_MOD = 1000003


def _syn_pixels(doc_id: int) -> np.ndarray:
    g = doc_id // _SYN_GROUP
    x = g * 73 + np.arange(72, dtype=np.int64)
    v = (((x * x) % _SYN_MOD) * _SYN_A // 512) % 256
    if doc_id % _SYN_PERTURB == 0:
        v[4] = (v[4] + 128) % 256
    return v


def synthetic_media_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: doc_id -> deterministic 9x8 grayscale P6
    PPM payload (the stand-in for reading real image bytes from a
    lake; generation is embarrassingly parallel and stays columnar)."""
    from . import codecs

    for pdf in batches:
        ids, payloads = [], []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            v = _syn_pixels(d)
            px = v.astype(np.uint8).reshape(8, 9)[:, :, None].repeat(3, axis=2)
            ids.append(d)
            payloads.append(codecs.encode_ppm(px))
        yield pd.DataFrame({"doc_id": ids, "payload": payloads})


def synthetic_phash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """synthetic_media_kernel -> media_phash_kernel composed in ONE
    Python crossing (optimization round 13): the synthetic payload
    bytes used to make a full JVM round trip between generation and
    hashing — two chained mapInPandas stages — for no reason; the
    composition runs the SAME two kernels back to back inside one
    task."""
    yield from media_phash_kernel(synthetic_media_kernel(batches))


_GOLDEN_WAV_CACHE: list = []


def _golden_wav() -> bytes:
    """Deterministic 16-bit mono WAV (8 kHz, 800 samples, sine + a
    sawtooth-ish dither) — the golden asset that drives the audio
    branch of media_phash_kernel under the driver oracle."""
    if not _GOLDEN_WAV_CACHE:
        import io
        import wave

        t = np.arange(800)
        samples = (
            np.sin(t * 0.1) * 12000 + ((t * 37) % 256 - 128) * 16
        ).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.tobytes())
        _GOLDEN_WAV_CACHE.append(buf.getvalue())
    return _GOLDEN_WAV_CACHE[0]


def perceptual_dedup_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pdhash, near_dup_cnt): the synthetic corpus through
    the REAL media_phash_kernel (sniff -> dhash64) and the banded
    pair generator, folded to a per-doc near-dup partner count.

    Scale: hashing is one narrow mapInPandas pass; the pair stage is
    the banded join (O(sum bucket^2), never all-pairs) and the count
    is a groupBy on its output — at 100 TB the quadratic term is
    bounded by the duplicate-cluster size, which is exactly the
    quantity a dedup pass exists to find."""
    from ..catalog import compute_parallelism

    # quarter-width fan-out, measured optimum at sf0.1 (0.46s vs 0.70s
    # single-task and 0.70s full-width): the synthetic gen+hash kernels
    # are light (~110us/row), so task/worker overhead dominates past a
    # few partitions. A lake-scale corpus with real image bytes arrives
    # pre-split by the scan and never takes this repartition.
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        max(2, compute_parallelism(spark) // 4)
    )
    hashes = docs.mapInPandas(synthetic_phash_kernel, schema=PHASH_SCHEMA)
    # Materialize the banded frame ONCE (lazy localCheckpoint) and hand
    # it to all three consumers (both pair-join sides + the pdhash
    # projection). Round 7: previously the static plan carried three
    # redundant gen+hash subtrees and only runtime ReuseExchange
    # collapsed them — the checkpoint makes the sharing static (the
    # exact tfidf_top_terms fix from round 5; at 100 TB this is the
    # "stage the fingerprint table" materialization, see llm/text.py
    # for the persist-vs-checkpoint A/B).
    bands = _banded(hashes).localCheckpoint(eager=False)
    pairs = image_near_dup_pairs(hashes, max_hamming=3, symmetric=True,
                                 bands=bands)
    cnt = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("near_dup_cnt"))
    )
    # pdhash comes from the SAME checkpointed banded frame the pair
    # join reads (band 0 slice, int64 back to canonical 16-hex), so the
    # synthetic gen+hash kernels run ONCE for the whole query instead
    # of once per consumer. Every synthetic payload decodes (all are
    # valid PPMs), so the band-0 slice covers every doc.
    hashes_hex = bands.where(F.col("band") == 0).select(
        "doc_id",
        F.lpad(F.lower(F.hex("_h")), 16, "0").alias("pdhash"),
    )
    return (
        hashes_hex.join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            "pdhash",
            F.coalesce("near_dup_cnt", F.lit(0)).alias("near_dup_cnt"),
        )
    )


def _ahash_hex() -> str:
    from . import codecs

    return f"{codecs.ahash64(_golden_wav()):016x}"


MULTIMODAL_DECODE_FEATURES_ORACLE = _MULTIMODAL_DECODE_FEATURES_ORACLE_T.format(
    golden_md5=_golden_media()[1],
    golden_bytes=_golden_media()[2],
    ahash_hex=_ahash_hex(),
)


QUERIES = [
    QuerySpec("multimodal_binary_profile", multimodal_binary_profile,
              MULTIMODAL_BINARY_PROFILE_ORACLE,
              "binary stats + chunk sampling per-asset profile"),
    QuerySpec("multimodal_decode_features", multimodal_decode_features_flat,
              MULTIMODAL_DECODE_FEATURES_ORACLE,
              "mapInPandas decode features, flattened + byte-stats oracle + perceptual dedup leg"),
]
