"""LoRaWAN codec queries (SURVEY.md §2A ops 13-14, 41-47).

Frames are synthesized deterministically from the ``events`` table
(dev_addr from user_id, FCnt from event_id, per-device keys =
md5('dev-<uid>')) so every query is reproducible.

Oracle strategy: the cheap byte-slicing extractors (the reference's
getMType/getCounter/getDevAddrFromMACPayload family,
lorawanwrapper/utils/lorawanWrapper.go:46-109) are pure wire-format
arithmetic — expressed in portable SQL and DuckDB-verified. The
crypto surface (CMAC MIC, session keys, FRMPayload encrypt) cannot be
expressed in SQL, so those queries are rows-only and their kernels are
pinned by tests/test_lorawan_codec.py (public LoRaWAN vector) and
tests/test_lorawan_udfs.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import compute_parallelism, load_table, spread
from ..portable_sql import hex_byte
from ..registry import QuerySpec
from .lorawan_udfs import (
    data_frame_roundtrip,
    decode_phypayload_for,
    derive_session_keys,
    encode_data_frame_b64,
    encode_join_request_b64,
    join_workflow_kernel,
    make_crack_udf,
    make_ja_crack_udf,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the codec/crypto Arrow UDFs are the expensive stage;
    # parallelize past the single-row-group test parquet.
    return spread(load_table(spark, sf_dir, "events"))


# --- op 42 family: wire-format field extraction (SQL-portable) -----------

# One SQL text valid in BOTH Spark SQL and DuckDB: frame hex assembled
# from events, then header fields sliced back out (display byte order
# for multi-byte fields is the reverse of wire little-endian).
_FIELD_EXTRACT_SQL = f"""
WITH f AS (
  SELECT event_id,
         printf('%08x', user_id) AS da,
         CASE WHEN event_id % 2 = 0 THEN 128 ELSE 0 END
           + CASE WHEN event_id % 4 = 1 THEN 32 ELSE 0 END AS fctrl_int,
         event_id % 65536 AS fcnt,
         user_id % 223 + 1 AS fport
  FROM events
  -- identity-less rows drop on BOTH engines (round-7 fuzz find: Spark
  -- printf renders a NULL arg as the 8-width string '    null' while
  -- DuckDB printf yields NULL — a frame without a device id is the
  -- reference's parse-reject case, ops 29-31)
  WHERE user_id IS NOT NULL
), frames AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN '40' ELSE '80' END
         || substr(da, 7, 2) || substr(da, 5, 2) || substr(da, 3, 2) || substr(da, 1, 2)
         || printf('%02x', fctrl_int)
         || substr(printf('%04x', fcnt), 3, 2) || substr(printf('%04x', fcnt), 1, 2)
         || printf('%02x', fport)
         || 'deadbeef' AS frame_hex
  FROM f
)
SELECT event_id, frame_hex,
       CASE WHEN {hex_byte("substr(frame_hex, 1, 2)")} >= 128 THEN 'ConfirmedDataUp'
            ELSE 'UnconfirmedDataUp' END AS m_type,
       substr(frame_hex, 9, 2) || substr(frame_hex, 7, 2)
         || substr(frame_hex, 5, 2) || substr(frame_hex, 3, 2) AS dev_addr,
       {hex_byte("substr(frame_hex, 11, 2)")} % 256 >= 128 AS adr,
       {hex_byte("substr(frame_hex, 11, 2)")} % 64 >= 32 AS ack,
       CAST({hex_byte("substr(frame_hex, 11, 2)")} % 16 AS INTEGER) AS fopts_len,
       CAST({hex_byte("substr(frame_hex, 15, 2)")} * 256
         + {hex_byte("substr(frame_hex, 13, 2)")} AS INTEGER) AS f_count,
       CAST({hex_byte("substr(frame_hex, 17, 2)")} AS INTEGER) AS f_port
FROM frames
"""


def lorawan_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    _events(spark, sf_dir).createOrReplaceTempView("events")
    return spark.sql(_FIELD_EXTRACT_SQL)


# --- per-device deterministic key material -------------------------------


def _keyed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        "user_id",
        F.md5(F.format_string("dev-%d", F.col("user_id"))).alias("key_hex"),
        F.format_string("%08x", F.col("user_id")).alias("dev_addr"),
        (F.col("event_id") % 65536).alias("f_cnt"),
        (F.col("user_id") % 223 + 1).cast("int").alias("f_port"),
        F.coalesce(F.col("props"), F.lit("")).alias("payload_text"),
    )


# DuckDB oracle for the roundtrip: the Spark side performs the real
# encode -> FRMPayload decrypt -> in-parse CMAC MIC -> MAC re-marshal;
# every output column is a roundtrip INVARIANT whose expected value is
# derivable from `events` alone (the pipeline_* golden-constant
# pattern, streaming/pipeline_queries.py). The crypto kernels stay
# pinned by tests/test_lorawan_codec.py (public LoRaWAN vector); this
# oracle proves the full-frame identity holds on every event row:
# decode(encode(fields)) == fields, mic_ok, and marshal/parse of the
# deterministic MAC-command mix are byte inverses.
_DECODE_ROUNDTRIP_ORACLE = """
SELECT event_id,
       'UnconfirmedDataUp' AS m_type,
       printf('%08x', user_id) AS dev_addr,
       event_id % 65536 AS f_count,
       CAST(user_id % 223 + 1 AS INTEGER) AS f_port,
       CASE WHEN props IS NULL OR props = '' THEN NULL
            ELSE props END AS payload_text,
       CASE WHEN event_id % 3 = 1
              THEN '[{"cid":"LinkADRAns","payload":"07"}]'
            WHEN event_id % 3 = 2
              THEN '[{"cid":"DevStatusAns","payload":"ff1f"},{"cid":"LinkCheckReq","payload":""}]'
       END AS mac_json,
       CASE WHEN event_id % 3 = 1 THEN '0307'
            WHEN event_id % 3 = 2 THEN '06ff1f02' END AS fopts_hex,
       CASE WHEN event_id % 3 <> 0 THEN true END AS fopts_roundtrip_ok,
       true AS mic_ok,
       CAST(NULL AS VARCHAR) AS error
FROM events
WHERE user_id IS NOT NULL
"""


def lorawan_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 13/41/47 end-to-end: encode a data frame per event (Arrow
    batch UDF) — including JSON-shaped MAC commands marshalled into
    FHDR.fOpts (jsonUnmarshaler.go:76-182 leg) — decode it back with
    FRMPayload decrypt, validate the MIC, and re-marshal the parsed
    MAC commands asserting byte identity. Oracled via roundtrip
    invariants (_DECODE_ROUNDTRIP_ORACLE).

    NULL user_id rows drop on both sides (round-7 fuzz find): a frame
    has no device identity to encode — Spark format_string would
    otherwise bake the literal string 'null' into key/dev_addr where
    DuckDB printf NULLs the whole column."""
    ev = _keyed_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    # Deterministic uplink MAC-command mix: empty / LinkADRAns /
    # DevStatusAns+LinkCheckReq — exercises 0-, 1- and 2-command
    # fOpts and multi-byte payloads.
    mac = (
        F.when(F.col("event_id") % 3 == 1,
               F.lit('[{"cid":"LinkADRAns","payload":"07"}]'))
        .when(F.col("event_id") % 3 == 2,
              F.lit('[{"cid":"DevStatusAns","payload":"ff1f"},'
                    '{"cid":"LinkCheckReq"}]'))
    )
    # Fused kernel (round 6): encode -> keyed decode (MIC in-parse) ->
    # MAC re-marshal assertion in ONE Arrow crossing. The previous
    # three dependent ArrowEvalPython stages were serialization-bound
    # (each one round-trips every row's struct between JVM and
    # Python); the constituent ops remain separately plan-labeled in
    # the pipeline/scalar-chain queries.
    parsed = ev.withColumn(
        "p",
        data_frame_roundtrip(
            "key_hex", "dev_addr", "f_cnt", "payload_text", "f_port", mac
        ),
    )
    return parsed.select(
        "event_id",
        F.col("p.m_type").alias("m_type"),
        F.col("p.dev_addr").alias("dev_addr"),
        F.col("p.f_count").alias("f_count"),
        F.col("p.f_port").alias("f_port"),
        # decrypted payload back to text proves the crypt round trip
        F.expr("cast(unhex(p.frm_payload) AS string)").alias("payload_text"),
        F.col("p.f_opts").alias("mac_json"),
        F.col("p.fopts_hex").alias("fopts_hex"),
        F.col("p.fopts_roundtrip_ok").alias("fopts_roundtrip_ok"),
        F.col("p.mic_ok").alias("mic_ok"),
        F.col("p.error").alias("error"),
    )


def lorawan_join_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ops 43-44: JoinRequest encode/parse + session-key derivation for
    every signup event (the reference's /join handling,
    LoraServerIOCollector.py:285-304). Rows-only."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "signup")
    ev = ev.select(
        "event_id",
        "user_id",
        F.md5(F.format_string("app-%d", F.col("user_id") % 8)).alias("app_key"),
        F.format_string("%016x", F.col("user_id")).alias("dev_eui"),
        F.format_string("%016x", F.col("user_id") + 1000000).alias("join_eui"),
        (F.col("event_id") % 65536).alias("dev_nonce"),
    )
    framed = ev.withColumn(
        "jr_b64", encode_join_request_b64("app_key", "join_eui", "dev_eui", "dev_nonce")
    )
    # app_key in the app_s_key slot: for JoinRequest frames the decode
    # UDF uses it as the AppKey to validate the MIC in-parse (no
    # second MIC pass)
    parsed = framed.withColumn(
        "p",
        decode_phypayload_for(("m_type", "join_eui", "dev_eui", "dev_nonce", "mic_ok"))(
            "jr_b64", "app_key", F.lit(None).cast("string")
        ),
    ).withColumn(
        "keys",
        derive_session_keys(
            "app_key", F.lit("010203"), F.lit("130000"), "dev_nonce"
        ),
    )
    return parsed.select(
        "event_id",
        F.col("p.m_type").alias("m_type"),
        F.col("p.join_eui").alias("join_eui"),
        F.col("p.dev_eui").alias("dev_eui"),
        F.col("p.dev_nonce").alias("dev_nonce"),
        F.col("keys.nwk_s_key").alias("nwk_s_key"),
        F.col("keys.app_s_key").alias("app_s_key"),
        F.col("p.mic_ok").alias("mic_ok"),
    )


def reference_keyspaces(spark: SparkSession, per_family: int = 65536) -> DataFrame:
    """The reference's three structured brute-force key families
    (lorawanWrapper.go:283-358), generated in-plan — byte-for-byte the
    keys its (i, j) double loop constructs, as (family, cand_key hex):

    - key1: byte0 = i, bytes1..15 = j
    - key2: even byte positions = i, odd positions = j
    - key3: bytes0..13 = 0, byte14 = i, byte15 = j

    ``per_family`` walks the same (i outer, j inner) order the Go loop
    does: id = i*256 + j, so per_family=65536 is the full keyspace and
    smaller values are exact prefixes of the reference enumeration.
    The reference early-exits on the first hit; a set engine computes
    the (tiny broadcast) relation once and filters — same keys tested,
    different control flow."""
    r = spark.range(per_family)
    i_hex = F.lpad(F.lower(F.hex(F.shiftright(F.col("id"), 8))), 2, "0")
    j_hex = F.lpad(F.lower(F.hex(F.col("id") % 256)), 2, "0")
    k1 = r.select(
        F.lit(1).alias("family"),
        F.concat(i_hex, F.repeat(j_hex, 15)).alias("cand_key"),
    )
    k2 = r.select(
        F.lit(2).alias("family"),
        F.repeat(F.concat(i_hex, j_hex), 8).alias("cand_key"),
    )
    k3 = r.select(
        F.lit(3).alias("family"),
        F.concat(F.lit("00" * 14), i_hex, j_hex).alias("cand_key"),
    )
    return k1.unionByName(k2).unionByName(k3)


# Bench-friendly default; the full reference sweep is 65536/family
# (SPARK_GRAFT_BRUTE_KEYS=65536). With the broadcast-frame-sample
# kernel (keys-only Arrow crossing + stage-vectorized CMAC batch) the
# sweep sustains ~12M MIC checks/s on local[32] (measured at
# 8192/family: 26M checks in 2.2 s; the round-6 cross-join form
# measured 2.4M/s on the same workload), putting the full 203M-check
# reference sweep at ~17 s locally — and the keyspace is the
# partitioned side, so a cluster scales it linearly.
BRUTE_KEYS_PER_FAMILY = int(os.environ.get("SPARK_GRAFT_BRUTE_KEYS", "16"))


# Per-session memo of the prebuilt frame sample: the bounded sample a
# sweep runs against is a fixed artifact of the corpus (like the
# dedup history bloom or the IVF codebook), so it is materialized once
# per input identity — content-keyed on the events parquet files +
# mtimes so an in-place regeneration invalidates it.
_FRAME_SAMPLE_CACHE: dict[tuple, list[tuple]] = {}


def _frame_sample(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """(event_id, user_id, cmac_input, mic_trailer) for the bounded
    frame sample (event_id % 97) — the key-independent half of MIC
    validation, prebuilt once per frame (mic_cmac_input) so the sweep
    kernel only pays CMAC per (key, frame)."""
    from ..catalog import content_identity
    from . import lorawan_codec as lc

    ev = load_table(spark, sf_dir, "events")
    key = content_identity(sf_dir, ev)
    sample = _FRAME_SAMPLE_CACHE.get(key)
    if sample is None:
        for stale in [k for k in _FRAME_SAMPLE_CACHE if k[0] == sf_dir]:
            del _FRAME_SAMPLE_CACHE[stale]
        frames = (
            _keyed_events(spark, sf_dir)
            .filter(F.col("event_id") % 97 == 0)  # bounded sample
            .withColumn(
                "data",
                encode_data_frame_b64(
                    "key_hex", "dev_addr", "f_cnt", "payload_text", "f_port",
                    F.lit(None).cast("string"),
                ),
            )
            .select("event_id", "user_id", "data")
        )
        sample = []
        for r in frames.collect():  # bounded: |events| / 97 rows
            built = lc.mic_cmac_input_b64(r.data) if r.data is not None else None
            if built is None:
                continue
            sample.append((r.event_id, r.user_id, built[0], built[1]))
        _FRAME_SAMPLE_CACHE[key] = sample
    return sample


def lorawan_key_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 46: the reference's structured keyspaces (exact byte
    construction, see reference_keyspaces) swept against a bounded
    frame sample, MIC-checked per (key, frame), survivors kept. The
    true per-device key is planted in the candidate set so the query
    provably cracks. Rows-only.

    Shape: the generated keyspace stays the DISTRIBUTED side (3 x 65k
    structured keys, a spark.range plan that partitions freely at any
    scale); the bounded frame sample moves once per executor as a
    Spark broadcast — the same relation the previous cross-join form
    already broadcast, minus the |keyspace| x |frames| Arrow crossing
    that an isolated no-op-UDF A/B measured at ~80% of the leg's cost
    (make_crack_udf docstring). Each candidate key arrives once, runs
    the stage-vectorized aes_cmac_batch over the whole sample, and
    only survivors cross back."""
    sample = _frame_sample(spark, sf_dir)
    crack = make_crack_udf(spark, sample)
    true_keys = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .where(F.col("user_id").isNotNull())
        .select(
            F.md5(F.format_string("dev-%d", F.col("user_id"))).alias("cand_key")
        )
        .distinct()
    )
    # CPU fan-out, decoupled from exchange width (catalog helper).
    n_par = compute_parallelism(spark)
    candidates = (
        reference_keyspaces(spark, BRUTE_KEYS_PER_FAMILY)
        .select("cand_key")
        .unionByName(true_keys)
        .distinct()
        # The candidate relation is tiny in rows but each row fans out
        # to |frame sample| MIC checks; AQE coalesces the post-distinct
        # shuffle to one partition and would serialize the whole sweep
        # — spread candidates across the cores explicitly.
        .repartition(n_par)
    )
    hits = candidates.select(
        "cand_key", F.explode(crack("cand_key")).alias("_hit")
    )
    return hits.select(
        F.col("_hit.event_id").alias("event_id"),
        F.col("_hit.user_id").alias("user_id"),
        F.col("cand_key").alias("cracked_key"),
        # self-verification: the planted true key must be among the
        # survivors for every frame (tests/test_lorawan_udfs.py
        # asserts per-frame coverage); carrying the flag in-row
        # makes the rows-only driver record self-describing.
        (
            F.col("cand_key")
            == F.md5(F.format_string("dev-%d", F.col("_hit.user_id")))
        ).alias("is_true_key"),
    )


# --- op 46, JoinAccept side (testAppKeysWithJoinAccept) ------------------

# Per-session memo of the prebuilt JoinAccept sample (the
# _FRAME_SAMPLE_CACHE convention: content-keyed on the events parquet
# identity so an in-place regeneration invalidates it).
_JA_SAMPLE_CACHE: dict[tuple, list[tuple]] = {}

# Fixed NetID for the synthesized JoinAccepts (any 3 bytes work — the
# crack never reads it; it only affects the ciphertext bytes).
_JA_NET_ID = b"\x13\x00\x00"


def _ja_frame_sample(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """(event_id, user_id, mhdr, encrypted_body) for the bounded
    JoinAccept sample: one JA per sampled signup event (event_id %
    97), server-encrypted under the planted per-app key
    md5('app-<uid%8>') with AppNonce = event_id % 2^24. The split is
    the key-independent half of JA key testing
    (lorawan_codec.ja_crack_prep); the sweep kernel pays only
    decrypt + re-MIC per (key, frame)."""
    from ..catalog import content_identity
    from . import lorawan_codec as lc

    ev = load_table(spark, sf_dir, "events")
    key = content_identity(sf_dir, ev)
    sample = _JA_SAMPLE_CACHE.get(key)
    if sample is None:
        for stale in [k for k in _JA_SAMPLE_CACHE if k[0] == sf_dir]:
            del _JA_SAMPLE_CACHE[stale]
        rows = (
            ev.filter(
                (F.col("event_type") == "signup") & (F.col("event_id") % 97 == 0)
            )
            .select("event_id", "user_id")
            .collect()  # bounded: signup ∩ (event_id % 97) — 200 rows at sf0.1
        )
        sample = []
        for r in rows:
            app_key = _true_app_key_bytes(r.user_id)
            frame = lc.encode_join_accept(
                app_key,
                (r.event_id % (1 << 24)).to_bytes(3, "little"),
                _JA_NET_ID,
                "%08x" % r.user_id,
            )
            mhdr, enc_body = lc.ja_crack_prep(frame)
            sample.append((r.event_id, r.user_id, mhdr, enc_body))
        _JA_SAMPLE_CACHE[key] = sample
    return sample


def _true_app_key_bytes(user_id: int) -> bytes:
    """The suite's planted per-app AppKey (md5('app-<uid%8>') — the
    same key material the join_workflow leg derives sessions from)."""
    import hashlib

    return hashlib.md5(b"app-%d" % (user_id % 8)).digest()


def lorawan_ja_crack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 46, JoinAccept side: testAppKeysWithJoinAccept
    (lorawanWrapper.go:388-504) — decrypt each JoinAccept with every
    candidate key, re-MIC the decrypted payload, survivors = keys
    whose recomputed MIC matches the decrypted trailer. The
    ``generateKeys`` option's structured sweep is the same three
    keyspaces the JR/data sweep uses (reference_keyspaces, exact byte
    construction), so the candidate relation is shared; the true
    per-app keys are planted so the query provably cracks.

    Same distribution shape as lorawan_key_bruteforce: keyspace =
    the distributed side (partitions freely at any scale), bounded
    JoinAccept sample broadcast once per executor, survivors-only
    Arrow return."""
    sample = _ja_frame_sample(spark, sf_dir)
    crack = make_ja_crack_udf(spark, sample)
    true_keys = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "signup") & (F.col("event_id") % 97 == 0))
        .select(
            F.md5(F.format_string("app-%d", F.col("user_id") % 8)).alias("cand_key")
        )
        .distinct()
    )
    n_par = compute_parallelism(spark)
    candidates = (
        reference_keyspaces(spark, BRUTE_KEYS_PER_FAMILY)
        .select("cand_key")
        .unionByName(true_keys)
        .distinct()
        # same AQE note as lorawan_key_bruteforce: candidates are tiny
        # in rows but fan out to |sample| decrypt+MIC checks each —
        # spread them across the cores explicitly.
        .repartition(n_par)
    )
    hits = candidates.select(
        "cand_key", F.explode(crack("cand_key")).alias("_hit")
    )
    return hits.select(
        F.col("_hit.event_id").alias("event_id"),
        F.col("_hit.user_id").alias("user_id"),
        F.col("cand_key").alias("cracked_key"),
        (
            F.col("cand_key")
            == F.md5(F.format_string("app-%d", F.col("_hit.user_id") % 8))
        ).alias("is_true_key"),
    )


def lorawan_crack_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bruteforce + ja_crack legs fused into ONE stage chain
    (round 13; a per-leg breakdown, SURVEY.md round-13 notes,
    measured each standalone leg at
    ~0.5 s, of which ~0.45 s was candidate-relation build + stage
    scheduling floor, not crypto — two independent chains paid that
    floor twice). One shared candidate relation (structured keyspace
    ∪ planted dev keys ∪ planted app keys — supersets of each leg's
    set; a key from the OTHER family passing a 2^-32/check MIC or
    decrypt->re-MIC test is the same astronomical accident the
    existing keyspace union already accepts), both crack UDFs
    evaluated in a single ArrowEvalPython pass, survivors tagged by
    stage in one explode. Output rows are identical to the two
    standalone legs' union (pinned by tests and the suite oracle)."""
    sample = _frame_sample(spark, sf_dir)
    crack = make_crack_udf(spark, sample)
    ja_sample = _ja_frame_sample(spark, sf_dir)
    ja_crack = make_ja_crack_udf(spark, ja_sample)
    ev = load_table(spark, sf_dir, "events")
    true_dev = (
        ev.filter(F.col("event_id") % 97 == 0)
        .where(F.col("user_id").isNotNull())
        .select(
            F.md5(F.format_string("dev-%d", F.col("user_id"))).alias("cand_key")
        )
    )
    true_app = ev.filter(
        (F.col("event_type") == "signup") & (F.col("event_id") % 97 == 0)
    ).select(
        F.md5(F.format_string("app-%d", F.col("user_id") % 8)).alias("cand_key")
    )
    n_par = compute_parallelism(spark)
    candidates = (
        reference_keyspaces(spark, BRUTE_KEYS_PER_FAMILY)
        .select("cand_key")
        .unionByName(true_dev)
        .unionByName(true_app)
        .distinct()
        # same AQE note as lorawan_key_bruteforce: spread the tiny
        # candidate relation so the per-key fan-out parallelizes
        .repartition(n_par)
    )

    def _tag(stage: str):
        return lambda h: F.struct(
            F.lit(stage).alias("stage"),
            h["event_id"].alias("event_id"),
            h["user_id"].alias("user_id"),
        )

    hits = candidates.select(
        "cand_key",
        F.explode(
            F.concat(
                F.transform(crack("cand_key"), _tag("bruteforce")),
                F.transform(ja_crack("cand_key"), _tag("ja_crack")),
            )
        ).alias("_hit"),
    )
    return hits.select(
        F.col("_hit.event_id").alias("event_id"),
        F.col("_hit.user_id").alias("user_id"),
        F.col("cand_key").alias("cracked_key"),
        F.when(
            F.col("_hit.stage") == "bruteforce",
            F.col("cand_key")
            == F.md5(F.format_string("dev-%d", F.col("_hit.user_id"))),
        ).otherwise(
            F.col("cand_key")
            == F.md5(F.format_string("app-%d", F.col("_hit.user_id") % 8))
        ).alias("is_true_key"),
        F.col("_hit.stage").alias("stage"),
    )


# DuckDB oracle for the suite: like _DECODE_ROUNDTRIP_ORACLE, every
# registered column is an invariant derivable from `events`. The jw
# leg's JoinRequest fields roundtrip through encode->parse, its MIC
# validates under the AppKey, and a data frame encoded under the
# DERIVED nwk session key must decode with mic_ok + payload identity
# (session_roundtrip_ok) — so the AES key-derivation output is
# exercised end-to-end, not just emitted. The bruteforce survivors are
# exactly the planted per-device true keys (md5('dev-<uid>')), which
# DuckDB computes directly. Raw session-key values stay on the
# unregistered component (lorawan_join_workflow) and are pinned
# against the public LoRaWAN vector in tests/test_lorawan_codec.py.
_SECURITY_SUITE_ORACLE = """
WITH jw AS (
  SELECT event_id, user_id,
         'JoinRequest' AS m_type,
         printf('%016x', user_id + 1000000) AS join_eui,
         printf('%016x', user_id) AS dev_eui,
         event_id % 65536 AS dev_nonce,
         true AS mic_ok,
         true AS keys_distinct_ok,
         true AS session_roundtrip_ok,
         'join_workflow' AS stage,
         CAST(NULL AS VARCHAR) AS cracked_key,
         CAST(NULL AS BOOLEAN) AS is_true_key
  FROM events WHERE event_type = 'signup'
), bf AS (
  SELECT event_id, user_id,
         CAST(NULL AS VARCHAR) AS m_type,
         CAST(NULL AS VARCHAR) AS join_eui,
         CAST(NULL AS VARCHAR) AS dev_eui,
         CAST(NULL AS BIGINT) AS dev_nonce,
         CAST(NULL AS BOOLEAN) AS mic_ok,
         CAST(NULL AS BOOLEAN) AS keys_distinct_ok,
         CAST(NULL AS BOOLEAN) AS session_roundtrip_ok,
         'bruteforce' AS stage,
         md5('dev-' || CAST(user_id AS VARCHAR)) AS cracked_key,
         true AS is_true_key
  FROM events WHERE event_id % 97 = 0
), ja AS (
  -- JoinAccept-side sweep survivors: exactly the planted per-app
  -- AppKeys (md5('app-<uid%8>')), one row per sampled signup JA —
  -- a structured-keyspace candidate passing the decrypt->re-MIC
  -- check is a 2^-32 accident the hash compare would catch.
  SELECT event_id, user_id,
         CAST(NULL AS VARCHAR) AS m_type,
         CAST(NULL AS VARCHAR) AS join_eui,
         CAST(NULL AS VARCHAR) AS dev_eui,
         CAST(NULL AS BIGINT) AS dev_nonce,
         CAST(NULL AS BOOLEAN) AS mic_ok,
         CAST(NULL AS BOOLEAN) AS keys_distinct_ok,
         CAST(NULL AS BOOLEAN) AS session_roundtrip_ok,
         'ja_crack' AS stage,
         md5('app-' || CAST(user_id % 8 AS VARCHAR)) AS cracked_key,
         true AS is_true_key
  FROM events WHERE event_type = 'signup' AND event_id % 97 = 0
)
SELECT * FROM jw UNION ALL SELECT * FROM bf UNION ALL SELECT * FROM ja
"""


def security_suite_legs(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The three suite legs as separate DataFrames, each timeable on
    its own (the round-13 per-leg breakdown, VERDICT r12 item 2);
    lorawan_security_suite unions them."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "signup")
    ev = ev.select(
        "event_id",
        "user_id",
        F.md5(F.format_string("app-%d", F.col("user_id") % 8)).alias("app_key"),
        F.format_string("%016x", F.col("user_id")).alias("dev_eui"),
        F.format_string("%016x", F.col("user_id") + 1000000).alias("join_eui"),
        (F.col("event_id") % 65536).alias("dev_nonce"),
        F.format_string("%08x", F.col("user_id")).alias("dev_addr"),
        (F.col("user_id") % 223 + 1).cast("int").alias("f_port"),
        F.coalesce(F.col("props"), F.lit("")).alias("payload_text"),
    )
    # Round-6 fusion: the encode -> parse -> derive-keys -> session
    # encode -> session decode chain ran as FIVE dependent
    # ArrowEvalPython stages, each a full struct round trip of every
    # signup row between the JVM and Python; join_workflow_kernel is
    # the same computation in ONE crossing (per-AppKey crypto still
    # batched inside). The constituent UDFs keep their standalone
    # coverage in the roundtrip/pipeline queries and
    # tests/test_lorawan_udfs.py.
    w = ev.withColumn(
        "w",
        join_workflow_kernel(
            "app_key", "join_eui", "dev_eui", "dev_nonce",
            "dev_addr", "f_port", "payload_text",
        ),
    )
    jw = w.select(
        "event_id",
        "user_id",
        F.col("w.m_type").alias("m_type"),
        F.col("w.join_eui").alias("join_eui"),
        F.col("w.dev_eui").alias("dev_eui"),
        F.col("w.dev_nonce").alias("dev_nonce"),
        F.col("w.mic_ok").alias("mic_ok"),
        F.col("w.keys_distinct_ok").alias("keys_distinct_ok"),
        F.col("w.session_roundtrip_ok").alias("session_roundtrip_ok"),
        F.lit("join_workflow").alias("stage"),
    )
    bf = lorawan_key_bruteforce(spark, sf_dir).withColumn("stage", F.lit("bruteforce"))
    ja = lorawan_ja_crack(spark, sf_dir).withColumn("stage", F.lit("ja_crack"))
    return {
        "join_workflow": jw,
        "bruteforce": bf,
        "ja_crack": ja,
        "crack_combined": lorawan_crack_combined(spark, sf_dir),
    }


def lorawan_security_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 43-44 + 46 (both sides) as one tagged union (registry
    consolidation): the JoinRequest parse + session-key derivation
    rows tagged ``join_workflow``, the keyspace-cross-frame MIC
    bruteforce survivors tagged ``bruteforce``, and the
    JoinAccept-side decrypt->re-MIC sweep survivors
    (testAppKeysWithJoinAccept, lorawanWrapper.go:388-504) tagged
    ``ja_crack``, null-padded to the union schema. The two crack legs
    run FUSED (lorawan_crack_combined — one candidate relation, both
    kernels in one Arrow pass; round-13 floor shave), row-identical
    to the standalone legs' union.
    Registered columns are roundtrip invariants so the whole suite is
    hash-oracled (_SECURITY_SUITE_ORACLE); the raw-key component
    builders above keep the standalone semantics for tests
    (tests/test_lorawan_udfs.py)."""
    legs = security_suite_legs(spark, sf_dir)
    return legs["join_workflow"].unionByName(
        legs["crack_combined"], allowMissingColumns=True
    )


QUERIES = [
    QuerySpec("lorawan_field_extract", lorawan_field_extract, _FIELD_EXTRACT_SQL,
              "op 42 wire-format field slicing (portable SQL)"),
    QuerySpec("lorawan_decode_roundtrip", lorawan_decode_roundtrip,
              _DECODE_ROUNDTRIP_ORACLE,
              "ops 13/41/45/47 encode->decode->MIC round trip"),
    QuerySpec("lorawan_security_suite", lorawan_security_suite,
              _SECURITY_SUITE_ORACLE,
              "ops 43-44,46: join parse + session keys + keyspace MIC "
              "bruteforce + JoinAccept decrypt->re-MIC sweep"),
]
