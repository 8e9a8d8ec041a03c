"""Arrow-vectorized pandas UDFs wrapping the LoRaWAN codec.

The reference calls its Go shared library once per message through
ctypes (LorawanWrapper.py:11-19); here the codec runs per Arrow batch
— columns in, columns out — which is the Spark-native replacement for
that per-record native call (SURVEY.md §4).
"""

from __future__ import annotations

import base64

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import lorawan_codec as lc

PARSED_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("m_type", T.StringType()),
        T.StructField("major", T.StringType()),
        T.StructField("mic", T.StringType()),
        T.StructField("join_eui", T.StringType()),
        T.StructField("dev_eui", T.StringType()),
        T.StructField("dev_nonce", T.IntegerType()),
        T.StructField("dev_addr", T.StringType()),
        T.StructField("adr", T.BooleanType()),
        T.StructField("ack", T.BooleanType()),
        T.StructField("adr_ack_req", T.BooleanType()),
        T.StructField("f_pending", T.BooleanType()),
        T.StructField("class_b", T.BooleanType()),
        T.StructField("f_count", T.LongType()),
        T.StructField("f_opts", T.StringType()),
        T.StructField("f_port", T.IntegerType()),
        T.StructField("frm_payload", T.StringType()),
        T.StructField("mic_ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)

_FIELDS = [f.name for f in PARSED_FRAME_SCHEMA.fields]


def decode_phypayload_for(fields: tuple[str, ...]):
    """Column-pruned decode variant: same body as ``decode_phypayload``
    (see ``_decode_pruned``) but the UDF's return struct carries ONLY the
    requested fields. Catalyst's nested-schema pruning cannot reach
    inside a Python UDF — the full 18-field struct is built and
    Arrow-serialized per row even when the consumer projects two fields
    — so the pruning happens here, at UDF-construction time (measured
    ~2x on the UDF stage for a 2-field projection at sf0.1). Field
    order follows ``PARSED_FRAME_SCHEMA`` regardless of request order."""
    want = set(fields)
    unknown = want - set(_FIELDS)
    if unknown:
        raise ValueError(f"unknown parse fields: {sorted(unknown)}")
    return _decode_pruned(tuple(f for f in _FIELDS if f in want))


def _decode_pruned(fields: tuple[str, ...]):
    udf = _PRUNED_CACHE.get(fields)
    if udf is None:
        schema = T.StructType([PARSED_FRAME_SCHEMA[f] for f in fields])

        # The function name is the ArrowEvalPython label in .explain(),
        # and plan tests (and humans) look for "decode_phypayload" there.
        @F.pandas_udf(schema)
        def decode_phypayload(
            data_b64: pd.Series, app_s_key: pd.Series, nwk_s_key: pd.Series
        ) -> pd.DataFrame:
            """printPHYPayload equivalent (op 41): base64 frame -> parsed
            struct, optional FRMPayload decrypt when keys are provided.

            Columnar batch build (dict of per-field lists, not list of
            row dicts): this UDF sits on the hot path of every normalize
            pipeline, and the row-oriented construction dominated its
            profile.

            Per-batch memo on (frame, keys): parsing is pure, and real
            LoRaWAN traffic repeats frames heavily (confirmed-uplink
            retransmissions, periodic sensors, multi-gateway receptions
            of the same airtime frame — the reference dedups those
            downstream, LoraServerIO rx_info fan-out). Distinct frames
            cost one dict probe extra; repeated frames skip the parse +
            crypto entirely."""
            cols: dict[str, list] = {f: [] for f in fields}
            appends = [cols[f].append for f in fields]
            memo: dict[tuple, tuple] = {}
            null_row = (None,) * len(fields)
            for b64, ak, nk in zip(data_b64, app_s_key, nwk_s_key):
                if b64 is None:
                    row = null_row
                else:
                    k = (b64, ak, nk)
                    row = memo.get(k)
                    if row is None:
                        p = lc.parse_phypayload_b64(b64, ak or None, nk or None)
                        row = tuple(getattr(p, f) for f in fields)
                        memo[k] = row
                for ap, v in zip(appends, row):
                    ap(v)
            return pd.DataFrame(cols, columns=list(fields))

        udf = _PRUNED_CACHE[fields] = decode_phypayload
    return udf


_PRUNED_CACHE: dict[tuple, object] = {}

# The full 18-field decode (op 41).
decode_phypayload = _decode_pruned(tuple(_FIELDS))


@F.pandas_udf(T.StringType())
def encode_data_frame_b64(
    nwk_s_key: pd.Series,
    dev_addr: pd.Series,
    f_cnt: pd.Series,
    payload: pd.Series,
    f_port: pd.Series,
    f_opts_json: pd.Series,
) -> pd.Series:
    """Inverse codec (op 47): fields -> base64 frame. ``f_opts_json``
    is a JSON list of ``{"cid": name, "payload": hex}`` MAC commands
    (the reference's jsonUnmarshaler.go:76-182 shape), marshalled into
    FHDR.fOpts via the name->CID table; null/empty -> no fOpts."""
    import json as _json

    out = []
    for nk, da, fc, pl, fp, fo in zip(
        nwk_s_key, dev_addr, f_cnt, payload, f_port, f_opts_json
    ):
        cmds = _json.loads(fo) if fo else []
        raw = lc.encode_data_frame(
            bytes.fromhex(nk), da, int(fc), (pl or "").encode(),
            f_port=int(fp), f_opts=cmds,
        )
        out.append(base64.b64encode(raw).decode())
    return pd.Series(out)


def _mac_roundtrip_cell(js: str | None, uplink: bool):
    """(fopts_hex, roundtrip_ok) for one decoded f_opts JSON value, as
    the fused data_frame_roundtrip kernel checks it."""
    import json as _json

    if js is None:
        return None, None
    try:
        cmds = _json.loads(js)
        raw = lc.marshal_mac_commands(cmds, uplink)
        return raw.hex(), lc.parse_mac_commands(raw, uplink) == cmds
    except (ValueError, KeyError):
        return None, False


DATA_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("m_type", T.StringType()),
        T.StructField("dev_addr", T.StringType()),
        T.StructField("f_count", T.LongType()),
        T.StructField("f_port", T.IntegerType()),
        T.StructField("frm_payload", T.StringType()),
        T.StructField("f_opts", T.StringType()),
        T.StructField("fopts_hex", T.StringType()),
        T.StructField("fopts_roundtrip_ok", T.BooleanType()),
        T.StructField("mic_ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)

_RT_FIELDS = [f.name for f in DATA_ROUNDTRIP_SCHEMA.fields]


@F.pandas_udf(DATA_ROUNDTRIP_SCHEMA)
def data_frame_roundtrip(
    nwk_s_key: pd.Series,
    dev_addr: pd.Series,
    f_cnt: pd.Series,
    payload: pd.Series,
    f_port: pd.Series,
    f_opts_json: pd.Series,
) -> pd.DataFrame:
    """Fused ops 13/41/47 kernel: encode_data_frame -> parse (with
    FRMPayload decrypt + in-parse MIC) -> MAC-command re-marshal
    assertion, all inside ONE Arrow crossing. The unfused form
    (encode UDF -> decode UDF -> mac UDF) is three dependent
    ArrowEvalPython stages — each one a full serialize/deserialize of
    every row's struct between the JVM and Python — and the measured
    stage cost at sf0.1 was serialization-, not crypto-, bound. The
    constituent codec ops stay individually exercised (and plan-
    labeled) by the pipeline and scalar-chain queries; this kernel is
    the roundtrip PROOF path, where only the fused output matters."""
    import json as _json

    # Per-batch memos: device traffic repeats keys and carries a small
    # MAC-command vocabulary, so hex->bytes key decode, input-JSON
    # marshal, and the f_opts re-marshal assertion are all
    # memoizable per distinct value instead of paid per row (round 9:
    # the no-op-kernel diagnostic put the crossing floor at ~0.6 s and
    # the kernel interior at ~0.35 s at sf0.1 — these memos plus the
    # int-XOR scalar CMAC cut the interior, the only lever left).
    key_memo: dict = {}
    marshal_memo: dict = {}
    rt_memo: dict = {}

    cols: dict[str, list] = {f: [] for f in _RT_FIELDS}
    for kh, da, fc, pl, fp, fo in zip(
        nwk_s_key, dev_addr, f_cnt, payload, f_port, f_opts_json
    ):
        key = key_memo.get(kh)
        if key is None:
            key = key_memo[kh] = bytes.fromhex(kh)
        fob = marshal_memo.get(fo)
        if fob is None:
            fob = marshal_memo[fo] = (
                lc.marshal_mac_commands(_json.loads(fo), True) if fo else b""
            )
        raw = lc.encode_data_frame(
            key, da, int(fc), (pl or "").encode(), f_port=int(fp), f_opts=fob
        )
        p = lc.parse_phypayload(raw, key, key)
        cell = rt_memo.get(p.f_opts)
        if cell is None:
            cell = rt_memo[p.f_opts] = _mac_roundtrip_cell(p.f_opts, True)
        fopts_hex, fopts_ok = cell
        cols["m_type"].append(p.m_type)
        cols["dev_addr"].append(p.dev_addr)
        cols["f_count"].append(p.f_count)
        cols["f_port"].append(p.f_port)
        cols["frm_payload"].append(p.frm_payload)
        cols["f_opts"].append(p.f_opts)
        cols["fopts_hex"].append(fopts_hex)
        cols["fopts_roundtrip_ok"].append(fopts_ok)
        cols["mic_ok"].append(p.mic_ok)
        cols["error"].append(p.error)
    return pd.DataFrame(cols, columns=_RT_FIELDS)


@F.pandas_udf(T.StringType())
def encode_join_request_b64(
    app_key: pd.Series, join_eui: pd.Series, dev_eui: pd.Series, dev_nonce: pd.Series
) -> pd.Series:
    """Rows grouped by AppKey inside the batch so the JoinRequest MICs
    run through the stage-vectorized aes_cmac_batch (one ECB call per
    block stage per key, not per frame) — the signup workload has few
    distinct AppKeys and many frames, the exact shape the batch kernel
    exploits."""
    out: list = [None] * len(app_key)
    by_key: dict[str, tuple[list[int], list[bytes]]] = {}
    for i, (ak, je, de, dn) in enumerate(
        zip(app_key, join_eui, dev_eui, dev_nonce)
    ):
        msg = lc.join_request_bytes(je, de, int(dn))
        slot = by_key.setdefault(ak, ([], []))
        slot[0].append(i)
        slot[1].append(msg)
    for ak, (idxs, msgs) in by_key.items():
        key = bytes.fromhex(ak)
        macs = lc.aes_cmac_batch(key, msgs)
        for i, msg, mac in zip(idxs, msgs, macs):
            out[i] = base64.b64encode(msg + mac[:4]).decode()
    return pd.Series(out)


JOIN_WORKFLOW_SCHEMA = T.StructType(
    [
        T.StructField("m_type", T.StringType()),
        T.StructField("join_eui", T.StringType()),
        T.StructField("dev_eui", T.StringType()),
        T.StructField("dev_nonce", T.LongType()),
        T.StructField("mic_ok", T.BooleanType()),
        T.StructField("keys_distinct_ok", T.BooleanType()),
        T.StructField("session_roundtrip_ok", T.BooleanType()),
    ]
)
_JW_FIELDS = [f.name for f in JOIN_WORKFLOW_SCHEMA.fields]
_JW_APP_NONCE = bytes.fromhex("010203")
_JW_NET_ID = bytes.fromhex("130000")


@F.pandas_udf(JOIN_WORKFLOW_SCHEMA)
def join_workflow_kernel(
    app_key: pd.Series,
    join_eui: pd.Series,
    dev_eui: pd.Series,
    dev_nonce: pd.Series,
    dev_addr: pd.Series,
    f_port: pd.Series,
    payload_text: pd.Series,
) -> pd.DataFrame:
    """Fused ops 43-44 proof kernel: JoinRequest encode+MIC -> parse ->
    session-key derivation -> data-frame encode under the derived
    NwkSKey -> decode+MIC+payload check, ONE Arrow crossing. The
    unfused form was FIVE dependent ArrowEvalPython stages each
    round-tripping the signup rows' structs between the JVM and Python
    (the serialization-bound shape measured in the decode-roundtrip
    fusion). Per-AppKey stages (JoinRequest MICs, session-key blocks)
    still batch through aes_cmac_batch / derive_session_keys_batch.
    The constituent UDFs stay individually exercised by the pipeline
    and roundtrip queries."""
    n = len(app_key)
    cols: dict[str, list] = {f: [None] * n for f in _JW_FIELDS}
    msgs: list = [None] * n
    by_key: dict[str, list[int]] = {}
    for i, (ak, je, de, dn) in enumerate(zip(app_key, join_eui, dev_eui, dev_nonce)):
        msgs[i] = lc.join_request_bytes(je, de, int(dn))
        by_key.setdefault(ak, []).append(i)
    jr_b64: list = [None] * n
    keys: list = [None] * n
    for ak, idxs in by_key.items():
        key = bytes.fromhex(ak)
        macs = lc.aes_cmac_batch(key, [msgs[i] for i in idxs])
        for i, mac in zip(idxs, macs):
            jr_b64[i] = base64.b64encode(msgs[i] + mac[:4]).decode()
        tails = [
            _JW_APP_NONCE
            + _JW_NET_ID
            + int(dev_nonce[i]).to_bytes(2, "little")
            + b"\x00" * 7
            for i in idxs
        ]
        for i, pair in zip(idxs, lc.derive_session_keys_batch(key, tails)):
            keys[i] = pair
    # Session-leg crypto in ONE multi-key numpy pass (optimization
    # round 13): the scalar encode_data_frame + parse_phypayload pair
    # per row — each row under its OWN derived NwkSKey — cost ~45
    # one-block OpenSSL FFI calls + a Cipher construction per row
    # (1.9 s single-core over the sf0.1 signup rows, the join_workflow
    # leg's dominant term). data_roundtrip_batch runs the identical
    # encode -> MIC-verify -> FRM-decrypt byte math through the
    # keyspace sweep's multi-key AES (property-tested bit-identical,
    # tests/test_lorawan_codec.py).
    payload_bytes = [(payload_text[i] or "").encode() for i in range(n)]
    _, rt_mic_ok, rt_frm = lc.data_roundtrip_batch(
        [keys[i][0] for i in range(n)],
        [dev_addr[i] for i in range(n)],
        [int(dev_nonce[i]) for i in range(n)],
        [int(f_port[i]) for i in range(n)],
        payload_bytes,
    )
    for i in range(n):
        p = lc.parse_phypayload_b64(jr_b64[i], app_key[i], None)
        nwk, app = keys[i]
        cols["m_type"][i] = p.m_type
        cols["join_eui"][i] = p.join_eui
        cols["dev_eui"][i] = p.dev_eui
        cols["dev_nonce"][i] = int(p.dev_nonce) if p.dev_nonce is not None else None
        cols["mic_ok"][i] = p.mic_ok
        # same predicate the unfused plan evaluated JVM-side: distinct
        # derived keys, both 32 lowercase hex
        nh, ah = nwk.hex(), app.hex()
        cols["keys_distinct_ok"][i] = (
            nh != ah
            and len(nh) == 32
            and len(ah) == 32
            and all(c in "0123456789abcdef" for c in nh + ah)
        )
        cols["session_roundtrip_ok"][i] = (
            bool(rt_mic_ok[i]) and rt_frm[i] == payload_bytes[i]
        )
    return pd.DataFrame(cols, columns=_JW_FIELDS)


def make_crack_udf(spark, sample: list[tuple]):
    """Key-sweep kernel for op 46 over a BROADCAST frame sample: the
    UDF receives only candidate keys (one Arrow row per key) and
    returns the frames each key authenticates. The previous shape
    shipped the |keyspace| x |frames| cross join through Arrow; an
    isolated A/B (identical plan, no-op UDF) showed ~80% of that
    leg's cost was row generation + transfer, not CMAC — so the
    sweep now moves the bounded frame sample once per executor
    (torrent broadcast, same relation the cross join already
    broadcast) and only survivors cross back.

    ``sample`` rows are (event_id, user_id, cmac_input, mic_trailer)
    — the key-independent half of MIC validation, prebuilt once
    (lorawan_codec.mic_cmac_input). The broadcast handle rides on the
    returned udf as ``frames_broadcast`` so long-running callers can
    unpersist it (the might_contain_udf convention)."""
    bc = spark.sparkContext.broadcast(sample)

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("user_id", T.LongType()),
                ]
            )
        )
    )
    def crack_key(key_hex: pd.Series) -> pd.Series:
        rows = bc.value
        inputs = [r[2] for r in rows]
        out = []
        for kh in key_hex:
            # Malformed candidate hex = no match; kernel failures must
            # propagate — a sweep that maps them to "no survivors" would
            # silently report nothing cracked.
            try:
                key = bytes.fromhex(kh)
            except (ValueError, TypeError):
                out.append([])
                continue
            macs = lc.aes_cmac_batch(key, inputs)
            out.append(
                [
                    (rows[i][0], rows[i][1])
                    for i, mac in enumerate(macs)
                    if mac[:4] == rows[i][3]
                ]
            )
        return pd.Series(out)

    crack_key.frames_broadcast = bc
    return crack_key


def make_ja_crack_udf(spark, sample: list[tuple]):
    """JoinAccept-side key-sweep kernel (op 46's second half,
    testAppKeysWithJoinAccept, lorawanWrapper.go:388-504): same
    broadcast-frame-sample shape as make_crack_udf — one Arrow row per
    candidate key in, the JoinAccepts that key cracks out — but the
    per-key test is decrypt-with-candidate -> re-MIC
    (lorawan_codec.ja_survivors) instead of the data/JR CMAC form.

    ``sample`` rows are (event_id, user_id, mhdr, encrypted_body) —
    the key-independent split (lorawan_codec.ja_crack_prep), prebuilt
    once per frame. The broadcast handle rides on the returned udf as
    ``frames_broadcast`` (the make_crack_udf convention)."""
    bc = spark.sparkContext.broadcast(sample)

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("user_id", T.LongType()),
                ]
            )
        )
    )
    def ja_crack_key(key_hex: pd.Series) -> pd.Series:
        rows = bc.value
        frames = [(r[2], r[3]) for r in rows]
        # The WHOLE Arrow batch (~10k candidate keys) goes through one
        # key-BATCHED numpy AES pass (lorawan_codec.ja_survivors_batch,
        # VERDICT r11 item 6): the per-key floor was two OpenSSL
        # context constructions (~52us of 117us/key) that no amount of
        # per-key frame batching could amortize; vectorizing the
        # cipher across keys removes it (measured 117 -> ~60us/key
        # single-core at 12 frames, and the constant-per-batch setup
        # amortizes over the batch instead of per key).
        keys: list[bytes] = []
        key_rows: list[int] = []
        out: list[list] = [[] for _ in range(len(key_hex))]
        for pos, kh in enumerate(key_hex):
            # Malformed candidate hex = no match; kernel failures
            # must propagate — mapping them to "no survivors" would
            # silently report nothing cracked.
            try:
                key = bytes.fromhex(kh)
            except (ValueError, TypeError):
                continue
            if len(key) != 16:
                # valid hex, wrong width: a kernel failure in the
                # scalar path (AES rejects the key size) — propagate,
                # don't silently report nothing cracked
                raise ValueError(f"candidate key must be 16 bytes: {kh!r}")
            keys.append(key)
            key_rows.append(pos)
        hits = lc.ja_survivors_batch(keys, frames)
        for row, pos in enumerate(key_rows):
            flags = hits[row]
            out[pos] = [
                (rows[i][0], rows[i][1])
                for i in range(len(rows))
                if flags[i]
            ]
        return pd.Series(out)

    ja_crack_key.frames_broadcast = bc
    return ja_crack_key


@F.pandas_udf(T.StringType())
def pb_uplink_to_json(value: pd.Series) -> pd.Series:
    """Op 15 (LoraServerIOCollector.py:253-263): when a gateway uplink
    body isn't JSON, try base64-encoded gw.UplinkFrame protobuf and
    render the MessageToJson shape the JSON path consumes. Non-base64
    input (every normal JSON body) fails the strict decode in ~1us and
    yields null, so the fallback costs nothing on the JSON path.

    Declared nondeterministic below (it IS pure): Spark 4 pushes
    filters through deterministic projections wholesale, substituting
    the referenced aliases' definitions — a route filter referencing
    the parsed gateway struct gets the whole from_json(pb_udf(...))
    expression copied into its pushed-down twin, and ExtractPythonUDFs
    then plans the UDF TWICE (two extra Arrow crossings per row,
    ~1s/100k rows). A nondeterministic projection field is the one
    thing alias substitution refuses to copy, pinning the single eval
    site; the only semantic cost is disabling optimizations that would
    re-execute it, which is exactly what we want."""
    import json as _json

    from . import protobuf_codec as pbc

    out = []
    for v in value:
        if v is None:
            out.append(None)
            continue
        try:
            raw = base64.b64decode(v, validate=True)
            doc = pbc.decode_uplink_frame(raw)
            out.append(_json.dumps(doc) if doc.get("phyPayload") else None)
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


# See the docstring: purity is real, the flag is a pushdown pin.
pb_uplink_to_json = pb_uplink_to_json.asNondeterministic()


SESSION_KEYS_SCHEMA = T.StructType(
    [
        T.StructField("nwk_s_key", T.StringType()),
        T.StructField("app_s_key", T.StringType()),
    ]
)


@F.pandas_udf(SESSION_KEYS_SCHEMA)
def derive_session_keys(
    app_key: pd.Series, app_nonce: pd.Series, net_id: pd.Series, dev_nonce: pd.Series
) -> pd.DataFrame:
    """generateSessionKeysFromJoins equivalent (op 44). Rows grouped
    by AppKey so all of a key's 2N session-key blocks encrypt in one
    ECB call (derive_session_keys_batch) instead of 2 per row."""
    n = len(app_key)
    nwk: list = [None] * n
    app: list = [None] * n
    by_key: dict[str, tuple[list[int], list[bytes]]] = {}
    for i, (ak, an, ni, dn) in enumerate(
        zip(app_key, app_nonce, net_id, dev_nonce)
    ):
        tail = (
            bytes.fromhex(an)
            + bytes.fromhex(ni)
            + int(dn).to_bytes(2, "little")
            + b"\x00" * 7
        )
        slot = by_key.setdefault(ak, ([], []))
        slot[0].append(i)
        slot[1].append(tail)
    for ak, (idxs, tails) in by_key.items():
        pairs = lc.derive_session_keys_batch(bytes.fromhex(ak), tails)
        for i, (nw, ap) in zip(idxs, pairs):
            nwk[i] = nw.hex()
            app[i] = ap.hex()
    return pd.DataFrame({"nwk_s_key": nwk, "app_s_key": app})
