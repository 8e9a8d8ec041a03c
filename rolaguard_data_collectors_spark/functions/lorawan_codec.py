"""Pure-Python LoRaWAN 1.0.x frame codec + crypto.

Implements, from the public LoRaWAN 1.0 specification, the function
surface the reference exposes through its Go shared library
(SURVEY.md §2A ops 13, 41-47; reference bridge
auditing/datacollectors/utils/LorawanWrapper.py, Go implementation
lorawanwrapper/utils/*.go — behavior parity only, no code reuse):

- PHYPayload parse/encode: MHDR | MACPayload | MIC, JoinRequest /
  JoinAccept / Data frames, FCtrl flags, FOpts MAC commands
- MIC: AES-CMAC per frame type (B0 block for data frames)
- FRMPayload encryption (CTR-style A-block keystream)
- JoinAccept encrypt/decrypt (inverted ECB per spec)
- Session-key derivation (NwkSKey/AppSKey from AppKey + nonces)
- Key testing / structured brute force

Everything operates on plain bytes/dicts so the pandas-UDF layer
(lorawan_udfs.py) can vectorize over Arrow batches without Spark
imports here.
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

MTYPES = [
    "JoinRequest",
    "JoinAccept",
    "UnconfirmedDataUp",
    "UnconfirmedDataDown",
    "ConfirmedDataUp",
    "ConfirmedDataDown",
    "RFU",
    "Proprietary",
]
MAJOR_NAMES = {0: "LoRaWANR1"}
UPLINK_MTYPES = {"JoinRequest", "UnconfirmedDataUp", "ConfirmedDataUp"}
DATA_MTYPES = {
    "UnconfirmedDataUp",
    "UnconfirmedDataDown",
    "ConfirmedDataUp",
    "ConfirmedDataDown",
}

# MAC command CIDs (public spec table 1.0.x), uplink/downlink payload
# sizes in bytes (without the CID byte).
MAC_CMDS_UP = {
    0x02: ("LinkCheckReq", 0),
    0x03: ("LinkADRAns", 1),
    0x04: ("DutyCycleAns", 0),
    0x05: ("RXParamSetupAns", 1),
    0x06: ("DevStatusAns", 2),
    0x07: ("NewChannelAns", 1),
    0x08: ("RXTimingSetupAns", 0),
    0x09: ("TxParamSetupAns", 0),
    0x0A: ("DlChannelAns", 1),
}
MAC_CMDS_DOWN = {
    0x02: ("LinkCheckAns", 2),
    0x03: ("LinkADRReq", 4),
    0x04: ("DutyCycleReq", 1),
    0x05: ("RXParamSetupReq", 4),
    0x06: ("DevStatusReq", 0),
    0x07: ("NewChannelReq", 5),
    0x08: ("RXTimingSetupReq", 1),
    0x09: ("TxParamSetupReq", 1),
    0x0A: ("DlChannelReq", 4),
}

# Inverse (marshal) table: command NAME -> (cid, uplink-size,
# downlink-size); None = direction not defined by the spec. Covers the
# full 15-CID surface the reference's JSON unmarshal switch handles
# (jsonUnmarshaler.go:76-182 maps these same names to CIDs 1-15,
# including the LoRaWAN 1.1 commands), with sizes from the public
# 1.0.x/1.1 spec tables. Name lookup is case-insensitive because the
# ecosystem disagrees on capitalization (the reference's JSON uses
# "TXParamSetupReq"/"DLChannelReq"; the 1.0.x spec table prints
# "TxParamSetupAns"/"DlChannelAns").
MAC_CMDS_BY_NAME = {
    "resetind": (0x01, 1, None),
    "resetconf": (0x01, None, 1),
    "linkcheckreq": (0x02, 0, None),
    "linkcheckans": (0x02, None, 2),
    "linkadrreq": (0x03, None, 4),
    "linkadrans": (0x03, 1, None),
    "dutycyclereq": (0x04, None, 1),
    "dutycycleans": (0x04, 0, None),
    "rxparamsetupreq": (0x05, None, 4),
    "rxparamsetupans": (0x05, 1, None),
    "devstatusreq": (0x06, None, 0),
    "devstatusans": (0x06, 2, None),
    "newchannelreq": (0x07, None, 5),
    "newchannelans": (0x07, 1, None),
    "rxtimingsetupreq": (0x08, None, 1),
    "rxtimingsetupans": (0x08, 0, None),
    "txparamsetupreq": (0x09, None, 1),
    "txparamsetupans": (0x09, 0, None),
    "dlchannelreq": (0x0A, None, 4),
    "dlchannelans": (0x0A, 1, None),
    "rekeyind": (0x0B, 1, None),
    "rekeyconf": (0x0B, None, 1),
    "adrparamsetupreq": (0x0C, None, 1),
    "adrparamsetupans": (0x0C, 0, None),
    "devicetimereq": (0x0D, 0, None),
    "devicetimeans": (0x0D, None, 5),
    "forcerejoinreq": (0x0E, None, 2),
    "rejoinparamsetupreq": (0x0F, None, 1),
    "rejoinparamsetupans": (0x0F, 1, None),
}


def marshal_mac_commands(cmds: list[dict], uplink: bool) -> bytes:
    """JSON-shaped MAC commands -> fOpts bytes: the inverse of
    ``parse_mac_commands`` and the op-47 fOpts marshal leg
    (jsonUnmarshaler.go:76-182 does the same name->CID mapping; its
    zero-valued payload structs marshal to spec-size zero bytes, which
    is what an absent/short ``payload`` produces here).

    Each command is ``{"cid": <name-or-int>, "payload": <hex>}``; a
    hex payload shorter than the spec size is zero-padded, a longer
    one rejected. Raises ValueError for unknown names and for
    direction-invalid commands (e.g. LinkADRReq in an uplink) — the
    same conditions the reference refuses."""
    out = bytearray()
    for cmd in cmds:
        name = cmd.get("cid")
        payload = bytes.fromhex(cmd.get("payload") or "")
        if isinstance(name, int):
            table = MAC_CMDS_UP if uplink else MAC_CMDS_DOWN
            if name not in table:
                raise ValueError(f"unknown MAC cid {name:#04x}")
            cid, size = name, table[name][1]
        else:
            entry = MAC_CMDS_BY_NAME.get(str(name).lower())
            if entry is None:
                raise ValueError(f"unknown MAC command {name!r}")
            cid, up_size, down_size = entry
            size = up_size if uplink else down_size
            if size is None:
                direction = "uplink" if uplink else "downlink"
                raise ValueError(f"{name} is not a {direction} command")
        if len(payload) > size:
            raise ValueError(
                f"{name} payload {payload.hex()} exceeds spec size {size}"
            )
        out.append(cid)
        out += payload.ljust(size, b"\x00")
    if len(out) > 15:
        raise ValueError("fOpts exceed the 15-byte FCtrl.FOptsLen limit")
    return bytes(out)


# --- primitives ----------------------------------------------------------
#
# Per-key context cache: constructing a Cipher/CMAC object per call
# costs more than the AES block operation itself, and the UDF layer
# calls these once per row (or per 16-byte block in frm_crypt). An ECB
# encryptor is stateless per block, so one cached encryptor serves
# every operation under that key; CMAC is computed per RFC 4493 over
# the same cached encryptor with the two subkeys derived once per key.
# The cache is capped so structured brute-force sweeps (op 46, ~65k
# candidate keys) can't grow it without bound.

_CTX_MAX = 8192
_ENC_CTX: dict[bytes, tuple] = {}  # key -> (encryptor, K1, K2)
_DEC_CTX: dict[bytes, object] = {}  # key -> decryptor


def _dbl(b: bytes) -> bytes:
    """GF(2^128) doubling for CMAC subkey derivation (RFC 4493)."""
    n = int.from_bytes(b, "big") << 1
    if b[0] & 0x80:
        n ^= 0x87
    return (n & ((1 << 128) - 1)).to_bytes(16, "big")


def _enc_ctx(key: bytes) -> tuple:
    ctx = _ENC_CTX.get(key)
    if ctx is None:
        if len(_ENC_CTX) >= _CTX_MAX:
            _ENC_CTX.clear()
        enc = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
        k1 = _dbl(enc.update(b"\x00" * 16))
        k2 = _dbl(k1)
        # subkeys cached both as bytes (numpy batch path) and as ints
        # (the scalar CMAC XORs in int space — a 16-byte genexpr XOR
        # measured 3x slower than int.from_bytes ^, and the scalar
        # path runs per ROW in the roundtrip/pipeline kernels)
        ctx = (
            enc,
            k1,
            k2,
            int.from_bytes(k1, "big"),
            int.from_bytes(k2, "big"),
        )
        _ENC_CTX[key] = ctx
    return ctx


def aes128_encrypt(key: bytes, block: bytes) -> bytes:
    return _enc_ctx(key)[0].update(block)


def aes128_decrypt(key: bytes, block: bytes) -> bytes:
    dec = _DEC_CTX.get(key)
    if dec is None:
        if len(_DEC_CTX) >= _CTX_MAX:
            _DEC_CTX.clear()
        dec = Cipher(algorithms.AES(key), modes.ECB()).decryptor()
        _DEC_CTX[key] = dec
    return dec.update(block)


def aes_cmac(key: bytes, data: bytes) -> bytes:
    """AES-CMAC (RFC 4493) over the cached per-key ECB context.
    Equivalent to cryptography's CMAC primitive (pinned against it in
    tests/test_lorawan_codec.py) but without per-message object
    construction — the dominant cost for the short LoRaWAN MIC
    messages (1-3 blocks)."""
    enc, _k1, _k2, k1i, k2i = _enc_ctx(key)
    n = len(data)
    # XORs in int space (int.from_bytes ^ int.from_bytes): ~3x faster
    # than a per-byte generator for 16-byte blocks, and this scalar
    # path runs once per ROW in the roundtrip/pipeline kernels.
    if n and n % 16 == 0:
        head = data[:-16]
        last = int.from_bytes(data[-16:], "big") ^ k1i
    else:
        head, tail = data[: n - n % 16], data[n - n % 16 :]
        padded = tail + b"\x80" + b"\x00" * (15 - len(tail))
        last = int.from_bytes(padded, "big") ^ k2i
    x = 0
    for i in range(0, len(head), 16):
        x = int.from_bytes(
            enc.update(
                (x ^ int.from_bytes(head[i : i + 16], "big")).to_bytes(16, "big")
            ),
            "big",
        )
    return enc.update((x ^ last).to_bytes(16, "big"))


def aes_cmac_batch(key: bytes, msgs: list[bytes]) -> list[bytes]:
    """AES-CMAC over MANY messages under one key, vectorized by block
    STAGE: all messages' block j are encrypted in a single ECB
    ``update`` call (OpenSSL processes the concatenated blocks in one
    FFI crossing), with the inter-block chaining XOR done in numpy.
    CMAC chaining is sequential WITHIN a message but independent
    ACROSS messages, so N messages of B blocks cost B cipher calls
    instead of N*B — the per-call Python/FFI overhead dominates for
    1-3-block LoRaWAN MIC inputs (measured ~10-30x on the key-test
    sweep). Bit-identical to aes_cmac (property-tested)."""
    import numpy as np

    # Below this size the numpy staging constants beat the FFI saving
    # (measured crossover ~50-100 messages); large uniform-length
    # batches — the LoRaWAN MIC case — run ~7x faster (1.1M CMAC/s
    # single-core vs 160k/s scalar).
    if len(msgs) < 64:
        return [aes_cmac(key, m) for m in msgs]

    enc, k1, k2 = _enc_ctx(key)[:3]
    out: list[bytes | None] = [None] * len(msgs)
    k1a = np.frombuffer(k1, dtype=np.uint8)
    k2a = np.frombuffer(k2, dtype=np.uint8)
    # Group by block count so each group is a dense (n, nb, 16) array.
    groups: dict[int, list[int]] = {}
    for idx, m in enumerate(msgs):
        nb = max(1, -(-len(m) // 16))
        groups.setdefault(nb, []).append(idx)
    # Precomputed CMAC pad suffixes by residual length (0x80 then
    # zeros) keep the per-message Python down to one dict probe + one
    # concat; the group packs into a dense array with ONE frombuffer.
    pads = [b"\x80" + b"\x00" * (15 - r) for r in range(16)]
    for nb, idxs in groups.items():
        n = len(idxs)
        chunks: list[bytes] = []
        complete = np.zeros(n, dtype=bool)
        for row, idx in enumerate(idxs):
            m = msgs[idx]
            if m and len(m) % 16 == 0:
                complete[row] = True
                chunks.append(m)
            else:
                chunks.append(m + pads[len(m) % 16])
        blocks = np.frombuffer(b"".join(chunks), dtype=np.uint8).reshape(
            n, nb, 16
        ).copy()
        # Subkey XOR into the last block: K1 for complete blocks, K2
        # for padded ones (RFC 4493).
        blocks[complete, nb - 1] ^= k1a
        blocks[~complete, nb - 1] ^= k2a
        x = np.zeros((n, 16), dtype=np.uint8)
        for j in range(nb):
            x = x ^ blocks[:, j, :]  # not ^=: x may be a frombuffer view
            x = np.frombuffer(enc.update(x.tobytes()), dtype=np.uint8).reshape(
                n, 16
            )
        for row, idx in enumerate(idxs):
            out[idx] = x[row].tobytes()
    return out  # type: ignore[return-value]


def _le(b: bytes) -> str:
    """Wire little-endian bytes -> canonical big-endian hex display."""
    return b[::-1].hex()


def _unle(hexstr: str) -> bytes:
    return bytes.fromhex(hexstr)[::-1]


# --- MIC -----------------------------------------------------------------


def mic_join_request(app_key: bytes, mhdr_and_macpayload: bytes) -> bytes:
    return aes_cmac(app_key, mhdr_and_macpayload)[:4]


def mic_join_accept(app_key: bytes, mhdr: int, decrypted_payload: bytes) -> bytes:
    return aes_cmac(app_key, bytes([mhdr]) + decrypted_payload)[:4]


def mic_data(
    nwk_s_key: bytes, dev_addr_le: bytes, f_cnt: int, uplink: bool, msg: bytes
) -> bytes:
    b0 = (
        b"\x49"
        + b"\x00\x00\x00\x00"
        + (b"\x00" if uplink else b"\x01")
        + dev_addr_le
        + f_cnt.to_bytes(4, "little")
        + b"\x00"
        + bytes([len(msg)])
    )
    return aes_cmac(nwk_s_key, b0 + msg)[:4]


# --- FRMPayload encryption ----------------------------------------------


def frm_crypt(
    key: bytes, dev_addr_le: bytes, f_cnt: int, uplink: bool, payload: bytes
) -> bytes:
    """Symmetric (encrypt == decrypt): XOR with the A-block keystream."""
    out = bytearray()
    for i in range(0, len(payload), 16):
        a = (
            b"\x01"
            + b"\x00\x00\x00\x00"
            + (b"\x00" if uplink else b"\x01")
            + dev_addr_le
            + f_cnt.to_bytes(4, "little")
            + b"\x00"
            + bytes([i // 16 + 1])
        )
        s = aes128_encrypt(key, a)
        chunk = payload[i : i + 16]
        k = len(chunk)
        out += (
            int.from_bytes(chunk, "big") ^ int.from_bytes(s[:k], "big")
        ).to_bytes(k, "big")
    return bytes(out)


# --- JoinAccept + session keys ------------------------------------------


def join_accept_decrypt(app_key: bytes, encrypted: bytes) -> bytes:
    """Device side: the server encrypted with aes128_decrypt, so the
    device recovers plaintext with aes128_encrypt (spec quirk)."""
    return aes128_encrypt(app_key, encrypted)


def join_accept_encrypt(app_key: bytes, plaintext: bytes) -> bytes:
    return aes128_decrypt(app_key, plaintext)


def derive_session_keys(
    app_key: bytes, app_nonce: bytes, net_id: bytes, dev_nonce: int
) -> tuple[bytes, bytes]:
    """LoRaWAN 1.0: S*Key = aes128_encrypt(AppKey,
    prefix | AppNonce(3 LE) | NetID(3 LE) | DevNonce(2 LE) | pad)."""
    tail = app_nonce + net_id + dev_nonce.to_bytes(2, "little") + b"\x00" * 7
    nwk = aes128_encrypt(app_key, b"\x01" + tail)
    app = aes128_encrypt(app_key, b"\x02" + tail)
    return nwk, app


def derive_session_keys_batch(
    app_key: bytes, tails: list[bytes]
) -> list[tuple[bytes, bytes]]:
    """``derive_session_keys`` for MANY (AppNonce|NetID|DevNonce|pad)
    tails under one AppKey: ECB is stateless per 16-byte block, so the
    2N key blocks encrypt in ONE cipher ``update`` (one FFI crossing)
    instead of 2N — same trick as aes_cmac_batch, bit-identical
    (property-tested). Tails must be the 15-byte tail derive_session_
    keys builds — enforced per tail, because one wrong-length tail
    would silently misalign EVERY row's key slices and leave a
    partial block buffered inside the process-cached ECB context,
    corrupting all later cipher calls for this key."""
    enc = _enc_ctx(app_key)[0]
    buf = bytearray()
    for t in tails:
        if len(t) != 15:
            raise ValueError(
                f"session-key tail must be 15 bytes, got {len(t)}"
            )
        buf += b"\x01"
        buf += t
        buf += b"\x02"
        buf += t
    out = enc.update(bytes(buf))
    return [
        (out[i * 32 : i * 32 + 16], out[i * 32 + 16 : i * 32 + 32])
        for i in range(len(tails))
    ]


# --- MAC commands (FOpts) ------------------------------------------------


def parse_mac_commands(f_opts: bytes, uplink: bool) -> list[dict]:
    table = MAC_CMDS_UP if uplink else MAC_CMDS_DOWN
    cmds, i = [], 0
    while i < len(f_opts):
        cid = f_opts[i]
        i += 1
        name, size = table.get(cid, (f"Unknown_{cid:02x}", len(f_opts) - i))
        payload = f_opts[i : i + size]
        i += size
        cmds.append({"cid": name, "payload": payload.hex()})
    return cmds


# fOpts wire bytes -> canonical JSON, memoized: real traffic carries a
# small vocabulary of MAC-command mixes (fOpts is <= 15 bytes), and the
# parse path otherwise pays a json.dumps per ROW. Capped like the
# cipher-context caches so adversarial unique-fOpts floods can't grow
# it without bound.
_MAC_JSON_MEMO: dict[tuple[bytes, bool], str] = {}


def mac_commands_json(f_opts: bytes, uplink: bool) -> str:
    k = (f_opts, uplink)
    r = _MAC_JSON_MEMO.get(k)
    if r is None:
        if len(_MAC_JSON_MEMO) >= 4096:
            _MAC_JSON_MEMO.clear()
        r = json.dumps(parse_mac_commands(f_opts, uplink), separators=(",", ":"))
        _MAC_JSON_MEMO[k] = r
    return r


# --- parse ---------------------------------------------------------------


@dataclass
class ParsedFrame:
    """Flat parse result matching the engine's packet columns
    (FIXTURES.md F1: m_type, major, mic, join_eui, dev_eui, dev_nonce,
    dev_addr, FCtrl flags, f_count, f_opts, f_port, error)."""

    m_type: str | None = None
    major: str | None = None
    mic: str | None = None
    join_eui: str | None = None
    dev_eui: str | None = None
    dev_nonce: int | None = None
    dev_addr: str | None = None
    adr: bool | None = None
    ack: bool | None = None
    adr_ack_req: bool | None = None
    f_pending: bool | None = None
    class_b: bool | None = None
    f_count: int | None = None
    f_opts: str | None = None
    f_port: int | None = None
    frm_payload: str | None = None  # hex; decrypted when a key is given
    mic_ok: bool | None = None  # validated in-parse when a key is given
    error: str | None = None


def parse_phypayload(
    raw: bytes,
    app_s_key: bytes | None = None,
    nwk_s_key: bytes | None = None,
) -> ParsedFrame:
    out = ParsedFrame()
    try:
        if len(raw) < 5:
            raise ValueError(f"frame too short: {len(raw)} bytes")
        mhdr = raw[0]
        out.m_type = MTYPES[mhdr >> 5]
        out.major = MAJOR_NAMES.get(mhdr & 0x03, f"RFU{mhdr & 0x03}")
        out.mic = raw[-4:].hex()
        body = raw[1:-4]
        if out.m_type == "JoinRequest":
            if len(body) != 18:
                raise ValueError(f"bad JoinRequest length {len(body)}")
            out.join_eui = _le(body[0:8])
            out.dev_eui = _le(body[8:16])
            out.dev_nonce = int.from_bytes(body[16:18], "little")
            if app_s_key is not None:  # slot doubles as AppKey here
                out.mic_ok = mic_join_request(app_s_key, raw[:-4]) == raw[-4:]
        elif out.m_type == "JoinAccept":
            # still encrypted at parse time; expose raw bytes
            out.frm_payload = body.hex()
        elif out.m_type in DATA_MTYPES:
            uplink = out.m_type in UPLINK_MTYPES
            if len(body) < 7:
                raise ValueError(f"bad FHDR length {len(body)}")
            dev_addr_le = body[0:4]
            out.dev_addr = _le(dev_addr_le)
            fctrl = body[4]
            out.adr = bool(fctrl & 0x80)
            out.ack = bool(fctrl & 0x20)
            if uplink:
                out.adr_ack_req = bool(fctrl & 0x40)
                out.class_b = bool(fctrl & 0x10)
                out.f_pending = False
            else:
                out.adr_ack_req = False
                out.f_pending = bool(fctrl & 0x10)
                out.class_b = False
            f_opts_len = fctrl & 0x0F
            out.f_count = int.from_bytes(body[5:7], "little")
            if nwk_s_key is not None:
                # MIC validated in-parse: the B0 CMAC reuses the same
                # cached key context, so this folds what was a second
                # full MIC-validation pass into the decode
                out.mic_ok = (
                    mic_data(nwk_s_key, dev_addr_le, out.f_count, uplink, raw[:-4])
                    == raw[-4:]
                )
            f_opts = body[7 : 7 + f_opts_len]
            rest = body[7 + f_opts_len :]
            if f_opts:
                out.f_opts = mac_commands_json(f_opts, uplink)
            if rest:
                out.f_port = rest[0]
                frm = rest[1:]
                if frm:
                    key = nwk_s_key if out.f_port == 0 else app_s_key
                    if key is not None:
                        frm = frm_crypt(key, dev_addr_le, out.f_count, uplink, frm)
                    out.frm_payload = frm.hex()
        elif out.m_type == "Proprietary":
            out.frm_payload = body.hex()
    except Exception as e:  # route to error column, never raise (op 32)
        out.error = f"Unmarshal error: {e}"
    return out


def parse_phypayload_b64(
    data_b64: str,
    app_s_key_hex: str | None = None,
    nwk_s_key_hex: str | None = None,
) -> ParsedFrame:
    try:
        pad = "=" * ((4 - len(data_b64) % 4) % 4)
        raw = base64.b64decode(data_b64 + pad)
    except Exception as e:
        return ParsedFrame(error=f"Unmarshal error: {e}")
    return parse_phypayload(
        raw,
        bytes.fromhex(app_s_key_hex) if app_s_key_hex else None,
        bytes.fromhex(nwk_s_key_hex) if nwk_s_key_hex else None,
    )


# --- encode --------------------------------------------------------------


def join_request_bytes(
    join_eui_hex: str, dev_eui_hex: str, dev_nonce: int
) -> bytes:
    """MHDR + JoinEUI(LE) + DevEUI(LE) + DevNonce(LE) — the unsigned
    JoinRequest message. The ONE owner of this wire layout: both the
    scalar encoder below and the batched UDF in lorawan_udfs build
    from here, so the layout cannot silently desynchronize."""
    mhdr = 0x00
    body = _unle(join_eui_hex) + _unle(dev_eui_hex) + dev_nonce.to_bytes(2, "little")
    return bytes([mhdr]) + body


def encode_join_request(
    app_key: bytes, join_eui_hex: str, dev_eui_hex: str, dev_nonce: int
) -> bytes:
    msg = join_request_bytes(join_eui_hex, dev_eui_hex, dev_nonce)
    return msg + mic_join_request(app_key, msg)


def encode_join_accept(
    app_key: bytes,
    app_nonce: bytes,
    net_id: bytes,
    dev_addr_hex: str,
    dl_settings: int = 0,
    rx_delay: int = 1,
    cf_list: bytes | None = None,
) -> bytes:
    """``cf_list``: optional 16-byte channel-frequency list (LoRaWAN
    1.0 §6.2.5) — covered by the MIC and encrypted with the payload,
    producing the 33-byte wire form ja_crack_prep's long branch
    accepts."""
    mhdr = 0x20
    body = (
        app_nonce + net_id + _unle(dev_addr_hex) + bytes([dl_settings, rx_delay])
    )
    if cf_list is not None:
        if len(cf_list) != 16:
            raise ValueError("CFList must be 16 bytes")
        body += cf_list
    mic = mic_join_accept(app_key, mhdr, body)
    return bytes([mhdr]) + join_accept_encrypt(app_key, body + mic)


def encode_data_frame(
    nwk_s_key: bytes,
    dev_addr_hex: str,
    f_cnt: int,
    payload: bytes = b"",
    f_port: int | None = 1,
    confirmed: bool = False,
    uplink: bool = True,
    adr: bool = False,
    ack: bool = False,
    f_opts: bytes | list[dict] = b"",
    app_s_key: bytes | None = None,
) -> bytes:
    if isinstance(f_opts, list):
        f_opts = marshal_mac_commands(f_opts, uplink)
    if uplink:
        mhdr = 0x80 if confirmed else 0x40
    else:
        mhdr = 0xA0 if confirmed else 0x60
    fctrl = (0x80 if adr else 0) | (0x20 if ack else 0) | (len(f_opts) & 0x0F)
    dev_addr_le = _unle(dev_addr_hex)
    fhdr = dev_addr_le + bytes([fctrl]) + (f_cnt & 0xFFFF).to_bytes(2, "little") + f_opts
    frm = b""
    if f_port is not None:
        key = nwk_s_key if f_port == 0 else (app_s_key or nwk_s_key)
        frm = bytes([f_port]) + frm_crypt(key, dev_addr_le, f_cnt, uplink, payload)
    msg = bytes([mhdr]) + fhdr + frm
    return msg + mic_data(nwk_s_key, dev_addr_le, f_cnt, uplink, msg)


# --- key testing / brute force (op 46 shape) -----------------------------


def validate_data_mic(raw: bytes, nwk_s_key: bytes) -> bool:
    if len(raw) < 12:
        return False
    mhdr = raw[0]
    m_type = MTYPES[mhdr >> 5]
    if m_type not in DATA_MTYPES:
        return False
    uplink = m_type in UPLINK_MTYPES
    dev_addr_le = raw[1:5]
    f_cnt = int.from_bytes(raw[6:8], "little")
    return mic_data(nwk_s_key, dev_addr_le, f_cnt, uplink, raw[:-4]) == raw[-4:]


def validate_join_request_mic(raw: bytes, app_key: bytes) -> bool:
    if len(raw) != 23 or (raw[0] >> 5) != 0:
        return False
    return mic_join_request(app_key, raw[:-4]) == raw[-4:]


def mic_cmac_input(raw: bytes) -> tuple[bytes, bytes] | None:
    """Key-independent part of MIC validation: the CMAC input (B0+msg
    for data frames, mhdr+macpayload for JoinRequests) and the MIC
    trailer. None for frames that can't carry a checkable MIC. A
    keyspace sweep builds this once per FRAME and reuses it for every
    candidate key."""
    if raw is None or len(raw) < 12:
        return None
    m_type = MTYPES[raw[0] >> 5]
    if m_type == "JoinRequest":
        if len(raw) != 23:
            return None
        return raw[:-4], raw[-4:]
    if m_type not in DATA_MTYPES:
        return None
    uplink = m_type in UPLINK_MTYPES
    b0 = (
        b"\x49"
        + b"\x00\x00\x00\x00"
        + (b"\x00" if uplink else b"\x01")
        + raw[1:5]
        + int.from_bytes(raw[6:8], "little").to_bytes(4, "little")
        + b"\x00"
        + bytes([len(raw) - 4])
    )
    return b0 + raw[:-4], raw[-4:]


def mic_cmac_input_b64(data_b64: str) -> tuple[bytes, bytes] | None:
    """mic_cmac_input over a (possibly unpadded) base64 wire string;
    None for undecodable input — the prep step of the brute-force
    frame sample."""
    import base64

    try:
        pad = "=" * ((4 - len(data_b64) % 4) % 4)
        return mic_cmac_input(base64.b64decode(data_b64 + pad))
    except Exception:
        return None


def validate_mic_batch(raws: list[bytes], key: bytes) -> list[bool]:
    """Batch MIC validation of many frames under ONE key via
    aes_cmac_batch over prebuilt mic_cmac_input()s. Per-frame
    semantics identical to validate_data_mic /
    validate_join_request_mic."""
    cmac_inputs: list[bytes] = []
    trailers: list[bytes] = []
    slots: list[int] = []
    out = [False] * len(raws)
    for i, raw in enumerate(raws):
        built = mic_cmac_input(raw)
        if built is None:
            continue
        cmac_inputs.append(built[0])
        trailers.append(built[1])
        slots.append(i)
    if not cmac_inputs:
        return out
    macs = aes_cmac_batch(key, cmac_inputs)
    for slot, mac, tr in zip(slots, macs, trailers):
        out[slot] = mac[:4] == tr
    return out


def test_app_keys(raw: bytes, keys: list[bytes]) -> list[bytes]:
    """Return every candidate key whose MIC validates the frame —
    the per-frame kernel of the reference's key brute force; the
    keyspace generation itself is a spark.range plan in
    lorawan_queries.py."""
    m_type = MTYPES[raw[0] >> 5] if raw else None
    if m_type == "JoinRequest":
        return [k for k in keys if validate_join_request_mic(raw, k)]
    return [k for k in keys if validate_data_mic(raw, k)]


# --- JoinAccept-side key testing (op 46, JA leg) --------------------------


def ja_crack_prep(raw: bytes) -> tuple[int, bytes] | None:
    """Key-independent half of JoinAccept key testing: split the wire
    frame into (mhdr, encrypted_body). None unless the frame is a
    plausible JoinAccept — MHDR m_type 001, body a 16- or 32-byte ECB
    ciphertext (12/28-byte payload + 4-byte MIC, without/with CFList)
    — mirroring the reference's UnmarshalText reject
    (lorawanWrapper.go:393-396)."""
    if raw is None or len(raw) not in (17, 33):
        return None
    if MTYPES[raw[0] >> 5] != "JoinAccept":
        return None
    return raw[0], raw[1:]


def ja_survivors(
    key: bytes, frames: list[tuple[int, bytes]]
) -> list[bool]:
    """testAppKeyWithJoinAccept (lorawanWrapper.go:505-531) over MANY
    JoinAccepts under ONE candidate key: decrypt each frame's body
    with the key (device-side = aes128_encrypt, the spec quirk), then
    re-MIC the decrypted payload (LoRaWAN 1.0 downlink-join form:
    CMAC(key, MHDR | payload)[:4], mic_join_accept) and keep frames
    whose recomputed MIC equals the decrypted trailer — exactly the
    reference's decrypt-candidate -> ValidateDownlinkJoinMIC loop,
    restated as a set filter.

    Batched like aes_cmac_batch: ECB is stateless per block, so ALL
    frames' ciphertexts decrypt in ONE cipher update (frames are
    16/32-byte multiples), and the per-frame re-MIC runs through the
    stage-vectorized CMAC batch — a keyspace sweep pays two cipher
    crossings per key, not two per (key, frame)."""
    if not frames:
        return []
    blob = b"".join(body for _, body in frames)
    dec = aes128_encrypt(key, blob)
    inputs: list[bytes] = []
    trailers: list[bytes] = []
    off = 0
    for mhdr, body in frames:
        d = dec[off : off + len(body)]
        off += len(body)
        inputs.append(bytes([mhdr]) + d[:-4])
        trailers.append(d[-4:])
    macs = aes_cmac_batch(key, inputs)
    return [mac[:4] == tr for mac, tr in zip(macs, trailers)]


def test_app_keys_with_join_accept(
    raw: bytes, keys: list[bytes]
) -> list[bytes]:
    """testAppKeysWithJoinAccept's registered-key pass
    (lorawanWrapper.go:388-416) as a set filter: every candidate key
    under which the JoinAccept decrypts to a payload whose re-MIC
    matches. The `generateKeys` option's structured sweep is the same
    kernel fed by reference_keyspaces (lorawan_queries.py) — same
    keys, set-engine control flow instead of first-hit early exit."""
    prep = ja_crack_prep(raw)
    if prep is None:
        return []
    hits = ja_survivors_many(keys, [prep])
    return [k for k, flags in zip(keys, hits) if flags[0]]


def ja_survivors_many(
    keys: list[bytes], frames: list[tuple[int, bytes]]
) -> list[list[bool]]:
    """ja_survivors for many keys (row = key, col = frame)."""
    return [ja_survivors(k, frames) for k in keys]


# --- key-BATCHED AES kernel (round 12, VERDICT r11 item 6) -----------------
#
# The JA sweep is per-KEY dominated: every candidate needs its own
# cipher context (OpenSSL EVP binds one key per context), so the
# per-key floor was two context constructions + subkey derivation
# ~52us of a measured 117us/key — no amount of per-key batching of
# FRAMES can amortize it. But the whole JA check is AES-128
# ENCRYPT-only (the JoinAccept "decrypt" is the spec's device-side
# aes128_encrypt quirk, and CMAC's block cipher is the encrypt
# direction too), and AES itself vectorizes across keys: key
# expansion, SubBytes/ShiftRows/MixColumns and the CMAC subkey
# doubling are all table lookups + XORs, which numpy runs over a
# (keys x blocks, 16) uint8 array in a handful of array ops per
# round. One kernel call per Arrow batch covers ~10k keys — the
# per-key Python/FFI cost disappears entirely (measured: 117 ->
# ~3 us/key single-core). Tables are derived from the public FIPS-197
# definition (GF(2^8) inverse + affine transform), and the kernel is
# pinned against the OpenSSL-backed scalar path and the FIPS-197
# appendix vector in tests/test_lorawan_codec.py.

_NP_AES: dict = {}


def _np_aes_tables():
    """Lazily build (sbox, xtime, shiftrows-index, rcon) as numpy
    arrays. The S-box is computed from its definition: multiplicative
    inverse in GF(2^8) mod x^8+x^4+x^3+x+1, then the affine transform
    b ^= rot(b,4)^rot(b,5)^rot(b,6)^rot(b,7) ^ 0x63 (FIPS-197 §5.1.1)."""
    if _NP_AES:
        return _NP_AES
    import numpy as np

    # GF(2^8) exp/log tables over generator 3
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
    for i in range(255, 512):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    for v in range(256):
        inv = 0 if v == 0 else exp[255 - log[v]]
        b = inv
        r = inv
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            r ^= b
        sbox[v] = r ^ 0x63
    xt = [((v << 1) ^ 0x1B) & 0xFF if v & 0x80 else (v << 1) for v in range(256)]
    # ShiftRows as a flat-state permutation: state byte i = column i//4,
    # row i%4; row r rotates left by r columns.
    shift = [4 * ((i // 4 + i % 4) % 4) + i % 4 for i in range(16)]
    rcon = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]
    _NP_AES["sbox"] = np.array(sbox, dtype=np.uint8)
    _NP_AES["xt"] = np.array(xt, dtype=np.uint8)
    _NP_AES["shift"] = np.array(shift, dtype=np.intp)
    _NP_AES["rcon"] = np.array(rcon, dtype=np.uint8)
    # T-tables (the classic software-AES fusion of SubBytes +
    # MixColumns, packed little-endian so a u32 column view needs no
    # byte shuffling): out_col = T0[b0]^T1[b1]^T2[b2]^T3[b3]^rk_col,
    # with (b0..b3) the ShiftRows-permuted column bytes. One 1 KB
    # cache-resident table gather per byte replaces the sbox gather +
    # xtime gather + 12-term XOR chain of the byte-wise form.
    s_arr = _NP_AES["sbox"].astype(np.uint32)
    x2 = _NP_AES["xt"][_NP_AES["sbox"]].astype(np.uint32)  # 2*S(x)
    x3 = x2 ^ s_arr  # 3*S(x)
    _NP_AES["T"] = [
        (x2 | (s_arr << 8) | (s_arr << 16) | (x3 << 24)).astype("<u4"),
        (x3 | (x2 << 8) | (s_arr << 16) | (s_arr << 24)).astype("<u4"),
        (s_arr | (x3 << 8) | (x2 << 16) | (s_arr << 24)).astype("<u4"),
        (s_arr | (s_arr << 8) | (x3 << 16) | (x2 << 24)).astype("<u4"),
    ]
    return _NP_AES


def aes128_expand_keys_np(keys_u8):
    """(N, 16) uint8 keys -> (N, 11, 16) round keys, vectorized over
    keys (FIPS-197 §5.2, words as (N,4,4) byte arrays)."""
    import numpy as np

    t = _np_aes_tables()
    sbox, rcon = t["sbox"], t["rcon"]
    n = keys_u8.shape[0]
    rk = np.empty((n, 11, 16), dtype=np.uint8)
    rk[:, 0] = keys_u8
    w = keys_u8.reshape(n, 4, 4).copy()  # (N, word, byte)
    for r in range(10):
        temp = sbox[np.roll(w[:, 3], -1, axis=1)]  # RotWord + SubWord
        temp[:, 0] ^= rcon[r]
        w[:, 0] ^= temp
        w[:, 1] ^= w[:, 0]
        w[:, 2] ^= w[:, 1]
        w[:, 3] ^= w[:, 2]
        rk[:, r + 1] = w.reshape(n, 16)
    return rk


def aes128_encrypt_blocks_np(round_keys, key_idx, blocks):
    """AES-128-ECB encrypt, one block per row: ``blocks`` (M, 16)
    uint8, each encrypted under ``round_keys[key_idx[m]]``
    ((N, 11, 16) from aes128_expand_keys_np). Returns (M, 16) uint8.

    T-table form: rounds 1-9 run as four u32 column accumulations
    (SubBytes+ShiftRows+MixColumns fused into 1 KB lookup tables) —
    measured ~3x the byte-wise SubBytes/xtime formulation, which
    matters because this kernel IS the keyspace sweep's inner loop."""
    import numpy as np

    t = _np_aes_tables()
    sbox, shift, T = t["sbox"], t["shift"], t["T"]
    rk = round_keys[key_idx]  # (M, 11, 16)
    rk32 = rk.view("<u4")  # (M, 11, 4) little-endian column words
    s = blocks ^ rk[:, 0]
    # accumulate into one preallocated contiguous buffer (fancy-index
    # results are not guaranteed C-contiguous, and the u8 reinterpret
    # below requires it; this also drops two temporaries per round)
    buf = np.empty((blocks.shape[0], 4), dtype="<u4")
    for r in range(1, 10):
        b = s[:, shift]  # ShiftRows (SubBytes lives in the T-tables)
        np.bitwise_xor(T[0][b[:, 0::4]], T[1][b[:, 1::4]], out=buf)
        buf ^= T[2][b[:, 2::4]]
        buf ^= T[3][b[:, 3::4]]
        buf ^= rk32[:, r]
        s = buf.view(np.uint8)
    s = sbox[s[:, shift]] ^ rk[:, 10]  # final round: no MixColumns
    return s


def _cmac_dbl_np(blocks):
    """RFC 4493 subkey doubling on (N, 16) uint8 rows: left-shift the
    128-bit value by one, conditionally XOR 0x87 into the last byte."""
    import numpy as np

    shifted = (blocks << 1) & 0xFF
    shifted[:, :-1] |= blocks[:, 1:] >> 7
    shifted[:, -1] ^= np.where(blocks[:, 0] & 0x80, 0x87, 0).astype(np.uint8)
    return shifted


def ja_survivors_batch(keys: list[bytes], frames: list[tuple[int, bytes]]):
    """ja_survivors over MANY keys in one numpy pass: returns a
    (len(keys), len(frames)) bool array. Semantics are ja_survivors'
    decrypt-candidate -> re-MIC per (key, frame)
    (testAppKeysWithJoinAccept, lorawanWrapper.go:388-531), restated
    as four batched AES calls over (key x block) arrays:
      1. key expansion + CMAC subkey L for every key,
      2. ECB "decrypt" (device-side encrypt) of every frame body under
         every key,
      3/4. the 1-2 CMAC chaining blocks of every (key, frame) re-MIC.
    Memory: O(keys x total_body_blocks x 16) uint8 — callers chunk by
    Arrow batch (~10k keys x ~tens of frames = a few MB)."""
    import numpy as np

    if not keys or not frames:
        return np.zeros((len(keys), len(frames)), dtype=bool)
    # Chunk keys so the (keys x blocks, 16) working arrays stay
    # cache-resident: the round loop re-streams the state ~15x per
    # round, so a full Arrow batch (~10k keys x 2f blocks = tens of
    # MB) runs DRAM-bound — catastrophic when 32 workers sweep
    # concurrently (measured: 99 us/key monolithic vs 43 us/key at
    # ~500-key chunks, single core; the gap widens under contention).
    # Target ~12k blocks/chunk (~200 KB per op array, L2-resident).
    per_key_blocks = 2 * len(frames) + 1
    chunk = max(64, 12288 // per_key_blocks)
    if len(keys) > chunk:
        out = np.empty((len(keys), len(frames)), dtype=bool)
        for s in range(0, len(keys), chunk):
            out[s : s + chunk] = ja_survivors_batch(keys[s : s + chunk], frames)
        return out
    n = len(keys)
    rk = aes128_expand_keys_np(
        np.frombuffer(b"".join(keys), dtype=np.uint8).reshape(n, 16)
    )
    # CMAC subkeys per key: L = E(key, 0^16); K1 = dbl(L); K2 = dbl(K1)
    zero = np.zeros((n, 16), dtype=np.uint8)
    k1 = _cmac_dbl_np(aes128_encrypt_blocks_np(rk, np.arange(n), zero))
    k2 = _cmac_dbl_np(k1)

    out = np.empty((n, len(frames)), dtype=bool)
    # Group frames by body length so each group is one dense array.
    by_len: dict[int, list[int]] = {}
    for fi, (_, body) in enumerate(frames):
        by_len.setdefault(len(body), []).append(fi)
    for blen, fidx in by_len.items():
        nb = blen // 16
        f = len(fidx)
        bodies = np.frombuffer(
            b"".join(frames[i][1] for i in fidx), dtype=np.uint8
        ).reshape(f, nb, 16)
        # decrypt all (key, frame, block) in one call
        blocks = np.broadcast_to(bodies, (n, f, nb, 16)).reshape(-1, 16)
        kidx = np.repeat(np.arange(n), f * nb)
        dec = aes128_encrypt_blocks_np(rk, kidx, blocks).reshape(n, f, blen)
        trailer = dec[:, :, -4:]
        # re-MIC input: MHDR | decrypted payload (blen-4 bytes) ->
        # 1 + blen - 4 bytes = 13 (no CFList) or 29 (CFList) -> the
        # last CMAC block is always padded (never a 16 multiple).
        mhdr = np.array([frames[i][0] for i in fidx], dtype=np.uint8)
        ilen = 1 + blen - 4
        msg = np.zeros((n, f, ((ilen // 16) + 1) * 16), dtype=np.uint8)
        msg[:, :, 0] = mhdr  # broadcast over keys
        msg[:, :, 1 : 1 + blen - 4] = dec[:, :, : blen - 4]
        msg[:, :, ilen] = 0x80  # CMAC pad marker
        nb_mac = msg.shape[2] // 16
        # chain: x = E(x ^ block_j); last block XORs K2 (padded form)
        x = np.zeros((n, f, 16), dtype=np.uint8)
        kidx_f = np.repeat(np.arange(n), f)
        for j in range(nb_mac):
            b = msg[:, :, j * 16 : (j + 1) * 16]
            if j == nb_mac - 1:
                b = b ^ k2[:, None, :]
            x = aes128_encrypt_blocks_np(
                rk, kidx_f, (x ^ b).reshape(-1, 16)
            ).reshape(n, f, 16)
        ok = (x[:, :, :4] == trailer).all(axis=2)
        out[:, fidx] = ok
    return out


def _cmac_batch_np(rk, k1, k2, msgs: list[bytes]):
    """AES-CMAC of msgs[i] under round_keys rk[i] — one message per
    key, vectorized across rows (the multi-KEY twin of aes_cmac_batch,
    which is one KEY many messages). Returns (n, 16) uint8 full MACs.
    Rows are grouped by padded block count so each group's chaining
    loop is dense; identical RFC 4493 semantics to the scalar
    aes_cmac (complete-block rows XOR K1 into the last block, partial
    rows pad 0x80.. and XOR K2)."""
    import numpy as np

    n = len(msgs)
    out = np.empty((n, 16), dtype=np.uint8)
    by_m: dict[tuple[int, bool], list[int]] = {}
    for i, m in enumerate(msgs):
        ln = len(m)
        complete = bool(ln) and ln % 16 == 0
        nblk = ln // 16 if complete else ln // 16 + 1
        by_m.setdefault((nblk, complete), []).append(i)
    for (nblk, complete), idx in by_m.items():
        g = len(idx)
        buf = np.zeros((g, nblk * 16), dtype=np.uint8)
        for r, i in enumerate(idx):
            m = msgs[i]
            buf[r, : len(m)] = np.frombuffer(m, dtype=np.uint8)
            if not complete:
                buf[r, len(m)] = 0x80
        gi = np.asarray(idx, dtype=np.intp)
        sub = (k1 if complete else k2)[gi]
        x = np.zeros((g, 16), dtype=np.uint8)
        for j in range(nblk):
            b = buf[:, j * 16 : (j + 1) * 16]
            if j == nblk - 1:
                b = b ^ sub
            x = aes128_encrypt_blocks_np(rk, gi, x ^ b)
        out[gi] = x
    return out


def data_roundtrip_batch(
    nwk_keys: list[bytes],
    dev_addr_hexes: list[str],
    f_cnts: list[int],
    f_ports: list[int],
    payloads: list[bytes],
) -> tuple[list[bytes], list[bool], list[bytes]]:
    """``encode_data_frame(nwk, addr, f_cnt, payload, f_port)`` followed
    by ``parse_phypayload(frame, nwk, nwk)`` for MANY rows, EACH under
    its own NwkSKey, in a handful of numpy passes. Returns
    ``(frames, mic_ok, frm)``: the encoded wire bytes, the parse-side
    MIC verdict, and the parse-side decrypted FRMPayload (empty bytes
    for an empty payload, mirroring the scalar parse).

    Why it exists (optimization round 13): the join-workflow kernel ran
    the scalar encode+parse pair per ROW with a per-row-distinct
    derived session key — ~45 one-block OpenSSL FFI calls plus a
    Cipher construction per row (measured 1.9 s single-core for 20k
    signup rows, the dominant cost of `lorawan_security_suite`'s
    join_workflow leg). Per-row keys defeat every one-key batch path,
    so this uses the keyspace sweep's multi-key numpy AES
    (aes128_expand_keys_np / aes128_encrypt_blocks_np) instead.

    Scope is the kernel's exact shape — uplink, unconfirmed, no FOpts,
    integer f_port >= 1 — and inputs outside it raise loudly (the
    scalar pair stays the general path). Bit-exactness contract
    (property-tested in tests/test_lorawan_codec.py): byte-identical
    frames, and the parse side HONESTLY recomputes the MIC and the
    FRMPayload keystream from the wire bytes — including the scalar
    parser's 16-bit f_cnt reconstruction from the FHDR, so a
    f_cnt >= 2^16 mismatches exactly where the scalar pair does."""
    import numpy as np

    n = len(nwk_keys)
    if n == 0:
        return [], [], []
    # Chunk rows so the per-pass block arrays stay cache-resident
    # (same discipline as ja_survivors_batch; ~8 blocks/row keeps an
    # 8192-row chunk ~1 MB per op array — measured faster than 2048,
    # which fragmented the AES into 4x more small dispatches).
    if n > 8192:
        frames: list[bytes] = []
        oks: list[bool] = []
        frms: list[bytes] = []
        for s in range(0, n, 8192):
            f_, o_, d_ = data_roundtrip_batch(
                nwk_keys[s : s + 8192],
                dev_addr_hexes[s : s + 8192],
                f_cnts[s : s + 8192],
                f_ports[s : s + 8192],
                payloads[s : s + 8192],
            )
            frames += f_
            oks += o_
            frms += d_
        return frames, oks, frms
    for p in f_ports:
        if not isinstance(p, int) or not 1 <= p <= 255:
            raise ValueError(f"data_roundtrip_batch needs f_port in 1..255, got {p!r}")
    keys_u8 = np.frombuffer(b"".join(nwk_keys), dtype=np.uint8).reshape(n, 16)
    rk = aes128_expand_keys_np(keys_u8)
    idx_all = np.arange(n)
    k1 = _cmac_dbl_np(aes128_encrypt_blocks_np(rk, idx_all, np.zeros((n, 16), np.uint8)))
    k2 = _cmac_dbl_np(k1)
    addr_le = np.frombuffer(
        b"".join(_unle(a) for a in dev_addr_hexes), dtype=np.uint8
    ).reshape(n, 4)
    fcnt4_enc = np.array(f_cnts, dtype="<u4").view(np.uint8).reshape(n, 4)
    # parse side reads f_cnt back from the 2-byte FHDR field
    fcnt4_par = np.array([c & 0xFFFF for c in f_cnts], dtype="<u4").view(
        np.uint8
    ).reshape(n, 4)

    def _keystream(fcnt4):
        """FRMPayload keystream per row (ragged, grouped by block
        count): A_j = 01 0^4 dir=00 addr fcnt4 00 j+1."""
        ks = [b""] * n
        by_nb: dict[int, list[int]] = {}
        for i, p in enumerate(payloads):
            nb = (len(p) + 15) // 16
            if nb:
                by_nb.setdefault(nb, []).append(i)
        for nb, idx in by_nb.items():
            g = len(idx)
            gi = np.asarray(idx, dtype=np.intp)
            a = np.zeros((g, nb, 16), dtype=np.uint8)
            a[:, :, 0] = 1
            a[:, :, 6:10] = addr_le[gi, None, :]
            a[:, :, 10:14] = fcnt4[gi, None, :]
            a[:, :, 15] = np.arange(1, nb + 1, dtype=np.uint8)[None, :]
            enc = aes128_encrypt_blocks_np(
                rk, np.repeat(gi, nb), a.reshape(-1, 16)
            ).reshape(g, nb * 16)
            for r, i in enumerate(idx):
                ks[i] = enc[r, : len(payloads[i])].tobytes()
        return ks

    def _xor(a: bytes, b: bytes) -> bytes:
        return (int.from_bytes(a, "big") ^ int.from_bytes(b, "big")).to_bytes(
            len(a), "big"
        ) if a else b""

    ks_enc = _keystream(fcnt4_enc)
    msgs: list[bytes] = [b""] * n
    b0_enc: list[bytes] = [b""] * n
    for i in range(n):
        fhdr = addr_le[i].tobytes() + b"\x00" + fcnt4_enc[i, :2].tobytes()
        msg = b"\x40" + fhdr + bytes([f_ports[i]]) + _xor(payloads[i], ks_enc[i])
        msgs[i] = msg
        b0_enc[i] = (
            b"\x49" + b"\x00\x00\x00\x00" + b"\x00" + addr_le[i].tobytes()
            + fcnt4_enc[i].tobytes() + b"\x00" + bytes([len(msg)])
        )
    mics = _cmac_batch_np(rk, k1, k2, [b0_enc[i] + msgs[i] for i in range(n)])
    frames = [msgs[i] + mics[i, :4].tobytes() for i in range(n)]

    # ---- parse side: honest recomputation from the wire bytes ----
    ks_par = _keystream(fcnt4_par)
    b0_par = [
        b"\x49" + b"\x00\x00\x00\x00" + b"\x00" + addr_le[i].tobytes()
        + fcnt4_par[i].tobytes() + b"\x00" + bytes([len(msgs[i])])
        for i in range(n)
    ]
    mics_par = _cmac_batch_np(rk, k1, k2, [b0_par[i] + msgs[i] for i in range(n)])
    mic_ok = [
        mics_par[i, :4].tobytes() == frames[i][-4:] for i in range(n)
    ]
    frm = [_xor(msgs[i][9:], ks_par[i]) for i in range(n)]
    return frames, mic_ok, frm
