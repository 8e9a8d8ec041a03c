"""Seeded input generator for the streaming workloads.

Pure Python and Spark-free, so it runs before the benchmark clock
starts. The same seed gives byte-identical captures.

Each collector gets one JSONL capture (``{"topic", "value", "ts"}`` per
line, the shape ``lorawan_replay`` and the ``replay`` transport read).
The traffic varies what the engine's behaviour depends on:

- a seeded device population per collector, each device with a
  DevAddr, a DevEUI and a frame counter (FCnt) that rises per uplink;
- a random FRMPayload and MIC on every frame, so no two frames share
  bytes and the per-batch decode memo only hits on gateway duplicates;
- every uplink heard by k gateways (1-3), which repeats the frame;
- ChirpStack traffic mixing joins and application messages of new
  devices (devices_map writes) with uplinks of known devices (lookups);
- a small share of malformed bodies and off-route topics.
"""

from __future__ import annotations

import base64
import json
import mmap
import random
import threading
import time
from dataclasses import dataclass

TS0 = 1_760_000_000  # capture clock origin, epoch seconds
MALFORMED_SHARE = 0.01
OFF_ROUTE_SHARE = 0.01
PAGE = mmap.PAGESIZE  # a live capture line is kept inside one page


@dataclass(frozen=True)
class Collector:
    cid: int
    type: str  # key into streaming.orchestrator.PIPELINES

    @property
    def capture(self) -> str:
        # lorawan_replay takes the collector id from the trailing _<id>.
        return f"{self.type}_{self.cid}.jsonl"


COLLECTORS = (
    Collector(1, "generic_mqtt_collector"),
    Collector(2, "chirpstack_collector"),
    Collector(3, "ttn_collector"),
    Collector(4, "ttn_v3_collector"),
)


def _b64(raw: bytes, pad: bool = True) -> str:
    s = base64.b64encode(raw).decode("ascii")
    return s if pad else s.rstrip("=")


class _Device:
    __slots__ = ("addr", "eui", "fcnt", "app", "name", "seen")

    def __init__(self, rng: random.Random, idx: int):
        self.addr = rng.getrandbits(32).to_bytes(4, "big")
        self.eui = rng.getrandbits(64).to_bytes(8, "big")
        self.fcnt = rng.randrange(0, 60_000)
        self.app = f"app-{idx % 7}"
        self.name = f"dev-{idx}"
        self.seen = False


def _data_up(rng: random.Random, dev: _Device) -> bytes:
    """A data-up PHYPayload: MHDR | DevAddr(LE) | FCtrl | FCnt(LE) |
    FPort | FRMPayload | MIC, with random FRMPayload and MIC."""
    dev.fcnt = (dev.fcnt + 1) & 0xFFFF
    mhdr = 0x40 if rng.random() < 0.8 else 0x80  # unconfirmed / confirmed
    fctrl = rng.choice((0x00, 0x80, 0xA0))  # ADR / ACK bits
    frm = rng.randbytes(rng.randrange(4, 25))
    return (
        bytes([mhdr]) + dev.addr[::-1] + bytes([fctrl])
        + dev.fcnt.to_bytes(2, "little") + bytes([rng.randrange(1, 224)])
        + frm + rng.randbytes(4)
    )


def _join_request(rng: random.Random, dev: _Device) -> bytes:
    return (
        b"\x00" + rng.randbytes(8) + dev.eui[::-1]
        + rng.getrandbits(16).to_bytes(2, "little") + rng.randbytes(4)
    )


def _iso(ts: int, frac: int) -> str:
    t = time.gmtime(ts)
    return time.strftime("%Y-%m-%dT%H:%M:%S", t) + f".{frac:06d}Z"


class _Stream:
    """Per-collector message source: emits (topic, value) pairs."""

    def __init__(self, rng: random.Random, ctype: str, n_devices: int, n_gateways: int):
        self.rng = rng
        self.ctype = ctype
        self.devices = [_Device(rng, i) for i in range(n_devices)]
        self.gateways = [rng.getrandbits(64).to_bytes(8, "big").hex() for _ in range(n_gateways)]

    def _gws(self) -> list[str]:
        k = self.rng.choice((1, 1, 2, 3))
        return self.rng.sample(self.gateways, k)

    def event(self) -> list[tuple[str, str]]:
        rng = self.rng
        u = rng.random()
        if u < MALFORMED_SHARE:
            return [(self._route_topic(), '{"phyPayload": "QMTB' + rng.randbytes(3).hex())]
        if u < MALFORMED_SHARE + OFF_ROUTE_SHARE:
            return [(f"unrouted/{rng.randrange(100)}/ping", '{"x": 1}')]
        dev = rng.choice(self.devices)
        return getattr(self, "_" + self.ctype)(dev)

    def _route_topic(self) -> str:
        return {
            "generic_mqtt_collector": "lora/00-00/up",
            "chirpstack_collector": "gateway/00/rx",
            "ttn_collector": "eui-00",
            "ttn_v3_collector": "",
        }[self.ctype]

    def _radio(self) -> dict:
        rng = self.rng
        return {
            "rssi": float(rng.randrange(-120, -30)),
            "snr": round(rng.uniform(-15.0, 12.0), 1),
            "freq": rng.choice((868.1, 868.3, 868.5, 867.1, 867.3)),
            "sf": rng.choice((7, 8, 9, 10, 11, 12)),
            "chan": rng.randrange(8),
            "rfch": rng.randrange(2),
            "tmst": rng.getrandbits(32),
        }

    def _generic_mqtt_collector(self, dev: _Device) -> list[tuple[str, str]]:
        phy = _data_up(self.rng, dev)
        eui = "-".join(f"{b:02x}" for b in dev.eui)
        out = []
        for _gw in self._gws():
            r = self._radio()
            body = {
                "data": _b64(phy, pad=False), "chan": r["chan"], "stat": 1,
                "lsnr": r["snr"], "rssi": r["rssi"], "tmst": r["tmst"],
                "rfch": r["rfch"], "freq": r["freq"], "modu": "LORA",
                "datr": f"SF{r['sf']}BW125", "codr": "4/5", "size": len(phy),
            }
            out.append((f"lora/{eui}/up", json.dumps(body)))
        return out

    def _chirpstack_collector(self, dev: _Device) -> list[tuple[str, str]]:
        rng = self.rng
        eui = dev.eui.hex()
        first = not dev.seen
        dev.seen = True
        if first and rng.random() < 0.5:
            # Half the new devices announce themselves with a join
            # (a devices_map write); the rest first appear as unknown
            # uplinks, which enrichment buffers until an application
            # message with the same FCnt merges them (a map upsert).
            return [(f"application/1/device/{eui}/join",
                     json.dumps({"devAddr": dev.addr.hex(), "devEUI": eui}))]
        phy = _join_request(rng, dev) if rng.random() < 0.03 else _data_up(rng, dev)
        out = []
        for gw in self._gws():
            r = self._radio()
            body = {
                "phyPayload": _b64(phy),
                "rxInfo": {
                    "mac": gw, "rssi": r["rssi"], "loRaSNR": r["snr"],
                    "frequency": int(r["freq"] * 1_000_000), "channel": r["chan"],
                    "rfChain": r["rfch"], "crcStatus": 1, "codeRate": "4/5",
                    "size": len(phy), "timestamp": r["tmst"],
                    "dataRate": {"modulation": "LORA", "spreadFactor": r["sf"],
                                 "bandwidth": 125},
                },
            }
            out.append((f"gateway/{gw}/rx", json.dumps(body)))
        if rng.random() < (0.9 if first else 0.3):
            # Application message for the same frame: merges a buffered
            # packet and upserts the device's names.
            app = {
                "fCnt": dev.fcnt, "applicationName": dev.app, "deviceName": dev.name,
                "devEUI": eui,
                "rxInfo": [{"name": f"gw-{out[0][0][8:14]}",
                            "location": {"latitude": round(rng.uniform(-60, 60), 5),
                                         "longitude": round(rng.uniform(-180, 180), 5),
                                         "altitude": float(rng.randrange(0, 500))}}],
            }
            out.append((f"application/1/device/{eui}/rx", json.dumps(app)))
        return out

    def _ttn_collector(self, dev: _Device) -> list[tuple[str, str]]:
        rng = self.rng
        out = []
        gws = self._gws()
        if rng.random() < 0.1:
            status = {"status": {"location": {
                "latitude": round(rng.uniform(-60, 60), 5),
                "longitude": round(rng.uniform(-180, 180), 5),
                "altitude": float(rng.randrange(0, 500))}}}
            out.append((f"eui-{gws[0]}", f"gateway status {json.dumps(status)}"))
        if rng.random() < 0.02:
            out.append((f"eui-{gws[0]}", "h"))  # keepalive, dropped
        phy = _data_up(rng, dev)
        for gw in gws:
            r = self._radio()
            up = {
                "payload": _b64(phy, pad=False), "snr": r["snr"], "rssi": r["rssi"],
                "timestamp": _iso(TS0 + rng.randrange(86_400), rng.randrange(1_000_000)),
                "rfch": r["rfch"], "frequency": r["freq"], "coding_rate": "4/5",
                "dev_eui": dev.eui.hex().upper(),
            }
            out.append((f"eui-{gw}", f'gateway uplink "{json.dumps(up)}"'))
        return out

    def _ttn_v3_collector(self, dev: _Device) -> list[tuple[str, str]]:
        rng = self.rng
        out = []
        gws = self._gws()
        if rng.random() < 0.05:
            out.append(("", json.dumps({
                "name": "gs.status.receive", "time": _iso(TS0, 0),
                "identifiers": [{"gateway_ids": {"gateway_id": f"g-{gws[0][:4]}", "eui": gws[0].upper()}}],
                "data": {"antenna_locations": [{
                    "latitude": round(rng.uniform(-60, 60), 5),
                    "longitude": round(rng.uniform(-180, 180), 5),
                    "altitude": float(rng.randrange(0, 500))}]}})))
        if rng.random() < 0.01:
            out.append(("", json.dumps({"name": "events.stream.start"})))
        phy = _data_up(rng, dev)
        down = rng.random() < 0.1
        for gw in gws[:1] if down else gws:
            r = self._radio()
            data = {
                "raw_payload": _b64(phy),
                "rx_metadata": [{"snr": r["snr"], "rssi": r["rssi"]}],
                "settings": {"frequency": str(int(r["freq"] * 1_000_000)),
                             "coding_rate": "4/5"},
            }
            if down:
                data["request"] = {"rx1_frequency": str(int(r["freq"] * 1_000_000))}
            out.append(("", json.dumps({
                "name": "gs.down.send" if down else "gs.up.receive",
                "time": _iso(TS0 + rng.randrange(86_400), rng.randrange(1_000_000)),
                "identifiers": [{"gateway_ids": {"gateway_id": f"g-{gw[:4]}", "eui": gw.upper()}}],
                "data": data,
            })))
        return out


def collector_lines(
    seed: int, coll: Collector, n: int, n_devices: int, rate_per_s: float
) -> list[str]:
    """Exactly ``n`` capture lines for one collector. ``ts`` advances
    at ``rate_per_s`` from TS0, so the packets' ``date`` column is a
    function of the seed only."""
    rng = random.Random(f"{seed}:{coll.cid}:{coll.type}")
    stream = _Stream(rng, coll.type, n_devices, n_gateways=24)
    lines: list[str] = []
    while len(lines) < n:
        for topic, value in stream.event():
            if len(lines) == n:
                break
            ts = TS0 + int(len(lines) / rate_per_s)
            lines.append(json.dumps({"topic": topic, "value": value, "ts": ts}))
    return lines


def write_capture(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(line + "\n" for line in lines))


def append_line(fh, line: str) -> None:
    """Append ``line`` and its newline to the unbuffered binary file
    ``fh`` (opened ``"ab"``) in one ``write``, so that the line never
    straddles a page.

    A reader tailing the file sees a write that crosses a page boundary
    one page at a time, and may read the first part of the line
    alone. A line that would cross the next boundary is therefore
    preceded by one blank (all-space) line that fills the page. Both
    capture readers skip blank lines, so the messages and their
    offsets are unchanged."""
    data = (line + "\n").encode("utf-8")
    if len(data) > PAGE:
        raise ValueError(f"capture line of {len(data)} bytes exceeds a {PAGE}-byte page")
    room = PAGE - fh.tell() % PAGE
    if len(data) > room:
        _write_all(fh, b" " * (room - 1) + b"\n")
    _write_all(fh, data)


def _write_all(fh, data: bytes) -> None:
    n = fh.write(data)
    if n != len(data):
        raise OSError(f"short write to {fh.name}: {n} of {len(data)} bytes")


class Pacer:
    """Open-loop traffic generator: appends each collector's lines to
    its capture at fixed due times, whole lines per append (see
    ``append_line``), and records each message's due time
    (``time.perf_counter``) by (cid, seq).

    ``preroll`` writes a collector's first lines at once (they feed the
    cold first batch). After ``start(at)``, collector ``c`` emits
    message ``seq`` at ``at + phase[c] + (seq - preroll[c]) / rate[c]``
    however far the engine lags, until its lines run out. ``lag_s``
    records how late the generator itself ran."""

    def __init__(self, files: dict[int, str], lines: dict[int, list[str]], rate: float):
        self.files = files
        self.lines = lines
        self.rate = rate  # per collector, msgs/s
        self.due: dict[int, list[float]] = {cid: [] for cid in files}
        self.lag_s: list[float] = []
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        for path in files.values():
            open(path, "w").close()

    def preroll(self, cid: int, n: int) -> None:
        with open(self.files[cid], "ab", buffering=0) as fh:
            for seq in range(len(self.due[cid]), n):
                append_line(fh, self.lines[cid][seq])
                self.due[cid].append(time.perf_counter())

    def start(self, at: float) -> None:
        self._thread = threading.Thread(target=self._run, args=(at,), name="pacer")
        self._thread.start()

    def join(self, timeout: float) -> None:
        """Wait for the schedule to finish (or stop it at ``timeout``)."""
        if self._thread is None:
            return
        self._thread.join(timeout)
        self._stop.set()
        self._thread.join(10)
        if self._thread.is_alive():
            raise RuntimeError("pacer thread did not stop")

    def _run(self, at: float) -> None:
        cids = sorted(self.files)
        base = {c: len(self.due[c]) for c in cids}
        phase = {c: i / (self.rate * len(cids)) for i, c in enumerate(cids)}
        handles = {c: open(self.files[c], "ab", buffering=0) for c in cids}
        try:
            while not self._stop.is_set():
                best = None
                for c in cids:
                    seq = len(self.due[c])
                    if seq < len(self.lines[c]):
                        t = at + phase[c] + (seq - base[c]) / self.rate
                        if best is None or t < best[0]:
                            best = (t, c, seq)
                if best is None:
                    return
                t, c, seq = best
                now = time.perf_counter()
                if t > now:
                    self._stop.wait(t - now)
                    continue
                append_line(handles[c], self.lines[c][seq])
                self.due[c].append(t)
                self.lag_s.append(now - t)
        finally:
            for fh in handles.values():
                fh.close()
