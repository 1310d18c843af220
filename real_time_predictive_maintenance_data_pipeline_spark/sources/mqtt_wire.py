"""MQTT 3.1.1 wire transport — the reference's ACTUAL protocol, moved
over real sockets (SURVEY §2.1 O7/O23).

The reference publishes telemetry with paho/Eclipse-Paho-Java QoS 1 to
``factory/telemetry`` (IoTSimulator.java:158-162, topic :31, QoS :55)
and consumes it with a blocking paho subscribe loop
(realtime_inference.py:81-89). This container has no MQTT library and
no broker, so this module implements the small, fully-public subset of
the OASIS MQTT 3.1.1 spec those two sides exchange — CONNECT/CONNACK,
SUBSCRIBE/SUBACK, UNSUBSCRIBE/UNSUBACK, PUBLISH/PUBACK (QoS 0/1),
PINGREQ/PINGRESP, DISCONNECT — as pure byte codecs plus a socket
client, so the engine's
publish sink and subscribe source are exercised over genuine MQTT
frames on a live TCP connection, not a file stand-in.

Scale/production notes:

- The distributed publish path is ``publish_partitions`` — one
  connection PER PARTITION via ``foreachPartition`` (the same
  shape as a Kafka producer per task): 1000 executors publish in
  parallel, each holding one socket, nothing is collected to the
  driver.
- QoS 1 == at-least-once: the publisher waits for PUBACK and re-sends
  with DUP=1 on timeout; the subscriber side deduplicates downstream
  with ``dropDuplicatesWithinWatermark`` (streaming/pipeline.py), the
  same idempotence contract the Kafka path documents.
- ``MiniBroker`` is a TEST transport (in-memory state, spec §4.7
  wildcard topic routing incl. ``+``/``#`` and ``$``-topic exclusion)
  — production deployments point the same client at a real broker;
  semantics are unchanged because both speak the same frames.
- ``SubscriberBridge`` spools received payloads to a line-per-record
  file consumed by ``file_payload_source`` — the spool IS the
  replayable retention buffer (O12) the raw MQTT transport lacks.
"""

from __future__ import annotations

import os
import select
import socket
import ssl
import threading
import time
import uuid
from dataclasses import dataclass, field

# MQTT 3.1.1 control-packet types (spec §2.2.1)
CONNECT, CONNACK = 1, 2
PUBLISH, PUBACK = 3, 4
SUBSCRIBE, SUBACK = 8, 9
UNSUBSCRIBE, UNSUBACK = 10, 11
PINGREQ, PINGRESP = 12, 13
DISCONNECT = 14

MAX_REMAINING_LENGTH = 268_435_455  # spec §2.2.3: 4 varint bytes


# ---------------------------------------------------------------------------
# Codec primitives
# ---------------------------------------------------------------------------


def encode_remaining_length(n: int) -> bytes:
    """Variable-length remaining-length field (spec §2.2.3): 7 bits per
    byte, continuation bit 0x80, little-endian groups, 1-4 bytes."""
    if not 0 <= n <= MAX_REMAINING_LENGTH:
        raise ValueError(f"remaining length out of range: {n}")
    out = bytearray()
    while True:
        n, digit = divmod(n, 128)
        out.append(digit | (0x80 if n else 0))
        if not n:
            return bytes(out)


def decode_remaining_length(buf: bytes, i: int = 0) -> tuple[int, int]:
    """Decode at ``buf[i:]``; returns (value, bytes consumed)."""
    value, mult = 0, 1
    for k in range(4):
        b = buf[i + k]
        value += (b & 0x7F) * mult
        if not b & 0x80:
            return value, k + 1
        mult *= 128
    raise ValueError("malformed remaining length (>4 bytes)")


def _utf8(s: str) -> bytes:
    raw = s.encode("utf-8")
    if len(raw) > 0xFFFF:
        raise ValueError("MQTT string exceeds 65535 bytes")
    return len(raw).to_bytes(2, "big") + raw


def _read_utf8(buf: bytes, i: int) -> tuple[str, int]:
    n = int.from_bytes(buf[i : i + 2], "big")
    return buf[i + 2 : i + 2 + n].decode("utf-8"), i + 2 + n


def _frame(packet_type: int, flags: int, body: bytes) -> bytes:
    return bytes([(packet_type << 4) | flags]) + encode_remaining_length(
        len(body)
    ) + body


# ---------------------------------------------------------------------------
# Packet encoders (client->server and server->client)
# ---------------------------------------------------------------------------


def encode_connect(client_id: str, keep_alive: int = 60, clean_session: bool = True) -> bytes:
    """CONNECT (spec §3.1): protocol name 'MQTT', level 4 (=3.1.1)."""
    flags = 0x02 if clean_session else 0x00
    body = (
        _utf8("MQTT")
        + bytes([4, flags])
        + keep_alive.to_bytes(2, "big")
        + _utf8(client_id)
    )
    return _frame(CONNECT, 0, body)


def encode_connack(session_present: bool = False, return_code: int = 0) -> bytes:
    return _frame(CONNACK, 0, bytes([int(session_present), return_code]))


def encode_publish(
    topic: str,
    payload: bytes,
    qos: int = 1,
    packet_id: int | None = None,
    dup: bool = False,
    retain: bool = False,
) -> bytes:
    """PUBLISH (spec §3.3). QoS 1 requires a packet id; the reference
    publishes QoS 1 non-retained (IoTSimulator.java:55,158-162)."""
    if qos not in (0, 1):
        raise ValueError("only QoS 0/1 (at-most/at-least-once) supported")
    if qos == 1 and packet_id is None:
        raise ValueError("QoS 1 PUBLISH requires a packet id")
    flags = (0x08 if dup else 0) | (qos << 1) | (0x01 if retain else 0)
    body = _utf8(topic)
    if qos == 1:
        body += packet_id.to_bytes(2, "big")
    return _frame(PUBLISH, flags, body + payload)


def encode_puback(packet_id: int) -> bytes:
    return _frame(PUBACK, 0, packet_id.to_bytes(2, "big"))


def encode_subscribe(packet_id: int, topic: str, qos: int = 1) -> bytes:
    """SUBSCRIBE (spec §3.8) — fixed-header flags MUST be 0b0010."""
    return _frame(
        SUBSCRIBE, 0x02, packet_id.to_bytes(2, "big") + _utf8(topic) + bytes([qos])
    )


def encode_suback(packet_id: int, granted_qos: int = 1) -> bytes:
    return _frame(SUBACK, 0, packet_id.to_bytes(2, "big") + bytes([granted_qos]))


def encode_unsubscribe(packet_id: int, *topic_filters: str) -> bytes:
    """Spec §3.10: fixed-header flags MUST be 0x02; payload is one or
    more UTF-8 topic filters, matched against subscriptions by exact
    byte comparison (a wildcard filter unsubscribes only the identical
    filter string, never the topics it matched)."""
    body = packet_id.to_bytes(2, "big") + b"".join(_utf8(f) for f in topic_filters)
    return _frame(UNSUBSCRIBE, 0x02, body)


def encode_unsuback(packet_id: int) -> bytes:
    return _frame(UNSUBACK, 0, packet_id.to_bytes(2, "big"))


def topic_matches(topic_filter: str, topic_name: str) -> bool:
    """OASIS MQTT 3.1.1 §4.7 topic-filter matching.

    - levels split on ``/``; ``+`` matches exactly one level;
    - ``#`` matches the remaining levels INCLUDING the parent itself
      (``sport/#`` matches ``sport``) and must be the last level;
    - wildcard filters must not match ``$``-prefixed system topics
      ([MQTT-4.7.2-1]: ``#`` does not match ``$SYS/...``);
    - matching is byte-exact otherwise — no case folding, empty levels
      significant (``a//b`` has three levels).
    """
    if topic_filter == topic_name:
        return True  # exact match, $-topics included
    f_levels = topic_filter.split("/")
    t_levels = topic_name.split("/")
    if t_levels[0].startswith("$") and f_levels[0] in ("+", "#"):
        return False
    for i, f in enumerate(f_levels):
        if f == "#":
            return i == len(f_levels) - 1
        if i >= len(t_levels):
            return False
        if f != "+" and f != t_levels[i]:
            return False
    # all filter levels consumed: match iff no topic levels remain, or
    # exactly a trailing "/#" parent match handled above; also accept
    # the "sport/#" == "sport" parent case where the filter has one
    # extra "#" level — that returned above, so here lengths must agree
    return len(f_levels) == len(t_levels)


def valid_topic_filter(topic_filter: str) -> bool:
    """Spec §4.7.1: ``#`` only as the last level; ``+``/``#`` only as
    whole levels; filters are at least one character."""
    if not topic_filter:
        return False
    levels = topic_filter.split("/")
    for i, lvl in enumerate(levels):
        if "#" in lvl and (lvl != "#" or i != len(levels) - 1):
            return False
        if "+" in lvl and lvl != "+":
            return False
    return True


def client_tls_context(
    root_ca: str, certfile: str, keyfile: str, check_hostname: bool = True
) -> ssl.SSLContext:
    """O8: the mTLS socket factory from PEM file paths — the exact
    inputs the reference loads (AwsIotSslUtil.java:54-66: root CA into
    the trust store for server auth, device cert + private key into the
    key store for client auth, TLS context from both; the Python side
    mirrors realtime_inference.py:152-162: ``cert_reqs=CERT_REQUIRED``,
    ``PROTOCOL_TLS_CLIENT``, ``tls_insecure_set(False)`` ==
    ``check_hostname=True``). Pass the returned context as ``tls=`` to
    ``MqttPublisher`` / ``SubscriberBridge``; every MQTT frame then
    crosses the socket inside TLS, as on a broker's port 8883."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    ctx.load_verify_locations(cafile=root_ca)
    ctx.load_cert_chain(certfile=certfile, keyfile=keyfile)
    ctx.verify_mode = ssl.CERT_REQUIRED
    ctx.check_hostname = check_hostname
    return ctx


def server_tls_context(root_ca: str, certfile: str, keyfile: str) -> ssl.SSLContext:
    """Broker side of mutual TLS for the test transport: present the
    server certificate, REQUIRE a client certificate chaining to
    ``root_ca`` (AWS IoT Core's X.509 device-auth contract — a client
    without a valid device cert never completes the handshake)."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile=certfile, keyfile=keyfile)
    ctx.load_verify_locations(cafile=root_ca)
    ctx.verify_mode = ssl.CERT_REQUIRED
    return ctx


def encode_pingreq() -> bytes:
    return _frame(PINGREQ, 0, b"")


def encode_pingresp() -> bytes:
    return _frame(PINGRESP, 0, b"")


def encode_disconnect() -> bytes:
    return _frame(DISCONNECT, 0, b"")


# ---------------------------------------------------------------------------
# Packet decoding
# ---------------------------------------------------------------------------


@dataclass
class Packet:
    type: int
    flags: int
    body: bytes

    # PUBLISH fields, populated by parse()
    topic: str | None = None
    packet_id: int | None = None
    payload: bytes = b""
    qos: int = 0
    dup: bool = False
    retain: bool = False


def parse_packet(raw: bytes) -> tuple[Packet, int]:
    """Parse one packet from ``raw``; returns (packet, bytes consumed).
    Raises IndexError when the buffer holds an incomplete frame (the
    caller reads more and retries) and ValueError on malformed frames."""
    first = raw[0]
    rem, nlen = decode_remaining_length(raw, 1)
    end = 1 + nlen + rem
    if len(raw) < end:
        raise IndexError("incomplete frame")
    p = Packet(type=first >> 4, flags=first & 0x0F, body=raw[1 + nlen : end])
    if p.type == PUBLISH:
        p.dup = bool(p.flags & 0x08)
        p.qos = (p.flags >> 1) & 0x03
        p.retain = bool(p.flags & 0x01)
        p.topic, i = _read_utf8(p.body, 0)
        if p.qos:
            p.packet_id = int.from_bytes(p.body[i : i + 2], "big")
            i += 2
        p.payload = p.body[i:]
    elif p.type in (PUBACK, SUBACK, SUBSCRIBE, UNSUBSCRIBE, UNSUBACK):
        p.packet_id = int.from_bytes(p.body[0:2], "big")
    return p, end


class PacketStream:
    """Incremental framer over a socket: buffers bytes, yields complete
    packets. One instance per connection (not thread-safe).

    ``read_packet`` returns ``None`` both on timeout (try again later)
    and on connection loss; ``eof`` distinguishes them — it latches True
    once the peer closed or the socket errored, so pollers can tell a
    quiet connection from a dead one instead of spinning on a socket
    whose ``recv`` returns instantly forever.

    ``lock`` is for a socket other threads write to: an ``SSLSocket``
    is one OpenSSL object, not safe for a ``recv`` concurrent with a
    ``sendall``. The stream then waits for readability outside the
    lock and reads under it, non-blocking, so a write waits at most
    for one ``recv`` of bytes already there; the socket's own timeout
    (which its writers use) is left as it was."""

    def __init__(self, sock: socket.socket, lock: threading.Lock | None = None) -> None:
        self._sock = sock
        self._lock = lock
        self._buf = b""
        self.eof = False

    def _recv(self, timeout: float | None) -> bytes:
        if self._lock is None:
            self._sock.settimeout(timeout)
            return self._sock.recv(65536)
        pending = getattr(self._sock, "pending", None)
        if not (pending and pending()):
            try:
                ready, _, _ = select.select([self._sock], [], [], timeout)
            except ValueError:  # closed under us: fileno() is -1
                raise OSError("socket closed") from None
            if not ready:
                raise TimeoutError
        with self._lock:
            prev = self._sock.gettimeout()
            self._sock.setblocking(False)
            try:
                return self._sock.recv(65536)
            except (ssl.SSLWantReadError, BlockingIOError):
                raise TimeoutError from None  # a partial TLS record
            finally:
                self._sock.settimeout(prev)

    def read_packet(self, timeout: float | None = None) -> Packet | None:
        """Next complete packet, or None on EOF/timeout (check ``eof``)."""
        while True:
            try:
                pkt, used = parse_packet(self._buf)
                self._buf = self._buf[used:]
                return pkt
            except IndexError:
                pass
            if self.eof:
                return None
            try:
                chunk = self._recv(timeout)
            except (TimeoutError, socket.timeout):
                return None
            except OSError:
                self.eof = True
                return None
            if not chunk:
                self.eof = True
                return None
            self._buf += chunk


# ---------------------------------------------------------------------------
# Publisher client (O7: QoS-1 at-least-once publish)
# ---------------------------------------------------------------------------


class MqttPublisher:
    """Blocking QoS-1 publisher: CONNECT → [PUBLISH, await PUBACK]* →
    DISCONNECT. On PUBACK timeout the frame is re-sent with DUP=1 —
    at-least-once, byte-for-byte the contract of the reference's
    ``client.publish(topic, payload, qos=1)`` (IoTSimulator.java:158-162)."""

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str = "rtpmdp-pub",
        ack_timeout: float = 5.0,
        max_retries: int = 3,
        tls: ssl.SSLContext | None = None,
        server_hostname: str | None = None,
    ) -> None:
        self._sock = socket.create_connection((host, port), timeout=10.0)
        if tls is not None:
            # O8: TLS handshake before any MQTT byte (IoTSimulator's
            # socketFactory on port 8883, IoTSimulator.java:121-127)
            self._sock = tls.wrap_socket(
                self._sock, server_hostname=server_hostname or host
            )
        self._stream = PacketStream(self._sock)
        self._ack_timeout = ack_timeout
        self._max_retries = max_retries
        self._next_id = 1
        self._sock.sendall(encode_connect(client_id))
        ack = self._stream.read_packet(timeout=10.0)
        if ack is None or ack.type != CONNACK or ack.body[1] != 0:
            raise ConnectionError("MQTT CONNECT refused")

    def publish(self, topic: str, payload: bytes, qos: int = 1) -> int:
        """Publish one message; returns the number of transmissions
        (>1 means DUP re-sends happened — at-least-once in action)."""
        if qos == 0:
            self._sock.sendall(encode_publish(topic, payload, qos=0))
            return 1
        pid = self._next_id
        self._next_id = self._next_id % 0xFFFF + 1
        sends = 0
        for attempt in range(self._max_retries + 1):
            self._sock.sendall(
                encode_publish(topic, payload, qos=1, packet_id=pid, dup=attempt > 0)
            )
            sends += 1
            # Drain packets until THE matching PUBACK or the per-attempt
            # deadline: a stale PUBACK from a prior DUP re-send or a
            # broker PINGRESP must not consume the attempt's only read
            # and trigger a spurious re-send (or worse, a TimeoutError
            # with the real ack sitting in the buffer).
            deadline = time.monotonic() + self._ack_timeout
            while True:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    break
                ack = self._stream.read_packet(timeout=remaining)
                if ack is None:
                    if self._stream.eof:
                        # dead connection: fail fast and clearly instead
                        # of DUP re-sending into a closed socket until
                        # the retry budget burns down. The Spark task
                        # retry (foreachPartition) is the recovery path.
                        raise ConnectionError(
                            f"MQTT connection lost awaiting PUBACK "
                            f"for packet {pid} (after {sends} sends)"
                        )
                    break
                if ack.type == PUBACK and ack.packet_id == pid:
                    return sends
                # non-PUBACK (PINGRESP, ...) or PUBACK for an older id:
                # ignore and keep draining within the deadline
        raise TimeoutError(f"no PUBACK for packet {pid} after {sends} sends")

    def close(self) -> None:
        try:
            self._sock.sendall(encode_disconnect())
        except OSError:
            pass
        self._sock.close()


def unique_client_id(prefix: str = "rtpmdp") -> str:
    """Globally unique ClientId. MQTT 3.1.1 [MQTT-3.1.3-2]: a broker
    MUST disconnect the existing session when a second client connects
    with the same id — so pid-only ids (which collide across executor
    hosts and recycle) would let concurrent partition publishers steal
    each other's sessions mid-batch on a real broker."""
    return f"{prefix}-{socket.gethostname()}-{os.getpid()}-{uuid.uuid4().hex[:8]}"


def publish_partitions(
    df,
    host: str,
    port: int,
    topic: str,
    topic_col: str | None = None,
    tls_paths: tuple[str, str, str] | None = None,
) -> None:
    """O7 as a distributed Spark sink: every partition opens ITS OWN
    QoS-1 connection and publishes its rows' ``value`` column — the
    per-task-producer shape of the Kafka sink, so a 1000-executor
    cluster publishes in parallel and nothing funnels through the
    driver. Use inside ``foreachBatch`` for streaming at-least-once
    (re-run batches re-publish; consumers dedupe within watermark).

    ``topic_col`` names a per-row topic column for multi-topic relays
    (the AWS IoT rule shape — per-device topics matched by a wildcard
    filter, phase2-iot-kinesis.yaml:61); ``topic`` is the fallback for
    rows where that column is null.

    ``tls_paths`` is an optional ``(root_ca, certfile, keyfile)`` PEM
    path triple (O8 — the same three files the reference's socket
    factory loads, IoTSimulator.java:80-82): paths serialize to the
    executors, where each partition builds its own SSLContext (contexts
    hold OS resources and cannot be pickled) and handshakes mutual TLS
    before the first MQTT byte."""

    cols = ["value"] if topic_col is None else ["value", topic_col]

    def _send(rows) -> None:
        pub = None
        try:
            for row in rows:
                if pub is None:  # connect lazily: empty partitions stay silent
                    tls = (
                        client_tls_context(*tls_paths)
                        if tls_paths is not None
                        else None
                    )
                    pub = MqttPublisher(
                        host,
                        port,
                        client_id=unique_client_id("rtpmdp-part"),
                        tls=tls,
                    )
                t = topic if topic_col is None else (row[topic_col] or topic)
                pub.publish(t, row["value"].encode("utf-8"), qos=1)
        finally:
            if pub is not None:
                pub.close()

    df.select(*cols).foreachPartition(_send)


# ---------------------------------------------------------------------------
# Subscriber bridge (O23: subscribe -> replayable spool -> readStream)
# ---------------------------------------------------------------------------


class SubscriberBridge:
    """O23: CONNECT → SUBSCRIBE QoS 1 → for each PUBLISH, append the
    payload as one line to a spool file, then PUBACK. The spool is the
    replayable retention buffer (O12) the raw transport lacks: Spark
    tails it with ``file_payload_source`` and checkpointed offsets, so
    a restarted query replays from the file, not the broker.

    PUBACK is sent only AFTER the line is flushed — a crash between
    write and ack re-delivers (at-least-once), never loses.

    Transport loss auto-recovers like the reference's
    ``client.loop_forever()`` (realtime_inference.py:189): the loop
    redials + re-subscribes with capped exponential backoff
    (``reconnects`` counts sessions re-established; ``reconnect=False``
    opts out, surfacing the loss via ``close()``). The FIRST connect
    still raises to the caller — a bad address or refused TLS auth is
    configuration, not transient loss. Protocol corruption (malformed
    frame) stays fail-fast: stored and re-raised by ``close()``."""

    def __init__(
        self, host: str, port: int, topic: str, spool_dir: str,
        client_id: str = "rtpmdp-sub",
        tls: ssl.SSLContext | None = None,
        server_hostname: str | None = None,
        reconnect: bool = True,
        max_reconnect_wait: float = 2.0,
        keepalive: int = 60,
    ) -> None:
        os.makedirs(spool_dir, exist_ok=True)
        self._path = os.path.join(spool_dir, "mqtt_spool.jsonl")
        self._host, self._port, self._topic = host, port, topic
        self._client_id = client_id
        self._tls = tls
        self._server_hostname = server_hostname
        self._reconnect = reconnect
        self._max_wait = max_reconnect_wait
        self._keepalive = keepalive
        self._stop = threading.Event()
        self._seen: set[int] = set()  # per-session dedup by packet id
        self.received = 0
        self.rejected = 0  # non-UTF-8 / newline-bearing payloads (quarantined)
        self.reconnects = 0
        self.pings_sent = 0
        self._error: BaseException | None = None
        # the FIRST connect raises to the caller (bad address, refused
        # CONNECT, failed TLS auth are configuration errors, not
        # transient transport loss); only established sessions reconnect
        self._connect()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _connect(self) -> None:
        """Dial + CONNECT + SUBSCRIBE one session; assigns
        ``_sock``/``_stream`` only on full success."""
        sock = socket.create_connection((self._host, self._port), timeout=10.0)
        try:
            if self._tls is not None:
                # O8: subscribe side of mTLS (realtime_inference.py:152-162
                # — tls_set(ca, cert, key, CERT_REQUIRED) then connect :8883)
                sock = self._tls.wrap_socket(
                    sock, server_hostname=self._server_hostname or self._host
                )
            stream = PacketStream(sock)
            sock.sendall(encode_connect(self._client_id, keep_alive=self._keepalive))
            ack = stream.read_packet(timeout=10.0)
            if ack is None or ack.type != CONNACK or ack.body[1] != 0:
                raise ConnectionError("MQTT CONNECT refused")
            sock.sendall(encode_subscribe(1, self._topic, qos=1))
            sub = stream.read_packet(timeout=10.0)
            if sub is None or sub.type != SUBACK:
                raise ConnectionError("MQTT SUBSCRIBE not acknowledged")
            # close() may have fired while we were blocked dialing (its
            # join timeout is shorter than the connect timeout): without
            # this check the reconnect thread would install a fresh
            # session AFTER close() returned and leak it until process
            # exit. Abort here so _reconnect_loop observes _stop and
            # exits instead of adopting the socket.
            if self._stop.is_set():
                raise ConnectionError("subscriber closing")
        except BaseException:
            try:
                sock.close()
            except OSError:
                pass
            raise
        self._sock, self._stream = sock, stream

    def _reconnect_loop(self) -> bool:
        """Connection lost: redial with capped exponential backoff until
        a session is re-established (True) or ``close()`` stops us
        (False) — the recovery contract of the reference's
        ``client.loop_forever()`` (realtime_inference.py:189), which
        auto-reconnects and re-subscribes on connection loss."""
        try:
            self._sock.close()
        except OSError:
            pass
        delay = 0.05
        while not self._stop.is_set():
            try:
                self._connect()
            except (OSError, ConnectionError):
                if self._stop.wait(delay):
                    return False
                delay = min(delay * 2, self._max_wait)
                continue
            # Fresh session: the broker's outbound packet ids restart, so
            # the dedup set must reset with them (a stale set would drop
            # NEW messages that reuse an old id). Un-PUBACKed forwards
            # from the dead session may arrive again under new ids and
            # spool twice — that is the at-least-once contract; the
            # downstream dropDuplicatesWithinWatermark dedupes by value.
            self._seen = set()
            self.reconnects += 1
            return True
        return False

    def _loop(self) -> None:
        try:
            last_tx = time.monotonic()
            with open(self._path, "a", encoding="utf-8") as spool:
                while not self._stop.is_set():
                    # spec §3.1.2.10: within each keepalive interval the
                    # client must send SOME control packet — a broker
                    # drops silent clients at 1.5x keepalive. PUBACKs
                    # count; when idle, PINGREQ at half the interval.
                    if time.monotonic() - last_tx >= self._keepalive / 2:
                        try:
                            self._sock.sendall(encode_pingreq())
                            self.pings_sent += 1
                        except OSError:
                            pass  # dead socket: eof path below recovers
                        last_tx = time.monotonic()
                    pkt = self._stream.read_packet(timeout=0.25)
                    if pkt is None:
                        if self._stream.eof:
                            if self._reconnect and self._reconnect_loop():
                                last_tx = time.monotonic()  # fresh CONNECT
                                continue
                            if not self._stop.is_set():
                                # reconnect disabled (or aborted): surface
                                # the loss via close() instead of the
                                # caller watching ``received`` stall
                                self._error = ConnectionError(
                                    "MQTT connection lost"
                                )
                            return
                        continue
                    if pkt.type == PUBLISH:
                        # duplicate delivery (DUP resend raced our PUBACK):
                        # ack again, spool once. ``_seen`` is session-long,
                        # so a broker reusing a packet id after the 65535
                        # wrap would be wrongly deduped — acceptable for
                        # this test bridge; the production contract is the
                        # downstream dropDuplicatesWithinWatermark.
                        if pkt.packet_id not in self._seen:
                            # the spool is line-per-record: a payload that
                            # is not valid UTF-8 or embeds a newline would
                            # corrupt framing (one message splitting into
                            # several records), so quarantine it — count,
                            # ack, never spool (same PERMISSIVE+quarantine
                            # contract as the lake sink, O15/O24).
                            try:
                                text = pkt.payload.decode("utf-8")
                            except UnicodeDecodeError:
                                text = None
                            if text is None or "\n" in text or "\r" in text:
                                self.rejected += 1
                            else:
                                spool.write(text + "\n")
                                spool.flush()
                                os.fsync(spool.fileno())
                                self.received += 1
                            if pkt.packet_id is not None:
                                self._seen.add(pkt.packet_id)
                        if pkt.qos == 1 and pkt.packet_id is not None:
                            try:
                                self._sock.sendall(encode_puback(pkt.packet_id))
                                last_tx = time.monotonic()
                            except OSError:
                                # connection died between read and ack: the
                                # next read_packet sees eof and reconnects;
                                # the unacked message redelivers (at-least-
                                # once — it is already spooled above)
                                pass
                    elif pkt.type == PINGREQ:
                        try:
                            self._sock.sendall(encode_pingresp())
                            last_tx = time.monotonic()
                        except OSError:
                            pass
        except BaseException as exc:  # noqa: BLE001 — surfaced via close()
            # A malformed frame (ValueError from parse_packet) or socket
            # error must not silently kill the spool thread: store the
            # error so close() re-raises it to the caller instead of the
            # caller watching ``received`` stall with no explanation.
            self._error = exc

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
        try:
            self._sock.sendall(encode_disconnect())
        except OSError:
            pass
        self._sock.close()
        if self._error is not None:
            raise RuntimeError("MQTT subscriber thread died") from self._error


# ---------------------------------------------------------------------------
# Minimal in-process broker (test transport)
# ---------------------------------------------------------------------------


@dataclass
class _Session:
    sock: socket.socket
    subs: set = field(default_factory=set)
    # messages forwarded but not yet PUBACKed: pid -> (topic, payload)
    inflight: dict = field(default_factory=dict)
    next_pid: int = 1
    lock: threading.Lock = field(default_factory=threading.Lock)


class MiniBroker:
    """Deterministic in-process MQTT 3.1.1 broker for tests: spec §4.7
    topic routing (``+``/``#`` wildcards, ``$``-topic exclusion, invalid
    filters rejected with SUBACK 0x80),
    QoS-1 inbound (PUBACK to publisher AFTER forwarding) and
    outbound (per-subscriber packet ids + in-flight set). Redelivery is
    explicit — ``redeliver()`` re-sends every un-acked forward with
    DUP=1 — so at-least-once tests are deterministic instead of
    timer-based. Not a production broker; the clients above speak the
    same frames to a real one."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        tls: ssl.SSLContext | None = None,
        port: int = 0,
    ) -> None:
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(16)
        self.host, self.port = self._srv.getsockname()
        self._tls = tls  # server_tls_context(...) -> mutual TLS required
        self._sessions: list[_Session] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.delivered = 0  # total PUBLISH frames forwarded (incl. DUPs)
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    def _accept_loop(self) -> None:
        self._srv.settimeout(0.25)
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except (TimeoutError, socket.timeout, OSError):
                continue
            # Handshake + serve off the accept thread: a client that
            # stalls mid-TLS-handshake must not block further accepts.
            threading.Thread(
                target=self._start_session, args=(conn,), daemon=True
            ).start()

    def _start_session(self, conn: socket.socket) -> None:
        # bounds the TLS handshake and, after it, every write to this
        # session (reads time out on their own, see PacketStream)
        conn.settimeout(10.0)
        if self._tls is not None:
            try:
                conn = self._tls.wrap_socket(conn, server_side=True)
            except (ssl.SSLError, OSError):
                # failed mutual auth (no/unknown client cert) costs only
                # THIS connection — it never becomes a session
                try:
                    conn.close()
                except OSError:
                    pass
                return
        sess = _Session(sock=conn)
        with self._lock:
            self._sessions.append(sess)
        self._serve(sess)

    def _serve(self, sess: _Session) -> None:
        # reads share the session lock with every write: see PacketStream
        stream = PacketStream(sess.sock, lock=sess.lock)
        while not self._stop.is_set():
            try:
                pkt = stream.read_packet(timeout=0.25)
            except ValueError:
                # malformed frame (spec violation): drop THIS connection,
                # keep serving every other session
                with self._lock:
                    if sess in self._sessions:
                        self._sessions.remove(sess)
                sess.sock.close()
                return
            if pkt is None:
                if stream.eof:
                    # peer vanished without DISCONNECT (crash, network
                    # partition): reap the session — keeping it would
                    # spin this serve thread on an instant-EOF recv and
                    # route frames into a dead socket forever
                    with self._lock:
                        if sess in self._sessions:
                            self._sessions.remove(sess)
                    sess.sock.close()
                    return
                if self._stop.is_set():
                    return
                continue
            # Every write to a session socket holds that session's lock:
            # concurrent publishers route into the SAME subscriber
            # session from their own serve threads, and two unserialized
            # sendall() calls can interleave partial frames on the wire.
            if pkt.type == CONNECT:
                with sess.lock:
                    sess.sock.sendall(encode_connack())
            elif pkt.type == SUBSCRIBE:
                topic, _ = _read_utf8(pkt.body, 2)
                # subs is read by concurrent _route calls from other
                # serve threads: mutate it under the same session lock
                # _route snapshots it under, or the router's iteration
                # can see the set change size mid-flight
                if valid_topic_filter(topic):
                    with sess.lock:
                        sess.subs.add(topic)
                    granted = 1
                else:
                    granted = 0x80  # spec §3.9.3: failure return code
                with sess.lock:
                    sess.sock.sendall(encode_suback(pkt.packet_id, granted))
            elif pkt.type == UNSUBSCRIBE:
                # §3.10.4: remove filters by EXACT byte comparison (a
                # wildcard filter removes only the identical string),
                # then send UNSUBACK even when nothing matched; mutate
                # under the session lock _route snapshots subs under
                i = 2
                while i < len(pkt.body):
                    f, i = _read_utf8(pkt.body, i)
                    with sess.lock:
                        sess.subs.discard(f)
                with sess.lock:
                    sess.sock.sendall(encode_unsuback(pkt.packet_id))
            elif pkt.type == PUBLISH:
                self._route(pkt)
                if pkt.qos == 1 and pkt.packet_id is not None:
                    with sess.lock:
                        sess.sock.sendall(encode_puback(pkt.packet_id))
            elif pkt.type == PUBACK:
                with sess.lock:
                    sess.inflight.pop(pkt.packet_id, None)
            elif pkt.type == PINGREQ:
                with sess.lock:
                    sess.sock.sendall(encode_pingresp())
            elif pkt.type == DISCONNECT:
                with self._lock:
                    if sess in self._sessions:
                        self._sessions.remove(sess)
                sess.sock.close()
                return

    def _route(self, pkt: Packet) -> None:
        with self._lock:
            sessions = list(self._sessions)
        targets = []
        for s in sessions:
            # snapshot subs under the session lock: the SUBSCRIBE handler
            # mutates it concurrently from the subscriber's serve thread
            with s.lock:
                subs = tuple(s.subs)
            if any(topic_matches(f, pkt.topic) for f in subs):
                targets.append(s)
        for s in targets:
            # send INSIDE the session lock — see _serve: unserialized
            # writers interleave partial frames
            with s.lock:
                pid = s.next_pid
                s.next_pid = s.next_pid % 0xFFFF + 1
                s.inflight[pid] = (pkt.topic, pkt.payload)
                frame = encode_publish(
                    pkt.topic, pkt.payload, qos=1, packet_id=pid
                )
                try:
                    s.sock.sendall(frame)
                    self.delivered += 1
                except OSError:
                    pass

    def redeliver(self) -> int:
        """Re-send every un-PUBACKed forward with DUP=1 (deterministic
        at-least-once trigger for tests); returns frames re-sent."""
        n = 0
        with self._lock:
            sessions = list(self._sessions)
        for s in sessions:
            # snapshot AND send inside the same session lock — the module
            # invariant is that every write to a session socket holds that
            # session's lock, else a concurrent _route/_serve write can
            # interleave partial frames and corrupt the stream
            with s.lock:
                for pid, (topic, payload) in list(s.inflight.items()):
                    try:
                        s.sock.sendall(
                            encode_publish(
                                topic, payload, qos=1, packet_id=pid, dup=True
                            )
                        )
                        self.delivered += 1
                        n += 1
                    except OSError:
                        pass
        return n

    def inflight_count(self) -> int:
        with self._lock:
            return sum(len(s.inflight) for s in self._sessions)

    def session_count(self) -> int:
        with self._lock:
            return len(self._sessions)

    def drop_connections(self) -> int:
        """Sever every live client connection WITHOUT stopping the
        broker — the clients' view of a broker restart or network
        partition. Deterministic trigger for reconnect tests; returns
        the number of connections dropped."""
        with self._lock:
            sessions = list(self._sessions)
            self._sessions.clear()
        for s in sessions:
            try:
                s.sock.close()
            except OSError:
                pass
        return len(sessions)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
        with self._lock:
            for s in self._sessions:
                try:
                    s.sock.close()
                except OSError:
                    pass
            self._sessions.clear()
        self._srv.close()
