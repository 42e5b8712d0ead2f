"""W4 network delivery: the reference's third sink family — a socket
server speaking the StreamClient pull protocol.

Reference surface being re-expressed:

- **Framing** (`src/stream/StreamNetwork.cpp:122-330`): every message is
  a little-endian u32 length prefix followed by the protobuf bytes; a
  message of 4 GiB or more sends the u32 sentinel ``0xFFFFFFFF`` and
  then a u64 length (``StreamNetwork.h:49 MAX_LENGTH``).
- **Handshake / restart negotiation**
  (`src/writer/WriterStream.cpp:52-232`, `proto/OraProtoBuf.proto:59-78`):
  the client drives with ``RedoRequest`` codes INFO → START (first run)
  or CONTINUE (restart), the server answers READY / REPLICATE /
  INVALID_DATABASE…, then streams ``RedoResponse`` data messages.
  CONFIRM carries the client's durable (c_scn, c_idx) watermark: the
  server prunes its resend queue up to it (WriterStream.cpp:199-232)
  and persists it in the checkpoint document, exactly the W1 confirm
  bookkeeping the file sinks use.

Spark integration: :func:`stream_network_sink` is a ``foreachBatch``
writer — each micro-batch's change events are protobuf-encoded
DISTRIBUTED (the Arrow-batched builder of
`builders/protobuf_builder.py`), then the framed bytes funnel through
the server's single ordered socket. That funnel is not a scale wart:
the protocol itself is one client pulling one totally-ordered stream,
the same serialization point as the reference's writer thread — scale
fan-out belongs to the Kafka/file sinks (W2/W3).

The protobuf wire codec reuses the hand-rolled encoder of
``builders/protobuf_builder.py`` (no protobuf runtime in this
environment); requests/responses match OraProtoBuf.proto field numbers
so a stock reference client could interoperate.
"""

from __future__ import annotations

import os
import select
import socket
import struct
import threading

from openlogreplicator_spark.builders.protobuf_builder import (
    _ld,
    _s,
    _vi,
    decode_message,
)

MAX_LENGTH32 = 0xFFFFFFFF

# RequestCode (OraProtoBuf.proto:62-67)
REQ_INFO, REQ_START, REQ_CONTINUE, REQ_CONFIRM = 0, 1, 2, 3
# ResponseCode (OraProtoBuf.proto:69-78)
RESP_READY = 0
RESP_FAILED_START = 1
RESP_STARTING = 2
RESP_ALREADY_STARTED = 3
RESP_REPLICATE = 4
RESP_PAYLOAD = 5
RESP_INVALID_DATABASE = 6
RESP_INVALID_COMMAND = 7


# --------------------------------------------------------------------------
# framing (StreamNetwork::sendMessage / readMessage)
# --------------------------------------------------------------------------


def send_frame(sock: socket.socket, payload: bytes) -> None:
    if len(payload) < MAX_LENGTH32:
        sock.sendall(struct.pack("<I", len(payload)) + payload)
    else:
        sock.sendall(
            struct.pack("<I", MAX_LENGTH32)
            + struct.pack("<Q", len(payload))
            + payload
        )


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return bytes(buf)


def recv_frame(sock: socket.socket) -> bytes | None:
    hdr = _recv_exact(sock, 4)
    if hdr is None:
        return None
    (length,) = struct.unpack("<I", hdr)
    if length == MAX_LENGTH32:
        hdr8 = _recv_exact(sock, 8)
        if hdr8 is None:
            return None
        (length,) = struct.unpack("<Q", hdr8)
    return _recv_exact(sock, length)


# --------------------------------------------------------------------------
# RedoRequest / control RedoResponse wire codec (OraProtoBuf.proto:129-160)
# --------------------------------------------------------------------------


def encode_redo_request(
    code: int,
    database: str,
    scn: int | None = None,
    seq: int | None = None,
    c_scn: int | None = None,
    c_idx: int | None = None,
) -> bytes:
    out = _vi(1, code) if code else b""
    out += _s(2, database)
    if scn is not None:
        out += _vi(3, scn)
    if seq is not None:
        out += _vi(6, seq)
    if c_scn is not None:
        out += _vi(8, c_scn)
    if c_idx is not None:
        out += _vi(9, c_idx)
    return out


def decode_redo_request(buf: bytes) -> dict:
    req = {"code": REQ_INFO}
    for field, _wire, value in decode_message(buf):
        if field == 1:
            req["code"] = value
        elif field == 2:
            req["database"] = value.decode("utf-8")
        elif field == 3:
            req["scn"] = value
        elif field == 6:
            req["seq"] = value
        elif field == 8:
            req["c_scn"] = value
        elif field == 9:
            req["c_idx"] = value
    return req


def encode_control_response(
    code: int,
    scn: int | None = None,
    c_scn: int | None = None,
    c_idx: int | None = None,
) -> bytes:
    # proto3 default: code 0 (READY) is omitted from the wire
    out = _vi(1, code) if code else b""
    if scn is not None:
        out += _vi(2, scn)
    if c_scn is not None:
        out += _vi(10, c_scn)
    if c_idx is not None:
        out += _vi(11, c_idx)
    return out


def decode_control_response(buf: bytes) -> dict:
    resp = {"code": RESP_READY, "payload": []}
    for field, _wire, value in decode_message(buf):
        if field == 1:
            resp["code"] = value
        elif field == 2:
            resp["scn"] = value
        elif field == 9:
            resp["payload"].append(value)
        elif field == 10:
            resp["c_scn"] = value
        elif field == 11:
            resp["c_idx"] = value
    return resp


# --------------------------------------------------------------------------
# server (the writer side: WriterStream.cpp state machine)
# --------------------------------------------------------------------------


class _TcpFrameTransport:
    """The StreamNetwork transport: u32-length-prefixed frames over a
    raw socket (StreamNetwork.cpp:122-330)."""

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        sock.setblocking(True)

    def poll(self, timeout: float) -> bool:
        r, _, _ = select.select([self._sock], [], [], timeout)
        return bool(r)

    def send(self, payload: bytes) -> None:
        send_frame(self._sock, payload)

    def recv(self) -> bytes | None:
        return recv_frame(self._sock)


class StreamServer:
    """Single-client ordered-delivery server.

    Holds the unconfirmed message queue [(scn, idx, frame)], the
    confirmed watermark, and the WriterStream request state machine.
    ``enqueue`` is the producer side (fed by the foreachBatch sink);
    frames stream to the client only while a START/CONTINUE has put the
    session into replicate mode.
    """

    def __init__(
        self,
        database: str,
        host: str = "127.0.0.1",
        port: int = 0,
        state_dir: str | None = None,
        first_scn: int = 0,
    ) -> None:
        self.database = database
        self.state_dir = state_dir
        self.first_scn = first_scn
        self._lock = threading.Condition()
        self._queue: list[tuple[int, int, bytes]] = []
        self.confirmed_scn = 0
        self.confirmed_idx = 0
        # see set_doc_cap; DURABLE (r12 review pass): a restarted
        # server on persistently non-sequential input must not let a
        # confirm that lands before the inversion is RE-observed
        # persist an uncapped doc past the late commit
        self._doc_cap: int | None = self._read_doc_cap()
        # hydrate the watermark from the durable checkpoint document: a
        # restarted server that started back at (0, 0) would let a
        # stale CONFIRM replay regress the persisted doc below what was
        # already confirmed (the monotone guard compares against the
        # in-memory watermark)
        if state_dir is not None:
            from openlogreplicator_spark.metadata.state_documents import (
                read_checkpoint_doc,
            )

            doc = read_checkpoint_doc(state_dir, database)
            if doc is not None:
                self.confirmed_scn = int(doc.get("scn", 0))
                self.confirmed_idx = int(doc.get("idx", 0))
        self._streaming = False
        self._cursor = 0  # next queue position to send
        self._stop = False
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(1)
        self.address = self._srv.getsockname()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    # -- producer side ----------------------------------------------------

    def enqueue(self, scn: int, idx: int, frame: bytes) -> None:
        with self._lock:
            self._queue.append((scn, idx, frame))
            self._lock.notify_all()

    def stop(self) -> None:
        self._stop = True
        # closing the listener does NOT interrupt an accept(2) already
        # parked on it (Linux): the blocked syscall keeps the port bound
        # for the life of the process, so a same-process restart at the
        # reference's fixed writer uri got EADDRINUSE forever (r12
        # review-pass-6). A dummy connection wakes the accept; the
        # serve loop then sees _stop and exits (a live session exits at
        # its next 20 ms poll tick).
        try:
            with socket.create_connection(
                ("127.0.0.1", self.address[1]), timeout=1.0
            ):
                pass
        except OSError:
            pass
        self._thread.join(timeout=5.0)
        try:
            self._srv.close()
        except OSError:
            pass

    # -- protocol ----------------------------------------------------------

    def set_doc_cap(self, scn: int) -> None:
        """Cap the PERSISTED doc watermark (r11 chaos e2e): when the
        producer observes an out-of-order commit (non-sequence-ordered
        multi-file replay), delivery proofs in queue-key space no
        longer bound commit-scn space — a doc at the confirmed key's
        scn could skip a late low-commit transaction on cold start.
        The cap is the lowest inverted commit scn: the ``>=`` cold-
        start boundary then re-emits every unproven transaction. A doc
        ALREADY persisted above the cap (a confirm that landed before
        the first inversion was observed) is rewritten down here, so
        observation closes the skip window retroactively; the residual
        exposure is a cold start in the gap between that early doc
        write and the inversion's arrival — the same window the file
        funnel's doc freeze documents. The in-memory confirm watermark
        is NOT capped — queue pruning and CONTINUE stay exact."""
        with self._lock:
            if self._doc_cap is None or scn < self._doc_cap:
                self._doc_cap = scn
                self._persist_doc_cap()
                self._rewrite_doc_down()

    def _cap_marker_path(self) -> str:
        return os.path.join(self.state_dir, f"{self.database}-doc.cap")

    def _read_doc_cap(self) -> int | None:
        if self.state_dir is None:
            return None
        try:
            with open(self._cap_marker_path()) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def _persist_doc_cap(self) -> None:
        """Durable twin of ``_doc_cap`` (mirror of the file funnel's
        frozen marker): the cap is a fact about the INPUT — observed
        non-sequential once, it stays suspect — so it must survive a
        server restart, or a confirm landing in the window before the
        inversion is re-observed writes an uncapped doc past the late
        commit (silent loss on the next cold start). Caller holds the
        lock."""
        if self.state_dir is None:
            return
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._cap_marker_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(int(self._doc_cap)))
        os.replace(tmp, self._cap_marker_path())

    def _rewrite_doc_down(self) -> None:
        """Pull an already-persisted checkpoint doc down to the cap
        (r12 ADVICE): without this, a doc written above a late low
        commit's scn BEFORE the inversion was observed would still
        make a doc-based cold start skip that transaction. Caller
        holds the lock; only rewrites an EXISTING doc — never mints
        one (a virgin state dir must keep cold-starting from the log
        head, not from a synthetic scn-0 doc)."""
        if self.state_dir is None:
            return
        from openlogreplicator_spark.metadata.state_documents import (
            read_checkpoint_doc,
            write_checkpoint_doc,
        )

        doc = read_checkpoint_doc(self.state_dir, self.database)
        if doc is not None and int(doc.get("scn", 0)) > self._doc_cap:
            write_checkpoint_doc(
                self.state_dir, self.database, scn=self._doc_cap, idx=0
            )

    def _persist_confirm(self) -> None:
        if self.state_dir is None:
            return
        from openlogreplicator_spark.metadata.state_documents import (
            write_checkpoint_doc,
        )

        scn, idx = self.confirmed_scn, self.confirmed_idx
        if self._doc_cap is not None and self._doc_cap <= scn:
            scn, idx = self._doc_cap, 0
        write_checkpoint_doc(
            self.state_dir,
            self.database,
            scn=scn,
            idx=idx,
        )

    def _handle(self, req: dict) -> bytes | None:
        if req.get("database") != self.database:
            # WriterStream.cpp:57-61 — refuse to talk about another db
            return encode_control_response(RESP_INVALID_DATABASE)
        code = req.get("code", REQ_INFO)
        with self._lock:
            if code == REQ_INFO:
                if not self._queue and not self._streaming:
                    return encode_control_response(
                        RESP_READY,
                        c_scn=self.confirmed_scn,
                        c_idx=self.confirmed_idx,
                    )
                return encode_control_response(
                    RESP_REPLICATE,
                    scn=self.first_scn,
                    c_scn=self.confirmed_scn,
                    c_idx=self.confirmed_idx,
                )
            if code == REQ_START:
                if self._streaming:
                    return encode_control_response(
                        RESP_ALREADY_STARTED,
                        scn=self.first_scn,
                        c_scn=self.confirmed_scn,
                        c_idx=self.confirmed_idx,
                    )
                self._streaming = True
                self._cursor = 0
                return encode_control_response(
                    RESP_REPLICATE,
                    scn=self.first_scn,
                    c_scn=self.confirmed_scn,
                    c_idx=self.confirmed_idx,
                )
            if code == REQ_CONTINUE:
                # client supplies its durable watermark; 0/absent means
                # resume from the server's confirmed point
                # (WriterStream.cpp:165-197). Two distinct watermarks
                # apply (r12 ADVICE — the reference's CONTINUE only
                # REPOSITIONS, it never destroys; only CONFIRM prunes):
                #  1. DESTRUCTIVE prune strictly at the server's OWN
                #     confirmed watermark — every such frame is a
                #     proven duplicate of a confirmed delivery,
                #     wherever it sits in the queue (a Spark batch
                #     replay re-enqueues at ORIGINAL keys, so a
                #     duplicate can hide DEEP behind higher-keyed
                #     first copies — the r11 chaos find; the
                #     reference's monotone queue makes prefix and full
                #     scan coincide, WriterStream.cpp:199-232).
                #  2. NON-DESTRUCTIVE cursor skip of the leading run
                #     at or below the CLIENT's claimed watermark — the
                #     reference's repositioning. A client reconnecting
                #     with an erroneously HIGH claim therefore skips,
                #     not destroys: a later reconnect with the correct
                #     watermark recovers every unconfirmed frame.
                #     ≤-claim duplicates buried behind higher keys
                #     re-deliver (at-least-once); clients dedup by
                #     their received watermark, like the reference's
                #     Debezium consumer.
                c_scn = req.get("c_scn") or self.confirmed_scn
                c_idx = req.get("c_idx", self.confirmed_idx)
                self._prune_le(self.confirmed_scn, self.confirmed_idx)
                cur = 0
                for scn, idx, _f in self._queue:
                    if scn < c_scn or (scn == c_scn and idx <= c_idx):
                        cur += 1
                    else:
                        break
                self._cursor = cur
                self._streaming = True
                return encode_control_response(RESP_REPLICATE)
            if code == REQ_CONFIRM:
                # prune everything at or below the watermark — whole
                # queue, rationale (1) of REQ_CONTINUE above
                # (WriterStream.cpp:199-232); no response message
                c_scn = req.get("c_scn")
                if c_scn is not None:
                    c_idx = req.get("c_idx", 0)
                    # monotone watermark (reference prune is
                    # monotone too): a duplicate/stale CONFIRM below
                    # the current (scn, idx) must not regress the
                    # persisted watermark — a later restart/CONTINUE
                    # would replay already-confirmed frames.
                    if (c_scn, c_idx) <= (
                        self.confirmed_scn,
                        self.confirmed_idx,
                    ):
                        return None
                    self._prune_le(c_scn, c_idx)
                    self.confirmed_scn = c_scn
                    self.confirmed_idx = c_idx
                    self._persist_confirm()
                return None
        return encode_control_response(RESP_INVALID_COMMAND)

    def _prune_le(self, c_scn: int, c_idx: int) -> None:
        """Drop every queued frame keyed at or below (c_scn, c_idx),
        wherever it sits, keeping the send cursor on the same next
        unsent frame. Caller holds the lock."""
        keep = []
        removed_before_cursor = 0
        for i, entry in enumerate(self._queue):
            if entry[0] < c_scn or (
                entry[0] == c_scn and entry[1] <= c_idx
            ):
                if i < self._cursor:
                    removed_before_cursor += 1
                continue
            keep.append(entry)
        self._queue[:] = keep
        self._cursor = max(0, self._cursor - removed_before_cursor)

    def _serve(self) -> None:
        while not self._stop:
            try:
                client, _ = self._srv.accept()
            except OSError:
                return
            try:
                self._session(client)
            except (ConnectionError, OSError):
                pass
            finally:
                with self._lock:
                    self._streaming = False
                try:
                    client.close()
                except OSError:
                    pass

    def _transport(self, client: socket.socket) -> "_TcpFrameTransport":
        """Wrap an accepted socket in the session transport; the ZMQ
        subclass swaps in the ZMTP PAIR handshake here (the reference's
        Stream abstraction, StreamNetwork vs StreamZeroMQ)."""
        return _TcpFrameTransport(client)

    def _session(self, client: socket.socket) -> None:
        t = self._transport(client)
        while not self._stop:
            # inbound requests first (the reference polls for CONFIRM
            # while streaming, WriterStream.cpp:234-276)
            if t.poll(0.02):
                frame = t.recv()
                if frame is None:
                    return  # client went away — await reconnect
                if frame:  # b"" = command-only wakeup (ZMTP PING) —
                    # nothing to handle; fall through and keep
                    # streaming (zmtp.ZmtpPair.recv docstring)
                    resp = self._handle(decode_redo_request(frame))
                    if resp is not None:
                        t.send(resp)
            # then stream pending data frames
            with self._lock:
                streaming = self._streaming
                frames = list(self._queue[self._cursor:])
                self._cursor = len(self._queue) if streaming else self._cursor
            if streaming and frames:
                for _scn, _idx, f in frames:
                    t.send(f)


# --------------------------------------------------------------------------
# client (the consumer side of the pull protocol)
# --------------------------------------------------------------------------


def decode_event(frame: bytes) -> dict:
    """RedoResponse data frame → dict (shared by the TCP and ZMQ
    clients)."""
    ev = {"payload": []}
    for field, _wire, value in decode_message(frame):
        if field == 1:
            ev["code"] = value
        elif field == 2:
            ev["scn"] = value
        elif field == 6:
            ev["xid"] = value.decode("utf-8")
        elif field == 8:
            ev["db"] = value.decode("utf-8")
        elif field == 9:
            ev["payload"].append(value)
        elif field == 10:
            ev["c_scn"] = value
        elif field == 11:
            ev["c_idx"] = value
    return ev


class StreamClient:
    """Reference-protocol consumer: INFO → START/CONTINUE → payloads →
    CONFIRM. Used by the e2e tests as the loopback peer; shaped like the
    client embedded in the reference's Debezium connector."""

    def __init__(self, host: str, port: int, database: str) -> None:
        self.database = database
        self._sock = socket.create_connection((host, port), timeout=30)

    def close(self) -> None:
        self._sock.close()

    def _rpc(self, payload: bytes) -> dict:
        send_frame(self._sock, payload)
        frame = recv_frame(self._sock)
        if frame is None:
            raise ConnectionError("server closed during rpc")
        return decode_control_response(frame)

    def info(self) -> dict:
        return self._rpc(encode_redo_request(REQ_INFO, self.database))

    def start(self, scn: int | None = None, seq: int | None = None) -> dict:
        return self._rpc(
            encode_redo_request(REQ_START, self.database, scn=scn, seq=seq)
        )

    def resume(self, c_scn: int | None = None, c_idx: int | None = None) -> dict:
        return self._rpc(
            encode_redo_request(
                REQ_CONTINUE, self.database, c_scn=c_scn, c_idx=c_idx
            )
        )

    def confirm(self, c_scn: int, c_idx: int = 0) -> None:
        send_frame(
            self._sock,
            encode_redo_request(
                REQ_CONFIRM, self.database, c_scn=c_scn, c_idx=c_idx
            ),
        )

    def recv_event(self, timeout: float = 10.0) -> dict | None:
        # poll-then-blocking-read: a timeout must never fire BETWEEN the
        # length prefix and the body — a partially consumed frame would
        # desynchronize every subsequent read on this stream
        r, _, _ = select.select([self._sock], [], [], timeout)
        if not r:
            return None
        frame = recv_frame(self._sock)
        if frame is None:
            return None
        return decode_event(frame)


# --------------------------------------------------------------------------
# Spark sink
# --------------------------------------------------------------------------


def to_bytes(value) -> bytes | None:
    """Builder value → wire bytes: the json builder renders strings,
    the protobuf builder raw bytes; keys may be None. One helper so
    every funnel sink normalizes identically."""
    if value is None:
        return None
    if isinstance(value, str):
        return value.encode("utf-8")
    return bytes(value)


def order_encoded_messages(df):
    """THE emission-order contract for single-funnel sinks (network
    file), over encoded (key, value) frames carrying ``_oscn`` /
    ``_oxid`` / ``_oidx`` order columns: commit scn; xid NULLS LAST —
    a chkpt message (null xid) follows the data messages at its scn,
    matching the reference's builder-queue order where the checkpoint
    record trails the LWN's records; op index; then the FULL split
    part parsed from the 'xid:part' key (try_cast, because a capless
    FULL key is the raw xid and ANSI cast would throw)."""
    from pyspark.sql import functions as F

    return df.orderBy(
        "_oscn",
        F.col("_oxid").asc_nulls_last(),
        "_oidx",
        F.coalesce(
            F.element_at(F.split(F.col("key"), ":"), -1).try_cast("long"),
            F.lit(0),
        ),
    )


def ordered_rows(rendered):
    """Yield an encoded micro-batch's rows in emission order
    (:func:`order_encoded_messages`), executing its plan ONCE. The
    range sort runs two jobs, its boundary sample and its shuffle, and
    uncached each re-executes everything above the foreachBatch frame:
    the stateful assembly kernel, its state-store commit and the
    ``observe()`` counters. Persisting the frame for the funnel's read
    is the Structured Streaming guide's idiom for more than one action
    inside foreachBatch."""
    rendered.persist()
    try:
        yield from order_encoded_messages(rendered).toLocalIterator()
    finally:
        rendered.unpersist()


def stream_network_sink(server: StreamServer, fmt=None,
                        max_message_bytes: int | None = None,
                        encoder=None):
    """foreachBatch writer: CHANGE_EVENT_SCHEMA micro-batches →
    builder-rendered messages on the server's queue, in (c_scn, xid,
    num) emission order. The reference's WriterStream ships the
    BUILDER's raw bytes (WriterStream.cpp:294-299), so the payload
    format follows the configured builder: the default ``encoder``
    renders protobuf RedoResponse frames; a json-format deployment
    passes an encoder producing the json builder's (key, value)
    messages and the same frames carry JSON bytes. ``encoder`` takes
    the order-column-prepared events frame and must return a
    (key, value, _oscn, _oxid, _oidx[, _odoc]) frame.
    Encoding runs distributed (Arrow pandas UDF); only
    the framed bytes of the batch funnel to the driver, because network
    delivery IS one ordered socket — the reference writer has the
    identical single-threaded funnel (WriterQueue → Stream).
    ``max_message_bytes`` is the writer's ``max-message-mb`` byte cap;
    it only applies under ``fmt.message == FULL`` (per-event messages
    are one-op by construction, matching the reference where only
    multi-op envelopes can grow past the cap).

    The queue watermark idx is a per-scn monotone message counter —
    the reference's ``msg->lwnIdx = lwnIdx++`` with reset on scn change
    (Builder.h:324, Builder.cpp:701). It must be unique per message
    within a scn: FULL envelopes collapse a whole transaction's ``num``
    range to one aggregate, and two transactions committing at the same
    scn restart ``num`` at 0 — reusing those as the idx would make
    CONTINUE's skip loop (scn==c_scn and idx<=c_idx) drop committed
    messages a reconnecting client never received. The numbering,
    seeding, replay-snapshot, and key-monotonicity rules live in
    :class:`NetworkFunnelCore` (one instance per sink closure, so the
    counter stays monotone across micro-batches)."""
    from openlogreplicator_spark.builders.protobuf_builder import (
        build_protobuf_events,
    )
    from pyspark.sql import functions as F

    core = NetworkFunnelCore(server)

    def write(batch_df, batch_id: int) -> None:
        prepared = (
            batch_df.withColumn(
                "_oscn", F.coalesce(F.col("c_scn"), F.col("scn"))
            )
            .withColumn("_oxid", F.col("xid"))
            .withColumn("_oidx", F.coalesce(F.col("num"), F.lit(0)))
            # commit-backedness for the queue-key discipline: chkpt
            # heartbeats have NULL xid, incomplete-transaction
            # diagnostics have NULL c_scn — neither may move the
            # watermark scn (see NetworkFunnelCore)
            .withColumn("_odoc", F.col("c_scn"))
        )
        extra = ("_oscn", "_oxid", "_oidx", "_odoc")
        if encoder is not None:
            rendered = encoder(prepared)
        else:
            rendered = build_protobuf_events(
                prepared, extra_cols=extra, fmt=fmt,
                max_message_bytes=max_message_bytes,
            )
        # frames without the _odoc column (direct callers with a custom
        # encoder) treat every row as commit-backed data — the same
        # convention as the file funnel; engine frames always carry it
        has_odoc = "_odoc" in rendered.columns
        core.feed(
            (
                (
                    int(row._oscn),
                    (
                        row._odoc is not None and row._oxid is not None
                        if has_odoc
                        else True
                    ),
                    to_bytes(row.value),
                )
                for row in ordered_rows(rendered)
            ),
            batch_id,
        )

    return write


class NetworkFunnelCore:
    """The PURE (Spark-free) numbering/enqueue state machine of
    :func:`stream_network_sink` — watermark seeding, batch-replay idx
    snapshots, per-scn monotone message numbering. The Spark wrapper
    drives it with the encoded micro-batch rows; the adversarial
    restart harness (tests/test_restart_chaos.py) drives it directly,
    so randomized kill schedules exercise the real contract without a
    SparkSession.

    DOC COLD STARTS deliver AT-LEAST-ONCE at the
    boundary scn, by design: the engine re-emits the boundary scn's
    messages whole (commit_scn >= doc scn) and the counter seeds
    ABOVE the confirmed watermark like any restart, so every
    re-emitted boundary message is (re)delivered. An idx-positional
    skip that tried to make this exact was rejected in review pass 6:
    per-scn numbering is ARRIVAL order, and when one commit scn
    splits across micro-batches (two transactions sharing a commit
    scn, commits in different files) the first run's arrival order
    differs from the cold re-emission's sorted order — a positional
    skip then drops messages a client never received. Bounded
    duplicates at the boundary beat silent loss; the reference's own
    restart has the same at-least-once window (Writer.cpp:130-140).

    Replay idempotency: a foreachBatch retry (failure after enqueue,
    before the offset commit) must re-enqueue the SAME (scn, idx)
    pairs, or CONTINUE's skip loop can no longer dedup the duplicate
    frames — the counter snapshots at each batch start and restores
    when the same batch_id comes around again.

    Queue-key monotonicity (found by the r11 chaos harness): CONTINUE's
    prefix skip and CONFIRM's prune are only sound when the queue's
    (scn, idx) keys are monotone in enqueue order. Commit-backed data
    scns ARE monotone (redo order), but chkpt heartbeats ride an
    UNTHROTTLED source that can describe redo ahead of the throttled
    main source, and incomplete-transaction diagnostics carry a record
    scn that can trail the last commit — interleaved across
    micro-batches either resets the per-scn counter, minting a key at
    or below the confirmed watermark for a frame the client never
    received (CONTINUE then skips it: silent loss), and a confirmed
    ahead-of-data heartbeat would persist a doc past unemitted
    transactions (the network twin of the file funnel's pass-6
    heartbeat bug). The reference has neither problem because its
    checkpoint messages are built IN-stream, scn-monotone by
    construction (Builder.cpp:701 lwnIdx, Writer.cpp:130-140) — so
    non-data frames here enqueue AT the current watermark key
    (wm.scn, wm.idx+1), never moving the scn: keys stay monotone, and
    confirming a heartbeat can never push the doc past the last
    commit-backed message actually written."""

    def __init__(self, server) -> None:
        self.server = server
        self.wm = {"scn": None, "idx": -1, "seeded": False}
        self.batch_start: dict[int, dict] = {}

    def feed(self, rows, batch_id: int) -> None:
        """One micro-batch in final emission order; ``rows`` yields
        ``(scn, is_data, frame_bytes)`` — ``is_data`` is False for
        chkpt heartbeats and NULL-commit diagnostics."""
        wm = self.wm
        if not wm["seeded"]:
            # a RESTARTED pipeline gets a fresh closure; seed the
            # counter from the server's durable confirmed watermark so
            # a replayed batch's messages at the confirmed scn continue
            # ABOVE c_idx — starting back at 0 would let CONTINUE's
            # skip loop drop frames the client never received.
            # Guarantee scope: restart resumes via the W7 state doc's
            # confirmed scn (the F9 filter re-emits everything above
            # it in the original order), so re-emitted messages get
            # their ORIGINAL (scn, idx) numbering. Messages delivered
            # but unconfirmed before the crash are re-sent — the
            # reference's identical at-least-once window between
            # sendMessage and the confirm checkpoint (Writer.cpp:
            # 130-140); within one run the batch-id snapshot below
            # keeps replays byte- and idx-exact
            c_scn = getattr(self.server, "confirmed_scn", 0) or 0
            if c_scn:
                wm["scn"] = c_scn
                wm["idx"] = getattr(self.server, "confirmed_idx", 0) or 0
            wm["seeded"] = True
        if batch_id in self.batch_start:
            wm.update(self.batch_start[batch_id])
        else:
            self.batch_start.clear()  # only the latest batch can replay
            self.batch_start[batch_id] = dict(wm)
        for scn, is_data, frame in rows:
            if not is_data:
                # heartbeat / diagnostic: ride the current watermark
                # key — never move the scn (docstring, monotonicity)
                if wm["scn"] is None:
                    # virgin stream: (0, 0) IS the initial confirm
                    # watermark — a frame keyed there would be
                    # CONTINUE-skipped undelivered and could never be
                    # confirmed (review pass 1); start strictly above
                    wm["scn"], wm["idx"] = 0, 0
                wm["idx"] += 1
            elif scn == wm["scn"]:
                wm["idx"] += 1
            elif wm["scn"] is not None and scn < wm["scn"]:
                # OUT-OF-ORDER commit (r11 chaos e2e; same root as the
                # file funnel's freeze): a non-sequence-ordered
                # multi-file replay can emit a lower commit after a
                # higher one across micro-batches. The queue key rides
                # the current watermark (keys stay monotone, so
                # CONTINUE's prefix skip and CONFIRM's prune remain
                # exact), and the persisted doc is capped at the
                # inverted commit scn — a cold start's ``>=`` boundary
                # then re-emits it (duplicates, never loss). Sequential
                # redo never takes this branch.
                wm["idx"] += 1
                cap = getattr(self.server, "set_doc_cap", None)
                if cap is not None:
                    cap(scn)
            else:
                wm["scn"], wm["idx"] = scn, 0
            self.server.enqueue(wm["scn"], wm["idx"], frame)


# --------------------------------------------------------------------------
# W5: the same WriterStream protocol over the ZeroMQ transport
# --------------------------------------------------------------------------


class ZmqStreamServer(StreamServer):
    """W5 ZeroMQ delivery: identical request state machine, queue, and
    confirm bookkeeping — only the transport differs. The reference's
    StreamZeroMQ (src/stream/StreamZeroMQ.cpp:39-60) binds a ZMQ_PAIR
    socket at the configured tcp:// uri and ships the same protobuf
    payloads StreamNetwork frames with length prefixes; here each
    payload rides one ZMTP 3.0 message (streaming/zmtp.py), so a stock
    libzmq PAIR peer could interoperate."""

    def _transport(self, client: socket.socket):
        from openlogreplicator_spark.streaming.zmtp import ZmtpPair

        return ZmtpPair(client, as_server=True)


class ZmqStreamClient(StreamClient):
    """Consumer peer for :class:`ZmqStreamServer` — same INFO → START/
    CONTINUE → payloads → CONFIRM conversation over a ZMTP PAIR."""

    def __init__(self, host: str, port: int, database: str) -> None:
        from openlogreplicator_spark.streaming.zmtp import ZmtpPair

        self.database = database
        self._sock = socket.create_connection((host, port), timeout=30)
        self._pair = ZmtpPair(self._sock, as_server=False)

    def close(self) -> None:
        self._pair.close()

    def _rpc(self, payload: bytes) -> dict:
        self._pair.send(payload)
        frame = self._pair.recv()
        while frame == b"":   # command-only wakeups precede the reply
            frame = self._pair.recv()
        if frame is None:
            raise ConnectionError("server closed during rpc")
        return decode_control_response(frame)

    def confirm(self, c_scn: int, c_idx: int = 0) -> None:
        self._pair.send(
            encode_redo_request(
                REQ_CONFIRM, self.database, c_scn=c_scn, c_idx=c_idx
            )
        )

    def recv_event(self, timeout: float = 10.0) -> dict | None:
        # poll-then-blocking-read (see StreamClient.recv_event): ZMTP
        # frames take 2-3 header reads, so a timeout mid-frame would
        # desynchronize the stream — only the WAIT is bounded
        if not self._pair.poll(timeout):
            return None
        frame = self._pair.recv()
        if frame is None:
            return None
        if not frame:
            # command-only wakeup (a server-side PING) — not an event;
            # keep waiting within a fresh timeout window
            return self.recv_event(timeout)
        return decode_event(frame)
