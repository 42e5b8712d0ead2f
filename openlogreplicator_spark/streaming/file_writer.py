"""W3 file sink with the reference's rotation contract.

The reference's ``WriterFile`` (src/writer/WriterFile.cpp:37-360) appends
rendered messages to ONE local file and rotates it by a filename mask in
the ``output`` config value:

- ``%i`` / ``%2i`` .. ``%10i`` — NUM mode, zero-filled rotation counter,
  rotated when ``fileSize + size > maxFileSize`` (WriterFile.cpp:205-229);
  on startup the directory is scanned for the highest existing counter
  (WriterFile.cpp:138-189).
- ``%t`` — TIMESTAMP mode, the counter is ``strftime(timestamp-format)``
  of the rotation instant (WriterFile.cpp:230-258); rotating twice within
  one strftime tick warns once and keeps writing (warning 60030).
- ``%s`` — SEQUENCE mode, rotated whenever the redo-log sequence changes
  (WriterFile.cpp:259-269).
- any other ``%`` — configuration error 30005; no ``%`` at all — a single
  un-rotated file, which requires ``append=1`` (error 30006).
- NUM/TIMESTAMP without ``max-file-size`` — error 30007
  (WriterFile.cpp:133-135).

``new-line`` (0/1/2 → none/LF/CRLF, WriterFile.cpp:60-64,308-311) is
appended after every message and counted against the rotation size
exactly like the reference (``checkFile(scn, seq, size + newLine)``,
WriterFile.cpp:303). ``append=0`` refuses to reopen an existing file
(WriterFile.cpp:276-283). An empty ``output`` streams to stdout
(WriterFile.cpp:67-70).

Spark placement: message delivery into one ordered local file is a
driver-side funnel by nature — the same shape as the W4 network sink.
The distributed part (parse → assemble → render) stays on executors;
only the final rendered bytes of each micro-batch iterate through this
writer, in emission order. The reference's ``write-buffer-flush-size``
double-buffering (WriterFile.cpp:346-360) is subsumed by Python's
buffered file objects.
"""

from __future__ import annotations

import os
import re
import sys
import time
import warnings
from typing import BinaryIO

__all__ = ["RotatingFileWriter", "stream_file_sink"]

# C strftime conversions glibc supports but Python's strftime may not on
# every platform; expand the composites so masks like the reference's
# default "%F_%T" render identically everywhere
_STRFTIME_COMPAT = {"%F": "%Y-%m-%d", "%T": "%H:%M:%S", "%D": "%m/%d/%y",
                    "%R": "%H:%M"}

# mask tokens in the reference's match order (WriterFile.cpp:81-124):
# %i first, then %2i..%9i, %10i, %t, %s
_NUM_TOKENS = [("%i", 0)] + [(f"%{n}i", n) for n in range(2, 10)] + [
    ("%10i", 10)
]


class _ConfigError(ValueError):
    """Raised with the reference's ConfigurationException code/message
    when the output mask is invalid. reference_config re-raises it as
    its ConfigurationError (same shape) so adapter callers see one
    exception type."""

    def __init__(self, code: int, message: str) -> None:
        self.code = code
        self.message = message
        super().__init__(f"[{code}] {message}")


class RotatingFileWriter:
    """The reference WriterFile state machine over Python file objects.

    ``write(data, scn, seq)`` is ``WriterFile::sendMessage``:
    size-check/rotate, write the message bytes, then the configured
    newline. Close with :meth:`close` (tests) — the foreachBatch sink
    flushes after every batch so a killed query loses at most the OS
    buffer, like the reference loses its write buffer."""

    MODE_STDOUT = "stdout"
    MODE_NO_ROTATE = "no_rotate"
    MODE_NUM = "num"
    MODE_TIMESTAMP = "timestamp"
    MODE_SEQUENCE = "sequence"

    def __init__(
        self,
        output: str,
        timestamp_format: str = "%F_%T",
        max_file_size: int = 0,
        new_line: int = 1,
        append: int = 1,
    ) -> None:
        self.output = output
        self.max_file_size = int(max_file_size)
        self.append = int(append)
        self.new_line_bytes = {0: b"", 1: b"\n", 2: b"\r\n"}[int(new_line)]
        fmt = timestamp_format
        for c_tok, py_tok in _STRFTIME_COMPAT.items():
            fmt = fmt.replace(c_tok, py_tok)
        self.timestamp_format = fmt

        self._fh: BinaryIO | None = None
        self.file_size = 0
        self.full_file_name = ""
        self._last_sequence: int | None = None
        self._rotate_warned = False

        if not output:
            self.mode = self.MODE_STDOUT
            self.path_name = ""
            self.file_name_mask = ""
            return

        slash = output.rfind("/")
        if slash != -1:
            self.path_name = output[:slash]
            self.file_name_mask = output[slash + 1:]
        else:
            self.path_name = "."
            self.file_name_mask = output

        mask = self.file_name_mask
        self.fill = 0
        self.mode = ""
        for token, fill in _NUM_TOKENS:
            pos = mask.find(token)
            if pos != -1:
                self.mode = self.MODE_NUM
                self.fill = fill
                self._prefix = mask[:pos]
                self._suffix = mask[pos + len(token):]
                break
        if not self.mode:
            for token, mode in (("%t", self.MODE_TIMESTAMP),
                                ("%s", self.MODE_SEQUENCE)):
                pos = mask.find(token)
                if pos != -1:
                    self.mode = mode
                    self._prefix = mask[:pos]
                    self._suffix = mask[pos + len(token):]
                    break
        if not self.mode:
            if "%" in mask:
                raise _ConfigError(
                    30005, f"invalid value for 'output': {output}"
                )
            if self.append == 0:
                raise _ConfigError(
                    30006,
                    f"output file is with no rotation: {output} - "
                    "'append' must be set to 1",
                )
            self.mode = self.MODE_NO_ROTATE
            self._prefix = self._suffix = ""

        if (
            self.mode in (self.MODE_NUM, self.MODE_TIMESTAMP)
            and self.max_file_size == 0
        ):
            raise _ConfigError(
                30007,
                f"output file is with no max file size: {output} - "
                "'max-file-size' must be defined for output with rotation",
            )

        self.file_name_num = 0
        if self.mode == self.MODE_NUM:
            self._scan_existing()

    # -- startup numbering (WriterFile.cpp:138-189) ---------------------

    def _scan_existing(self) -> None:
        try:
            entries = os.listdir(self.path_name)
        except OSError as e:
            raise RuntimeError(
                f"[10012] directory: {self.path_name} - can't read"
            ) from e
        for name in entries:
            full = os.path.join(self.path_name, name)
            if os.path.isdir(full):
                continue
            if not (name.startswith(self._prefix)
                    and name.endswith(self._suffix)
                    and len(name) >= len(self._prefix) + len(self._suffix)):
                continue
            middle = name[len(self._prefix):len(name) - len(self._suffix)]
            # strtoull semantics: leading digits, 0 on no digits
            m = re.match(r"\d*", middle)
            file_num = int(m.group()) if m.group() else 0
            if self.append > 0:
                self.file_name_num = max(self.file_name_num, file_num)
            elif self.file_name_num <= file_num:
                self.file_name_num = file_num + 1

    # -- rotation (WriterFile::checkFile, cpp:204-299) -------------------

    def _warn_size(self, size: int) -> None:
        warnings.warn(
            f"message size ({size}) will exceed 'max-file' size "
            f"({self.max_file_size})",
            stacklevel=4,
        )

    def _check_file(self, seq: int, size: int) -> None:
        if self.mode == self.MODE_STDOUT:
            return
        if self.mode == self.MODE_NO_ROTATE:
            self.full_file_name = os.path.join(
                self.path_name, self.file_name_mask
            )
        elif self.mode == self.MODE_NUM:
            if self.file_size + size > self.max_file_size:
                self._close_file()
                self.file_name_num += 1
                self.file_size = 0
            if size > self.max_file_size:
                # warning 60029 fires per oversized message — the
                # reference has no once-guard here (only 60030 does)
                self._warn_size(size)
            if self._fh is None:
                num = str(self.file_name_num)
                self.full_file_name = os.path.join(
                    self.path_name,
                    self._prefix + num.zfill(self.fill) + self._suffix,
                )
        elif self.mode == self.MODE_TIMESTAMP:
            should_switch = self.file_size + size > self.max_file_size
            if size > self.max_file_size:
                self._warn_size(size)
            if self._fh is None or should_switch:
                stamp = time.strftime(
                    self.timestamp_format, time.localtime()
                )
                new_name = os.path.join(
                    self.path_name, self._prefix + stamp + self._suffix
                )
                if new_name == self.full_file_name:
                    # rotation tick shorter than the strftime resolution
                    # (warning 60030) — keep writing the same file
                    if not self._rotate_warned:
                        warnings.warn(
                            "rotation size is set too low "
                            f"({self.max_file_size}), increase it, should "
                            f"rotate but too early ({self.full_file_name})",
                            stacklevel=4,
                        )
                        self._rotate_warned = True
                    should_switch = False
                else:
                    self.full_file_name = new_name
            if should_switch:
                self._close_file()
                self.file_size = 0
        elif self.mode == self.MODE_SEQUENCE:
            if seq != self._last_sequence:
                self._close_file()
            self._last_sequence = seq
            if self._fh is None:
                self.full_file_name = os.path.join(
                    self.path_name, self._prefix + str(seq) + self._suffix
                )

        if self._fh is None:
            exists = os.path.exists(self.full_file_name)
            if exists:
                if self.append == 0:
                    raise RuntimeError(
                        f"[10003] file: {self.full_file_name} - already "
                        "exists and 'append' is 0"
                    )
                self.file_size = os.stat(self.full_file_name).st_size
            else:
                self.file_size = 0
            self._fh = open(self.full_file_name, "ab")

    # -- WriterFile::sendMessage (cpp:301-313) ---------------------------

    def write(self, data: bytes, seq: int = 0) -> None:
        self._check_file(seq, len(data) + len(self.new_line_bytes))
        out = self._fh if self.mode != self.MODE_STDOUT else None
        if out is None:
            sys.stdout.buffer.write(data + self.new_line_bytes)
            return
        out.write(data)
        self.file_size += len(data)
        if self.new_line_bytes:
            out.write(self.new_line_bytes)
            self.file_size += len(self.new_line_bytes)

    def flush(self) -> None:
        if self._fh is not None:
            self._fh.flush()
        elif self.mode == self.MODE_STDOUT:
            sys.stdout.buffer.flush()

    def _close_file(self) -> None:
        if self._fh is not None:
            self._fh.close()
            self._fh = None

    def close(self) -> None:
        self._close_file()


def stream_file_sink(
    writer: RotatingFileWriter,
    state_path: str | None = None,
    state_dir: str | None = None,
    database: str = "DB",
    interval_s: int = 600,
    interval_mb: int = 500,
):
    """foreachBatch hook: rendered (key, value) JSON messages → the
    rotating writer, in (c_scn, xid, num) emission order — the W4
    network funnel's ordering, because one local file is one ordered
    sink. The batch frame must carry ``_oscn``/``_oxid``/``_oidx``/
    ``_oseq`` ordering columns (build_events ``extra_cols``).

    Replay idempotency: the last fully-written batch id persists in a
    sidecar under ``state_path`` (written AFTER the flush), and any
    batch at or below it — an in-process foreachBatch retry or a
    post-restart replay of a batch whose offsets never committed — is
    skipped whole instead of appended twice. ``state_path`` must be
    scoped to the STREAMING CHECKPOINT (batch ids are only meaningful
    within one checkpoint's offset log — the engine passes a file under
    the query's checkpoint dir); a fresh checkpoint therefore starts a
    fresh sidecar and re-delivers, exactly like the json sink. A crash
    strictly between appending part of a batch and the sidecar write
    can still duplicate that partial batch on replay; the reference's
    writer has the same window between ``sendMessage`` and its
    confirm-checkpoint flush (Writer.cpp:130-140).

    With a ``state_dir``, the portable W7 checkpoint document advances
    with the reference's pacing (Metadata::writeCheckpoint,
    Metadata.cpp:421-424): the first checkpoint is forced, after that
    the doc is rewritten when EITHER ``interval_s`` elapsed OR
    ``interval_mb`` of rendered message bytes went through this funnel
    since the last doc — ``state.interval-mb`` wired to the byte
    counter that already drives rotation.

    Watermark discipline (review pass 6): the doc records the highest
    COMPLETE commit scn — the previous distinct commit scn once a
    HIGHER commit-backed data message is written. SCNs are globally
    monotone in redo order, so observing commit scn S proves no future
    message can arrive below S; a strict ``commit_scn > doc`` filter on
    a doc-based cold start therefore loses nothing, and duplicates are
    bounded to the final (not-yet-complete) scn's already-written
    messages — the reference's own at-least-once window
    (Writer.cpp:130-140). Only commit-backed data rows participate
    (``_odoc``/``_oxid`` non-null): chkpt heartbeats ride an
    UNTHROTTLED source and can describe redo the main source has not
    emitted, and incomplete-transaction diagnostics carry no commit —
    either advancing the doc would let a cold start silently skip
    transactions the writer never wrote.

    The completeness proof requires SEQUENCE-ORDERED input (the S4
    scheduler's contract; see ``_binary_files_stream``): on an observed
    out-of-order commit the funnel FREEZES the doc (r11 hardening,
    fail-safe to duplicates), but an inversion still sitting unread is
    invisible to any online proof — non-sequential bulk replays must
    not pace files into separate micro-batches. The freeze is DURABLE
    (r12: a ``<database>-doc.frozen`` marker next to the checkpoint
    doc, rehydrated on funnel construction) — an input proven
    non-sequential stays distrusted across restarts; to resume doc
    advancement after fixing the input's ordering, delete the marker
    along with the (now re-derivable) checkpoint doc."""
    core = FileFunnelCore(
        writer, state_path=state_path, state_dir=state_dir,
        database=database, interval_s=interval_s, interval_mb=interval_mb,
    )

    def write(batch_df, batch_id: int) -> None:
        from openlogreplicator_spark.streaming.stream_network import (
            ordered_rows,
            to_bytes,
        )

        if core.skip_batch(batch_id):
            return   # already durable — replayed batch, don't re-append
        # frames without the _odoc column (direct callers) treat every
        # scn-bearing row as data; engine frames always carry it
        has_odoc = "_odoc" in batch_df.columns

        def rows():
            for row in ordered_rows(batch_df):
                scn = getattr(row, "_oscn", None)
                yield (
                    to_bytes(row.value),
                    scn,
                    (
                        row._odoc is not None and row._oxid is not None
                        if has_odoc
                        else scn is not None
                    ),
                    int(row._oseq) if row._oseq is not None else 0,
                )

        core.feed(rows(), batch_id)

    return write


class FileFunnelCore:
    """The PURE (Spark-free) state machine of :func:`stream_file_sink`:
    batch-replay skip, rendered-byte checkpoint-doc pacing, and the
    complete-commit-scn doc watermark — the whole restart/boundary
    contract, minus the Spark frame plumbing. ``stream_file_sink``
    drives it with the ordered micro-batch rows; the adversarial
    restart harness (tests/test_restart_chaos.py) drives it directly
    with plain tuples, so hundreds of randomized kill schedules run
    without a SparkSession. Contract semantics: the docstring of
    :func:`stream_file_sink` (single source of truth)."""

    def __init__(
        self,
        writer,
        state_path: str | None = None,
        state_dir: str | None = None,
        database: str = "DB",
        interval_s: int = 600,
        interval_mb: int = 500,
    ) -> None:
        self.writer = writer
        self.state_path = state_path
        self.state_dir = state_dir
        self.database = database
        self.interval_s = interval_s
        self.interval_mb = interval_mb
        self.done_bid = None
        if state_path is not None and os.path.exists(state_path):
            try:
                with open(state_path) as fh:
                    self.done_bid = int(fh.read().strip())
            except (OSError, ValueError):
                self.done_bid = None
        # checkpoint-doc pacing state (driver-side funnel: plain attrs)
        self.pace = {
            "bytes": 0, "doc_bytes": 0, "doc_time": None, "doc_wm": None,
        }
        # complete-scn tracking: cur = the newest commit scn seen
        # (possibly still incomplete), prev = the newest COMPLETE one (a
        # higher scn proved it finished) — the doc watermark
        self.scns = {"cur": None, "cur_idx": -1, "prev": None,
                     "prev_idx": -1}
        # the out-of-order doc freeze is DURABLE (r12 ADVICE): an
        # observed inversion proves the input non-sequential for good,
        # and a funnel restart must not resume doc advancement until
        # another inversion happens to be re-observed — rehydrate the
        # marker a previous incarnation persisted
        if state_dir is not None and os.path.exists(
            self._frozen_marker_path()
        ):
            self.scns["frozen"] = True

    def skip_batch(self, batch_id: int) -> bool:
        return self.done_bid is not None and batch_id <= self.done_bid

    def _frozen_marker_path(self) -> str:
        return os.path.join(
            self.state_dir, f"{self.database}-doc.frozen"
        )

    def _persist_frozen(self) -> None:
        """Durable twin of ``scns['frozen']``: without it the freeze
        dies with the process and a restarted funnel on persistently
        non-sequential input re-opens the doc skip window until the
        NEXT inversion is re-observed. Marker presence is the flag —
        content is diagnostic only."""
        if self.state_dir is None:
            return
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._frozen_marker_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("out-of-order commit observed; doc watermark frozen\n")
        os.replace(tmp, self._frozen_marker_path())

    def _rewrite_doc_below(self, late_scn: int) -> None:
        """Retroactive half of the freeze (r12 review pass): freezing
        only stops FUTURE doc advancement — a doc already persisted at
        or above the late commit's scn would still make a doc-based
        cold start skip it (the file boundary is strict
        ``commit_scn > doc``, so the late transaction re-emits only if
        the doc sits strictly BELOW its scn; its bytes may not be
        durable yet — the crash window between this batch's writes and
        its flush). Mirror of ``StreamServer._rewrite_doc_down``; only
        lowers an existing doc, never mints one."""
        if self.state_dir is None:
            return
        from openlogreplicator_spark.metadata.state_documents import (
            read_checkpoint_doc,
            write_checkpoint_doc,
        )

        doc = read_checkpoint_doc(self.state_dir, self.database)
        if doc is not None and int(doc.get("scn", 0)) > late_scn - 1:
            write_checkpoint_doc(
                self.state_dir, self.database, scn=late_scn - 1, idx=0
            )

    def _maybe_checkpoint_doc(self, hi_wm) -> None:
        import time

        pace = self.pace
        if self.state_dir is None or hi_wm is None:
            return
        if pace["doc_wm"] is not None and hi_wm <= pace["doc_wm"]:
            return  # nothing confirmed beyond the last doc
        now = time.monotonic()
        force = pace["doc_time"] is None  # force first checkpoint
        due_time = (
            pace["doc_time"] is not None
            and now - pace["doc_time"] >= self.interval_s
        )
        due_bytes = (
            (pace["bytes"] - pace["doc_bytes"]) // (1024 * 1024)
            >= self.interval_mb
        )
        if not (force or due_time or due_bytes):
            return
        from openlogreplicator_spark.metadata.state_documents import (
            advance_checkpoint_doc,
        )

        advance_checkpoint_doc(
            self.state_dir, self.database, int(hi_wm[0]),
            idx=int(hi_wm[1]),
        )
        pace["doc_bytes"] = pace["bytes"]
        pace["doc_time"] = now
        pace["doc_wm"] = hi_wm

    def feed(self, rows, batch_id: int) -> None:
        """One micro-batch in final emission order. ``rows`` yields
        ``(data_bytes, commit_scn_or_None, is_data, seq)`` tuples. The
        caller must have consulted :meth:`skip_batch` first (the Spark
        wrapper skips before paying for the frame sort)."""
        pace, scns = self.pace, self.scns
        for data, scn, is_data, seq in rows:
            self.writer.write(data, seq=seq)
            pace["bytes"] += len(data)
            if is_data:
                if scn != scns["cur"]:
                    if scns["cur"] is not None and scn > scns["cur"]:
                        # a higher commit scn proves the previous one
                        # complete — it becomes the doc watermark
                        scns["prev"] = scns["cur"]
                        scns["prev_idx"] = scns["cur_idx"]
                    elif scns["cur"] is not None:
                        # OUT-OF-ORDER commit (r11 chaos e2e): a batch-
                        # paced replay of files that are not sequence-
                        # ordered segments (e.g. a hash-partitioned
                        # OLRS fixture) emits commits non-monotonically
                        # across micro-batches — the completeness proof
                        # above is void from here on. FREEZE the doc
                        # watermark for the rest of this funnel's life:
                        # a cold start then re-reads more and
                        # duplicates, but can never skip a transaction
                        # the doc wrongly claimed complete. Sequential
                        # redo (the S4 scheduler's contract) never
                        # takes this branch. Persisted (r12): the
                        # freeze survives funnel restarts, and a doc
                        # already written at or above the late commit
                        # is pulled strictly below it — this batch's
                        # bytes are not yet flushed, so the doc must
                        # not claim the late transaction durable.
                        if not scns.get("frozen"):
                            scns["frozen"] = True
                            self._persist_frozen()
                        self._rewrite_doc_below(int(scn))
                    scns["cur"], scns["cur_idx"] = scn, 0
                else:
                    scns["cur_idx"] += 1
        self.writer.flush()
        self.done_bid = batch_id
        if self.state_path is not None:
            os.makedirs(
                os.path.dirname(self.state_path) or ".", exist_ok=True
            )
            tmp = self.state_path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(str(batch_id))
            os.replace(tmp, self.state_path)
        if scns["prev"] is not None and not scns.get("frozen"):
            self._maybe_checkpoint_doc((scns["prev"], scns["prev_idx"]))
