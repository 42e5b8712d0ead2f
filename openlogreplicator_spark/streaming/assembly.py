"""Streaming transaction assembly — the reference's online data plane.

`applyInPandasWithState` keyed by an XID-HASH BUCKET: per-bucket state
buffers the open transactions' records across micro-batches; each
transaction flushes (ordered) when ITS commit arrives; a rollback
clears it; a processing-time timeout implements the
incomplete-transaction policy (reference REDO_FLAGS::SHOW_INCOMPLETE /
Ctx.h:97 — transactions abandoned mid-log are dropped or surfaced).

Bucket keying, not raw xid: every record of an xid still lands in
exactly one bucket (per-txn correctness is hash-local), but one Arrow
batch and one Python invocation then carry THOUSANDS of transactions —
the same ~10⁴ amortization the batch kernel gets. Keyed by raw xid,
a busy micro-batch pays one Python-worker round trip per transaction.
The default bucket count is the stateful operator's partition count
(``spark.sql.shuffle.partitions``), so each state task calls the kernel
about once per micro-batch: the kernel has a fixed cost per call
(~16 ms), which more buckets than state partitions would pay several
times in one task.

Reference mapping:
- micro-batch            = LWN group        (Parser.cpp:1260-1460)
- per-bucket state       = XID-hash shard of the transaction buffer
                           (TransactionBuffer.h:50-80 — the reference's
                           buffer is itself a hash map over xids)
- commit flush           = Transaction::flush (Transaction.cpp:199-571)
- state store            = swap-to-disk     (MemoryManager.cpp)
- checkpoint dir         = state files      (Writer.cpp:362-400)

State is an Arrow IPC stream of the not-yet-committed records (typed
REDO_RECORD columns; the T4 skiplist rides as schema metadata) in a
BinaryType state column: one vectorized serialize per bucket per
micro-batch instead of the earlier per-row JSON stringify/parse, which
the r7 drain decomposition showed dominating the stateful overhead. At
scale the state store shards by bucket across the cluster. It is
Spark's default HDFS-backed provider: each partition's state lives in
executor memory and its deltas go to the checkpoint directory (RocksDB
only tied it in the r10 A/B, PERF.md, and was not adopted), so unlike
the reference's swap-to-disk there is no spill. NOTE: the bucket count
is part of the state key space, and the payload encoding is part of
the state schema — changing either (or moving between xid- and
bucket-keyed checkpoints) requires a fresh checkpoint, like any
stateful-operator schema change.
"""

from __future__ import annotations

import json
import logging
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from openlogreplicator_spark.operators.transaction_assembly import (
    ASSEMBLED_SCHEMA,
    _assembly_buckets,
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_buffered", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

_TERMINAL = ("commit", "rollback")

_LOG = logging.getLogger("openlogreplicator_spark.assembly")
# keyed by run token → warned buckets: executor processes outlive
# queries, so a bucket-only key would silence the warning for every
# LATER run on the same executor (r12 ADVICE); the token is minted per
# streaming_assemble() call and ships inside the kernel closure.
# Bounded (r12 review pass): tokens evict FIFO past _MAX_WARN_RUNS, so
# a long-lived executor surviving thousands of query restarts does not
# leak the set monotonically (per-run buckets stay bounded by the
# bucket count; the runs dimension needed the cap).
_warned_buckets: dict = {}
_MAX_WARN_RUNS = 8


def _warn_out_of_order(run_token: str, key, lo: int, hi: int) -> None:
    seen = _warned_buckets.get(run_token)
    if seen is None:
        while len(_warned_buckets) >= _MAX_WARN_RUNS:
            _warned_buckets.pop(next(iter(_warned_buckets)))
        seen = _warned_buckets[run_token] = set()
    if key in seen:
        return
    seen.add(key)
    _LOG.warning(
        "redo records arrived out of order: bucket %s received scn %d "
        "below its high-water scn %d. Harmless when files hold whole "
        "transactions (hash-partitioned fixture replay); if your redo "
        "files are sequential SEGMENTS, a transaction straddling the "
        "inversion will never emit — deliver files in sequence order "
        "(see sources.binary_redo._binary_files_stream) or leave "
        "maxFilesPerTrigger unset for bulk directories", key, lo, hi
    )


_REC_COLUMNS = [
    "scn", "subscn", "block", "offset", "seq", "xid", "opcode", "obj",
    "bdba", "slot", "fb", "cols", "rows",
]


def _concat_records(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """``pd.concat`` of record frames, with pandas 2's dtype rule made
    explicit: a column that is all-NA in one frame takes the dtype it
    has in the other frames, when that dtype can hold NA. pandas
    deprecated leaving all-NA entries out of the result dtype (a
    FutureWarning); without this cast a future pandas would turn, say,
    a float ``bdba`` column object-typed whenever one frame's ``bdba``
    is all None."""
    if len(frames) > 1:
        for col in frames[0].columns:
            if len({f[col].dtype for f in frames}) == 1:
                continue
            all_na = [f[col].isna().all() for f in frames]
            dtypes = {f[col].dtype for f, na in zip(frames, all_na) if not na}
            if any(all_na) and len(dtypes) == 1:
                dtype = dtypes.pop()
                if dtype.kind in "fcmMO":
                    frames = [
                        f.astype({col: dtype}) if na else f
                        for f, na in zip(frames, all_na)
                    ]
    return pd.concat(frames, ignore_index=True, copy=False)


def _records_arrow_table(pdf: pd.DataFrame):
    """Pandas record frame (cols/rows as list-of-pairs, numerics
    possibly NaN-widened) → Arrow table in REDO_RECORD_SCHEMA types,
    ready for the vectorized batch kernel. Per-value work stays in
    Arrow's C conversion path."""
    import pyarrow as pa

    mt = pa.map_(pa.string(), pa.string())
    types = {
        "scn": pa.int64(), "subscn": pa.int32(), "block": pa.int64(),
        "offset": pa.int32(), "seq": pa.int64(), "xid": pa.string(),
        "opcode": pa.string(), "obj": pa.int64(), "bdba": pa.int64(),
        "slot": pa.int32(), "fb": pa.int32(), "cols": mt,
        "rows": pa.list_(mt),
    }
    arrays = []
    for name in _REC_COLUMNS:
        s = pdf[name]
        if name in ("cols", "rows"):
            # maps arrive as dicts (state-API and IPC-restored pandas)
            # or k/v pair lists — canonicalize to pair-tuples
            def pairs(m):
                if isinstance(m, dict):
                    return list(m.items())
                return [tuple(p) for p in m]

            def pairs_or_none(m):
                # a null ELEMENT inside a rows array is legal under the
                # nullable array<map> schema — pairs(None) raised
                # TypeError and killed the micro-batch
                # (r12 review-pass-11)
                if m is None or (isinstance(m, float) and pd.isna(m)):
                    return None
                return pairs(m)

            vals = [
                None if v is None or (isinstance(v, float) and pd.isna(v))
                else (pairs(v) if name == "cols"
                      else [pairs_or_none(m) for m in v])
                for v in s.tolist()
            ]
            arrays.append(pa.array(vals, type=types[name]))
        else:
            arrays.append(
                pa.array(s.to_numpy(), type=types[name], from_pandas=True)
            )
    return pa.Table.from_arrays(arrays, names=_REC_COLUMNS)


def _encode_state(
    leftover: pd.DataFrame, skip_xids: set, max_scn: int | None = None,
    n_buckets: int | None = None,
) -> bytes:
    """Leftover open-transaction records + skiplist + arrival-order
    watermark + bucket-count stamp → one Arrow IPC stream (all as schema
    metadata — metadata keys are additive, so older checkpoints restore
    fine). One vectorized serialize; no per-row Python."""
    import pyarrow as pa

    tbl = _records_arrow_table(leftover)
    meta = {b"skip": json.dumps(sorted(skip_xids)).encode()}
    if max_scn is not None:
        meta[b"max_scn"] = str(int(max_scn)).encode()
    if n_buckets is not None:
        meta[b"n_buckets"] = str(int(n_buckets)).encode()
    tbl = tbl.replace_schema_metadata(meta)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as writer:
        writer.write_table(tbl)
    return sink.getvalue().to_pybytes()


def _decode_state(payload: bytes):
    """Inverse of :func:`_encode_state` → (Arrow table, skiplist)."""
    import pyarrow as pa

    try:
        tbl = pa.ipc.open_stream(pa.py_buffer(payload)).read_all()
    except pa.ArrowInvalid as e:
        # state-schema break (r8): pre-Arrow checkpoints stored the
        # payload as per-row JSON; there is no migration path — fail
        # with the remedy instead of an opaque Arrow parse error
        raise RuntimeError(
            "streaming state payload is not an Arrow IPC stream — this "
            "checkpoint predates the Arrow state codec and cannot be "
            "restored; restart the query with a fresh checkpoint "
            "directory (events at or below the writer's confirmed scn "
            "are re-filtered on restart)"
        ) from e
    meta = tbl.schema.metadata or {}
    skip = set(json.loads(meta.get(b"skip", b"[]")))
    max_scn = meta.get(b"max_scn")
    stamped = meta.get(b"n_buckets")
    return (
        tbl,
        skip,
        (int(max_scn) if max_scn is not None else None),
        (int(stamped) if stamped is not None else None),
    )


def assemble_stateful(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state: GroupState,
    max_ops: int | None = None,
    ttl_timeout: bool = True,
    show_incomplete: bool = False,
    run_token: str = "",
    n_buckets: int | None = None,
) -> Iterable[pd.DataFrame]:
    """Per-bucket stateful kernel (wired via the xid-hash groupBy in
    :func:`streaming_assemble`; also correct keyed by raw xid — the
    in-kernel logic is per-xid throughout).

    The bulk path is VECTORIZED: incoming frames are combined and split
    in pandas, the flushable majority runs through the same Arrow
    kernel as batch assembly (`_assemble_partition_arrow` — plain txns
    never materialize per-record Python objects), and the leftover tail
    (open transactions awaiting their commit) serializes to the Arrow
    IPC state payload in one pass."""
    import numpy as np

    from openlogreplicator_spark.operators.transaction_assembly import (
        _assemble_partition_arrow,
    )

    buffered_tbl = None
    skip_xids: set = set()
    max_seen: int | None = None
    if state.exists:
        (_, payload) = state.get
        buffered_tbl, skip_xids, max_seen, stamped = _decode_state(
            bytes(payload)
        )
        if (
            stamped is not None
            and n_buckets is not None
            and stamped != n_buckets
        ):
            # bucket-count mismatch on checkpoint resume: xids would
            # re-hash into DIFFERENT buckets than their buffered state,
            # silently stranding open transactions (truncated emission)
            # — fail with the remedy instead (r12 review-pass-11).
            # Pre-stamp checkpoints (stamped None) restore unarmed.
            raise RuntimeError(
                f"assembly state bucket-count mismatch: checkpoint was "
                f"written with {stamped} buckets but this session "
                f"computes {n_buckets} (the default is "
                f"spark.sql.shuffle.partitions; it changed, or the "
                f"checkpoint predates that default). "
                f"Set spark.olrs.assembly.buckets={stamped} to resume "
                f"this checkpoint, or start a fresh checkpoint "
                f"directory."
            )

    empty = pd.DataFrame(columns=[f.name for f in ASSEMBLED_SCHEMA.fields])
    if state.hasTimedOut:
        # incomplete-transaction policy: by default the abandoned
        # transaction drops whole; with SHOW_INCOMPLETE_TRANSACTIONS
        # (REDO_FLAGS bit 10, Parser.cpp:585) its buffered ops are
        # emitted with a null commit_scn before state clears.
        # The T4 skiplist (and the arrival-order watermark) SURVIVE the
        # reap: dropping the skiplist let late records of an oversized,
        # already-partially-dropped xid reassemble into a truncated
        # transaction — violating the cap's drop-whole guarantee
        # (r12 review-pass-11). Skiplist entries retire when their
        # terminal arrives, so the retained row is skiplist-sized.
        if skip_xids or max_seen is not None:
            state.update(
                (
                    0,
                    _encode_state(
                        pd.DataFrame(columns=_REC_COLUMNS),
                        skip_xids,
                        max_seen,
                        n_buckets,
                    ),
                )
            )
            if ttl_timeout:
                state.setTimeoutDuration(3_600_000)
        else:
            state.remove()
        if show_incomplete and buffered_tbl is not None \
                and buffered_tbl.num_rows:
            emitted = False
            for batch in _assemble_partition_arrow(
                buffered_tbl, True, max_ops
            ):
                if batch.num_rows:
                    emitted = True
                    yield batch.to_pandas(maps_as_pydicts="strict")
            if emitted:
                return
        yield empty
        return

    frames = [pdf for pdf in pdf_iter if len(pdf)]
    # ARRIVAL-ORDER WATCHDOG (r11 chaos e2e): records arriving in redo
    # order ACROSS micro-batches is the reference's sequential-reader
    # premise (_binary_files_stream's ordered-arrival contract). A
    # batch dipping below this bucket's high-water scn means the source
    # delivered files out of sequence. That is only DANGEROUS when a
    # transaction STRADDLES the inversion (ops arriving after their
    # commit was flushed buffer forever — silently), but it is also
    # perfectly legal for txn-whole files (a hash-partitioned OLRS
    # fixture replayed with pacing assembles every late-arriving whole
    # transaction correctly, just out of emission order — which the
    # funnels' doc freeze/cap already fail-safe). The two cases are
    # indistinguishable online, so this WARNS (once per bucket per
    # run) instead of failing a legitimate replay; the watermark rides
    # the state payload's schema metadata (additive: pre-watchdog
    # checkpoints restore with it unarmed until the next batch).
    # batch-level min/max: chunk order WITHIN a micro-batch is
    # arbitrary post-shuffle (and legal — the kernel re-sorts below);
    # only the cross-BATCH comparison is the ordering contract
    lo = hi = None
    for pdf in frames:
        s = pdf["scn"].dropna()
        if not len(s):
            continue
        lo = int(s.min()) if lo is None else min(lo, int(s.min()))
        hi = int(s.max()) if hi is None else max(hi, int(s.max()))
    if lo is not None:
        if max_seen is not None and lo < max_seen:
            _warn_out_of_order(run_token, key, lo, max_seen)
        max_seen = hi if max_seen is None else max(max_seen, hi)
    if buffered_tbl is not None and buffered_tbl.num_rows:
        frames.insert(
            0, buffered_tbl.to_pandas(maps_as_pydicts="strict")
        )
    if not frames:
        yield empty
        return
    comb = _concat_records(frames)
    # Source contract: records arrive in log order across batches (the
    # reference's reader guarantees the same). The defensive re-sort
    # repairs ordering *within* what we currently hold — null key parts
    # coalesce to 0, the state machine's convention — but a record
    # arriving after its transaction's commit was flushed is
    # unrecoverable, same as a redo block appearing after its LWN was
    # confirmed.
    comb = comb.iloc[
        np.lexsort(
            (
                comb["offset"].fillna(0).to_numpy(),
                comb["block"].fillna(0).to_numpy(),
                comb["subscn"].fillna(0).to_numpy(),
                comb["scn"].fillna(0).to_numpy(),
            )
        )
    ].reset_index(drop=True)
    if skip_xids:
        # T4-skiplisted xids (oversized, dropped at the buffering cap —
        # see below): a skiplisted xid's records drop up to AND
        # INCLUDING its first terminal, which retires the skiplist
        # entry — rows AFTER that terminal belong to a REUSED xid and
        # start a fresh transaction, the reference's semantics (it
        # drops the Transaction OBJECT; a later reuse of the xid is a
        # new object). (The batch kernel's in-partition skiplist never
        # retires; the difference is only observable for an xid reused
        # after an oversize drop, which the reference handles as here.)
        in_skip = comb["xid"].isin(skip_xids).to_numpy()
        if in_skip.any():
            pos0 = np.arange(len(comb))
            term0 = comb["opcode"].isin(_TERMINAL).to_numpy()
            first_term = (
                pd.Series(
                    np.where(in_skip & term0, pos0, len(comb))
                )
                .groupby(comb["xid"].to_numpy())
                .transform("min")
                .to_numpy()
            )
            skip_xids -= set(comb.loc[in_skip & term0, "xid"])
            drop = in_skip & (pos0 <= first_term)
            comb = comb[~drop].reset_index(drop=True)
    # per-xid split at the last commit/rollback: records at or before
    # their xid's last terminal flush now; each xid's tail stays open
    pos = np.arange(len(comb))
    term = comb["opcode"].isin(_TERMINAL).to_numpy()
    last_term = (
        pd.Series(np.where(term, pos, -1))
        .groupby(comb["xid"].to_numpy())
        .transform("max")
        .to_numpy()
    )
    flush_m = pos <= last_term

    leftover = comb[~flush_m]
    if max_ops is not None:
        # T4 size guard APPLIED WHILE BUFFERING (Transaction.h size cap:
        # the reference drops an oversized transaction the moment its
        # BUFFERED redo exceeds transaction-max-mb, not at commit).
        # Without this, one runaway transaction grows the bucket's state
        # payload without bound — the streaming analog of the batch
        # hot-bucket problem. The cap counts GROSS buffered records
        # (the reference's own unit is buffered bytes, ~one chunk per
        # record), and — for batch-boundary invariance — the SAME gross
        # rule gates the flush path: a transaction over the cap never
        # emits whether it arrived in one micro-batch or across many.
        # A dropped open xid goes on the in-state skiplist so its
        # remaining records (and eventual terminal) drop on arrival.
        # a transaction can only exceed the cap if its frame has more
        # rows than the cap, so the per-xid counting is skipped on the
        # hot path (typical micro-batches are far below max_ops)
        if len(leftover) > max_ops:
            counts = leftover.groupby("xid")["xid"].transform("size")
            oversized = counts > max_ops
            if oversized.any():
                skip_xids |= set(leftover.loc[oversized, "xid"])
                leftover = leftover[~oversized]
        if int(flush_m.sum()) > max_ops:
            fl = comb[flush_m]
            # count per TRANSACTION, not per xid: a reused xid can close
            # several distinct transactions inside one micro-batch, and
            # grouping them jointly would drop under-cap transactions
            # (breaking the batch-boundary invariance this rule exists
            # for). Segment id = number of PRIOR terminals of the xid.
            t_fl = fl["opcode"].isin(_TERMINAL)
            seg = (
                t_fl.groupby(fl["xid"].to_numpy()).cumsum()
                - t_fl.astype(int)
            )
            fcounts = fl.groupby(
                [fl["xid"].to_numpy(), seg.to_numpy()]
            )["xid"].transform("size")
            if (fcounts > max_ops).any():
                # terminal already present: drop whole, no skiplist
                drop = fl.loc[(fcounts > max_ops).to_numpy()].index
                flush_m[drop] = False
    if len(leftover) or skip_xids or max_seen is not None:
        # the arrival-order watermark keeps the bucket's state row
        # alive even with nothing buffered — state rows are bounded by
        # the bucket count (by default spark.sql.shuffle.partitions),
        # not by data
        state.update(
            (
                len(leftover),
                _encode_state(leftover, skip_xids, max_seen, n_buckets),
            )
        )
        # incomplete-transaction TTL. Generous by default: an open
        # transaction is legitimate until its commit arrives; the
        # timeout only reaps transactions abandoned by a crashed
        # session (the reference keeps them until log end). Only
        # registered in continuous mode: with any processing-time timer
        # pending, Spark's shouldRunAnotherBatch forces endless
        # zero-input micro-batches under Trigger.AvailableNow, so a
        # drain run would never terminate.
        if ttl_timeout:
            state.setTimeoutDuration(3_600_000)
    elif state.exists:
        state.remove()

    emitted = False
    if flush_m.any():
        tbl = _records_arrow_table(comb[flush_m])
        # the flush set holds only terminated transactions, so the
        # incomplete-transaction flag cannot change its output — pass
        # False to keep the vectorized Arrow route (show_incomplete=True
        # forces the whole table through the sequential state machine);
        # the flag's real effect lives on the timeout path above
        for batch in _assemble_partition_arrow(tbl, False, max_ops):
            if batch.num_rows:
                emitted = True
                # Spark's state-API serializer converts map values via
                # dict.items() — hand maps back as pydicts
                yield batch.to_pandas(maps_as_pydicts="strict")
    if not emitted:
        yield empty


def streaming_assemble(
    redo_stream: DataFrame,
    max_ops: int | None = None,
    ttl_timeout: bool = True,
    show_incomplete: bool = False,
) -> DataFrame:
    """Wire the stateful kernel onto a streaming redo-record DataFrame.
    ``max_ops`` is the T4 transaction size guard (Transaction.h size
    cap): a transaction exceeding it is dropped whole, as the reference
    does when `transaction-max-mb` overflows. Threaded via a closure so
    it serializes with the function to the executors. ``show_incomplete``
    is REDO_FLAGS::SHOW_INCOMPLETE_TRANSACTIONS (Ctx.h:96,
    Parser.cpp:585): transactions whose begin predates the stream are
    emitted instead of dropped.

    ``ttl_timeout`` selects the abandoned-transaction reaper (a
    processing-time timer per open xid). It must be False for
    Trigger.AvailableNow drain runs: Spark schedules another micro-batch
    whenever a ProcessingTimeTimeout is configured (state may hold a
    pending timer it can only service by running a batch), so a drain
    with timers enabled spins zero-input batches forever instead of
    terminating. Continuous pipelines keep the reaper; a bounded drain
    simply leaves incomplete transactions in state — identical to the
    reference at log end, which holds open transactions until more redo
    arrives (Transaction.h buffering)."""

    import uuid

    from pyspark.sql import functions as F

    # per-stream-start warn-once token (r12 ADVICE): executor
    # processes outlive queries, so the once-per-bucket warning must
    # be scoped to this wiring, not to the executor lifetime
    run_token = uuid.uuid4().hex

    def kernel(key, pdf_iter, state):
        return assemble_stateful(
            key,
            pdf_iter,
            state,
            max_ops=max_ops,
            ttl_timeout=ttl_timeout,
            show_incomplete=show_incomplete,
            run_token=run_token,
            n_buckets=n_buckets,
        )

    # xid-hash buckets (not raw xid): one Python invocation per bucket
    # per batch instead of one per TRANSACTION — the same ~10⁴
    # amortization as the batch kernel, with per-txn correctness
    # preserved because every record of an xid hashes to one bucket.
    # TTL granularity coarsens with the key: the reaper fires when a
    # BUCKET has been idle for the TTL, and with one bucket per state
    # partition that is when the whole partition has been idle (a
    # partition that keeps receiving records keeps its stale
    # transactions buffered until log end — which is the reference's
    # own behavior for open transactions).
    # the bucket count is part of the CHECKPOINT contract: xids hash to
    # buckets by it, so resuming in a different-sized environment would
    # re-key state. It is stamped into every state payload; a mismatch
    # on restore raises with the remedy. `spark.olrs.assembly.buckets`
    # pins it explicitly for cross-environment resumes
    # (r12 review-pass-11), including checkpoints written under the
    # earlier max(32, defaultParallelism) default.
    sess = redo_stream.sparkSession
    n_buckets = _assembly_buckets(
        sess, int(sess.conf.get("spark.sql.shuffle.partitions"))
    )
    bucketed = redo_stream.withColumn(
        "_bucket", F.pmod(F.xxhash64("xid"), F.lit(n_buckets))
    ).groupBy("_bucket")
    return bucketed.applyInPandasWithState(
        kernel,
        outputStructType=ASSEMBLED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )
