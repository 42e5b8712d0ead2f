"""Structured Streaming end-to-end: stateful assembly across micro-batches,
watermarked windows, exactly-once file sink, metrics listener."""

from __future__ import annotations

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from conftest import drain
from openlogreplicator_spark.operators.transaction_assembly import (
    assemble_transactions_py,
)
from openlogreplicator_spark.sources.redo_gen import generate_redo_records
from openlogreplicator_spark.streaming.assembly import streaming_assemble
from openlogreplicator_spark.streaming.pipeline import (
    MetricsListener,
    observed,
    prepare_kafka_frame,
    read_events_stream,
    read_redo_json_stream,
    windowed_metrics,
    write_json_sink,
)


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_assembly_across_batches(spark, tmp_path):
    """Transactions split across micro-batches must assemble identically
    to the batch path (state carries open transactions)."""
    records = generate_redo_records(n_txns=12, seed=3)
    # split stream into 3 chronological files → maxFilesPerTrigger=1 gives
    # 3 micro-batches with transactions straddling the boundaries
    records.sort(key=lambda r: (r["scn"], r["subscn"] or 0, r["block"] or 0, r["offset"] or 0))
    indir = tmp_path / "redo_in"
    indir.mkdir()
    for i, chunk in enumerate(
        [records[: len(records) // 3],
         records[len(records) // 3: 2 * len(records) // 3],
         records[2 * len(records) // 3:]]
    ):
        _write_jsonl(str(indir / f"part-{i:03d}.json"), chunk)
        # the source contract (like the reference's sequence-ordered log
        # reader) is chronological delivery: distinct mtimes keep the
        # file-stream listing in write order
        time.sleep(0.05)

    stream = read_redo_json_stream(spark, str(indir), max_files_per_trigger=1)
    assembled = streaming_assemble(stream, ttl_timeout=False)
    q = (
        assembled.writeStream.format("memory")
        .queryName("assembled_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    got = [
        r.asDict() for r in spark.sql("SELECT * FROM assembled_stream").collect()
    ]
    expected = assemble_transactions_py(records)

    def norm(evs):
        return sorted(
            (
                e["xid"], e["commit_scn"], e["num"], e["op"], e["obj"],
                e["bdba"], e["slot"], e["scn"],
                tuple(sorted((e["cols"] or {}).items())),
            )
            for e in evs
        )

    assert norm(got) == norm(expected)
    assert len(got) > 0


def test_watermarked_window_metrics(spark, tmp_path):
    """Watermarked tumbling windows over a streamed events file equal the
    batch aggregation (availableNow drains everything, so no late drops)."""
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T{i % 24:02d}:{i % 60:02d}:00.000Z",
            "user_id": i % 5,
            "event_type": ["view", "click"][i % 2],
            "value": float(i),
            "props": "{}",
        }
        for i in range(200)
    ]
    # sentinel far in the future: pushes the watermark past every real
    # window so append mode flushes them before availableNow terminates
    rows.append(
        {"event_id": 9999, "ts": "2024-01-03T00:00:00.000Z", "user_id": 0,
         "event_type": "flush", "value": 0.0, "props": "{}"}
    )
    indir = tmp_path / "events_in"
    indir.mkdir()
    _write_jsonl(str(indir / "e.json"), rows)

    stream = read_events_stream(spark, str(indir))
    q = (
        windowed_metrics(stream)
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = spark.sql(
        "SELECT event_type, SUM(n) AS n FROM win_metrics GROUP BY event_type"
    ).collect()
    assert {(r.event_type, r.n) for r in got} == {("view", 100), ("click", 100)}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """An at-least-once source re-delivers all of batch 1 inside batch 2;
    dropDuplicatesWithinWatermark emits every event_id exactly once while
    TTL'ing key state by the event-time watermark (the scale contract:
    state holds one watermark-window of keys, not the full history)."""

    def ev(i: int) -> dict:
        return {
            "event_id": i,
            "ts": f"2024-01-01T00:{i:02d}:00.000Z",
            "user_id": i % 3,
            "event_type": "view",
            "value": float(i),
            "props": "{}",
        }

    batch1 = [ev(i) for i in range(30)]
    batch2 = batch1 + [ev(i) for i in range(30, 50)]  # full replay + new
    indir = tmp_path / "dedup_in"
    indir.mkdir()
    _write_jsonl(str(indir / "b0.json"), batch1)
    time.sleep(0.05)  # distinct mtimes keep batch order deterministic
    _write_jsonl(str(indir / "b1.json"), batch2)

    stream = read_events_stream(spark, str(indir), max_files_per_trigger=1)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = spark.sql(
        "SELECT event_id, COUNT(*) AS c FROM dedup_stream GROUP BY event_id"
    ).collect()
    assert {r.event_id for r in got} == set(range(50))
    assert all(r.c == 1 for r in got)


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join — the streaming form of T5's pairing
    of DML rows with their transaction's commit: a DML joins the commit
    that lands within 10 minutes after it, on two independently-arriving
    watermarked streams. The time-range condition is what lets Spark
    expire join state (without it, both sides buffer forever)."""
    dml = [
        {"xid": f"x{i:02d}", "ts": f"2024-01-01T00:{i:02d}:00.000Z", "val": i}
        for i in range(30)
    ]
    # only even transactions commit, two minutes after their DML
    commits = [
        {"xid": f"x{i:02d}", "cts": f"2024-01-01T00:{i + 2:02d}:00.000Z"}
        for i in range(0, 30, 2)
    ]
    d_dir, c_dir = tmp_path / "dml_in", tmp_path / "commit_in"
    d_dir.mkdir(), c_dir.mkdir()
    _write_jsonl(str(d_dir / "d.json"), dml)
    _write_jsonl(str(c_dir / "c.json"), commits)

    d = (
        spark.readStream.schema("xid string, ts string, val long")
        .json(str(d_dir))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "1 minute")
    )
    c = (
        spark.readStream.schema("xid string, cts string")
        .json(str(c_dir))
        .withColumn("cts", F.to_timestamp("cts"))
        .withWatermark("cts", "1 minute")
    )
    joined = d.join(
        c,
        (d.xid == c.xid)
        & (c.cts >= d.ts)
        & (c.cts <= d.ts + F.expr("INTERVAL 10 MINUTES")),
    ).select(d.xid.alias("xid"), "val", "cts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = spark.sql("SELECT xid, val FROM ss_join").collect()
    assert {(r.xid, r.val) for r in got} == {
        (f"x{i:02d}", i) for i in range(0, 30, 2)
    }


def test_file_sink_exactly_once_resume(spark, tmp_path):
    """Re-running with the same checkpoint must not duplicate output
    (W1/F9: exactly-once resume)."""
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    _write_jsonl(
        str(indir / "a.json"),
        [
            {"event_id": i, "ts": "2024-01-01T00:00:00.000Z", "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for i in range(10)
        ],
    )
    stream = read_events_stream(spark, str(indir)).select(
        "event_id", "event_type"
    )
    q = write_json_sink(stream, outdir, ckpt)
    drain(q)
    n1 = spark.read.json(outdir).count()
    # resume with identical input + checkpoint → no new epoch, no dupes
    q2 = write_json_sink(
        read_events_stream(spark, str(indir)).select("event_id", "event_type"),
        outdir,
        ckpt,
    )
    drain(q2)
    n2 = spark.read.json(outdir).count()
    assert n1 == 10 and n2 == 10


def test_observe_and_listener_metrics(spark, tmp_path):
    """df.observe counters + StreamingQueryListener progress (W8)."""
    records = generate_redo_records(n_txns=6, seed=11)
    indir = tmp_path / "redo_obs"
    indir.mkdir()
    _write_jsonl(str(indir / "all.json"), records)

    listener = MetricsListener()
    listener.attach(spark)
    try:
        stream = read_redo_json_stream(spark, str(indir))
        assembled = observed(streaming_assemble(stream, ttl_timeout=False))
        q = (
            assembled.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        # listener delivery is async — poll with a deadline (a fixed 1 s
        # sleep flaked when the box ran concurrent suites)
        deadline = time.time() + 20
        while time.time() < deadline:
            if any(
                p.get("observedMetrics", {}).get("olr_metrics")
                for p in listener.progress
            ):
                break
            time.sleep(0.2)
    finally:
        listener.detach(spark)
    observed_metrics = [
        p["observedMetrics"]["olr_metrics"]
        for p in listener.progress
        if p.get("observedMetrics", {}).get("olr_metrics")
    ]
    assert observed_metrics, "observe() metrics must surface via listener"
    total = sum(m["rows_out"] for m in observed_metrics)
    assert total == len(assemble_transactions_py(records))


def test_idempotent_sink_under_replay(spark, tmp_path):
    """W1 analog: replaying the same batch (foreachBatch failure retry)
    must not duplicate rows in the target."""
    from openlogreplicator_spark.streaming.sinks import idempotent_append

    target = str(tmp_path / "sink")
    batch1 = spark.createDataFrame(
        [(100, "a", 0, "c"), (100, "a", 1, "u")],
        "commit_scn long, xid string, num long, op string",
    )
    assert idempotent_append(batch1, target) == 2
    # full replay: nothing new
    assert idempotent_append(batch1, target) == 0
    # partial overlap: only the new row lands
    batch2 = spark.createDataFrame(
        [(100, "a", 1, "u"), (101, "b", 0, "d")],
        "commit_scn long, xid string, num long, op string",
    )
    assert idempotent_append(batch2, target) == 1
    assert spark.read.parquet(target).count() == 3


def test_kafka_frame_shape(spark):
    """W2 wiring: (key, value) binary columns, key = tag JSON (B5)."""
    df = spark.createDataFrame(
        [("1.2.3", 100, "c")], "xid string, scn bigint, op string"
    )
    out = prepare_kafka_frame(df, ("xid",))
    assert out.schema.simpleString() == "struct<key:binary,value:binary>"
    row = out.collect()[0]
    assert json.loads(bytes(row.key).decode()) == {"xid": "1.2.3"}
    assert json.loads(bytes(row.value).decode())["scn"] == 100


class _FakeGroupState:
    """Minimal GroupState double for driving assemble_stateful directly."""

    def __init__(self, payload=None, timed_out=False):
        self._payload = payload
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._payload is not None

    @property
    def get(self):
        from openlogreplicator_spark.streaming.assembly import _decode_state

        tbl, _, _max, _nb = _decode_state(bytes(self._payload))
        return (tbl.num_rows, self._payload)

    def update(self, value):
        self._payload = value[1]

    def remove(self):
        self._payload = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        if self.hasTimedOut is None:  # pragma: no cover - guard parity
            raise RuntimeError("timeout not configured")
        self.timeout_ms = ms


def _state_payload(recs, skip=()):
    """Build an Arrow-IPC state payload the way the kernel does."""
    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import (
        _REC_COLUMNS,
        _encode_state,
    )

    return _encode_state(
        pd.DataFrame(recs, columns=_REC_COLUMNS), set(skip)
    )


def _open_txn_pdf():
    import pandas as pd

    return pd.DataFrame(
        [
            {"scn": 10, "subscn": 0, "block": 0, "offset": 0, "seq": 1,
             "xid": "9.9.9", "opcode": "begin", "obj": 0, "bdba": None,
             "slot": None, "fb": 0, "cols": None, "rows": None},
            {"scn": 11, "subscn": 0, "block": 1, "offset": 0, "seq": 1,
             "xid": "9.9.9", "opcode": "insert", "obj": 5, "bdba": 1,
             "slot": 0, "fb": 0, "cols": {"A": "1"}, "rows": None},
        ]
    )


def test_stateful_kernel_ttl_reaps_abandoned_txn():
    """T4 abandoned-transaction policy: a timed-out key drops its
    buffered ops whole and clears state (continuous-mode reaper)."""
    from openlogreplicator_spark.streaming.assembly import assemble_stateful

    buffered = _state_payload(
        [{"scn": 1, "subscn": 0, "block": 0, "offset": 0, "seq": 1,
          "xid": "9.9.9", "opcode": "begin", "obj": 0, "bdba": None,
          "slot": None, "fb": 0, "cols": None, "rows": None}]
    )
    state = _FakeGroupState(payload=buffered, timed_out=True)
    out = list(assemble_stateful(("9.9.9",), iter([]), state))
    assert state.removed
    assert sum(len(p) for p in out) == 0


def test_stateful_kernel_timer_only_in_continuous_mode():
    """Drain mode must not register processing-time timers: a pending
    timer forces endless zero-input AvailableNow batches (the round-3
    non-termination bug). Continuous mode must register the TTL."""
    from openlogreplicator_spark.streaming.assembly import assemble_stateful

    cont = _FakeGroupState()
    list(assemble_stateful(("9.9.9",), iter([_open_txn_pdf()]), cont,
                           ttl_timeout=True))
    assert cont.timeout_ms == 3_600_000, "continuous mode must arm the TTL"
    assert cont.exists, "open transaction stays buffered"

    drain = _FakeGroupState()
    list(assemble_stateful(("9.9.9",), iter([_open_txn_pdf()]), drain,
                           ttl_timeout=False))
    assert drain.timeout_ms is None, "drain mode must not arm timers"
    assert drain.exists, "open transaction stays buffered at log end"


def test_bucketed_state_interleaves_many_xids(spark, tmp_path):
    """The bucket-keyed state must assemble MANY transactions sharing
    one state bucket, interleaved across micro-batches, identically to
    the sequential reference — including open transactions parked in
    state while bucket-mates commit around them."""
    records = generate_redo_records(n_txns=120, seed=21, p_rollback=0.1)
    records.sort(key=lambda r: (r["scn"], r["subscn"] or 0, r["block"] or 0, r["offset"] or 0))
    indir = tmp_path / "redo_many"
    indir.mkdir()
    third = len(records) // 3
    for i, chunk in enumerate(
        [records[:third], records[third: 2 * third], records[2 * third:]]
    ):
        _write_jsonl(str(indir / f"part-{i:03d}.json"), chunk)
        time.sleep(0.05)

    stream = read_redo_json_stream(spark, str(indir), max_files_per_trigger=1)
    assembled = streaming_assemble(stream, ttl_timeout=False)
    q = (
        assembled.writeStream.format("memory")
        .queryName("bucketed_many")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = [r.asDict() for r in spark.sql("select * from bucketed_many").collect()]
    expected = assemble_transactions_py(records)
    # 120 xids over ≤32 buckets: every bucket holds several interleaved
    # transactions — per-xid flush correctness is what's under test
    assert len({e["xid"] for e in expected}) > 32

    def norm(events):
        return sorted(
            (e["xid"], e["commit_scn"], e["num"], e["op"], e["scn"],
             tuple(sorted((e["cols"] or {}).items())))
            for e in events
        )

    assert norm(got) == norm(expected)


@pytest.mark.parametrize("seed,n_files", [(17, 2), (29, 4), (41, 5)])
def test_streaming_assembly_randomized_batch_boundaries(
    spark, tmp_path, seed, n_files
):
    """Vectorized streaming kernel (r5): randomized streams — exotic
    ops, rollbacks, null LWN key parts from the generator — split at
    arbitrary micro-batch boundaries must equal the sequential oracle,
    whatever lands in state between batches."""
    records = generate_redo_records(
        n_txns=15, seed=seed, p_rollback=0.2, p_prollback=0.2, p_qmulti=0.2
    )
    records.sort(
        key=lambda r: (
            r["scn"], r["subscn"] or 0, r["block"] or 0, r["offset"] or 0
        )
    )
    indir = tmp_path / f"redo_in_{seed}"
    indir.mkdir()
    step = max(1, len(records) // n_files)
    for i in range(n_files):
        chunk = records[i * step:] if i == n_files - 1 else (
            records[i * step: (i + 1) * step]
        )
        _write_jsonl(str(indir / f"part-{i:03d}.json"), chunk)
        time.sleep(0.05)

    stream = read_redo_json_stream(spark, str(indir), max_files_per_trigger=1)
    assembled = streaming_assemble(stream, ttl_timeout=False)
    q = (
        assembled.writeStream.format("memory")
        .queryName(f"assembled_rand_{seed}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = [
        r.asDict()
        for r in spark.sql(f"SELECT * FROM assembled_rand_{seed}").collect()
    ]
    expected = assemble_transactions_py(records)

    def norm(evs):
        return sorted(
            (
                e["xid"], e["commit_scn"], e["num"], e["op"], e["obj"],
                e["bdba"], e["slot"], e["scn"],
                tuple(sorted((e["cols"] or {}).items())),
                tuple(sorted((e.get("before_cols") or {}).items())),
            )
            for e in evs
        )

    assert norm(got) == norm(expected)
    assert len(got) > 0


def test_stateful_kernel_ttl_emits_incomplete_when_flagged():
    """REDO_FLAGS::SHOW_INCOMPLETE_TRANSACTIONS (bit 10, Parser.cpp:585)
    through the streaming reaper: a timed-out transaction's buffered ops
    are EMITTED with a null commit_scn instead of dropped whole."""
    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import assemble_stateful

    buffered = _state_payload(
        [
            {"scn": 1, "subscn": 0, "block": 0, "offset": 0, "seq": 1,
             "xid": "9.9.9", "opcode": "begin", "obj": 0, "bdba": None,
             "slot": None, "fb": 0, "cols": None, "rows": None},
            {"scn": 2, "subscn": 0, "block": 1, "offset": 0, "seq": 1,
             "xid": "9.9.9", "opcode": "insert", "obj": 7, "bdba": 3,
             "slot": 4, "fb": 0, "cols": {"A": "1"}, "rows": None},
        ]
    )
    state = _FakeGroupState(payload=buffered, timed_out=True)
    out = list(
        assemble_stateful(("9.9.9",), iter([]), state, show_incomplete=True)
    )
    assert state.removed
    rows = [r for p in out for _, r in p.iterrows()]
    assert len(rows) == 1
    assert rows[0]["xid"] == "9.9.9"
    assert rows[0]["op"] == "c"
    assert rows[0]["commit_scn"] is None or pd.isna(rows[0]["commit_scn"])


def test_stateful_kernel_buffering_size_guard_bounds_state():
    """T4 applied WHILE BUFFERING (streaming hot-bucket bound, r6
    VERDICT #7): an open transaction exceeding max_ops drops out of the
    state payload immediately and is skiplisted, so one runaway
    transaction cannot grow a bucket's state without bound; its eventual
    commit emits nothing and retires the skiplist entry."""
    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import assemble_stateful

    def rec(scn, opcode, **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": "7.7.7", "opcode": opcode, "obj": 5,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    big = pd.DataFrame(
        [rec(1, "begin")] +
        [rec(2 + i, "insert", cols={"A": str(i)}) for i in range(6)]
    )
    state = _FakeGroupState()
    out = list(
        assemble_stateful(("7.7.7",), iter([big]), state, max_ops=3)
    )
    assert sum(len(p) for p in out) == 0
    assert state.exists, "skiplist entry must persist in state"
    from openlogreplicator_spark.streaming.assembly import _decode_state

    _, payload = state.get
    tbl, skip, _max, _nb = _decode_state(bytes(payload))
    assert tbl.num_rows == 0
    assert skip == {"7.7.7"}

    # more records for the skiplisted xid drop on arrival; the terminal
    # retires the entry and clears state
    tail = pd.DataFrame(
        [rec(20, "insert", cols={"A": "x"}), rec(21, "commit")]
    )
    state2 = _FakeGroupState(payload=payload)
    out2 = list(
        assemble_stateful(("7.7.7",), iter([tail]), state2, max_ops=3)
    )
    assert sum(len(p) for p in out2) == 0, "oversized txn never emits"
    # the retired skiplist leaves no RECORDS behind; the bucket row
    # itself stays for the r11 arrival-order watermark (bounded by the
    # bucket count, not by data)
    assert not state2.removed
    _, payload2 = state2.get
    tbl2, skip2, max2, _nb = _decode_state(bytes(payload2))
    assert tbl2.num_rows == 0 and skip2 == set() and max2 == 21


def test_legacy_json_state_payload_fails_with_remedy():
    """The r8 Arrow state codec is a checkpoint-schema break with no
    migration path; a pre-Arrow per-row-JSON payload must fail with the
    'fresh checkpoint' remedy, not an opaque ArrowInvalid."""
    from openlogreplicator_spark.streaming.assembly import _decode_state

    legacy = b'[{"scn": 1, "xid": "1.1.1", "opcode": "insert"}]'
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        _decode_state(legacy)


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_buffering_size_guard_invariant_to_batch_boundaries(seed):
    """The buffering-time T4 guard (r7) must be batch-boundary-INVARIANT:
    however a stream is split into micro-batches, an oversized
    transaction never emits (dropped at the buffering cap or at
    assembly) and every other committed transaction emits exactly as
    the sequential oracle says. Kernel-level: random splits driven
    through _FakeGroupState so state round-trips between every batch."""
    import random

    import pandas as pd

    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions_py,
    )
    from openlogreplicator_spark.streaming.assembly import (
        _REC_COLUMNS,
        assemble_stateful,
    )

    rng = random.Random(seed)
    max_ops = 7
    records = generate_redo_records(
        n_txns=14, max_ops=12, seed=seed, p_rollback=0.1, p_prollback=0.1,
        p_qmulti=0.1,
    )
    records.sort(
        key=lambda r: (
            r["scn"], r["subscn"] or 0, r["block"] or 0, r["offset"] or 0
        )
    )
    # random micro-batch split points, state round-tripped between them
    cuts = sorted(
        rng.sample(range(1, len(records)), k=min(6, len(records) - 1))
    )
    batches, prev = [], 0
    for c in cuts + [len(records)]:
        batches.append(records[prev:c])
        prev = c
    state = _FakeGroupState()
    got = []
    for chunk in batches:
        pdf = pd.DataFrame(chunk)[list(_REC_COLUMNS)]
        payload = state._payload
        state = _FakeGroupState(payload=payload)
        for out in assemble_stateful(
            ("bucket",), iter([pdf]), state, max_ops=max_ops,
            ttl_timeout=False,
        ):
            if len(out):
                # dtype pin (r7 VERDICT #4): the state round-trip must
                # not widen the emitted numeric columns — a silent
                # pandas dtype change here is a correctness bug
                assert str(out["scn"].dtype) == "int64"
                assert str(out["commit_scn"].dtype) == "int64"
                assert str(out["num"].dtype) == "int64"
            got.extend(out.to_dict("records"))
    # the streaming guard is the reference's GROSS buffered-size cap
    # (uniform at buffer and flush → boundary-invariant), composed with
    # the assembly kernel's net-ops cap
    gross = {}
    for r in records:
        gross[r["xid"]] = gross.get(r["xid"], 0) + 1
    expected = [
        e
        for e in assemble_transactions_py(records, max_ops=max_ops)
        if gross[e["xid"]] <= max_ops
    ]

    def norm(evs):
        return sorted(
            (
                e["xid"], e["num"], e["op"], e["obj"],
                tuple(sorted((e["cols"] or {}).items())),
            )
            for e in evs
        )

    assert norm(got) == norm(expected)
    assert len(got) > 0, "degenerate stream: nothing under the cap"
    # the generator at max_ops=9 produces at least one txn over the cap
    all_emitted = assemble_transactions_py(records, max_ops=None)
    assert len(all_emitted) > len(expected), "no oversized txn generated"


def test_skiplisted_xid_reuse_in_same_batch_survives():
    """Review finding (r7): after an oversize drop, the skiplisted xid's
    terminal and a REUSE of the same xid may arrive in one micro-batch —
    only rows up to and including the first terminal may drop; the
    reused transaction is a fresh object (reference semantics) and must
    emit."""
    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import assemble_stateful

    def rec(scn, opcode, xid="7.7.7", **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": xid, "opcode": opcode, "obj": 5,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    # batch 1: oversize the open txn → dropped + skiplisted
    big = pd.DataFrame(
        [rec(1, "begin")] +
        [rec(2 + i, "insert", cols={"A": str(i)}) for i in range(6)]
    )
    state = _FakeGroupState()
    from openlogreplicator_spark.streaming.assembly import _decode_state

    list(assemble_stateful(("b",), iter([big]), state, max_ops=3))
    _, payload = state.get
    assert _decode_state(bytes(payload))[1] == {"7.7.7"}

    # batch 2: the old txn's rollback, THEN a reuse of the xid that
    # commits — all in one batch
    tail = pd.DataFrame(
        [
            rec(20, "insert", cols={"A": "old"}),
            rec(21, "rollback"),
            rec(22, "begin"),
            rec(23, "insert", cols={"A": "new"}),
            rec(24, "commit"),
        ]
    )
    state2 = _FakeGroupState(payload=payload)
    got = []
    for out in assemble_stateful(("b",), iter([tail]), state2, max_ops=3):
        got.extend(out.to_dict("records"))
    assert len(got) == 1, "the reused xid's fresh transaction must emit"
    assert got[0]["cols"] == {"A": "new"}
    # skiplist retired, no records left; the bucket row persists only
    # for the r11 arrival-order watermark
    assert not state2.removed
    _, payload2 = state2.get
    tbl2, skip2, hi2, _nb = _decode_state(bytes(payload2))
    assert (tbl2.num_rows, skip2, hi2) == (0, set(), 24)


def test_flush_cap_counts_per_transaction_not_per_xid():
    """Review finding (r7): two DISTINCT under-cap transactions reusing
    one xid inside a single micro-batch must BOTH emit — the gross cap
    segments at terminals, never jointly across reuses."""
    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import assemble_stateful

    def rec(scn, opcode, **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": "8.8.8", "opcode": opcode, "obj": 5,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    # two txns of 4 gross records each (cap 5): jointly 8 > cap, each
    # under it
    batch = pd.DataFrame(
        [rec(1, "begin"),
         rec(2, "insert", cols={"A": "t1a"}),
         rec(3, "insert", cols={"A": "t1b"}),
         rec(4, "commit"),
         rec(5, "begin"),
         rec(6, "insert", cols={"A": "t2a"}),
         rec(7, "insert", cols={"A": "t2b"}),
         rec(8, "commit")]
    )
    state = _FakeGroupState()
    got = []
    for out in assemble_stateful(("b",), iter([batch]), state, max_ops=5):
        got.extend(out.to_dict("records"))
    assert sorted(r["cols"]["A"] for r in got) == ["t1a", "t1b", "t2a", "t2b"]


def test_arrival_order_watchdog_warns_on_out_of_order_batches():
    """r11 chaos-e2e hardening: a batch whose records dip below the
    bucket's high-water scn (out-of-sequence file delivery) logs the
    once-per-bucket ordering warning while still assembling whole late
    transactions; in-order batches carry the watermark forward in
    state."""
    import pandas as pd
    import pytest as _pytest

    from openlogreplicator_spark.streaming.assembly import (
        _decode_state,
        assemble_stateful,
    )

    def rec(scn, xid, opcode, **kw):
        base = {"scn": scn, "subscn": 0, "block": 1, "offset": 0,
                "seq": 1, "xid": xid, "opcode": opcode, "obj": 9,
                "bdba": 5 if opcode == "insert" else None,
                "slot": 0 if opcode == "insert" else None, "fb": 0,
                "cols": {"A": "v"} if opcode == "insert" else None,
                "rows": None}
        base.update(kw)
        return base

    b1 = pd.DataFrame([rec(10, "1.1.1", "begin"),
                       rec(11, "1.1.1", "insert"),
                       rec(15, "1.1.1", "commit")])
    state = _FakeGroupState()
    out = list(assemble_stateful(("b",), iter([b1]), state,
                                 ttl_timeout=False))
    assert sum(len(p) for p in out) == 1
    # watermark persisted even though nothing is buffered
    assert state.exists and not state.removed
    _, payload = state.get
    tbl, skip, hi, _nb = _decode_state(bytes(payload))
    assert (tbl.num_rows, skip, hi) == (0, set(), 15)

    # in-order continuation advances the watermark
    b2 = pd.DataFrame([rec(20, "2.2.2", "begin"),
                       rec(21, "2.2.2", "insert"),
                       rec(25, "2.2.2", "commit")])
    state2 = _FakeGroupState(payload=payload)
    list(assemble_stateful(("b",), iter([b2]), state2,
                           ttl_timeout=False))
    _, payload2 = state2.get
    assert _decode_state(bytes(payload2))[2] == 25

    # out-of-order batch: scn 12 below the high-water 25 → WARNS (a
    # whole late transaction is legal — hash-partitioned replay — so a
    # raise would fail legitimate workloads; straddling+inversion is
    # indistinguishable online and the funnels' doc freeze/cap carry
    # the fail-safe) and still assembles the whole late transaction
    import logging as _logging

    from openlogreplicator_spark.streaming import assembly as _asm

    _asm._warned_buckets.clear()
    late = pd.DataFrame([rec(12, "3.3.3", "begin"),
                         rec(13, "3.3.3", "insert"),
                         rec(14, "3.3.3", "commit")])
    state3 = _FakeGroupState(payload=payload2)
    records = []

    class _Cap(_logging.Handler):
        def emit(self, r):
            records.append(r.getMessage())

    h = _Cap()
    _asm._LOG.addHandler(h)
    try:
        out3 = list(assemble_stateful(("b",), iter([late]), state3,
                                      ttl_timeout=False))
    finally:
        _asm._LOG.removeHandler(h)
    assert sum(len(p) for p in out3) == 1, "whole late txn still emits"
    assert any("out of order" in m for m in records)
    # high-water never regresses
    _, payload3 = state3.get
    assert _decode_state(bytes(payload3))[2] == 25


def test_rid_splits_afn_from_dba(spark):
    """B9 through the ENGINE path (r12 review pass): the dba carries
    the file number in bits 22+, so the rendered ROWID must split
    afn = dba >> 22, block = dba & 0x3FFFFF (RowId.h:167-169 toString).
    The old code passed the raw dba as the block with afn hardcoded to
    1 — every ROWID with a non-zero file field mismatched Oracle's, and
    small-fixture dbas never exercised the split."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.functions.oracle_types import (
        rowid_to_text,
    )
    from openlogreplicator_spark.operators.transaction_assembly import (
        ASSEMBLED_SCHEMA,
    )
    from openlogreplicator_spark.streaming.engine import to_change_events

    dba = (5 << 22) | 100   # datafile 5, block 100
    assembled = spark.createDataFrame(
        [("1.1.1", 10, 20, 0, "c", 101, dba, 7, 11, {"A": "1"}, None,
          None, 1)],
        ASSEMBLED_SCHEMA,
    )
    row = to_change_events(assembled, EngineConfig(), None).collect()[0]
    assert row.rid == rowid_to_text(101, 5, 100, 7)


def test_transaction_max_mb_zero_means_uncapped(spark, tmp_path):
    """transaction-max-mb=0 is the reference's UNCAPPED default (every
    guard site is `transactionSizeMax > 0 && ...`, Parser.cpp:611,
    Ctx.h:232). Converting it to max_ops=0 made the T4 guard drop every
    transaction whole — a pipeline that runs cleanly and emits nothing
    (r12 review pass)."""
    from conftest import drain
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import (
        write_binary_redo,
    )
    from openlogreplicator_spark.sources.redo_gen import (
        generate_redo_records,
        redo_records_df,
    )
    from openlogreplicator_spark.streaming.engine import build_pipeline

    redo_dir = str(tmp_path / "redo")
    records = generate_redo_records(n_txns=4, seed=9, p_rollback=0.0)
    write_binary_redo(redo_records_df(spark, records), redo_dir, n_files=2)
    cfg = EngineConfig(fmt=Format(), transaction_max_mb=0)
    q = build_pipeline(
        spark, cfg, redo_dir, checkpoint=str(tmp_path / "ckpt"),
        sink="memory", query_name="olr_uncapped",
    )
    drain(q)
    rows = spark.sql("select * from olr_uncapped").collect()
    assert rows, "transaction_max_mb=0 must be uncapped, not drop-all"


def test_network_sink_requires_server(spark, tmp_path):
    """sink='network' without a server must fail loudly at build time
    (like kafka/file), not as an executor-side AttributeError in the
    first micro-batch (r12 review pass)."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.streaming.engine import build_pipeline

    with pytest.raises(ValueError, match="network_server"):
        build_pipeline(
            spark, EngineConfig(), str(tmp_path / "redo"),
            checkpoint=str(tmp_path / "ckpt"), sink="network",
        )


def test_concat_records_keeps_dtypes_of_all_na_columns():
    """A record frame whose numeric column is all None concatenates
    with the other frames' dtype, without pandas' FutureWarning about
    all-NA entries (whose future behaviour would make it object)."""
    import warnings

    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import _concat_records

    typed = pd.DataFrame({"bdba": [5.0, float("nan")], "scn": [1, 2],
                          "cols": [{"A": "x"}, None]})
    untyped = pd.DataFrame({"bdba": [None], "scn": [3], "cols": [None]})
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        comb = _concat_records([typed, untyped])
    assert comb["bdba"].dtype == "float64"
    assert comb["scn"].tolist() == [1, 2, 3]
    assert comb["cols"].tolist()[0] == {"A": "x"}


def test_pre_watchdog_checkpoint_payload_restores_unarmed_then_arms():
    """r11 VERDICT #3 / r12 #2: 'pre-watchdog checkpoints restore
    unarmed' was a code comment riding on additive Arrow schema
    metadata — this pins it against a COMMITTED r10-format payload
    (tests/fixtures/state_payload_pre_watchdog_r10.bin: Arrow IPC with
    only the b'skip' metadata key, generated by the r10 encoder's
    format; regenerating it in-test would defeat the gate). The current
    kernel must (1) decode it with the watchdog unarmed, (2) assemble
    the buffered open transaction when its commit arrives, emitting no
    ordering warning regardless of the batch's scns, and (3) ARM the
    watchdog in the rewritten state. This is the durable gate every
    future state-payload change has to keep green."""
    import logging as _logging
    import os as _os

    import pandas as pd

    from openlogreplicator_spark.streaming import assembly as _asm
    from openlogreplicator_spark.streaming.assembly import (
        _decode_state,
        assemble_stateful,
    )

    fixture = _os.path.join(
        _os.path.dirname(__file__), "fixtures",
        "state_payload_pre_watchdog_r10.bin",
    )
    with open(fixture, "rb") as fh:
        payload = fh.read()

    # (1) decodes with the watchdog UNARMED
    tbl, skip, max_seen, _nb = _decode_state(payload)
    assert tbl.num_rows == 2 and skip == set() and max_seen is None

    # (2) the commit arrives — note scn 90 BELOW the buffered 101: an
    # armed watchdog would warn, an unarmed one must not (there is no
    # watermark to compare against in a pre-watchdog checkpoint)
    batch = pd.DataFrame([
        {"scn": 90, "subscn": 0, "block": 1, "offset": 0, "seq": 1,
         "xid": "9.9.9", "opcode": "begin", "obj": 9, "bdba": None,
         "slot": None, "fb": 0, "cols": None, "rows": None},
        {"scn": 105, "subscn": 0, "block": 2, "offset": 0, "seq": 1,
         "xid": "7.7.7", "opcode": "commit", "obj": 9, "bdba": None,
         "slot": None, "fb": 0, "cols": None, "rows": None},
    ])
    warned = []

    class _Cap(_logging.Handler):
        def emit(self, r):
            warned.append(r.getMessage())

    h = _Cap()
    _asm._LOG.addHandler(h)
    state = _FakeGroupState(payload=payload)
    try:
        got = []
        for out in assemble_stateful(("b",), iter([batch]), state,
                                     ttl_timeout=False):
            got.extend(out.to_dict("records"))
    finally:
        _asm._LOG.removeHandler(h)
    assert [r["cols"]["A"] for r in got if r["op"] == "c"] == [
        "pre-watchdog"
    ], "buffered pre-watchdog transaction failed to assemble"
    assert [(r["begin_scn"], r["commit_scn"]) for r in got] == [(100, 105)]
    assert not any("out of order" in m for m in warned), (
        "restored-unarmed violated: first post-restore batch warned"
    )

    # (3) the rewritten state is ARMED at the batch's high water
    assert state.exists
    _, payload2 = state.get
    _tbl2, _skip2, hi, _nb = _decode_state(bytes(payload2))
    assert hi == 105, f"watchdog failed to arm on the next batch: {hi}"


def test_watchdog_warn_once_is_per_run_not_per_executor():
    """r12 ADVICE: the warn-once set lived for the executor process
    and was keyed by bucket alone, so a SECOND query/run on the same
    executor never got the out-of-order warning for a bucket the first
    run had already warned on. The set is keyed by (run token, bucket):
    same token dedups, a new token warns afresh."""
    import logging as _logging

    from openlogreplicator_spark.streaming import assembly as _asm

    records = []

    class _Cap(_logging.Handler):
        def emit(self, r):
            records.append(r.getMessage())

    h = _Cap()
    _asm._LOG.addHandler(h)
    try:
        _asm._warn_out_of_order("run-A", ("b",), 10, 25)
        _asm._warn_out_of_order("run-A", ("b",), 11, 25)  # deduped
        assert len(records) == 1
        _asm._warn_out_of_order("run-B", ("b",), 12, 25)  # new run warns
        assert len(records) == 2
        # bounded across runs (r12 review pass): tokens evict FIFO, so
        # thousands of restarts can't grow the set monotonically
        for i in range(_asm._MAX_WARN_RUNS + 3):
            _asm._warn_out_of_order(f"run-evict-{i}", ("b",), 13, 25)
        assert len(_asm._warned_buckets) <= _asm._MAX_WARN_RUNS
    finally:
        _asm._LOG.removeHandler(h)
        for tok in [t for t in _asm._warned_buckets
                    if t.startswith(("run-A", "run-B", "run-evict"))]:
            _asm._warned_buckets.pop(tok, None)


def test_idempotent_append_dedups_null_keyed_rows(spark, tmp_path):
    """r12 review-pass-11: show_incomplete rows carry commit_scn=None;
    the replay dedup must drop an already-written null-keyed row too
    (null-safe anti-join + nulls kept in the watermark window). Plain
    equality re-appended every null-keyed row on each replay."""
    from openlogreplicator_spark.streaming.sinks import idempotent_append

    path = str(tmp_path / "target")
    batch = spark.createDataFrame(
        [(100, "1.1.1", 0), (None, "2.2.2", 0)],
        "commit_scn long, xid string, num long",
    )
    assert idempotent_append(batch, path) == 2
    # full replay: nothing new — including the null-scn row
    assert idempotent_append(batch, path) == 0
    # an all-null-scn replayed batch must also dedup (the lo=None case
    # previously skipped the anti-join entirely)
    nulls = spark.createDataFrame(
        [(None, "2.2.2", 0)], "commit_scn long, xid string, num long"
    )
    assert idempotent_append(nulls, path) == 0
    assert spark.read.parquet(path).count() == 2


def test_ttl_reap_retains_skiplist_for_dropped_oversized_xid():
    """r12 review-pass-11: the bucket TTL reap must NOT discard the T4
    skiplist — late records of an oversized (already partially dropped)
    xid would otherwise reassemble into a truncated transaction,
    violating the cap's drop-whole guarantee. The retained state row is
    skiplist-sized; the entry retires when the xid's terminal arrives."""
    import pandas as pd

    from openlogreplicator_spark.streaming.assembly import (
        _decode_state,
        assemble_stateful,
    )

    buffered = _state_payload([], skip=("9.9.9",))
    state = _FakeGroupState(payload=buffered, timed_out=True)
    out = list(assemble_stateful(("0",), iter([]), state))
    assert not state.removed and state.exists
    _, skip, _, _ = _decode_state(bytes(state._payload))
    assert skip == {"9.9.9"}
    assert sum(len(p) for p in out) == 0

    # the xid's late tail (ops + commit) now arrives: nothing may emit,
    # and the terminal retires the skiplist entry
    state.hasTimedOut = False
    tail = pd.DataFrame(
        [
            {"scn": 20, "subscn": 0, "block": 2, "offset": 0, "seq": 1,
             "xid": "9.9.9", "opcode": "insert", "obj": 5, "bdba": 2,
             "slot": 0, "fb": 0, "cols": {"A": "2"}, "rows": None},
            {"scn": 21, "subscn": 0, "block": 3, "offset": 0, "seq": 1,
             "xid": "9.9.9", "opcode": "commit", "obj": 0, "bdba": None,
             "slot": None, "fb": 0, "cols": None, "rows": None},
        ]
    )
    out2 = list(assemble_stateful(("0",), iter([tail]), state))
    assert sum(len(p) for p in out2) == 0, "partial txn must not emit"


def test_bucket_count_mismatch_raises_with_remedy():
    """r12 review-pass-11: resuming a checkpoint whose state was
    written under a different bucket count re-keys xids and strands
    open transactions — the stamp must fail the restore loudly.
    Pre-stamp payloads (no n_buckets metadata) restore unarmed."""
    import pandas as pd
    import pytest

    from openlogreplicator_spark.streaming.assembly import (
        _REC_COLUMNS,
        _encode_state,
        assemble_stateful,
    )

    stamped = _encode_state(
        pd.DataFrame(columns=_REC_COLUMNS), set(), None, n_buckets=64
    )
    state = _FakeGroupState(payload=stamped)
    with pytest.raises(RuntimeError, match="bucket-count mismatch"):
        list(assemble_stateful(("0",), iter([]), state, n_buckets=32))
    # same count: fine
    state2 = _FakeGroupState(payload=stamped)
    list(assemble_stateful(("0",), iter([]), state2, n_buckets=64))
    # pre-stamp payload: restores against any count
    legacy = _state_payload([])
    state3 = _FakeGroupState(payload=legacy)
    list(assemble_stateful(("0",), iter([]), state3, n_buckets=32))
