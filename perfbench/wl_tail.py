"""``cdc_tail``: live tail of a redo stream, open loop.

A seeded generator cuts a redo stream into sequence segments whose
transactions commit ``open_window`` transactions after they begin, so
hundreds of transactions stay open across micro-batch boundaries. A
publisher thread drops one segment into the watched directory on a
fixed schedule that does not wait for the engine: each file is written
under a hidden name and renamed to ``*.olrs``. The pipeline runs with a
processing-time trigger, the abandoned-transaction reaper armed, the
file sink through ``RotatingFileWriter`` and the W7 checkpoint
document. After the last commit is delivered the run holds an idle
window, then stops the query.

The traced run also splits the batch path into layers: after the query
stops, successive prefixes of it (parse; + assemble; + change events; +
render) run as batch jobs over the published segment files, and the
differences of their walls are the layers' self times.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from datagen import tail_records
from tracing import (
    add_batch_spans,
    batch_start,
    batch_stats,
    percentile,
    progress_dicts,
    run_with_counters,
)

# one segment is published every INTERVAL_S seconds, the period of the
# pipeline's processing-time trigger (checkpoint_interval_s below)
INTERVAL_S = 1.0
# held after the last transaction is delivered, with the query running
IDLE_S = 2.0
# segments published on the schedule before the timed region starts:
# the first data batches after query start run 15-20 % slower while the
# JIT compiles the streaming path, and the backlog needs a few batches
# to settle into its steady shape
WARM_SEGMENTS = 4


class Publisher(threading.Thread):
    """Publishes ``segments[k]`` at ``t0 + k * interval`` (epoch
    seconds) whatever the engine is doing, and records how late each
    publish was."""

    def __init__(self, segments: list[bytes], watch_dir: str, first_seq: int,
                 t0: float, interval: float, tracer):
        super().__init__(name="perfbench-publisher", daemon=True)
        self.segments = segments
        self.watch_dir = watch_dir
        self.first_seq = first_seq
        self.t0 = t0
        self.interval = interval
        self.tracer = tracer
        self.late_s: list[float] = []
        self.published = 0

    def due(self, k: int) -> float:
        return self.t0 + k * self.interval

    def run(self) -> None:
        for k, data in enumerate(self.segments):
            wait = self.due(k) - time.time()
            if wait > 0:
                time.sleep(wait)
            start = time.time()
            publish(self.watch_dir, self.first_seq + k, data)
            end = time.time()
            self.late_s.append(start - self.due(k))
            self.published += 1
            self.tracer.add("loadgen.publish", start, end, segment=k)


def publish(watch_dir: str, seq: int, data: bytes) -> None:
    hidden = os.path.join(watch_dir, f".redo_{seq:04d}.part")
    with open(hidden, "wb") as fh:
        fh.write(data)
    os.replace(hidden, os.path.join(watch_dir, f"redo_{seq:04d}.olrs"))


class FunnelProbe:
    """Stands in for the ``RotatingFileWriter`` the pipeline writes
    through: forwards every call, times ``write`` and ``flush``, and
    stamps each delivered transaction with the time the flush that
    carried its messages returned, which is when a reader of the file
    can see them."""

    def __init__(self, inner, n_txns: int, state_dir: str, db: str):
        self.inner = inner
        self.n_txns = n_txns
        self.state_dir = state_dir
        self.db = db
        self.write_s = 0.0
        self.messages = 0
        self.bytes = 0
        self.flushes = 0
        self.docs: set = set()
        self.delivered: list[tuple[float, list[str]]] = []
        self.done = threading.Event()
        self.done_at = None
        self._pending: list[str] = []
        self._last_xid = None
        self._seen = 0

    def write(self, data: bytes, seq: int = 0) -> None:
        t = time.perf_counter()
        self.inner.write(data, seq=seq)
        self.write_s += time.perf_counter() - t
        self.messages += 1
        self.bytes += len(data)
        # a committed transaction's messages all come in one batch;
        # note each xid where its first message passes
        i = data.find(b'"xid":"') + 7
        xid = data[i:data.index(b'"', i)]
        if xid != self._last_xid:
            self._pending.append(xid.decode())
            self._last_xid = xid

    def flush(self) -> None:
        from openlogreplicator_spark.metadata.state_documents import (
            read_checkpoint_doc,
        )

        t = time.perf_counter()
        self.inner.flush()
        self.write_s += time.perf_counter() - t
        now = time.time()
        self.flushes += 1
        xids, self._pending = self._pending, []
        self.delivered.append((now, xids))
        # the funnel rewrites the W7 document after its flush; each
        # flush sees the document the previous batch left
        doc = read_checkpoint_doc(self.state_dir, self.db)
        if doc is not None:
            self.docs.add((doc["scn"], doc["idx"]))
        self._seen += len(xids)
        if self._seen >= self.n_txns and not self.done.is_set():
            self.done_at = now
            self.done.set()

    def close(self) -> None:
        self.inner.close()


def _read_output(out_dir: str) -> list[dict]:
    msgs = []
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name)) as fh:
            msgs += [json.loads(line) for line in fh if line.strip()]
    return msgs


def check_output(msgs: list[dict], n_ops: dict[str, int],
                 commits: dict[str, int]) -> int:
    """Number of violations of: every committed transaction appears
    exactly once, whole and contiguous, in commit-SCN order, and
    nothing else is delivered."""
    order: list[str] = []
    got: dict[str, set] = {}
    bad = 0
    for m in msgs:
        xid = m["xid"]
        if not order or order[-1] != xid:
            order.append(xid)
        n = m["payload"][0]["after"]["N"]
        bad += n in got.setdefault(xid, set())
        got[xid].add(n)
    bad += len(order) - len(set(order))  # split or repeated
    bad += len(set(order) ^ set(commits))  # missing or unknown
    bad += sum(len(got.get(x, ())) != k for x, k in n_ops.items())
    scns = [commits.get(x, -1) for x in order]
    bad += sum(1 for a, b in zip(scns, scns[1:]) if b < a)
    return bad


def _decompose(ctx, redo_dir: str) -> dict:
    """Per-layer self times as differences of successive prefixes of
    the pipeline, each run as a batch job over ``redo_dir`` whose rows
    are dropped on the executors: parse; parse + assemble; + change
    events; + render."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.builders.json_builder import build_events
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions,
    )
    from openlogreplicator_spark.sources.binary_redo import parse_redo_files
    from openlogreplicator_spark.streaming.engine import to_change_events

    spark, cfg, tr = ctx.spark, EngineConfig(), ctx.tracer
    stages = (
        ("parse_redo_files", lambda df: df),
        ("assemble_transactions", assemble_transactions),
        ("to_change_events", lambda df: to_change_events(df, cfg)),
        ("build_events", lambda df: build_events(df, cfg.fmt)),
    )

    def prefix(depth: int):
        df = parse_redo_files(spark, redo_dir)
        for _, stage in stages[1:depth + 1]:
            df = stage(df)
        return df

    # one untimed run of the longest prefix loads every stage's code;
    # then two interleaved rounds, and each prefix keeps its faster run
    run_with_counters(spark, prefix(3))
    rounds: list[list[dict]] = [[] for _ in stages]
    for _ in range(2):
        for depth, (name, _) in enumerate(stages):
            with tr.span(name):
                rounds[depth].append(
                    run_with_counters(spark, prefix(depth), tracer=tr)
                )
    parse, asm, ev, render = (
        min(r, key=lambda c: c["wall_s"]) for r in rounds
    )
    assembled, msgs = prefix(1), prefix(3)
    n_txn = assembled.select("xid").distinct().count()
    n_bytes = msgs.agg(F.sum(F.length("value"))).first()[0] or 0
    input_bytes = sum(
        os.path.getsize(os.path.join(redo_dir, f))
        for f in os.listdir(redo_dir) if f.endswith(".olrs")
    )
    return {
        "binary_redo.parse_s": parse["wall_s"],
        "binary_redo.records": parse["rows"],
        "binary_redo.input_bytes": input_bytes,
        "binary_redo.python_s": parse["python_total_ms"] / 1000,
        "binary_redo.python_boot_s": parse["python_boot_ms"] / 1000,
        "transaction_assembly.self_s": asm["wall_s"] - parse["wall_s"],
        "transaction_assembly.transactions": n_txn,
        "transaction_assembly.exchange_bytes": asm["shuffle_bytes"],
        "transaction_assembly.spill_bytes": asm["spill_bytes"],
        "engine.change_events_self_s": ev["wall_s"] - asm["wall_s"],
        "engine.change_events": ev["rows"],
        "json_builder.render_self_s": render["wall_s"] - ev["wall_s"],
        "json_builder.messages": render["rows"],
        "json_builder.bytes": n_bytes,
    }


def run(ctx) -> dict:
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.sources.binary_redo import encode_redo_file
    from openlogreplicator_spark.streaming.engine import build_pipeline
    from openlogreplicator_spark.streaming.file_writer import (
        RotatingFileWriter,
    )

    sc = ctx.scale
    interval = INTERVAL_S
    n_timed = max(1, int(round(ctx.seconds / interval)))
    per_seg = sc["tail_txns_per_segment"]
    # segment 0 starts the query, segments 1..WARM_SEGMENTS warm it up;
    # their transactions commit later
    first = 1 + WARM_SEGMENTS
    n_seg = first + n_timed
    n_txns = per_seg * n_seg
    records, commits = tail_records(n_txns, sc["tail_open_window"], ctx.seed)
    cut = len(records) // n_seg
    bounds = [k * cut for k in range(n_seg)] + [len(records)]
    segments, seg_of_scn = [], []
    for k in range(n_seg):
        seg = records[bounds[k]:bounds[k + 1]]
        for r in seg:
            r["seq"] = k + 1
        segments.append(encode_redo_file(seg, sequence=k + 1))
        seg_of_scn.append(seg[-1]["scn"])
    commit_seg = {
        x: next(k for k, hi in enumerate(seg_of_scn) if scn <= hi)
        for x, scn in commits.items()
    }

    watch = os.path.join(ctx.work, "redo")
    out_dir = os.path.join(ctx.work, "out")
    state_dir = os.path.join(ctx.work, "state")
    for d in (watch, out_dir, state_dir):
        os.makedirs(d)
    cfg = EngineConfig(checkpoint_interval_s=int(INTERVAL_S))
    probe = FunnelProbe(
        RotatingFileWriter(os.path.join(out_dir, "olr-%4i.json"),
                           max_file_size=64 << 20),
        n_txns=len(commits), state_dir=state_dir, db=cfg.fmt.db_name,
    )
    q = build_pipeline(
        ctx.spark, cfg, watch, checkpoint=os.path.join(ctx.work, "ckpt"),
        sink="file", file_writer=probe, query_name="perfbench_tail",
        available_now=False, state_dir=state_dir,
    )
    failed = 0
    pub = None
    try:
        # the first batch pays query start-up
        publish(watch, 1, segments[0])
        deadline = time.time() + 120
        while time.time() < deadline and q.exception() is None and not any(
            p.get("numInputRows") for p in progress_dicts(q)
        ):
            time.sleep(0.1)
        # start the schedule as the next micro-batch begins, so every
        # run's first segment meets the engine at the same phase
        n_warm = len(q.recentProgress)
        while time.time() < deadline and q.exception() is None and len(
            q.recentProgress
        ) == n_warm:
            time.sleep(0.05)
        t0 = time.time()
        pub = Publisher(segments[1:], watch, 2, t0, interval, ctx.tracer)
        pub.start()
        t_timed = pub.due(first - 1)
        time.sleep(max(0.0, t_timed - time.time()))
        ctx.setup_done()
        backlog_max = 0
        with ctx.timed(), ctx.op():
            limit = t_timed + n_timed * interval + 60
            while not probe.done.wait(0.25):
                if time.time() > limit or q.exception() is not None:
                    break
                done_files = sum(
                    p.get("numInputRows", 0) for p in progress_dicts(q)
                )
                backlog_max = max(backlog_max, pub.published + 1 - done_files)
            pub.join(timeout=max(0.0, limit - time.time()))
        # idle window: everything is delivered, the query keeps running
        cpu_a, t_a = ctx.sampler.cpu_s(), time.time()
        time.sleep(IDLE_S)
        idle_cores = (ctx.sampler.cpu_s() - cpu_a) / (time.time() - t_a)
        progress = progress_dicts(q)
    finally:
        q.stop()
        probe.close()
        if pub is not None:
            pub.join()
    if q.exception() is not None:
        failed += 1
    if not probe.done.is_set():
        failed += 1

    msgs = _read_output(out_dir)
    n_ops: dict[str, int] = {}
    for r in records:
        if r["opcode"] == "insert":
            n_ops[r["xid"]] = n_ops.get(r["xid"], 0) + 1
    failed += check_output(msgs, n_ops, commits)
    lags = [
        (t - pub.due(commit_seg[x] - 1)) * 1000
        for t, xids in probe.delivered for x in xids
        if commit_seg.get(x, 0) >= first
    ]
    # a batch lists its input when it starts, so the batches that
    # started in the timed region carry exactly the timed segments
    timed_progress = [p for p in progress if batch_start(p) >= t_timed]
    data_s = [p["durationMs"]["triggerExecution"] / 1000
              for p in timed_progress if p.get("numInputRows")]
    n_records = len(records) - bounds[first]
    layers = {}
    if ctx.trace:
        with ctx.tracer.overhead():
            add_batch_spans(ctx.tracer, progress)
        late = [x * 1000 for x in pub.late_s]
        layers = {
            **_decompose(ctx, watch),
            **batch_stats(timed_progress),
            "file_writer.write_ms": probe.write_s * 1000,
            "file_writer.flushes": probe.flushes,
            "file_writer.messages": probe.messages,
            "file_writer.bytes": probe.bytes,
            "file_writer.checkpoint_docs": len(probe.docs),
            "loadgen.late_ms_max": max(late),
            "loadgen.segments": pub.published + 1,
            "tail.backlog_segments_max": backlog_max,
            "tail.idle_cpu_cores": idle_cores,
            "trace.overhead_s": ctx.tracer.overhead_s,
        }
    return {
        "attempted": len(commits),
        "failed": failed,
        "correct": failed == 0,
        "e2e": {
            # records the timed segments carried per second the engine
            # spent in data micro-batches. Most of a data batch's time is
            # a fixed cost, so this is not the sustainable input rate
            # (far higher, see README); at the fixed offered rate it
            # rises when batches get cheaper
            "drain_records_per_s": n_records / sum(data_s),
            "tail_lag_p50_ms": percentile(lags, 50),
            "tail_lag_p90_ms": percentile(lags, 90),
            "query_total_s": statistics.median(data_s),
            "query_geomean_s": statistics.geometric_mean(data_s),
        },
        "layers": layers,
    }

