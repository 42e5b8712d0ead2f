"""O1 config→pipeline assembler: one EngineConfig builds the whole
running stream — binary redo files → parse → stateful assembly →
selection/condition → JSON builder → sink — with heartbeats and
observed metrics (reference: OpenLogReplicator.cpp:145-1247 wiring)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from conftest import drain
from openlogreplicator_spark.config import EngineConfig, Format, TableSelector
from openlogreplicator_spark.sources.binary_redo import write_binary_redo
from openlogreplicator_spark.sources.redo_gen import (
    generate_redo_records,
    redo_records_df,
)
from openlogreplicator_spark.streaming.engine import build_pipeline


@pytest.fixture(scope="module")
def redo_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("olrs_engine"))
    records = generate_redo_records(n_txns=24, seed=11, p_rollback=0.15)
    write_binary_redo(redo_records_df(spark, records), d, n_files=4)
    return d, records


def _committed_xids(records):
    committed, rolled = set(), set()
    for r in records:
        if r["opcode"] == "commit":
            committed.add(r["xid"])
        elif r["opcode"] == "rollback":
            rolled.add(r["xid"])
    return committed - rolled


def test_pipeline_end_to_end_binary_to_json(spark, redo_dir, tmp_path):
    d, records = redo_dir
    committed = _committed_xids(records)
    skip = sorted(committed)[0]
    cfg = EngineConfig(skip_xid=(skip,))
    q = build_pipeline(
        spark,
        cfg,
        d,
        checkpoint=str(tmp_path / "ckpt"),
        sink="memory",
        query_name="olr_e2e",
    )
    drain(q)
    rows = spark.sql("select * from olr_e2e").collect()
    assert rows, "pipeline emitted nothing"
    seen_xids = set()
    for r in rows:
        v = json.loads(r.value)
        seen_xids.add(v["xid"])
        for p in v["payload"]:
            assert p["op"] in ("c", "u", "d")
            assert len(p["rid"]) == 18
    # F4: the skip-listed xid never reaches the sink
    assert skip not in seen_xids
    # only committed transactions are emitted
    assert seen_xids <= committed


def test_pipeline_start_scn_and_condition(spark, redo_dir, tmp_path):
    d, records = redo_dir
    max_scn = max(r["scn"] for r in records)
    cfg = EngineConfig(
        start_scn=max_scn,  # O3: everything is below → nothing out
        selectors=(TableSelector(condition="[OS_USER_NAME] == 'u1'"),),
    )
    q = build_pipeline(
        spark,
        cfg,
        d,
        checkpoint=str(tmp_path / "ckpt2"),
        sink="memory",
        query_name="olr_scn",
    )
    drain(q)
    assert spark.sql("select count(*) from olr_scn").collect()[0][0] == 0


def test_pipeline_lake_sink_partitions_by_table(spark, redo_dir, tmp_path):
    """The lake sink lands typed change events as parquet partitioned by
    the replicated table's identity; partition pruning then serves
    per-table consumers without touching other tables' files."""
    import os

    d, records = redo_dir
    out = str(tmp_path / "lake")
    q = build_pipeline(
        spark,
        EngineConfig(),
        d,
        checkpoint=str(tmp_path / "ckpt_lake"),
        out_dir=out,
        sink="lake",
    )
    drain(q)
    parts = [p for p in os.listdir(out) if p.startswith("owner=")]
    assert parts, f"no partition dirs in {os.listdir(out)}"
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert {"owner", "table", "op", "before", "after"} <= set(back.columns)
    # partition pruning: a single-table read plans against one partition
    one_table = back.select("table").first()[0]
    pruned = back.filter(F.col("table") == one_table)
    assert pruned.count() > 0


def test_pipeline_lake_sink_takes_the_query_name(spark, redo_dir, tmp_path):
    """The lake query carries the caller's ``query_name`` like every
    other sink, so it can be found in ``spark.streams`` and in the
    progress events by name."""
    d, _ = redo_dir
    q = build_pipeline(
        spark,
        EngineConfig(),
        d,
        checkpoint=str(tmp_path / "ckpt_lake_named"),
        out_dir=str(tmp_path / "lake_named"),
        sink="lake",
        query_name="olr_lake_named",
    )
    try:
        assert q.name == "olr_lake_named"
    finally:
        drain(q)


def test_pipeline_heartbeats_and_metrics(spark, redo_dir, tmp_path):
    d, records = redo_dir
    cfg = EngineConfig(fmt=Format(attributes=True))
    q = build_pipeline(
        spark,
        cfg,
        d,
        checkpoint=str(tmp_path / "ckpt3"),
        sink="memory",
        query_name="olr_hb",
        with_heartbeats=True,
    )
    drain(q)
    rows = spark.sql("select * from olr_hb").collect()
    chkpt = [json.loads(r.value) for r in rows if r.key == "chkpt"]
    events = [json.loads(r.value) for r in rows if r.key != "chkpt"]
    assert chkpt and events
    # B8: one chkpt per LWN, carrying the group's max SCN + record count
    assert all(h["op"] == "chkpt" and h["records"] > 0 for h in chkpt)
    # W8: observed counters surfaced in the query progress
    progress = q.lastProgress
    assert progress is not None


def test_pipeline_positional_dictionary_decode(spark, tmp_path):
    """v5 KDO-positional files through the WHOLE pipeline: the engine's
    pos_dictionary resolves (obj, col#) images to names at parse time,
    and the emitted JSON carries the resolved column names."""
    d = str(tmp_path / "olrs_pos")
    pos_dict = {77: ["AMOUNT", "NOTE"]}
    records = []
    for k in range(1, 9):
        xid = str(k)
        records.append(
            {"scn": k * 100, "subscn": 0, "block": 0, "offset": 0,
             "seq": 1, "xid": xid, "opcode": "begin", "obj": 0,
             "bdba": None, "slot": None, "fb": 0, "cols": None,
             "rows": None}
        )
        records.append(
            {"scn": k * 100 + 1, "subscn": 0, "block": 1, "offset": k,
             "seq": 1, "xid": xid, "opcode": "insert", "obj": 77,
             "bdba": k, "slot": 0, "fb": 0,
             "cols": {"AMOUNT": str(k * 10),
                      "NOTE": None if k % 2 else f"n{k}"},
             "rows": None}
        )
        records.append(
            {"scn": k * 100 + 99, "subscn": 0, "block": 0, "offset": 0,
             "seq": 1, "xid": xid, "opcode": "commit", "obj": 0,
             "bdba": None, "slot": None, "fb": 0, "cols": None,
             "rows": None}
        )
    write_binary_redo(
        redo_records_df(spark, records), d, n_files=2,
        col_types={"AMOUNT": "number"}, pos_dicts=pos_dict,
    )
    cfg = EngineConfig(pos_dictionary=pos_dict)
    q = build_pipeline(
        spark,
        cfg,
        d,
        checkpoint=str(tmp_path / "ckpt_pos"),
        sink="memory",
        query_name="olr_pos",
    )
    drain(q)
    rows = spark.sql("select * from olr_pos").collect()
    assert rows
    amounts = {}
    for r in rows:
        v = json.loads(r.value)
        for p in v["payload"]:
            if p.get("after"):
                amounts[v["xid"]] = p["after"]
    assert amounts, "no decoded images emitted"
    for xid, after in amounts.items():
        k = int(xid)
        assert after["AMOUNT"] == str(k * 10)
        if k % 2:
            assert after.get("NOTE") is None
        else:
            assert after["NOTE"] == f"n{k}"


def test_pipeline_continuous_mode_emits_and_stops(spark, redo_dir, tmp_path):
    """Production trigger path (available_now=False, processing-time
    cadence + TTL reaper armed): the pipeline must emit committed
    transactions from a live micro-batch stream and stop cleanly on
    request. Guards the other side of the drain/continuous timer split."""
    d, records = redo_dir
    committed = _committed_xids(records)
    cfg = EngineConfig(checkpoint_interval_s=1)
    q = build_pipeline(
        spark,
        cfg,
        d,
        checkpoint=str(tmp_path / "ckpt_cont"),
        sink="memory",
        query_name="olr_cont",
        available_now=False,
    )
    try:
        deadline = time.time() + 120
        seen = set()
        while time.time() < deadline:
            rows = spark.sql("select * from olr_cont").collect()
            seen = {json.loads(r.value)["xid"] for r in rows}
            if seen >= committed:
                break
            time.sleep(1)
        assert seen >= committed, (
            f"continuous pipeline missing xids: {sorted(committed - seen)}"
        )
    finally:
        q.stop()
    assert not q.isActive


def test_pipeline_continuous_lake_sink_keeps_the_checkpoint_interval(
    spark, redo_dir, tmp_path
):
    """A continuous lake query runs on the checkpoint-interval trigger
    like every other sink. Under Spark's default trigger the armed
    reaper timeout made it run no-data micro-batches back to back over
    an idle log. On the interval trigger an idle batch waits for the
    next multiple of the interval (epoch time) before it starts."""
    from datetime import datetime

    d, _ = redo_dir
    interval_ms, slack_ms = 3000, 250
    q = build_pipeline(
        spark,
        EngineConfig(checkpoint_interval_s=interval_ms // 1000),
        d,
        checkpoint=str(tmp_path / "ckpt_lake_cont"),
        out_dir=str(tmp_path / "lake_cont"),
        sink="lake",
        available_now=False,
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not any(
            p["numInputRows"] for p in q.recentProgress
        ):
            time.sleep(0.5)
        assert any(p["numInputRows"] for p in q.recentProgress)
        idle_from = len(q.recentProgress)
        time.sleep(4 * interval_ms / 1000)  # no redo arrives from here on
        batches = q.recentProgress[idle_from - 1:]
    finally:
        q.stop()

    def start_ms(p):
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        return round(ts.timestamp() * 1000)

    idle = batches[1:]
    assert len(idle) >= 2 and all(p["numInputRows"] == 0 for p in idle)
    waited = 0
    for prev, p in zip(batches, idle):
        prev_end = start_ms(prev) + prev["durationMs"]["triggerExecution"]
        if start_ms(p) - prev_end >= slack_ms:
            # a batch that waited for its trigger starts on a boundary
            waited += 1
            assert start_ms(p) % interval_ms < slack_ms, p["timestamp"]
    assert waited, [(p["timestamp"], p["durationMs"]) for p in batches]


def test_pipeline_rejects_legacy_checkpoint_layout(spark, redo_dir, tmp_path):
    """Round-4 ADVICE: a pre-suffix deployment has Spark's checkpoint
    ('offsets' dir) directly at the caller's path; silently relocating
    to the per-mode subdirectory would replay from the start position.
    The engine must fail loudly with migration instructions instead."""
    import pytest

    d, _ = redo_dir
    legacy = tmp_path / "ckpt_legacy"
    (legacy / "offsets").mkdir(parents=True)
    with pytest.raises(ValueError, match="legacy streaming checkpoint"):
        build_pipeline(
            spark,
            EngineConfig(),
            d,
            checkpoint=str(legacy),
            sink="memory",
            query_name="olr_legacy",
        )


def test_pipeline_kafka_sink_wire_protocol(spark, redo_dir, tmp_path):
    """W2 e2e: pipeline → Kafka wire protocol → loopback broker. The
    broker receives exactly the messages the memory sink renders —
    key = tag bytes, value = rendered JSON (WriterKafka sendMessage
    semantics), CRC-checked by the broker's message-set decode."""
    from openlogreplicator_spark.streaming.kafka_wire import (
        LoopbackKafkaBroker,
    )

    d, _ = redo_dir
    broker = LoopbackKafkaBroker()
    try:
        q = build_pipeline(
            spark,
            EngineConfig(),
            d,
            checkpoint=str(tmp_path / "ckpt_kafka"),
            sink="kafka",
            query_name="olr_kafka",
            kafka_bootstrap=broker.bootstrap,
            kafka_topic="olr.events",
        )
        drain(q)
        got = broker.messages("olr.events")
        assert got, "no messages reached the broker"
        # reference parity: same rendered messages as the memory sink
        q2 = build_pipeline(
            spark,
            EngineConfig(),
            d,
            checkpoint=str(tmp_path / "ckpt_mem"),
            sink="memory",
            query_name="olr_kafka_ref",
        )
        drain(q2)
        ref = spark.sql("select key, value from olr_kafka_ref").collect()
        ref_set = {
            ((r.key or None), r.value) for r in ref
        }
        got_set = {
            (k.decode() if k is not None else None, v.decode())
            for k, v in got
        }
        assert got_set == ref_set
        for _k, v in got:
            payload = json.loads(v)
            assert "payload" in payload or "op" in payload
    finally:
        broker.stop()
