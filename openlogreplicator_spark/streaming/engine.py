"""O1 — the single config→running-pipeline assembler.

The reference wires its entire runtime from one JSON config
(``src/OpenLogReplicator.cpp:145-1247``: replicator → reader threads →
parser → transaction buffer → builder → writer, plus checkpointing and
metrics). This module is the Spark rendering of that wiring: ONE call
takes an :class:`~openlogreplicator_spark.config.EngineConfig` plus
directories and returns a started ``StreamingQuery``:

    binary redo files ──readStream(binaryFile)──▶ distributed parse
    (block/checksum/LWN/record/vector) ──▶ typed records ──(O3 start-SCN,
    F4 skip-xid)──▶ stateful assembly (T1-T5, applyInPandasWithState)
    ──▶ change events (+F1 regex table selection over the dictionary,
    F3 condition filter, B9 rowid) ──▶ JSON builder (B1-B6 toggles)
    ──▶ sink (W3 file / W6 noop / memory), with B8 op=chkpt heartbeats
    unioned per LWN and W8 counters observed per micro-batch.

Scale notes: the parse is one task per redo file (reader-per-file, like
the reference's thread model but cluster-wide); assembly state shards by
xid across executors in the state store; the dictionary join broadcasts
(catalog-scale); everything downstream of assembly is JVM expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openlogreplicator_spark.config import EngineConfig, TableSelector
from openlogreplicator_spark.functions.expr_lang import compile_condition
from openlogreplicator_spark.functions.oracle_types import rowid_expr
from openlogreplicator_spark.sources.binary_redo import (
    heartbeat_stream,
    parse_redo_stream,
)
from openlogreplicator_spark.streaming.assembly import streaming_assemble


def to_change_events(
    assembled: DataFrame,
    cfg: EngineConfig,
    dict_obj: DataFrame | None = None,
) -> DataFrame:
    """ASSEMBLED_SCHEMA rows → CHANGE_EVENT_SCHEMA rows.

    With a dictionary (obj, owner, name): F1 regex table selection is
    applied AT THE DICTIONARY (metadata pruning, Schema.cpp:506-516) and
    owner/table resolve via a broadcast join — unselected objects never
    leave the scan. Without one, objects pass through with placeholder
    naming (the reference's system-table routing falls back the same
    way). ROWID renders from (obj, bdba, slot) JVM-side."""
    sel = cfg.selectors[0] if cfg.selectors else TableSelector()
    mode = getattr(cfg, "schema_mode", "dict")
    ev = assembled
    if mode == "schemaless":
        # REDO_FLAGS::SCHEMALESS (Ctx.h:88; Builder.cpp:96-100): no
        # dictionary at all — objects named positionally, column images
        # emitted as COL_<n> in wire order
        renum = lambda c: F.map_from_arrays(  # noqa: E731
            F.transform(
                F.map_keys(c),
                lambda _x, i: F.concat(F.lit("COL_"), i.cast("string")),
            ),
            F.map_values(c),
        )
        ev = (
            ev.withColumn("owner", F.lit("APP"))
            .withColumn("table", F.concat(F.lit("OBJ"), F.col("obj")))
            .withColumn(
                "cols",
                F.when(F.col("cols").isNotNull(), renum(F.col("cols"))),
            )
            .withColumn(
                "before_cols",
                F.when(
                    F.col("before_cols").isNotNull(),
                    renum(F.col("before_cols")),
                ),
            )
        )
    elif dict_obj is not None:
        from openlogreplicator_spark.metadata.schema_registry import (
            select_tables,
        )

        chosen = select_tables(dict_obj, sel.owner, sel.table)
        if getattr(cfg, "show_system_transactions", False):
            # REDO_FLAGS::SHOW_SYSTEM_TRANSACTIONS (Ctx.h:98;
            # Builder.cpp:773 `|| SHOW_SYSTEM_TRANSACTIONS`): DML on
            # system (SYS-owned dictionary) tables is emitted too, even
            # when the selector doesn't match them
            chosen = chosen.unionByName(
                dict_obj.filter(F.col("owner") == "SYS")
            ).dropDuplicates(["obj"])
        chosen = chosen.select(
            "obj",
            F.col("owner").alias("_owner"),
            F.col("name").alias("_table"),
        )
        # ONE left join + conditional projection, never a split/union:
        # a streaming frame has a single stateful operator upstream, and
        # filtering it into dml/rest consumers and unioning them back
        # duplicates that operator in the plan — Spark rejects multiple
        # applyInPandasWithStates outright. The join is broadcast
        # (dictionary is catalog-scale) so the single-pass form costs
        # nothing extra.
        is_dml = F.col("op").isin("c", "u", "d")
        joined = ev.join(F.broadcast(chosen), "obj", "left")
        if mode == "adaptive":
            # REDO_FLAGS::ADAPTIVE_SCHEMA (Ctx.h:89; Schema.cpp:521-526):
            # objects absent from the dictionary are synthesized instead
            # of dropped
            owner_e = F.coalesce(
                F.col("_owner"), F.concat(F.lit("USER_"), F.col("obj"))
            )
            table_e = F.coalesce(
                F.col("_table"), F.concat(F.lit("TABLE_"), F.col("obj"))
            )
        else:
            # dict mode: unselected/unknown objects never leave the scan
            joined = joined.filter(~is_dml | F.col("_owner").isNotNull())
            owner_e, table_e = F.col("_owner"), F.col("_table")
        ev = (
            joined.withColumn(
                "owner",
                F.when(is_dml, owner_e).cast("string"),
            )
            .withColumn(
                "table",
                F.when(is_dml, table_e).cast("string"),
            )
            .drop("_owner", "_table")
        )
    else:
        ev = ev.withColumn("owner", F.lit("APP")).withColumn(
            "table", F.concat(F.lit("OBJ"), F.col("obj"))
        )
    # P5: the paired 5.1 undo image is the authoritative before; absent
    # one (no supplemental logging), fall back to the change columns
    before = F.coalesce(
        F.col("before_cols"),
        F.when(F.col("op").isin("u", "d"), F.col("cols")).otherwise(
            F.lit(None).cast("map<string,string>")
        ),
    )
    after = F.when(
        F.col("op").isin("c", "u"), F.col("cols")
    ).otherwise(F.lit(None).cast("map<string,string>"))
    return ev.select(
        "scn",
        F.col("commit_scn").alias("c_scn"),
        F.col("num").alias("c_idx"),
        # records carry no wall clock in REDO_RECORD_SCHEMA; the LWN
        # timestamp is scn-correlated, so scn-as-micros is the
        # deterministic stand-in
        F.timestamp_micros(F.col("commit_scn")).alias("tm"),
        # TIMESTAMP_TYPE begin/commit sources (b_tm/e_tm header fields):
        # scn-correlated like tm
        F.timestamp_micros(F.col("begin_scn")).alias("b_tm"),
        F.timestamp_micros(F.col("commit_scn")).alias("e_tm"),
        # the op's redo-log sequence, carried through assembly — drives
        # the file sink's %s SEQUENCE rotation (WriterFile.cpp:259-269)
        F.coalesce(F.col("seq"), F.lit(1)).cast("long").alias("seq"),
        "xid",
        F.lit(cfg.fmt.db_name).alias("db"),
        "op",
        "owner",
        "table",
        "obj",
        # B9: the dba carries the file number in its high bits — the
        # reference renders afn = dba >> 22, block = dba & 0x3FFFFF
        # (RowId.h:167-169 toString); passing the raw dba as the block
        # with a hardcoded afn mismatched every ROWID whose file field
        # is non-zero (r12 review pass; fixtures' small dbas never
        # exercised the split)
        rowid_expr(
            F.col("obj"),
            F.shiftright(F.col("bdba").cast("long"), 22),
            F.col("bdba").cast("long").bitwiseAND(F.lit(0x3FFFFF)),
            F.col("slot"),
        ).alias("rid"),
        before.alias("before"),
        after.alias("after"),
        "attrs",
        "num",
        (F.coalesce(F.col("bdba"), F.lit(0)) * 512).alias("offset"),
    )


def heartbeat_messages(
    spark: SparkSession, in_dir: str, with_order_cols: bool = False
) -> DataFrame:
    """B8 chkpt rows rendered as (key, value) messages, union-compatible
    with the builder output (BuilderJson::processCheckpoint shape).
    ``with_order_cols`` prefixes the single-funnel sinks' emission-order
    columns so the frame unions with extra_cols-built messages."""
    hb = heartbeat_stream(spark, in_dir)
    order = (
        [
            F.col("c_scn").cast("long").alias("_oscn"),
            F.lit(None).cast("string").alias("_oxid"),
            F.lit(0).cast("long").alias("_oidx"),
            F.col("seq").cast("long").alias("_oseq"),
            # heartbeats NEVER advance the W7 doc: the heartbeat source
            # is unthrottled, so its chkpt rows can describe redo files
            # the throttled main source has not yet emitted — a doc at
            # that scn would silently drop those transactions on a
            # doc-based cold start
            F.lit(None).cast("long").alias("_odoc"),
        ]
        if with_order_cols
        else []
    )
    return hb.select(
        *order,
        F.lit("chkpt").alias("key"),
        F.to_json(
            F.struct(
                F.lit("chkpt").alias("op"),
                F.col("c_scn").alias("scn"),
                "seq",
                (F.col("block") * 512).alias("offset"),
                F.col("n_records").alias("records"),
            )
        ).alias("value"),
    )


def _order_cols(df: DataFrame) -> DataFrame:
    """Emission-order columns for single-funnel sinks (rotating file,
    network): commit scn, xid, op index, redo sequence. ``_odoc`` is
    the RAW commit scn (no record-scn fallback): only commit-backed
    data messages may advance the W7 checkpoint document — an
    incomplete-transaction diagnostic (NULL c_scn) or a chkpt heartbeat
    must never push the confirmed watermark past transactions the
    writer has not actually emitted."""
    return (
        df.withColumn("_oscn", F.coalesce(F.col("c_scn"), F.col("scn")))
        .withColumn("_oxid", F.col("xid"))
        .withColumn("_oidx", F.coalesce(F.col("num"), F.lit(0)))
        .withColumn("_oseq", F.coalesce(F.col("seq"), F.lit(0)))
        .withColumn("_odoc", F.col("c_scn"))
    )


def _doc_resume_predicate(doc_scn: int, sink: str):
    """Which assembled rows re-emit on a W7-doc cold start.

    Strictly-after transactions always re-emit. NULL commit_scn rows
    (SHOW_INCOMPLETE_TRANSACTIONS diagnostics) always pass — they were
    never confirmed, and a bare ``>`` would NULL them out and suppress
    every incomplete transaction forever. The BOUNDARY transaction
    (commit_scn == doc_scn) is sink-dependent: the network sink's doc
    can record a MID-transaction watermark (per-message idx CONFIRM),
    so it re-assembles WHOLE; the sink's counter seeds ABOVE the
    confirmed watermark, so every boundary message (re)delivers —
    AT-LEAST-ONCE at the boundary, by design (review pass 6: per-scn
    numbering is arrival order, so a positional idx skip silently LOSES
    messages when one commit scn splits across micro-batches; bounded
    duplicates beat loss, and the reference's restart has the same
    window, Writer.cpp:130-140). The FILE funnel instead records only
    COMPLETE commit scns in its doc (scns are globally monotone in redo
    order, so a higher commit proves completeness) — strict ``>`` is
    then lossless, with duplicates bounded to the final scn's written
    prefix. The remaining sinks never write docs from inside
    build_pipeline; strict ``>`` is the conservative choice there."""
    boundary = (
        F.col("commit_scn") >= doc_scn
        if sink == "network"
        else F.col("commit_scn") > doc_scn
    )
    return boundary | F.col("commit_scn").isNull()


def build_pipeline(
    spark: SparkSession,
    cfg: EngineConfig,
    in_dir: str,
    checkpoint: str,
    out_dir: str | None = None,
    sink: str = "json",
    query_name: str = "olr_pipeline",
    dict_obj: DataFrame | None = None,
    dict_cols: DataFrame | None = None,
    with_heartbeats: bool = False,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    state_dir: str | None = None,
    network_server=None,
    kafka_bootstrap: str | None = None,
    kafka_topic: str = "olr.events",
    max_message_mb: int | None = None,
    file_writer=None,
    payload_format: str | None = None,
):
    """Assemble and START the full pipeline from one config. Returns the
    ``StreamingQuery``. ``sink`` ∈ {json, noop, memory, lake, network,
    kafka} — ``kafka`` (W2) produces the rendered (key, value) messages
    to ``kafka_bootstrap``/``kafka_topic`` over the Kafka wire protocol
    (streaming/kafka_wire.py, WriterKafka.cpp semantics);
    ``lake`` writes the typed change events as (owner, table)-partitioned
    parquet instead of rendered messages; ``network`` (W4) streams
    protobuf frames through ``network_server`` (a
    :class:`~openlogreplicator_spark.streaming.stream_network.StreamServer`,
    or its W5 ZeroMQ-transport variant ``ZmqStreamServer`` — the sink is
    transport-agnostic)
    speaking the reference's StreamClient pull protocol. With
    ``state_dir`` and no explicit ``cfg.start_scn``, startup position
    comes from the portable W7 checkpoint document
    (Writer::readCheckpoint cold-start path)."""
    from openlogreplicator_spark.builders.json_builder import build_events

    # drain (AvailableNow, ttl_timeout=False → NoTimeout) and continuous
    # (ProcessingTimeTimeout) runs configure DIFFERENT timeout types on
    # the same stateful operator, and Spark does not allow the timeout
    # type of a checkpointed operator to change across restarts — mixing
    # the modes on one checkpoint is undefined behavior. A per-mode
    # suffix makes the two mode families physically disjoint, so any
    # caller-supplied checkpoint dir is safe under either mode.
    #
    # BREAKING (introduced with the suffix): a pre-suffix deployment has
    # its Spark checkpoint directly at the bare path. Silently starting
    # a fresh checkpoint at the suffixed path would reprocess from the
    # start position and re-deliver already-emitted events to the sink,
    # so a legacy layout fails loudly with migration instructions.
    # resolve through the Hadoop FS API so the guard also sees into
    # hdfs:// / s3a:// / file: checkpoint locations, not just local paths
    def _offsets_exists(ckpt_path: str) -> bool:
        try:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(
                os.path.join(ckpt_path, "offsets")
            )
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            return bool(fs.exists(p))
        except Exception:
            # no JVM gateway (Spark Connect) — a remote-scheme path can
            # then NOT be verified: warn instead of silently passing,
            # because a missed legacy layout means silent re-delivery
            if "://" in ckpt_path and not ckpt_path.startswith("file:"):
                import warnings

                warnings.warn(
                    f"could not probe {ckpt_path!r} for a streaming "
                    "checkpoint layout (no JVM filesystem access); if a "
                    "pre-suffix checkpoint exists there, move it under "
                    "the per-mode subdirectory before starting",
                    stacklevel=3,
                )
                return False
            # a file:-scheme URI must lose its scheme before the local
            # probe — os.path.isdir("file:///x/offsets") is always
            # False, which silently passed a legacy layout straight to
            # re-delivery (r12 review pass)
            local = ckpt_path
            if local.startswith("file:"):
                from urllib.parse import urlparse

                local = urlparse(local).path or local[len("file:"):]
            return os.path.isdir(os.path.join(local, "offsets"))

    if _offsets_exists(checkpoint):
        mode = "drain" if available_now else "continuous"
        raise ValueError(
            f"legacy streaming checkpoint found directly at {checkpoint!r}; "
            f"checkpoints are now kept per trigger mode under a subdirectory. "
            f"Move the existing checkpoint to "
            f"{os.path.join(checkpoint, mode)!r} (if it was produced by the "
            f"same trigger mode) or point `checkpoint` at a fresh directory "
            f"after draining the sink."
        )
    checkpoint = os.path.join(
        checkpoint, "drain" if available_now else "continuous"
    )
    # the ONE trigger of every sink: a drain runs to the end of the log;
    # continuous mode's micro-batch cadence is the reference's
    # checkpoint interval (Writer.cpp checkpoint timer). Spark's default
    # trigger would run the reaper's no-data batches back to back.
    trigger = (
        {"availableNow": True} if available_now
        else {"processingTime": f"{cfg.checkpoint_interval_s} seconds"}
    )

    if sink == "network" and network_server is None:
        # build-time, like the kafka/file sinks — without this the
        # mistake surfaces as an executor-side AttributeError in the
        # first micro-batch (r12 review pass)
        raise ValueError(
            "sink='network' requires network_server (a StreamServer "
            "or ZmqStreamServer instance)"
        )

    # reference "memory" element → the T10 spill knobs the batch and
    # hot-bucket kernels read (transaction_assembly.py): max-mb bounds
    # the in-memory working set before a bucket stages to disk,
    # swap-path is where the Arrow IPC payload goes
    if getattr(cfg, "memory_max_mb", None) is not None:
        spark.conf.set(
            "spark.olrs.assembly.spillThresholdMb", str(cfg.memory_max_mb)
        )
    if getattr(cfg, "memory_swap_path", ""):
        spark.conf.set(
            "spark.olrs.assembly.swapPath", cfg.memory_swap_path
        )
    # REDO_FLAGS::SHOW_CHECKPOINT (Ctx.h:99; Writer.cpp:296): checkpoint
    # heartbeat messages reach the sink only under the flag
    with_heartbeats = with_heartbeats or getattr(
        cfg, "show_checkpoint", False
    )
    # bits 6-9 column-visibility projection at the dictionary, with the
    # EXPERIMENTAL_XMLTYPE hidden-column carve-out (schema_registry.py)
    if dict_cols is not None and "property" in dict_cols.columns:
        from openlogreplicator_spark.metadata.schema_registry import (
            visible_columns,
        )

        dict_cols = visible_columns(
            dict_cols,
            show_hidden=getattr(cfg, "show_hidden_columns", False),
            show_guard=getattr(cfg, "show_guard_columns", False),
            show_nested=getattr(cfg, "show_nested_columns", False),
            show_unused=getattr(cfg, "show_unused_columns", False),
            xmltype_visible=getattr(cfg, "experimental_xmltype", False),
        )

    start_scn = cfg.start_scn
    doc_scn = None
    if start_scn is None and state_dir is not None:
        from openlogreplicator_spark.metadata.state_documents import (
            read_checkpoint_doc,
        )

        doc = read_checkpoint_doc(state_dir, cfg.fmt.db_name)
        if doc is not None:
            # the W7 document carries the WRITER's confirmed watermark
            # (a commit scn). Resuming by dropping raw redo RECORDS at
            # or below it would lose the early operations of any
            # transaction that was in flight across the watermark (its
            # records sit below the doc scn, its commit above) — the
            # reference re-reads redo from the reader-side metadata
            # checkpoint and lets the WRITER skip already-confirmed
            # messages (Writer.cpp:235-268 oldScn/idx skip). Model
            # that: re-parse, re-assemble, and filter assembled
            # transactions on their COMMIT scn below.
            #
            # Cost trade-off, explicit: a doc-only cold start re-reads
            # the WHOLE retained redo directory (no record-level lower
            # bound is safe — an in-flight transaction's earliest
            # record can sit arbitrarily far below the watermark; the
            # reference bounds this with its reader-side min-tran
            # checkpoint, which Spark's own streaming checkpoint
            # subsumes here). Warm restarts therefore keep the Spark
            # checkpoint (bounded, exact state restore); the doc-only
            # path is the disaster-recovery route where correctness
            # beats re-read cost, and `keep-checkpoints` GC bounds how
            # much history the state directory retains.
            doc_scn = int(doc["scn"])
    redo = parse_redo_stream(
        spark, in_dir, max_files_per_trigger,
        dictionary=cfg.pos_dictionary,
        db_tz_seconds=cfg.db_timezone_seconds,
        interval_dts=cfg.interval_dts,
        interval_ytm=cfg.interval_ytm,
        char_format=cfg.char_format,
        timestamp_tz=cfg.timestamp_tz,
        timestamp_column=cfg.timestamp_column,
        # UNKNOWN_FORMAT reaches the parse-plane kernels too: a torn/
        # corrupt typed image renders '?' (or its hex dump) instead of
        # a plausible wrong value (columnUnknown, Builder.h:395-405)
        unknown_format=cfg.fmt.unknown.value,
        # REDO_FLAGS::IGNORE_DATA_ERRORS (bit 4, Parser.cpp:1468-1479):
        # damaged records degrade per-record instead of killing the query
        ignore_data_errors=getattr(cfg, "ignore_data_errors", False),
    )
    if getattr(cfg, "ignore_data_errors", False):
        # the degradation path's opcode='warn' diagnostic rows are a
        # log surface (the reference's ctx->error + warning 60013 go to
        # the LOG, not the sink stream) — they never enter transaction
        # assembly. Strict mode can't produce them (the parse aborts
        # instead), so the filter only rides the flagged path.
        redo = redo.filter(F.col("opcode") != "warn")
    if start_scn is not None:
        # O3/F9 startup positioning: everything at or below the
        # checkpointed SCN was already confirmed by the writer
        redo = redo.filter(F.col("scn") > start_scn)
    if getattr(cfg, "start_seq", None) is not None:
        # O3 sequence positioning (Replicator.cpp:123-125): the reader
        # starts at the configured redo-log sequence. Expressed as a
        # predicate on the per-record sequence; at scale the same
        # predicate prunes whole files when seq partitions the layout.
        redo = redo.filter(F.col("seq") >= cfg.start_seq)
    if cfg.skip_xid:
        redo = redo.filter(~F.col("xid").isin(*list(cfg.skip_xid)))
    # T4 size guard: the reference caps transactions by bytes
    # (transaction-max-mb); this engine's unit of buffering is ops, so
    # the cap converts at the OLRS1 average vector size (~512 B/op —
    # one block per op is the worst case, so the converted cap is
    # conservative in the reference's favor). 0 = UNCAPPED, the
    # reference's own semantics and default (every guard site is
    # `transactionSizeMax > 0 && ...`, Parser.cpp:611/717/960/1230,
    # Ctx.h:232) — converting 0 to max_ops=0 would instead drop EVERY
    # transaction whole (r12 review pass: silent total loss)
    max_ops = (
        cfg.transaction_max_mb * (1024 * 1024 // 512)
        if cfg.transaction_max_mb > 0 else None
    )
    # drain runs must not register processing-time timers (see
    # streaming_assemble: a pending timer blocks AvailableNow termination)
    assembled = streaming_assemble(
        redo,
        max_ops=max_ops,
        ttl_timeout=not available_now,
        show_incomplete=getattr(cfg, "show_incomplete_transactions", False),
    )
    if doc_scn is not None:
        # NULL-passthrough + sink-dependent boundary semantics: see
        # _doc_resume_predicate's docstring (single source of truth)
        assembled = assembled.filter(_doc_resume_predicate(doc_scn, sink))
    events = to_change_events(assembled, cfg, dict_obj)
    if not getattr(cfg, "show_ddl", False):
        # REDO_FLAGS::SHOW_DDL (Ctx.h:91; Builder.cpp:1755): DDL
        # messages are suppressed unless the flag is set
        events = events.filter(F.col("op") != "ddl")
    sel = cfg.selectors[0] if cfg.selectors else TableSelector()
    if sel.condition:
        events = events.filter(compile_condition(sel.condition))
    # W8 counters observed per micro-batch — attached BEFORE the sink
    # dispatch so the network and lake sinks carry them too (r12 review
    # pass: they returned early and never got olr_metrics), and via the
    # shared helper instead of a re-implementation
    from openlogreplicator_spark.streaming.pipeline import observed

    events = observed(events)
    if sink == "lake" and with_heartbeats:
        # the lake sink persists TYPED DML rows, which chkpt heartbeat
        # rows cannot join — fail loudly rather than silently dropping
        # the configured SHOW_CHECKPOINT flag
        raise ValueError(
            "chkpt heartbeats (SHOW_CHECKPOINT) are not expressible on "
            "the 'lake' sink; use a message sink (json/kafka) or "
            "'network'"
        )
    if sink == "lake":
        from openlogreplicator_spark.streaming.sinks import write_lake_sink

        return (
            write_lake_sink(events, out_dir, checkpoint)
            .queryName(query_name)
            .trigger(**trigger)
            .start()
        )
    if sink == "network":
        from openlogreplicator_spark.streaming.stream_network import (
            stream_network_sink,
        )

        from openlogreplicator_spark.config import MessageFormat as _MF

        if with_heartbeats and cfg.fmt.message == _MF.FULL:
            # FULL envelopes groupBy(xid); the NULL-xid chkpt rows would
            # collapse into ONE merged message at the minimum scn,
            # breaking per-checkpoint emission AND the chkpt-trails-its-
            # data ordering — fail loudly (same rule as the json sink's
            # FULL+heartbeat restriction)
            raise ValueError(
                "chkpt heartbeats can't ride FULL envelopes on the "
                "network sink (NULL-xid rows would merge into one "
                "message); use the SHORT message format with "
                "SHOW_CHECKPOINT"
            )
        if with_heartbeats:
            # the reference's network writer DOES carry checkpoints:
            # BuilderProtobuf::processCheckpoint (cpp:312-333) emits a
            # RedoResponse whose payload is {op=CHKPT, seq, offset} —
            # union chkpt rows shaped as change events; the protobuf
            # encoder renders op 'chkpt' as enum 6 with the same fields
            hb = heartbeat_stream(spark, in_dir)
            chk = hb.select(
                F.col("c_scn").cast("long").alias("scn"),
                F.col("c_scn").cast("long").alias("c_scn"),
                F.lit(0).cast("long").alias("c_idx"),
                F.timestamp_micros(F.col("ts_us")).alias("tm"),
                F.lit(None).cast("timestamp").alias("b_tm"),
                F.lit(None).cast("timestamp").alias("e_tm"),
                F.col("seq").cast("long").alias("seq"),
                F.lit(None).cast("string").alias("xid"),
                F.lit(cfg.fmt.db_name).alias("db"),
                F.lit("chkpt").alias("op"),
                F.lit(None).cast("string").alias("owner"),
                F.lit(None).cast("string").alias("table"),
                F.lit(None).cast("long").alias("obj"),
                F.lit(None).cast("string").alias("rid"),
                F.lit(None).cast("map<string,string>").alias("before"),
                F.lit(None).cast("map<string,string>").alias("after"),
                F.lit(None).cast("map<string,string>").alias("attrs"),
                F.lit(0).cast("long").alias("num"),
                (F.col("block") * 512).cast("long").alias("offset"),
            )
            events = events.unionByName(chk)

        writer = events.writeStream.queryName(query_name).trigger(**trigger)
        net_cap = max_message_mb * 1024 * 1024 if max_message_mb else None
        net_encoder = None
        if payload_format == "json":
            # WriterStream ships the BUILDER's bytes
            # (WriterStream.cpp:294-299): a json-format network
            # deployment streams the json builder's rendered messages.
            # chkpt rows (when unioned above) ride the generic payload
            # shape rather than processCheckpoint's dedicated one.
            def net_encoder(prepared):  # noqa: F811
                return build_events(
                    prepared,
                    cfg.fmt,
                    tag_cols=sel.tag,
                    dict_cols=dict_cols,
                    key_cols=sel.key,
                    max_message_bytes=net_cap,
                    extra_cols=("_oscn", "_oxid", "_oidx", "_odoc"),
                )

        return (
            writer.foreachBatch(
                stream_network_sink(
                    network_server,
                    fmt=cfg.fmt,
                    max_message_bytes=net_cap,
                    encoder=net_encoder,
                )
            )
            .option("checkpointLocation", checkpoint)
            .start()
        )
    # T6 big-transaction split (writer "max-message-mb",
    # Transaction.cpp:519-538): byte-true — the builder greedily packs
    # RENDERED message bytes against the cap (Builder.h:167; the Kafka
    # writer sets message.max.bytes from the same value,
    # WriterKafka.cpp:63-64)
    max_message_bytes = (
        max_message_mb * 1024 * 1024 if max_message_mb else None
    )

    def _build(ev_df: DataFrame) -> DataFrame:
        return build_events(
            ev_df,
            cfg.fmt,
            tag_cols=sel.tag,
            dict_cols=dict_cols,
            key_cols=sel.key,
            max_message_bytes=max_message_bytes,
        )

    from openlogreplicator_spark.config import MessageFormat, SchemaFormat

    # FULL envelopes aggregate per transaction and SCHEMA_FORMAT::FULL
    # marks each transaction-table's first op with a row_number window —
    # neither runs on a streaming plan in append mode. Stateful assembly
    # emits a committed transaction WHOLLY within one micro-batch, so
    # per-micro-batch batch-semantics building (foreachBatch) is exact —
    # the same grouping the reference's Builder does per flushed
    # transaction.
    full_batch_build = cfg.fmt.message == MessageFormat.FULL or (
        cfg.fmt.schema == SchemaFormat.FULL and dict_cols is not None
    )
    if sink == "file":
        # W3 with the reference's rotation contract (WriterFile.cpp):
        # rendered messages funnel through the RotatingFileWriter in
        # emission order — per micro-batch, batch semantics, so FULL
        # envelopes and SCHEMA_FORMAT::FULL build exactly like the
        # foreachBatch paths below
        if file_writer is None:
            raise ValueError(
                "sink='file' requires a file_writer "
                "(streaming.file_writer.RotatingFileWriter) — use "
                "sink='json' for the distributed part-file layout"
            )
        from openlogreplicator_spark.streaming.file_writer import (
            stream_file_sink,
        )

        _ORDER = ("_oscn", "_oxid", "_oidx", "_oseq", "_odoc")

        if (payload_format or "json") == "protobuf" and with_heartbeats:
            # the heartbeat union renders JSON text — interleaving it
            # into a protobuf byte stream would hand consumers
            # unparseable frames; fail loudly (same rule as the
            # protobuf kafka path)
            raise ValueError(
                "chkpt heartbeats are not wired on the protobuf file "
                "path; use the json format or the network sink for "
                "SHOW_CHECKPOINT"
            )
        if (payload_format or "json") == "protobuf":
            # the reference pairs any format with any writer: a
            # protobuf-format file deployment writes protobuf-framed
            # messages newline-delimited (new-line default 1) into the
            # rotated file — same builder the network sink uses
            from openlogreplicator_spark.builders.protobuf_builder import (
                build_protobuf_events,
            )

            def _build_msgs(ev_df: DataFrame) -> DataFrame:
                return build_protobuf_events(
                    _order_cols(ev_df),
                    fmt=cfg.fmt,
                    extra_cols=_ORDER,
                    max_message_bytes=max_message_bytes,
                    dict_cols=dict_cols,
                )
        else:
            def _build_msgs(ev_df: DataFrame) -> DataFrame:
                return build_events(
                    _order_cols(ev_df),
                    cfg.fmt,
                    tag_cols=sel.tag,
                    dict_cols=dict_cols,
                    key_cols=sel.key,
                    max_message_bytes=max_message_bytes,
                    extra_cols=_ORDER,
                )

        fb = stream_file_sink(
            file_writer,
            # replay-idempotency sidecar rides the query's checkpoint:
            # batch ids are only meaningful within one offset log
            state_path=os.path.join(checkpoint, "olrs-file-sink-batch"),
            # W7 checkpoint document advances on the reference's pacing:
            # interval-s elapsed OR interval-mb of rendered bytes
            # through the funnel (Metadata.cpp:421-424)
            state_dir=state_dir,
            database=cfg.fmt.db_name,
            interval_s=cfg.checkpoint_interval_s,
            interval_mb=cfg.checkpoint_interval_mb,
        )
        if full_batch_build:
            if with_heartbeats:
                raise ValueError(
                    "chkpt heartbeats can't union into the per-batch-"
                    "built FULL envelope stream; use the SHORT message "
                    "format with SHOW_CHECKPOINT"
                )
            fwriter = events.writeStream.queryName(query_name)
            fb_fn = lambda df, bid: fb(_build_msgs(df), bid)  # noqa: E731
        else:
            messages = _build_msgs(events)
            if with_heartbeats:
                messages = messages.unionByName(
                    heartbeat_messages(spark, in_dir, with_order_cols=True)
                )
            fwriter = messages.writeStream.queryName(query_name)
            fb_fn = fb
        return (
            fwriter.trigger(**trigger)
            .foreachBatch(fb_fn)
            .option("checkpointLocation", checkpoint)
            .start()
        )
    if full_batch_build and with_heartbeats:
        raise ValueError(
            "chkpt heartbeats can't union into the per-batch-built FULL "
            "envelope stream; use the SHORT message format with "
            "SHOW_CHECKPOINT"
        )
    if payload_format == "protobuf" and sink not in (
        "kafka", "network", "file", "noop"
    ):
        # fail-loudly rule: no silent json bytes where protobuf frames
        # were configured (the json/memory sinks render json only)
        raise ValueError(
            f"sink={sink!r} cannot carry protobuf payloads; use the "
            "file (with output mask), kafka, or network sink"
        )
    # protobuf-format kafka builds per batch with the protobuf builder —
    # skip constructing the unused json message plan
    kafka_pb = sink == "kafka" and payload_format == "protobuf"
    if not full_batch_build and not kafka_pb:
        messages = _build(events)
        if with_heartbeats:
            messages = messages.unionByName(
                heartbeat_messages(spark, in_dir)
            )
        writer = messages.writeStream.queryName(query_name)
    else:
        writer = events.writeStream.queryName(query_name)
    writer = writer.trigger(**trigger)
    if sink == "kafka":
        # W2: rendered (key, value) messages produced over the Kafka
        # wire protocol; kafka_bootstrap/kafka_topic configure the
        # endpoint (WriterKafka topic + brokers)
        if not kafka_bootstrap:
            raise ValueError(
                "sink='kafka' requires kafka_bootstrap='host:port' "
                "(the reference's bootstrap.servers property)"
            )
        from openlogreplicator_spark.streaming.pipeline import (
            kafka_foreach_batch,
        )

        produce = kafka_foreach_batch(kafka_bootstrap, kafka_topic)
        if kafka_pb:
            # WriterKafka produces whatever the builder renders
            # (WriterKafka.cpp:123-155): protobuf RedoResponse values
            # keyed by xid (the protobuf builder's key discipline —
            # tags are a json-builder projection)
            if with_heartbeats:
                raise ValueError(
                    "chkpt heartbeats are not wired on the protobuf "
                    "kafka path; use the json format or the network "
                    "sink for SHOW_CHECKPOINT"
                )
            from openlogreplicator_spark.builders.protobuf_builder import (
                build_protobuf_events,
            )

            fb = lambda df, bid: produce(  # noqa: E731
                build_protobuf_events(
                    df,
                    fmt=cfg.fmt,
                    max_message_bytes=max_message_bytes,
                    dict_cols=dict_cols,
                ),
                bid,
            )
        elif full_batch_build:
            fb = lambda df, bid: produce(_build(df), bid)  # noqa: E731
        else:
            fb = produce
        return (
            writer.foreachBatch(fb)
            .option("checkpointLocation", checkpoint)
            .start()
        )
    if full_batch_build:
        if sink == "memory":
            raise ValueError(
                "FULL message format streams through per-batch building "
                "(foreachBatch), which Spark's memory sink cannot host — "
                "use sink='json' with an out_dir (tests read the files)"
            )
        if sink == "noop":
            return (
                writer.foreachBatch(
                    lambda df, _bid: _build(df)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                .option("checkpointLocation", checkpoint)
                .start()
            )
        # exactly-once under retries: each micro-batch OVERWRITES its
        # own batchId-keyed subdirectory, so a batch replayed after a
        # failure-before-offset-commit rewrites the same files instead
        # of appending duplicates (the streaming file sink's
        # _spark_metadata manifest gives the non-FULL path the same
        # guarantee). Read the tree with recursiveFileLookup.
        return (
            writer.foreachBatch(
                lambda df, bid: _build(df)
                .write.mode("overwrite")
                .json(os.path.join(out_dir, f"batch-{bid}"))
            )
            .option("checkpointLocation", checkpoint)
            .start()
        )
    if sink == "memory":
        return writer.format("memory").start()
    if sink == "noop":
        return writer.format("noop").option(
            "checkpointLocation", checkpoint
        ).start()
    return (
        writer.format("json")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
