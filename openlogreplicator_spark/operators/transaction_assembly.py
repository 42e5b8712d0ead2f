"""Transaction assembly — the engine's stateful core (SURVEY §2.1 T1-T8).

Reassembles interleaved redo records into ordered, committed transactions:

- T1/T2  XID-keyed buffering            (TransactionBuffer.cpp:1-309)
- T3     partial-rollback LIFO cancel   (Transaction::rollbackLastOp,
         Transaction.cpp:73-197 — cancels the latest un-cancelled op with
         the same (bdba, slot))
- T4     transaction size guard         (Parser.cpp:610-626)
- T5     commit flush, ordered emission (Transaction::flush,
         Transaction.cpp:199-571; rolled-back txns skipped :207-210)
- B4     multi-row QMI/QMD expansion    (Builder.cpp:714-895)
- P9     session-attribute merge        (OpCode0513/0514)
- P12    11.4 lock / 11.16 supp-log / 11.22 KDOCMP
         (Parser.cpp:393-400; Transaction.cpp:419-491 — locks parse and
         never emit; supplemental-log records fill before-image columns
         the row piece didn't carry and are transparent to the LIFO
         partial-rollback cancel, Transaction.cpp:171-176; KDOCMP is
         LogMiner support, consumed silently)

Spark shape: one shuffle keyed by xid (the reference's transaction buffer
*is* a hash partition by xid), then per-partition assembly in a
``mapInArrow`` kernel — vectorized emission (including adjacent
undo-pairing) for plain transactions with the column images riding
through as Arrow arrays, the sequential state machine for the exotic
tail. Per-group state is bounded by the size guard, so a
1000-executor cluster holds each transaction on exactly one task — the
same memory envelope as the reference's per-XID chunk lists, but spread
across the cluster. Global emission order is (commit_scn, xid, num),
restored lazily by the sink's sort — order is only *materialized* where
the reference also had to serialize (the writer).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSEMBLED_SCHEMA = T.StructType(
    [
        T.StructField("xid", T.StringType()),
        T.StructField("begin_scn", T.LongType()),
        T.StructField("commit_scn", T.LongType()),
        T.StructField("num", T.LongType()),
        T.StructField("op", T.StringType()),  # c|u|d|ddl
        T.StructField("obj", T.LongType()),
        T.StructField("bdba", T.LongType()),
        T.StructField("slot", T.IntegerType()),
        T.StructField("scn", T.LongType()),
        T.StructField("cols", T.MapType(T.StringType(), T.StringType())),
        # P5: the paired 5.1 undo vector's image — before-image for
        # updates/deletes (OpCode0501.h; Parser.cpp pairs vector1=undo
        # with vector2=redo inside one record)
        T.StructField(
            "before_cols", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
        # the op's redo-log sequence (REDO_RECORD_SCHEMA seq) — the
        # reference's msg->sequence, which the file sink's %s mask
        # rotates on (WriterFile.cpp:259-269)
        T.StructField("seq", T.LongType()),
    ]
)

def _norm_map(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(v, dict):
        return v
    return dict(v)


_OP_MAP = {
    "insert": "c",
    "update": "u",
    "overwrite": "u",
    "delete": "d",
    "ddl": "ddl",
}

# chained-row piece flags (reference FB_P/FB_N, RedoLogRecord.h:36-43)
FB_NEXT = 0x1  # more pieces of this row follow
FB_PREV = 0x2  # continuation of the previous piece


def _merge_row_pieces(ops: list[dict]) -> list[dict]:
    """T7 chained/multi-piece row merge (Builder::valueSet semantics,
    Builder.cpp:962-1376): an op flagged FB_PREV continues the previous
    emitted op of the same object and op-kind — its columns overlay the
    head piece's image. Chains close when a piece lacks FB_NEXT."""
    merged: list[dict] = []
    for o in ops:
        fb = o.get("fb") or 0
        if (
            merged
            and fb & FB_PREV
            and (merged[-1].get("fb") or 0) & FB_NEXT
            and merged[-1]["obj"] == o["obj"]
            and merged[-1]["op"] == o["op"]
        ):
            head = merged[-1]
            head["cols"] = {**(head["cols"] or {}), **(o["cols"] or {})}
            if o.get("before_cols"):
                head["before_cols"] = {
                    **(head.get("before_cols") or {}),
                    **o["before_cols"],
                }
            head["fb"] = fb  # chain continues only if this piece has FB_NEXT
        else:
            merged.append(dict(o))
    return merged


def assemble_transactions_py(
    records: Iterable[dict],
    show_incomplete: bool = False,
    max_ops: int | None = None,
) -> list[dict]:
    """Sequential reference implementation (single transaction stream).

    Used as the oracle for property tests and inside the per-XID pandas
    kernel. ``records`` must belong to one xid OR be globally interleaved —
    the function keys its own state by xid either way.
    """
    txns: dict[str, dict] = {}
    out: list[dict] = []
    skiplist: set[str] = set()

    def get(xid: str) -> dict:
        return txns.setdefault(
            xid, {"ops": [], "begin_scn": None, "attrs": {}, "dropped": False}
        )

    ordered = sorted(
        records,
        key=lambda r: (
            r.get("scn") or 0,
            r.get("subscn") or 0,
            r.get("block") or 0,
            r.get("offset") or 0,
        ),
    )
    for r in ordered:
        xid = r["xid"]
        if xid in skiplist:
            continue
        opc = r["opcode"]
        t = get(xid)
        if opc == "begin":
            t["begin_scn"] = r["scn"]
        elif opc == "attr":
            t["attrs"].update(r.get("cols") or {})
        elif opc == "prollback":
            # LIFO cancel: newest surviving op with matching (bdba, slot)
            for i in range(len(t["ops"]) - 1, -1, -1):
                o = t["ops"][i]
                if o["bdba"] == r.get("bdba") and o["slot"] == r.get("slot"):
                    del t["ops"][i]
                    break
        elif opc == "rollback":
            txns.pop(xid, None)
            skiplist.add(xid)
        elif opc == "commit":
            if t["begin_scn"] is None and not show_incomplete and not t["ops"]:
                txns.pop(xid, None)
                continue
            for num, o in enumerate(_merge_row_pieces(t["ops"])):
                out.append(
                    {
                        "xid": xid,
                        "begin_scn": t["begin_scn"],
                        "commit_scn": r["scn"],
                        "num": num,
                        "op": o["op"],
                        "obj": o["obj"],
                        "bdba": o["bdba"],
                        "slot": o["slot"],
                        "scn": o["scn"],
                        "cols": o["cols"],
                        "before_cols": o.get("before_cols"),
                        "attrs": dict(t["attrs"]),
                        "seq": o.get("seq"),
                    }
                )
            txns.pop(xid, None)
        elif opc == "undo":
            # P5: 5.1 undo vector — the before image of the row piece the
            # paired redo vector changes (the reference carries it as
            # redoLogRecord1 of the same record). Addressed by
            # (bdba, slot); consumed by the next row op at that address.
            if r.get("bdba") is not None:
                # keep a null image NULL (not {}): an undo vector that
                # carried no columns sets no before values in the
                # reference (valueSet never fires → no before section),
                # and the vectorized route takes the column verbatim —
                # `or {}` made the two routes diverge on the same
                # transaction (r12 review pass: route-independence is
                # this module's stated invariant)
                t.setdefault("pending_undo", {})[
                    (r.get("bdba"), r.get("slot"))
                ] = r.get("cols")
        elif opc == "lock":
            # 11.4 lock row piece (select-for-update): parsed, never
            # emitted — no change event exists for a lock.
            pass
        elif opc == "kdocmp":
            # 11.22 LogMiner-support record: consumed silently
            # (Transaction.cpp:431-433).
            pass
        elif opc == "supp":
            # 11.16 supplemental log record: fills before-image columns
            # (typically the PK) that the addressed row piece didn't
            # carry (Transaction.cpp:451-481). Targets the most recent op
            # with the same (bdba, slot); an unaddressed supp with no
            # match is ignored (suppLogBdba==0 → nul1/nul2).
            supp_cols = r.get("cols") or {}
            addr = (r.get("bdba"), r.get("slot"))
            for i in range(len(t["ops"]) - 1, -1, -1):
                o = t["ops"][i]
                if (o["bdba"], o["slot"]) == addr:
                    o["cols"] = {**supp_cols, **(o["cols"] or {})}
                    break
            else:
                # supp ahead of its row piece (same group, piece order
                # not guaranteed): stash, applied when the op arrives
                if addr[0] is not None:
                    t.setdefault("pending_supp", {}).setdefault(
                        addr, {}
                    ).update(supp_cols)
        elif opc in ("qmi", "qmd"):
            op = "c" if opc == "qmi" else "d"
            rows = r.get("rows") or []
            # QMD rollback-of-insert walks rows in reverse (Builder.
            # cpp:805-895) — but every row keeps ITS OWN slot: the
            # reference
            # reads the slot per row from slotsDelta (Builder.cpp:
            # 860-869), so reversing the emission order must not
            # re-derive slots from the reversed position. Pairing row
            # k with slot base+(n-1-k) addressed each delete at a
            # DIFFERENT row than the one it removes — a partial
            # rollback at (bdba, slot) then cancelled the wrong row
            # (r12 review pass).
            n = len(rows)
            order = range(n) if opc == "qmi" else range(n - 1, -1, -1)
            for k in order:
                t["ops"].append(
                    {
                        "op": op,
                        "obj": r["obj"],
                        "bdba": r.get("bdba"),
                        "slot": (r.get("slot") or 0) + k,
                        "scn": r["scn"],
                        "cols": rows[k],
                        "seq": r.get("seq"),
                    }
                )
        elif opc in _OP_MAP:
            cols = r.get("cols")
            pending = t.get("pending_supp", {}).pop(
                (r.get("bdba"), r.get("slot")), None
            )
            if pending:
                cols = {**pending, **(cols or {})}
            undo = t.get("pending_undo", {}).pop(
                (r.get("bdba"), r.get("slot")), None
            )
            t["ops"].append(
                {
                    "op": _OP_MAP[opc],
                    "obj": r["obj"],
                    "bdba": r.get("bdba"),
                    "slot": r.get("slot"),
                    "scn": r["scn"],
                    "cols": cols,
                    "before_cols": undo,
                    "fb": r.get("fb") or 0,
                    "seq": r.get("seq"),
                }
            )
        if max_ops is not None and len(t["ops"]) > max_ops:
            # T4 size guard: drop and skip-list the oversized transaction
            txns.pop(xid, None)
            skiplist.add(xid)
    if show_incomplete:
        for xid, t in txns.items():
            for num, o in enumerate(_merge_row_pieces(t["ops"])):
                out.append(
                    {
                        "xid": xid,
                        "begin_scn": t["begin_scn"],
                        "commit_scn": None,
                        "num": num,
                        "op": o["op"],
                        "obj": o["obj"],
                        "bdba": o["bdba"],
                        "slot": o["slot"],
                        "scn": o["scn"],
                        "cols": o["cols"],
                        "before_cols": o.get("before_cols"),
                        "attrs": dict(t["attrs"]),
                        "seq": o.get("seq"),
                    }
                )
    return out


_FAST_OPS = {"begin", "commit", "insert", "update", "overwrite", "delete"}


def _state_machine_frame(
    pdf: pd.DataFrame, show_incomplete: bool, max_ops: int | None
) -> pd.DataFrame:
    """Run the full sequential state machine over one partition's rows
    (per-xid correctness needs only xid-locality, which the upstream
    hash exchange guarantees)."""
    recs = pdf.to_dict("records")
    # Arrow hands MapType to pandas as list-of-(k,v) tuples; nulls in
    # numeric columns arrive as NaN — normalize both.
    for r in recs:
        r["cols"] = _norm_map(r.get("cols"))
        rows = r.get("rows")
        if rows is None or (isinstance(rows, float) and pd.isna(rows)):
            r["rows"] = None
        else:
            r["rows"] = [_norm_map(x) for x in rows]
        # fb/obj included (r12 review pass): one NULL in the column —
        # e.g. the fb=None of an IGNORE_DATA_ERRORS warn row sharing
        # the bucket — floats the whole pandas column, and a chained
        # row's `fb & FB_PREV` then dies on float & int
        for k in ("scn", "subscn", "block", "offset", "bdba", "slot",
                  "seq", "fb", "obj"):
            v = r.get(k)
            if isinstance(v, float):
                r[k] = None if pd.isna(v) else int(v)
    out = assemble_transactions_py(
        recs, show_incomplete=show_incomplete, max_ops=max_ops
    )
    if not out:
        return pd.DataFrame(columns=[f.name for f in ASSEMBLED_SCHEMA.fields])
    return pd.DataFrame(out)


def _arrow_out_schema(cols_type):
    """ASSEMBLED_SCHEMA as a pyarrow schema, reusing the input table's
    map type for the three map columns so taken arrays match exactly."""
    import pyarrow as pa

    return pa.schema(
        [
            ("xid", pa.string()),
            ("begin_scn", pa.int64()),
            ("commit_scn", pa.int64()),
            ("num", pa.int64()),
            ("op", pa.string()),
            ("obj", pa.int64()),
            ("bdba", pa.int64()),
            ("slot", pa.int32()),
            ("scn", pa.int64()),
            ("cols", cols_type),
            ("before_cols", cols_type),
            ("attrs", cols_type),
            ("seq", pa.int64()),
        ]
    )


def _pdf_out_batches(out: pd.DataFrame, out_schema):
    import pyarrow as pa

    if out is None or not len(out):
        return
    yield from pa.Table.from_pandas(
        out, schema=out_schema, preserve_index=False
    ).to_batches()


# the routing/emission decision columns — everything the planner needs,
# none of the payload (`cols`/`rows` maps dominate the byte volume)
_SLIM_COLS = [
    "xid", "opcode", "scn", "subscn", "block", "offset", "fb",
    "bdba", "slot", "obj", "seq",
]


def _plan_plain(slim: "pd.DataFrame", rows_present, max_ops):
    """The route-and-emit PLAN over the slim key columns only: exotic
    detection, the LWN-order sort, vectorized undo pairing, and the
    per-emitted-row metadata. Returns ``(exo_mask, emit)`` where
    ``exo_mask`` is a per-global-row boolean (or None) and ``emit`` is
    the emitted-DML frame (index = global row ids in the input table;
    slim columns plus op/num/begin_scn/commit_scn/before_src). Both the
    in-memory and the spilled emission paths consume this one plan, so
    routing semantics cannot diverge between them."""
    import numpy as np

    opc = slim["opcode"]
    # 5.1 undo vectors are FAST-capable: in real redo every update
    # carries its before image as the paired undo vector of the same
    # record (Parser.cpp pairs redoLogRecord1/redoLogRecord2), so
    # classing undo as exotic would route the NORMAL update workload
    # through the sequential state machine at scale.
    exotic_rec = (
        (~(opc.isin(_FAST_OPS) | (opc == "undo").to_numpy())).to_numpy()
        | (slim["fb"].fillna(0).to_numpy() != 0)
        | rows_present
    )
    commit_x = slim.loc[opc.to_numpy() == "commit", "xid"]
    begin_x = slim.loc[opc.to_numpy() == "begin", "xid"]
    exotic_xids = set(slim.loc[exotic_rec, "xid"])
    exotic_xids.update(commit_x[commit_x.duplicated()])
    exotic_xids.update(begin_x[begin_x.duplicated()])
    if max_ops is not None:
        # T4 size guard, vectorized and conservative: a plain txn's op
        # count equals its DML record count ≤ its record count, so only
        # xids with MORE records than the cap can possibly overflow —
        # route those to the state machine, which applies the exact
        # drop + skip-list semantics (over-routing is always correct,
        # just slower; under the default multi-MB cap nothing routes).
        vc = slim["xid"].value_counts()
        exotic_xids.update(vc.index[vc.to_numpy() > max_ops])

    if exotic_xids:
        exo_mask = slim["xid"].isin(exotic_xids).to_numpy()
        plain = slim[~exo_mask]
    else:
        exo_mask = None
        plain = slim

    # vectorized plain emission: sort by the LWN key with null
    # subscn/block/offset coalesced to 0 — the SAME convention as the
    # sequential state machine's sort key (`r.get("subscn") or 0`), so
    # emission order, num, and undo pairing are route-independent. The
    # fill happens on a sort-key copy only; emitted values still come
    # from the original Arrow table via `take`.
    # scn sorts through a filled COPY (_scn): unlike subscn/block/offset
    # it is also an emitted value (begin_scn/commit_scn read from this
    # frame), so a null scn must stay null in the output
    s = (
        plain.assign(
            _scn=plain["scn"].fillna(0),
            subscn=plain["subscn"].fillna(0),
            block=plain["block"].fillna(0),
            offset=plain["offset"].fillna(0),
        )
        .sort_values(["_scn", "subscn", "block", "offset"], kind="stable")
        .drop(columns="_scn")
    )
    xids = s["xid"].to_numpy()
    opcs = s["opcode"].to_numpy()
    undo_m = opcs == "undo"
    dml_m = s["opcode"].isin(
        ("insert", "update", "overwrite", "delete")
    ).to_numpy()
    before_src = None
    if undo_m.any():
        # undo pairing, fully vectorized and EXACT: the state machine's
        # per-address automaton — pending_undo[(bdba,slot)] is SET by
        # each 5.1 undo (later undo overwrites) and POPPED by the next
        # row op at that address — is replayed per (xid, bdba, slot)
        # group with segmented cummax/cummin over the LWN order. A DML
        # pairs with undo u iff u is the latest undo before it in its
        # group AND the DML is the first row-op after u (otherwise an
        # earlier op already popped it). Unconsumed undos simply stay
        # pending, exactly as in the sequential path.
        n = len(s)
        gpos = np.arange(n)
        bdba_s = s["bdba"].fillna(-1).to_numpy()
        slot_s = s["slot"].fillna(-1).to_numpy()
        addressed = ~s["bdba"].isna().to_numpy()
        x_codes = pd.factorize(xids)[0]
        order2 = np.lexsort((gpos, slot_s, bdba_s, x_codes))
        X, B, S_, P = (
            x_codes[order2], bdba_s[order2], slot_s[order2], gpos[order2]
        )
        U = (undo_m & addressed)[order2]
        D = dml_m[order2]
        newgrp = np.ones(n, bool)
        if n > 1:
            newgrp[1:] = (
                (X[1:] != X[:-1]) | (B[1:] != B[:-1]) | (S_[1:] != S_[:-1])
            )
        seg = np.cumsum(newgrp)
        big = np.int64(n + 2)
        # exclusive last-undo position before each row, within group
        lu = np.where(U, P, -1) + seg * big
        lu_in = np.maximum.accumulate(lu)
        lu_ex = np.concatenate(([0], lu_in[:-1]))
        lu_ex[newgrp] = -1 + seg[newgrp] * big  # reset at group start
        lu_ex = lu_ex - seg * big  # -1 = none
        # exclusive next-rowop position after each row, within group
        # (reverse pass; only DML pops pending undo in the state
        # machine). +seg*big makes later segments strictly larger so
        # the suffix-min can never leak across group boundaries.
        ndv = np.where(D, P, big) + seg * big
        nd_in = np.minimum.accumulate(ndv[::-1])[::-1]
        nd_ex = np.concatenate((nd_in[1:], [0]))
        grp_end = np.concatenate((newgrp[1:], [True]))
        nd_ex[grp_end] = big + seg[grp_end] * big
        nd_ex = nd_ex - seg * big  # `big` = none
        # per-DML candidate undo, paired iff the undo's next row op is
        # this DML (positions are global-unique, so equality suffices)
        inv = np.empty(n, dtype=np.int64)
        inv[P] = np.arange(n)
        cand = lu_ex  # in sorted space, for every row
        pair_sorted = (
            D
            & (cand >= 0)
            & (nd_ex[inv[np.maximum(cand, 0)]] == P)
        )
        # map back to emission (gpos) space: global pos of the undo
        # feeding each paired dml
        undo_pos = np.full(n, -1, dtype=np.int64)
        undo_pos[P[pair_sorted]] = cand[pair_sorted]
        orig_idx = s.index.to_numpy()
        before_src = pd.Series(
            np.where(undo_pos >= 0, orig_idx[np.maximum(undo_pos, 0)], -1),
            index=s.index,
        )
    pos = np.arange(len(s))
    commit_m = opcs == "commit"
    begin_m = opcs == "begin"
    commit_scn = dict(zip(s.loc[commit_m, "xid"], s.loc[commit_m, "scn"]))
    commit_pos = dict(zip(s.loc[commit_m, "xid"], pos[commit_m]))
    begin_pos = dict(zip(s.loc[begin_m, "xid"], pos[begin_m]))
    # begin_scn counts only when the begin precedes its commit in LWN
    # order — the state machine snapshots begin_scn at commit time, so a
    # (pathological) begin sorted after the commit yields null there; a
    # late begin opens a NEW (never-committed) txn instead.
    begin_scn = {
        x: sc
        for x, sc in zip(s.loc[begin_m, "xid"], s.loc[begin_m, "scn"])
        if begin_pos[x] < commit_pos.get(x, -1)
    }
    dml = s[dml_m]
    cpos = dml["xid"].map(commit_pos)
    emit_m = cpos.notna().to_numpy() & (
        pos[dml_m] < cpos.fillna(-1).to_numpy()
    )
    dml = dml[emit_m]
    emit = dml.assign(
        op=dml["opcode"].map(_OP_MAP),
        num=dml.groupby("xid", sort=False).cumcount(),
        begin_scn=dml["xid"].map(begin_scn),
        commit_scn=dml["xid"].map(commit_scn),
        before_src=(
            before_src.loc[dml.index]
            if before_src is not None
            else pd.Series(-1, index=dml.index, dtype="int64")
        ),
    )
    return exo_mask, emit


def _empty_maps(k: int, cols_type):
    import numpy as np
    import pyarrow as pa

    return pa.MapArray.from_arrays(
        pa.array(np.zeros(k + 1, dtype=np.int32)),
        pa.array([], type=cols_type.key_type),
        pa.array([], type=cols_type.item_type),
    ).cast(cols_type)


def _emit_table(emit: "pd.DataFrame", cols_arr, before_arr, out_schema):
    """emitted-row metadata (slim columns + plan columns) + the two
    payload arrays → one output Arrow table. Scalars come from the slim
    plan frame, so the payload table is only touched by `take`."""
    import pyarrow as pa

    return pa.Table.from_arrays(
        [
            pa.array(emit["xid"], type=pa.string()),
            pa.array(
                pd.array(emit["begin_scn"], dtype="Int64"), from_pandas=True
            ),
            pa.array(emit["commit_scn"], type=pa.int64()),
            pa.array(emit["num"].to_numpy(), type=pa.int64()),
            pa.array(emit["op"], type=pa.string()),
            pa.array(pd.array(emit["obj"], dtype="Int64"), from_pandas=True),
            pa.array(pd.array(emit["bdba"], dtype="Int64"), from_pandas=True),
            pa.array(pd.array(emit["slot"], dtype="Int32"), from_pandas=True),
            pa.array(pd.array(emit["scn"], dtype="Int64"), from_pandas=True),
            cols_arr,
            before_arr,
            _empty_maps(len(emit), cols_arr.type),
            pa.array(pd.array(emit["seq"], dtype="Int64"), from_pandas=True),
        ],
        schema=out_schema,
    )


def _assemble_partition_arrow(tbl, show_incomplete: bool, max_ops):
    """Partition kernel over an in-memory Arrow table: the column-image
    payload (`cols`/`rows` maps) NEVER materializes as Python objects on
    the plain path — routing and emission are decided on a slim pandas
    view of the key columns (_plan_plain), and the payload rides through
    with a C-level ``take``. Measured at sf0.1 the Arrow↔pandas map
    conversion was the single largest cost of assembly (~60%); this
    removes it for the plain majority. The exotic tail (and the
    show_incomplete/max_ops configurations, which need global per-txn
    state) still converts its few rows to Python for the sequential
    state machine."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols_type = tbl.schema.field("cols").type
    out_schema = _arrow_out_schema(cols_type)
    if show_incomplete:
        out = _state_machine_frame(tbl.to_pandas(), show_incomplete, max_ops)
        yield from _pdf_out_batches(out, out_schema)
        return

    slim = tbl.select(_SLIM_COLS).to_pandas()
    rows_present = pc.is_valid(
        tbl.column("rows").combine_chunks()
    ).to_numpy(zero_copy_only=False)
    exo_mask, emit = _plan_plain(slim, rows_present, max_ops)

    if len(emit):
        # original row positions in tbl survive the filters/sort via the
        # slim frame's RangeIndex
        take_idx = pa.array(emit.index.to_numpy(), type=pa.int64())
        cols_arr = tbl.column("cols").take(take_idx).combine_chunks()
        bidx = emit["before_src"].to_numpy()
        before_arr = (
            tbl.column("cols")
            .take(
                pa.array(
                    [int(i) if i >= 0 else None for i in bidx],
                    type=pa.int64(),
                )
            )
            .combine_chunks()
        )
        yield from _emit_table(
            emit, cols_arr, before_arr, out_schema
        ).to_batches()

    if exo_mask is not None and exo_mask.any():
        exo_pdf = tbl.filter(pa.array(exo_mask)).to_pandas()
        out = _state_machine_frame(exo_pdf, show_incomplete, max_ops)
        yield from _pdf_out_batches(out, out_schema)


def _assemble_spilled(path: str, slim_batches, show_incomplete, max_ops):
    """Emission over a DISK-staGED bucket (the reference's T10
    swap-to-disk, Spark-shaped): the payload batches live in an Arrow
    IPC file with random access; memory holds only the slim key columns
    (plus per-batch working sets). The plan is computed once over the
    slim frame — identical code to the in-memory path — then each
    spilled batch is loaded, its emitted rows' payload taken, and
    before-images gathered from their source batches through a small
    LRU of loaded batches (undo and its DML are adjacent in the
    mapper's stream, so the pairing batch is almost always the same or
    a neighboring one). The exotic tail alone is materialized for the
    sequential state machine."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    reader = pa.ipc.open_file(path)
    n_batches = reader.num_record_batches
    lengths = [len(slim_batches[i]) for i in range(n_batches)]
    starts = np.concatenate(([0], np.cumsum(lengths)))

    if show_incomplete:
        # debug mode needs full per-txn state — accept the full read
        tbl = reader.read_all()
        out = _state_machine_frame(tbl.to_pandas(), show_incomplete, max_ops)
        yield from _pdf_out_batches(
            out, _arrow_out_schema(tbl.schema.field("cols").type)
        )
        return

    slim_tbl = pa.Table.from_batches(slim_batches)
    cols_type = reader.schema.field("cols").type
    out_schema = _arrow_out_schema(cols_type)
    slim = slim_tbl.select(_SLIM_COLS).to_pandas()
    rows_present = slim_tbl.column("_rows_present").combine_chunks().to_numpy(
        zero_copy_only=False
    )
    exo_mask, emit = _plan_plain(slim, rows_present, max_ops)

    cache: dict[int, "pa.RecordBatch"] = {}

    def load(b: int):
        if b in cache:
            return cache[b]
        if len(cache) >= 8:
            cache.pop(next(iter(cache)))
        batch = reader.get_batch(b)
        cache[b] = batch
        return batch

    def payload(batch):
        return batch.column(batch.schema.get_field_index("cols"))

    if len(emit):
        g = emit.index.to_numpy()
        ebid = np.searchsorted(starts, g, side="right") - 1
        src = emit["before_src"].to_numpy()
        for b in np.unique(ebid):
            m = ebid == b
            sub = emit[m]
            local = pa.array(g[m] - starts[b], type=pa.int64())
            cols_arr = payload(load(int(b))).take(local)
            # before-images: gather per source batch, then permute back
            bsrc = src[m]
            have = bsrc >= 0
            if have.any():
                sbid = np.searchsorted(starts, bsrc[have], side="right") - 1
                chunks, perm = [], np.full(len(bsrc), -1, dtype=np.int64)
                cur = 0
                rows_have = np.nonzero(have)[0]
                for sb in np.unique(sbid):
                    mm = sbid == sb
                    offs = bsrc[have][mm] - starts[sb]
                    chunks.append(
                        payload(load(int(sb))).take(
                            pa.array(offs, type=pa.int64())
                        )
                    )
                    perm[rows_have[mm]] = np.arange(cur, cur + mm.sum())
                    cur += int(mm.sum())
                combined = pa.concat_arrays(
                    [c.combine_chunks() if hasattr(c, "combine_chunks")
                     else c for c in chunks]
                )
                before_arr = combined.take(
                    pa.array(
                        [int(i) if i >= 0 else None for i in perm],
                        type=pa.int64(),
                    )
                )
            else:
                before_arr = pa.nulls(len(sub), type=cols_type)
            yield from _emit_table(
                sub, cols_arr, before_arr, out_schema
            ).to_batches()

    if exo_mask is not None and exo_mask.any():
        exo_tabs = []
        for b in range(n_batches):
            seg = exo_mask[starts[b]: starts[b + 1]]
            if seg.any():
                exo_tabs.append(
                    reader.get_batch(b).filter(pa.array(seg))
                )
        if exo_tabs:
            exo_pdf = pa.Table.from_batches(exo_tabs).to_pandas()
            out = _state_machine_frame(exo_pdf, show_incomplete, max_ops)
            yield from _pdf_out_batches(out, out_schema)


def _slim_batch(b):
    """One payload record batch → its slim decision batch (key columns
    + the rows-validity flag)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arrays = [
        b.column(b.schema.get_field_index(c)) for c in _SLIM_COLS
    ]
    arrays.append(
        pc.is_valid(b.column(b.schema.get_field_index("rows")))
    )
    return pa.RecordBatch.from_arrays(
        arrays, names=[*_SLIM_COLS, "_rows_present"]
    )


def _assemble_stream(
    batches, show_incomplete, max_ops, spill_mb: int, swap_dir=None
):
    """Streaming pass over a bucket's record batches with a memory
    budget: a bucket within budget assembles exactly as before (one
    in-memory Arrow table); a bucket that outgrows ``spill_mb`` stages
    its payload batches to a local Arrow IPC file and assembles through
    `_assemble_spilled`, holding only the slim key columns in memory —
    the hot-bucket OOM becomes disk I/O instead (reference T10
    swap-to-disk). Threshold via spark.olrs.assembly.spillThresholdMb."""
    import os
    import tempfile

    import pyarrow as pa

    budget = spill_mb << 20
    mem, nbytes = [], 0
    slim_batches: list = []
    writer = None
    path = None
    try:
        for b in batches:
            if writer is None:
                mem.append(b)
                # get_total_buffer_size, NOT .nbytes: the slice-aware
                # nbytes walk SEGFAULTS on the map-typed batches Spark's
                # mapInArrow delivers (reproduced on pyspark 4.1/pyarrow
                # in-tree; buffer-size sum is safe and errs high, which
                # only spills earlier)
                nbytes += b.get_total_buffer_size()
                if nbytes > budget:
                    # swap_dir is the reference "memory" swap-path
                    # (forwarded via spark.olrs.assembly.swapPath);
                    # default None = the node's tmp
                    fd, path = tempfile.mkstemp(
                        prefix="olrs_asm_spill_", suffix=".arrow",
                        dir=swap_dir,
                    )
                    os.close(fd)
                    writer = pa.ipc.new_file(path, b.schema)
                    for x in mem:
                        writer.write_batch(x)
                        slim_batches.append(_slim_batch(x))
                    mem = []
            else:
                writer.write_batch(b)
                slim_batches.append(_slim_batch(b))
        if writer is None:
            if not mem:
                return
            tbl = pa.Table.from_batches(mem)
            if tbl.num_rows:
                yield from _assemble_partition_arrow(
                    tbl, show_incomplete, max_ops
                )
            return
        writer.close()
        writer = None
        yield from _assemble_spilled(
            path, slim_batches, show_incomplete, max_ops
        )
    finally:
        if writer is not None:
            writer.close()
        if path is not None:
            try:
                os.unlink(path)
            except OSError:
                pass


def _default_buckets(records: DataFrame) -> int:
    """One bucket per session core. In the batch plan the buckets ARE
    the assembly stage's partitions, so the best count is the fewest
    tasks that keep every core busy: each Python-runner task carries a
    ~15-20 ms serialized launch (daemon fork + Arrow channel handshake)
    before it assembles a row. The earlier floor of 32 was tuned at
    ``local[32]``; at ``local[4]`` it ran 8 tasks per core, and
    dropping it to 4 buckets cut ``cdc_txn_assembly`` from 40 to 12
    tasks and its wall from 1.54 to 0.80 s at sf0.001 (7.37 to 6.44 s
    at sf0.1), with identical output (PERF.md "Batch assembly: one
    bucket per core"). The streaming default differs on purpose
    (`streaming_assemble`: buckets must match the state partitions).

    MEMORY ENVELOPE: a bucket within ``spark.olrs.assembly.
    spillThresholdMb`` (default 256) assembles from one in-memory Arrow
    table; a hotter bucket stages its payload to a local Arrow IPC file
    and holds only the slim key columns in memory (`_assemble_stream` —
    reference T10 swap-to-disk), so a skewed bucket degrades to disk
    I/O instead of a Python-worker OOM. ``spark.olrs.assembly.buckets``
    (or ``n_buckets``) still tunes the parallelism/launch-latency
    trade."""
    sess = records.sparkSession
    return _assembly_buckets(sess, sess.sparkContext.defaultParallelism)


def _assembly_buckets(sess, default: int) -> int:
    """The xid bucket count: ``spark.olrs.assembly.buckets`` when set,
    else ``default``. The one parse of the override, shared by the
    batch and streaming assembly paths (each passes its own default).
    The value must be a positive integer: ``0`` would build
    ``pmod(xxhash64(xid), 0)``, which fails the first task under ANSI
    mode, so a bad value raises here, before any job runs."""
    return _conf_int(sess, "spark.olrs.assembly.buckets", default, 1)


def _conf_int(sess, key: str, default: int, minimum: int) -> int:
    """Integer conf ``key``, or ``default`` when unset. A non-integer or
    a value below ``minimum`` raises ValueError naming the conf, at
    wiring, instead of failing a task or silently using the default."""
    raw = sess.conf.get(key, None)
    if raw is None:
        return default
    try:
        n = int(raw)
    except (ValueError, TypeError):
        n = minimum - 1
    if n < minimum:
        kind = "positive" if minimum > 0 else "non-negative"
        raise ValueError(f"{key}={raw!r}: must be a {kind} integer")
    return n


def assemble_transactions(
    records: DataFrame,
    show_incomplete: bool = False,
    max_ops: int | None = None,
    n_buckets: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Batch transaction assembly: ONE xid shuffle, ONE Arrow pass.

    Input: REDO_RECORD_SCHEMA rows (event_model.py). Output: one row per
    emitted change event, committed transactions only, `num` dense within
    xid, ordered by (commit_scn, xid, num) when sorted at the sink.

    Shape: ``repartition(n_buckets, xid)`` — the reference's transaction
    buffer IS a hash partition by xid (TransactionBuffer.h:50-80) — then
    a ``mapInPandas`` partition kernel that routes by transaction shape:
    the plain majority (begin/DML/commit only) through a vectorized
    pandas path, the exotic tail (partial rollbacks, QMI/QMD,
    supplemental log, chained pieces, xid reuse) through the sequential
    state machine. See `_assemble_partition`.

    Why a single Python pass instead of a JVM window route: a previous
    revision assembled plain transactions with window aggregates so the
    payload never crossed Arrow — but every variant of that design needs
    2-3 consumers of the xid exchange (per-txn aggregates, plain
    emission, exotic routing), and Catalyst pushes each consumer's
    filters/pruning below the repartition, making the exchange subtrees
    canonically different: ReuseExchange never fires and the upstream
    (the whole binary parse plane) re-executes per consumer. Measured at
    sf0.1 the single Arrow pass is ~2× faster end-to-end, and its
    per-record Python cost is bounded: the vectorized path handles plain
    traffic at ~µs/record and the state machine sees only the exotic
    fraction. Each partition's working set is its share of in-flight
    transactions (T4-bounded), the same memory envelope as the
    reference's per-XID chunk lists spread across the cluster.
    """
    if n_buckets is None:
        n_buckets = _default_buckets(records)
    # 0 is valid: it stages every bucket to disk
    spill_mb = _conf_int(
        records.sparkSession, "spark.olrs.assembly.spillThresholdMb", 256, 0
    )
    swap_dir = records.sparkSession.conf.get(
        "spark.olrs.assembly.swapPath", ""
    ) or None

    def kernel(batches):
        yield from _assemble_stream(
            batches, show_incomplete, max_ops, spill_mb, swap_dir
        )

    # ONE xid-hash shuffle, ONE consumer: the upstream (possibly the
    # whole binary parse plane) executes exactly once, the payload
    # crosses the Python boundary exactly once — and stays in Arrow
    # form on the plain path. Each partition holds complete
    # transactions; the kernel vectorizes the plain majority and runs
    # the per-xid state machine only for the exotic tail.
    # ``pre_partitioned``: the caller guarantees `records` is already
    # hash-partitioned by xid into `n_buckets` partitions (every record
    # of a transaction on one partition) — used by the slim-shuffle
    # synthesized stream (cdc._orders_redo_assembled, guide §2.3) to
    # shuffle source scalars instead of built image maps.
    part = (
        records
        if pre_partitioned
        else records.repartition(n_buckets, "xid")
    )
    return part.mapInArrow(kernel, schema=ASSEMBLED_SCHEMA)


def with_emission_order(assembled: DataFrame) -> DataFrame:
    """Global ordered emission (reference W1 confirm protocol): sort by
    (commit_scn, xid, num). Done once at the sink — a total order is only
    needed where the output leaves the engine."""
    return assembled.orderBy("commit_scn", "xid", "num")
