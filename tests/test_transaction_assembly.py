"""Transaction-assembly invariants (reference Transaction.cpp semantics).

Property: the distributed applyInPandas assembly must equal the sequential
per-transaction apply; partial rollback cancels the newest matching op
(LIFO); rolled-back transactions vanish; emission `num` is dense & ordered.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from openlogreplicator_spark.operators.transaction_assembly import (
    assemble_transactions,
    assemble_transactions_py,
)
from openlogreplicator_spark.sources.redo_gen import (
    generate_redo_records,
    redo_records_df,
)


def _key(e: dict) -> tuple:
    return (e["commit_scn"] or -1, e["xid"], e["num"])


def _norm(events: list[dict]) -> list[tuple]:
    return sorted(
        (
            e["xid"], e["begin_scn"], e["commit_scn"], e["num"], e["op"],
            e["obj"], e["bdba"], e["slot"], e["scn"],
            tuple(sorted((e["cols"] or {}).items())),
            tuple(sorted((e["attrs"] or {}).items())),
        )
        for e in events
    )


def test_spark_matches_sequential(spark):
    records = generate_redo_records(n_txns=30, seed=7)
    expected = assemble_transactions_py(records)
    got = [r.asDict() for r in assemble_transactions(redo_records_df(spark, records)).collect()]
    assert _norm(got) == _norm(expected)
    assert len(got) > 0


def test_fast_path_matches_state_machine(spark):
    """A begin/DML/commit-only stream takes the vectorized fast path —
    its output must equal the general state machine's, including an
    op arriving after its transaction's commit (dropped as uncommitted
    reuse)."""
    records = []
    scn = 0
    for i in range(40):
        xid = f"fx{i}"
        records.append({"scn": (scn := scn + 1), "xid": xid, "opcode": "begin"})
        for j in range(5):
            records.append(
                {"scn": (scn := scn + 1), "xid": xid, "opcode": "insert",
                 "obj": j, "bdba": i, "slot": j, "cols": {"k": str(j)}}
            )
        records.append({"scn": (scn := scn + 1), "xid": xid, "opcode": "commit"})
    # trailing op after commit for xid fx0 → must be dropped by both paths
    records.append({"scn": (scn := scn + 1), "xid": "fx0", "opcode": "delete",
                    "obj": 9, "bdba": 0, "slot": 9, "cols": {}})
    expected = assemble_transactions_py(records)
    got = [r.asDict() for r in
           assemble_transactions(redo_records_df(spark, records)).collect()]
    assert _norm(got) == _norm(expected)
    assert len(got) == 200


def test_fast_path_falls_back_on_begin_reuse(spark):
    """xid reuse with a SECOND begin after the single commit: the fast
    path's last-wins begin_scn map would report the reuse begin's SCN,
    while the state machine snapshots begin_scn at commit. The duplicate
    begin must force the fallback so both agree (round-2 ADVICE fix)."""
    records = [
        {"scn": 1, "xid": "rx", "opcode": "begin"},
        {"scn": 2, "xid": "rx", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 0, "cols": {"k": "v"}},
        {"scn": 3, "xid": "rx", "opcode": "commit"},
        # uncommitted reuse of the same xid
        {"scn": 4, "xid": "rx", "opcode": "begin"},
        {"scn": 5, "xid": "rx", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 1, "cols": {"k": "w"}},
    ]
    expected = assemble_transactions_py(records)
    got = [r.asDict() for r in
           assemble_transactions(redo_records_df(spark, records)).collect()]
    assert _norm(got) == _norm(expected)
    assert len(got) == 1
    assert got[0]["begin_scn"] == 1  # not the reuse begin's scn=4


def test_partial_rollback_lifo():
    base = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 10,
         "slot": 1, "cols": {"v": "a"}},
        {"scn": 3, "xid": "t", "opcode": "update", "obj": 1, "bdba": 10,
         "slot": 1, "cols": {"v": "b"}},
        {"scn": 4, "xid": "t", "opcode": "prollback", "bdba": 10, "slot": 1},
        {"scn": 5, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(base)
    # LIFO: the update (newest matching op) is cancelled, the insert survives
    assert [(e["op"], e["cols"]["v"]) for e in out] == [("c", "a")]


def test_undo_vector_carries_before_image():
    """P5: the 5.1 undo vector paired with a row op becomes the op's
    before image (OpCode0501; Parser pairs vector1=undo, vector2=redo).
    Deletes get their full image from the undo; updates keep change
    cols separate from the before."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "undo", "obj": 1, "bdba": 10,
         "slot": 3, "cols": {"id": "7", "c2": "old"}},
        {"scn": 2, "xid": "t", "opcode": "update", "obj": 1, "bdba": 10,
         "slot": 3, "subscn": 1, "cols": {"c2": "new"}},
        {"scn": 3, "xid": "t", "opcode": "undo", "obj": 1, "bdba": 11,
         "slot": 0, "cols": {"id": "8", "c2": "bye"}},
        {"scn": 3, "xid": "t", "opcode": "delete", "obj": 1, "bdba": 11,
         "slot": 0, "subscn": 1},
        {"scn": 4, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert [(e["op"], e["cols"], e["before_cols"]) for e in out] == [
        ("u", {"c2": "new"}, {"id": "7", "c2": "old"}),
        ("d", None, {"id": "8", "c2": "bye"}),
    ]


def test_supp_log_fills_before_image():
    """P12 11.16: supplemental columns fill what the row piece didn't
    carry, and NEVER overwrite captured redo values
    (Transaction.cpp:451-481)."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "update", "obj": 1, "bdba": 10,
         "slot": 3, "cols": {"c2": "new"}},
        {"scn": 2, "xid": "t", "opcode": "supp", "obj": 1, "bdba": 10,
         "slot": 3, "subscn": 1, "cols": {"id": "7", "c2": "stale"}},
        {"scn": 3, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert len(out) == 1
    assert out[0]["cols"] == {"id": "7", "c2": "new"}


def test_supp_log_before_row_piece():
    """Piece order inside the group is not guaranteed: a supp arriving
    ahead of its row piece still attaches by (bdba, slot)."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "supp", "obj": 1, "bdba": 10,
         "slot": 3, "cols": {"id": "7"}},
        {"scn": 2, "xid": "t", "opcode": "update", "obj": 1, "bdba": 10,
         "slot": 3, "subscn": 1, "cols": {"c2": "new"}},
        {"scn": 3, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert len(out) == 1
    assert out[0]["cols"] == {"id": "7", "c2": "new"}


def test_supp_unaddressed_ignored_and_lock_kdocmp_consumed():
    """11.16 with no addressable row piece is ignored (nul1/nul2 path);
    11.4 locks and 11.22 KDOCMP never emit (Parser.cpp:393-400)."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "supp", "obj": 1, "bdba": None,
         "slot": None, "cols": {"id": "9"}},
        {"scn": 3, "xid": "t", "opcode": "lock", "obj": 1, "bdba": 4,
         "slot": 0},
        {"scn": 4, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 4,
         "slot": 0, "cols": {"k": "1"}},
        {"scn": 5, "xid": "t", "opcode": "kdocmp", "obj": 1, "bdba": 4,
         "slot": 0},
        {"scn": 6, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert [(e["op"], e["cols"]) for e in out] == [("c", {"k": "1"})]


def test_prollback_transparent_to_supp():
    """A partial rollback cancels the newest ROW op — supp records are
    not in the op list and cannot absorb the cancel
    (Transaction.cpp:171-176: 0B10 is skippable)."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 10,
         "slot": 1, "cols": {"v": "keep"}},
        {"scn": 3, "xid": "t", "opcode": "update", "obj": 1, "bdba": 10,
         "slot": 2, "cols": {"v": "gone"}},
        {"scn": 3, "xid": "t", "opcode": "supp", "obj": 1, "bdba": 10,
         "slot": 2, "subscn": 1, "cols": {"id": "5"}},
        {"scn": 4, "xid": "t", "opcode": "prollback", "bdba": 10, "slot": 2},
        {"scn": 5, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert [(e["op"], e["cols"]["v"]) for e in out] == [("c", "keep")]


def test_rollback_drops_transaction():
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 0, "cols": {}},
        {"scn": 3, "xid": "t", "opcode": "rollback"},
        {"scn": 4, "xid": "u", "opcode": "begin"},
        {"scn": 5, "xid": "u", "opcode": "delete", "obj": 2, "bdba": 2,
         "slot": 0, "cols": {}},
        {"scn": 6, "xid": "u", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert [e["xid"] for e in out] == ["u"]


def test_qmi_expansion_and_order():
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "qmi", "obj": 9, "bdba": 5, "slot": 0,
         "rows": [{"k": "1"}, {"k": "2"}, {"k": "3"}]},
        {"scn": 3, "xid": "t", "opcode": "qmd", "obj": 9, "bdba": 6, "slot": 0,
         "rows": [{"k": "8"}, {"k": "9"}]},
        {"scn": 4, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert [(e["op"], e["cols"]["k"]) for e in out] == [
        ("c", "1"), ("c", "2"), ("c", "3"),
        ("d", "9"), ("d", "8"),  # qmd walks rows in reverse
    ]
    assert [e["num"] for e in out] == [0, 1, 2, 3, 4]
    # each row keeps ITS OWN slot through the reversal (the reference
    # reads the slot per row from slotsDelta, Builder.cpp:860-869):
    # row k of the record sits at slot base+k regardless of emission
    # order — r12 review pass caught the reversed walk re-deriving
    # slots from the reversed position
    assert [(e["cols"]["k"], e["slot"]) for e in out] == [
        ("1", 0), ("2", 1), ("3", 2),
        ("9", 1), ("8", 0),
    ]


def test_qmd_reversed_slots_pair_with_their_rows_for_prollback():
    """The observable consequence of the slot pairing: a partial
    rollback addressed at (bdba, slot 0) must cancel the delete of the
    row THAT SLOT holds (row '8', the record's first row), not whichever
    row the reversed emission happened to place at position 0."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "qmd", "obj": 9, "bdba": 6,
         "slot": 0, "rows": [{"k": "8"}, {"k": "9"}]},
        {"scn": 3, "xid": "t", "opcode": "prollback", "bdba": 6,
         "slot": 0},
        {"scn": 4, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert [(e["cols"]["k"], e["slot"]) for e in out] == [("9", 1)]


def test_size_guard_drops_oversized():
    recs = [{"scn": 1, "xid": "t", "opcode": "begin"}]
    for i in range(10):
        recs.append({"scn": 2 + i, "xid": "t", "opcode": "insert", "obj": 1,
                     "bdba": i, "slot": 0, "cols": {}})
    recs.append({"scn": 50, "xid": "t", "opcode": "commit"})
    assert assemble_transactions_py(recs, max_ops=5) == []
    assert len(assemble_transactions_py(recs, max_ops=100)) == 10


def test_attrs_merged_into_events():
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "attr",
         "cols": {"OS_USER_NAME": "app"}},
        {"scn": 3, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 0, "cols": {}},
        {"scn": 4, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert out[0]["attrs"] == {"OS_USER_NAME": "app"}


def test_incomplete_transactions_policy():
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 0, "cols": {}},
        # no commit
    ]
    assert assemble_transactions_py(recs) == []
    shown = assemble_transactions_py(recs, show_incomplete=True)
    assert len(shown) == 1 and shown[0]["commit_scn"] is None


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_generator_property_sequential_invariants(seed):
    records = generate_redo_records(n_txns=12, seed=seed)
    out = assemble_transactions_py(records)
    by_xid: dict[str, list] = {}
    for e in out:
        by_xid.setdefault(e["xid"], []).append(e)
    for xid, evs in by_xid.items():
        # num dense and ordered; one commit_scn per xid; scn ≤ commit_scn
        assert [e["num"] for e in evs] == list(range(len(evs)))
        assert len({e["commit_scn"] for e in evs}) == 1
        assert all(e["scn"] <= e["commit_scn"] for e in evs)


def test_vectorized_undo_pairing_matches_state_machine(spark):
    """The Arrow kernel replays the per-address pending-undo automaton
    (set/overwrite at 5.1, pop at the next row op) with segmented
    vector ops; this drives randomized streams — non-adjacent pairs,
    overwritten undos, repeated addresses, unconsumed undos — through
    the Spark path and demands byte-identical output to the sequential
    state machine."""
    import random

    rng = random.Random(20260815)
    records = []
    scn = 0
    for xid in range(40):
        x = str(xid)
        scn += 10
        records.append({"scn": scn, "xid": x, "opcode": "begin"})
        n_addr = rng.randint(1, 4)
        for a in range(n_addr):
            bdba, slot = 100 + xid, a
            shape = rng.choice(
                ["pair", "undo_only", "dml_only", "overwrite",
                 "pair_gap", "two_dml"]
            )
            scn += 10
            if shape == "pair":
                records.append({"scn": scn, "xid": x, "opcode": "undo",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "old"}})
                records.append({"scn": scn + 1, "xid": x,
                                "opcode": "update", "obj": 1,
                                "bdba": bdba, "slot": slot,
                                "cols": {"q": "new"}})
            elif shape == "undo_only":
                records.append({"scn": scn, "xid": x, "opcode": "undo",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "orphan"}})
            elif shape == "dml_only":
                records.append({"scn": scn, "xid": x, "opcode": "insert",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "bare"}})
            elif shape == "overwrite":
                records.append({"scn": scn, "xid": x, "opcode": "undo",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "first"}})
                records.append({"scn": scn + 1, "xid": x, "opcode": "undo",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "second"}})
                records.append({"scn": scn + 2, "xid": x,
                                "opcode": "delete", "obj": 1,
                                "bdba": bdba, "slot": slot,
                                "cols": {"q": "gone"}})
            elif shape == "pair_gap":
                # undo separated from its dml by another address's rows
                records.append({"scn": scn, "xid": x, "opcode": "undo",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "gapold"}})
                records.append({"scn": scn + 1, "xid": x,
                                "opcode": "insert", "obj": 1,
                                "bdba": bdba + 1000, "slot": slot,
                                "cols": {"q": "other"}})
                records.append({"scn": scn + 2, "xid": x,
                                "opcode": "update", "obj": 1,
                                "bdba": bdba, "slot": slot,
                                "cols": {"q": "gapnew"}})
            else:  # two_dml — second gets no before image
                records.append({"scn": scn, "xid": x, "opcode": "undo",
                                "obj": 1, "bdba": bdba, "slot": slot,
                                "cols": {"q": "once"}})
                records.append({"scn": scn + 1, "xid": x,
                                "opcode": "update", "obj": 1,
                                "bdba": bdba, "slot": slot,
                                "cols": {"q": "v1"}})
                records.append({"scn": scn + 2, "xid": x,
                                "opcode": "update", "obj": 1,
                                "bdba": bdba, "slot": slot,
                                "cols": {"q": "v2"}})
            scn += 5
        scn += 10
        records.append({"scn": scn, "xid": x, "opcode": "commit"})
    from openlogreplicator_spark.sources.redo_gen import redo_records_df

    expected = assemble_transactions_py(records)
    df = redo_records_df(spark, records)
    got = [r.asDict() for r in assemble_transactions(df).collect()]

    def key(e):
        return (e["xid"], e["commit_scn"], e["num"])

    assert len(got) == len(expected)
    gmap = {key(e): e for e in got}
    for e in expected:
        g = gmap[key(e)]
        assert g["op"] == e["op"] and g["scn"] == e["scn"]
        assert (g["cols"] or None) == (e["cols"] or None)
        eb = e.get("before_cols") or None
        gb = g.get("before_cols") or None
        assert gb == eb, (e["xid"], e["num"], gb, eb)


def test_null_subscn_sorts_first_like_sequential(spark):
    """Round-4 ADVICE (medium): the vectorized plain path must coalesce
    null subscn/block/offset to 0 for the LWN sort — the sequential
    state machine's convention (`r.get("subscn") or 0`) — so a
    null-subscn DML at the same scn sorts FIRST (num=0), not last."""
    records = [
        {"scn": 1, "xid": "ns", "opcode": "begin"},
        # inserted in subscn-1-first order; the null must still win num=0
        {"scn": 2, "xid": "ns", "opcode": "insert", "obj": 1, "bdba": 5,
         "slot": 0, "subscn": 1, "cols": {"v": "subscn-1"}},
        {"scn": 2, "xid": "ns", "opcode": "insert", "obj": 1, "bdba": 5,
         "slot": 1, "cols": {"v": "null-subscn"}},
        {"scn": 3, "xid": "ns", "opcode": "commit"},
    ]
    expected = assemble_transactions_py(records)
    got = sorted(
        (r.asDict() for r in
         assemble_transactions(redo_records_df(spark, records)).collect()),
        key=lambda e: e["num"],
    )
    assert _norm(got) == _norm(expected)
    assert [(e["num"], e["cols"]["v"]) for e in got] == [
        (0, "null-subscn"), (1, "subscn-1")
    ]


def test_begin_after_commit_yields_null_begin_scn(spark):
    """Round-4 ADVICE: a single begin sorted AFTER its transaction's
    commit must emit begin_scn=null on the vectorized route, matching
    the state machine's commit-time snapshot (the late begin opens a
    new, never-committed txn)."""
    records = [
        {"scn": 1, "xid": "lb", "opcode": "insert", "obj": 1, "bdba": 5,
         "slot": 0, "cols": {"v": "a"}},
        {"scn": 2, "xid": "lb", "opcode": "commit"},
        {"scn": 3, "xid": "lb", "opcode": "begin"},
    ]
    expected = assemble_transactions_py(records)
    got = [r.asDict() for r in
           assemble_transactions(redo_records_df(spark, records)).collect()]
    assert _norm(got) == _norm(expected)
    assert len(got) == 1
    assert got[0]["begin_scn"] is None


def test_assembly_bucket_conf_override(spark):
    """`spark.olrs.assembly.buckets` overrides the default one-bucket-
    per-core sizing for memory-tight / skewed deployments."""
    from openlogreplicator_spark.operators.transaction_assembly import (
        _default_buckets,
    )

    records = redo_records_df(
        spark, [{"scn": 1, "xid": "b", "opcode": "begin"}]
    )
    base = _default_buckets(records)
    assert base == spark.sparkContext.defaultParallelism
    spark.conf.set("spark.olrs.assembly.buckets", "128")
    try:
        assert _default_buckets(records) == 128
    finally:
        spark.conf.unset("spark.olrs.assembly.buckets")


def test_batch_assembly_runs_one_bucket_per_core(spark, sf_dir):
    """The batch assembly stage of ``cdc_txn_assembly`` has one
    partition per core: the buckets are the stage's partitions, so more
    of them only add Python-runner task launches. Neither the former
    floor of 32 nor the streaming default (``shuffle.partitions``, 8 in
    this session) applies here."""
    from openlogreplicator_spark.operators.cdc import (
        _orders_redo_assembled,
    )

    assembled = _orders_redo_assembled(spark, sf_dir)
    assert (
        assembled.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_max_ops_vectorized_routing(spark):
    """max_ops no longer forces the whole partition through the
    sequential state machine: plain transactions within the cap emit
    via the vectorized path, oversized ones route to the state machine
    for the exact drop + skip-list semantics. Output must equal the
    sequential oracle either way."""
    records = []
    scn = 0
    # one plain txn with 3 ops (within cap), one with 8 (over cap)
    for xid, n in (("small", 3), ("big", 8)):
        records.append({"scn": (scn := scn + 1), "xid": xid, "opcode": "begin"})
        for j in range(n):
            records.append(
                {"scn": (scn := scn + 1), "xid": xid, "opcode": "insert",
                 "obj": 1, "bdba": 1, "slot": j, "cols": {"k": str(j)}}
            )
        records.append({"scn": (scn := scn + 1), "xid": xid, "opcode": "commit"})
    expected = assemble_transactions_py(records, max_ops=5)
    got = [r.asDict() for r in
           assemble_transactions(
               redo_records_df(spark, records), max_ops=5
           ).collect()]
    assert _norm(got) == _norm(expected)
    assert {e["xid"] for e in got} == {"small"}
    assert len(got) == 3


def test_null_scn_sorts_first_and_stays_null(spark):
    """Round-5 review: a null scn sorts as 0 (every route's convention)
    but is EMITTED as null — commit_scn/begin_scn read from the sorted
    frame and must not inherit the sort fill."""
    records = [
        {"scn": None, "xid": "nsn", "opcode": "begin"},
        {"scn": 5, "xid": "nsn", "opcode": "insert", "obj": 1, "bdba": 2,
         "slot": 0, "cols": {"v": "x"}},
        {"scn": 9, "xid": "nsn", "opcode": "commit"},
    ]
    expected = assemble_transactions_py(records)
    got = [r.asDict() for r in
           assemble_transactions(redo_records_df(spark, records)).collect()]
    assert _norm(got) == _norm(expected)
    assert len(got) == 1
    assert got[0]["begin_scn"] is None  # null scn begin → null, not 0
    assert got[0]["commit_scn"] == 9


def test_warn_row_in_bucket_does_not_float_fb(spark):
    """r12 review pass: one fb=None row (an IGNORE_DATA_ERRORS warn
    diagnostic sharing the bucket) floats the pandas fb column; a
    chained-row transaction in the same frame then crashed the
    sequential route with TypeError: float & int inside
    _merge_row_pieces."""
    from openlogreplicator_spark.event_model import REDO_RECORD_SCHEMA
    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions,
    )

    def rec(scn, xid, opcode, fb=0, cols=None, bdba=None, slot=None,
            obj=9):
        return (scn, 0, 1, 0, 1, xid, opcode, obj, bdba, slot, fb,
                cols, None)

    rows = [
        # warn diagnostic: fb NULL (log-surface row; exotic opcode so
        # the frame routes through the sequential state machine)
        rec(5, "w.0.0", "warn", fb=None, cols={"code": "60013"}),
        rec(10, "1.1.1", "begin"),
        # 2-piece chained insert (FB_NEXT then FB_PREV)
        rec(11, "1.1.1", "insert", fb=1, cols={"A": "head"}, bdba=5,
            slot=0),
        rec(12, "1.1.1", "insert", fb=2, cols={"B": "tail"}, bdba=5,
            slot=1),
        rec(13, "1.1.1", "commit"),
    ]
    df = spark.createDataFrame(rows, REDO_RECORD_SCHEMA)
    got = assemble_transactions(df).collect()
    merged = [r for r in got if r.op == "c"]
    assert len(merged) == 1
    assert dict(merged[0].cols) == {"A": "head", "B": "tail"}


def test_null_cols_undo_is_route_independent():
    """r12 review pass: a 5.1 undo vector with a NULL cols map must
    yield before_cols=None on the paired op — the sequential route's
    `or {}` rendered an EMPTY map where the vectorized route rendered
    NULL, breaking the module's route-independence invariant."""
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "undo", "bdba": 5, "slot": 0,
         "cols": None},
        {"scn": 3, "xid": "t", "opcode": "update", "obj": 9, "bdba": 5,
         "slot": 0, "cols": {"A": "new"}},
        {"scn": 4, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert len(out) == 1
    assert out[0]["before_cols"] is None


def test_slim_shuffle_assembly_matches_full_stream(spark):
    """r13 guide-§2.3 restructure: `cdc._orders_redo_assembled` shuffles
    the SLIM synthesized stream once by xid and builds the column-image
    maps above the exchange (`pre_partitioned=True` skips assembly's own
    repartition). Pin (a) row-set equality with the historical
    build-then-shuffle shape and (b) the single-exchange plan."""
    from openlogreplicator_spark.operators.cdc import (
        _orders_redo_assembled,
        _orders_redo_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    slim = _orders_redo_assembled(spark, sf_dir)
    full = assemble_transactions(_orders_redo_stream(spark, sf_dir))

    plan = slim._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:2000]
    assert plan.count("MapInArrow") == 1, plan[:2000]

    def key(r):
        d = r.asDict()
        return (
            d["xid"], d["num"], d["begin_scn"], d["commit_scn"], d["op"],
            d["obj"], d["bdba"], d["slot"], d["scn"], d["seq"],
            tuple(sorted((d["cols"] or {}).items())),
            tuple(sorted((d["before_cols"] or {}).items())),
        )

    got = sorted(key(r) for r in slim.collect())
    want = sorted(key(r) for r in full.collect())
    assert got == want and len(got) > 0
