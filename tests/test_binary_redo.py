"""Binary redo parse plane (OLRS1): block validation, LWN grouping,
cross-block record split, multi-vector records, distributed write/parse,
and the end-to-end binary → assembly pipeline (reference front half:
Reader.cpp:109-169 block checks, Parser.cpp:1340-1452 LWN/record split,
Parser.cpp:113-312 vector parse)."""

from __future__ import annotations

import os

import pytest

from openlogreplicator_spark.sources.binary_redo import (
    BLOCK_SIZE,
    LWN_MAX_RECORDS,
    encode_record,
    encode_redo_file,
    parse_redo_bytes,
    parse_redo_files,
    write_binary_redo,
)


def _rec(scn, xid, opcode, **kw):
    base = {"scn": scn, "subscn": 0, "block": 0, "offset": 0, "seq": 1,
            "xid": xid, "opcode": opcode, "obj": None, "bdba": None,
            "slot": None, "fb": 0, "cols": None, "rows": None}
    base.update(kw)
    return base


def test_roundtrip_all_opcodes():
    recs = [
        _rec(1, "t1", "begin"),
        _rec(2, "t1", "insert", obj=5, bdba=9, slot=1, cols={"A": "1", "B": None}),
        _rec(3, "t1", "update", obj=5, bdba=9, slot=1, fb=3, cols={"A": "2"}),
        _rec(4, "t1", "qmi", obj=5, bdba=9,
             rows=[{"A": "1"}, {"A": "2"}]),
        _rec(5, "t1", "prollback", bdba=9, slot=1),
        _rec(5, "t1", "lock", obj=5, bdba=9, slot=2),
        _rec(5, "t1", "supp", obj=5, bdba=9, slot=1, subscn=1,
             cols={"ID": "7"}),
        _rec(5, "t1", "kdocmp", obj=5, bdba=9, slot=1, subscn=2),
        _rec(6, "t1", "attr", cols={"LOGIN_USER_NAME": "scott"}),
        _rec(7, "t1", "ddl", cols={"sql": "CREATE TABLE t(i int)"}),
        _rec(8, "t1", "commit"),
        _rec(9, "t2", "rollback"),
    ]
    out = parse_redo_bytes(encode_redo_file(recs, 3), "t")
    assert len(out) == len(recs)
    for orig, got in zip(recs, out):
        for k in ("scn", "xid", "opcode", "obj", "bdba", "slot", "fb",
                  "cols", "rows"):
            assert got[k] == orig[k], (k, orig, got)
        assert got["seq"] == 3


def test_undo_redo_pair_roundtrip():
    """P5: a 5.1 undo vector followed by its 11.5 redo round-trips with
    before and after images intact."""
    undo = _rec(5, "t", "undo", obj=9, bdba=3, slot=1,
                cols={"id": "7", "c2": "old"})
    redo = _rec(5, "t", "update", obj=9, bdba=3, slot=1, subscn=1,
                cols={"c2": "new"})
    got = parse_redo_bytes(encode_redo_file([undo, redo], 2), "t")
    assert [g["opcode"] for g in got] == ["undo", "update"]
    assert got[0]["cols"] == {"id": "7", "c2": "old"}
    assert got[1]["cols"] == {"c2": "new"}


def test_records_split_across_blocks():
    """Big column payloads force records to straddle 512-byte block
    boundaries; the parser must reassemble the LWN payload first."""
    recs = [
        _rec(i, "t", "insert", obj=i, cols={f"c{j}": "x" * 50 for j in range(8)})
        for i in range(50)
    ]
    blob = encode_redo_file(recs, 1)
    # sanity: records genuinely span blocks
    assert len(encode_record(recs[0])) > BLOCK_SIZE - 16 - 24
    out = parse_redo_bytes(blob, "t")
    assert [r["scn"] for r in out] == list(range(50))
    assert out[7]["cols"] == recs[7]["cols"]


def test_multiple_lwns_and_positions():
    recs = [_rec(i, f"t{i}", "begin") for i in range(LWN_MAX_RECORDS + 10)]
    out = parse_redo_bytes(encode_redo_file(recs, 1), "t")
    assert len(out) == LWN_MAX_RECORDS + 10
    # (block, offset) are strictly increasing in file order
    pos = [(r["block"], r["offset"]) for r in out]
    assert pos == sorted(pos)
    assert pos[0][0] == 1 and pos[0][1] >= 16


def test_multi_vector_record():
    """5.1 undo + 11.x redo pairing: one record, two vectors — the flat
    walk's per-record vector loop emits both, each with the record's
    (scn, subscn, block, offset)."""
    import struct

    from openlogreplicator_spark.sources.binary_redo import LWN_HEADER

    undo = _rec(10, "t", "overwrite", obj=1, cols={"A": "old"})
    rec = _rec(10, "t", "update", obj=1, subscn=3, cols={"A": "new"},
               extra_vectors=[undo])
    data = encode_redo_file([_rec(9, "t", "begin"), rec], 1)
    # the file really holds ONE two-vector record after the begin
    first = BLOCK_SIZE + 16 + LWN_HEADER
    (size,) = struct.unpack_from("<I", data, first)
    _, scn, subscn, n_vec = struct.unpack_from("<IQHH", data, first + size)
    assert (scn, subscn, n_vec) == (10, 3, 2)
    out = parse_redo_bytes(data, "t")
    assert [r["opcode"] for r in out] == ["begin", "update", "overwrite"]
    v1, v2 = out[1:]
    where = ("scn", "subscn", "block", "offset")
    assert [v1[k] for k in where] == [v2[k] for k in where]
    assert (v1["scn"], v1["subscn"]) == (10, 3)
    assert v1["cols"] == {"A": "new"} and v2["cols"] == {"A": "old"}


def test_corruption_detected():
    recs = [_rec(i, "t", "begin") for i in range(5)]
    blob = bytearray(encode_redo_file(recs, 1))
    blob[BLOCK_SIZE + 200] ^= 0x01  # flip one payload bit in block 1
    with pytest.raises(ValueError, match="checksum"):
        parse_redo_bytes(bytes(blob), "t")
    blob2 = bytearray(encode_redo_file(recs, 1))
    blob2[BLOCK_SIZE] = 0x77  # break the signature byte
    with pytest.raises(ValueError, match="signature"):
        parse_redo_bytes(bytes(blob2), "t")


def test_lwn_headers_heartbeat_scan():
    """B8: the header-only scan yields one chkpt row per LWN with the
    group's record count and checkpoint SCN."""
    from openlogreplicator_spark.sources.binary_redo import lwn_headers

    recs = [_rec(i, "t", "begin") for i in range(LWN_MAX_RECORDS + 10)]
    blob = encode_redo_file(recs, sequence=9)
    hbs = lwn_headers(blob, "t")
    assert len(hbs) == 2  # 266 records → two LWN groups
    assert hbs[0]["seq"] == 9
    assert hbs[0]["n_records"] == LWN_MAX_RECORDS
    assert hbs[1]["n_records"] == 10
    assert hbs[0]["c_scn"] == LWN_MAX_RECORDS - 1  # max scn in group
    assert hbs[0]["block"] == 1
    assert hbs[1]["block"] == 1 + hbs[0]["lwn_blocks"]


def test_distributed_write_and_parse(spark, tmp_path):
    from openlogreplicator_spark.event_model import REDO_RECORD_SCHEMA

    recs = []
    for t in range(20):
        recs.append(_rec(t * 100, f"x{t}", "begin"))
        for j in range(5):
            recs.append(
                _rec(t * 100 + 1 + j, f"x{t}", "insert", obj=j, bdba=t,
                     slot=j, cols={"v": str(j)})
            )
        recs.append(_rec(t * 100 + 99, f"x{t}", "commit"))
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in REDO_RECORD_SCHEMA.fields) for r in recs],
        REDO_RECORD_SCHEMA,
    )
    out_dir = str(tmp_path / "redo")
    write_binary_redo(df, out_dir, n_files=4)
    assert os.path.exists(os.path.join(out_dir, "_SUCCESS"))
    back = parse_redo_files(spark, out_dir)
    got = sorted(
        (r.scn, r.xid, r.opcode) for r in back.collect()
    )
    assert got == sorted((r["scn"], r["xid"], r["opcode"]) for r in recs)


def test_binary_assembly_matches_typed(spark, sf_dir):
    """cdc_txn_assembly_binary (binary front half) must produce exactly
    the typed pipeline's output."""
    from openlogreplicator_spark.operators.cdc import (
        cdc_txn_assembly,
        cdc_txn_assembly_binary,
    )

    typed_df = cdc_txn_assembly(spark, sf_dir)
    binary_df = cdc_txn_assembly_binary(spark, sf_dir)
    typed = {tuple(r) for r in typed_df.collect()}
    # binary additionally emits price/ship_ts, which travel as Oracle
    # NUMBER / 7-byte DATE byte images — compare the shared surface
    # exactly, then check the typed images decoded to non-null values
    binary_rows = binary_df.collect()
    binary = {tuple(r)[: len(typed_df.columns)] for r in binary_rows}
    assert typed == binary
    assert len(binary) > 0
    assert all(r.price is not None and r.ship_ts is not None for r in binary_rows)


def test_typed_images_roundtrip():
    """v2 typed column images: values travel as Oracle NUMBER (base-100
    mantissa, Builder.h:422-568) and 7-byte DATE / 11-byte TIMESTAMP
    bytes (Builder.cpp:210-252) inside the vector payload, and the parse
    plane's kernel dispatch restores the canonical strings."""
    from openlogreplicator_spark.sources.binary_redo import TYPE_NUMBER, _enc_value

    recs = [
        _rec(1, "t1", "insert", obj=5, bdba=9, slot=1,
             cols={"qty": "37", "price": "1234.56", "neg": "-0.05",
                   "d": "1997-03-14 08:30:01", "ts": "1997-03-14 08:30:01.000000123",
                   "name": "plain", "nul": None}),
        _rec(2, "t1", "commit"),
    ]
    types = {"qty": "number", "price": "number", "neg": "number",
             "d": "date", "ts": "timestamp"}
    out = parse_redo_bytes(encode_redo_file(recs, 1, col_types=types), "t")
    got = out[0]["cols"]
    assert got["qty"] == "37"
    assert got["price"] == "1234.56"
    assert got["neg"] == "-0.05"
    assert got["d"] == "1997-03-14 08:30:01"
    assert got["ts"].startswith("1997-03-14 08:30:01.")
    assert int(got["ts"].split(".")[1]) == 123
    assert got["name"] == "plain"
    assert got["nul"] is None
    # the wire bytes really are Oracle images, not ASCII
    assert _enc_value("37", TYPE_NUMBER)[3:] == b"\xc1\x26"


def test_v3_typed_images_roundtrip():
    """v3 tags: charset text (u8 charset index + encoded bytes,
    parseString Builder.cpp:129-133), BINARY_DOUBLE (IEEE + Oracle
    sign-flip, Builder.cpp:258-270) and RAW (hex passthrough,
    Builder.cpp:254-256) round-trip through the physical file."""
    from openlogreplicator_spark.sources.binary_redo import (
        TYPE_BDOUBLE,
        TYPE_CSTEXT,
        TYPE_RAW,
        _enc_value,
    )

    recs = [
        _rec(1, "t1", "insert", obj=5, bdba=9, slot=1,
             cols={"note": "返品 F", "cn": "数据库", "w": "café",
                   "disc": "0.04", "negd": "-123.5", "raw": "deadbeef00"}),
        _rec(2, "t1", "commit"),
    ]
    types = {"note": "varchar2:JA16SJIS", "cn": "varchar2:ZHS16GBK",
             "w": "varchar2:WE8MSWIN1252", "disc": "binary_double",
             "negd": "binary_double", "raw": "raw"}
    out = parse_redo_bytes(encode_redo_file(recs, 1, col_types=types), "t")
    got = out[0]["cols"]
    assert got["note"] == "返品 F"
    assert got["cn"] == "数据库"
    assert got["w"] == "café"
    assert float(got["disc"]) == 0.04
    assert float(got["negd"]) == -123.5
    assert got["raw"] == "deadbeef00"
    # the wire bytes really are charset-encoded, not UTF-8: Shift-JIS
    # 返 is 0x95D4 (charset index byte 1 leads the payload)
    wire = _enc_value("返品 F", TYPE_CSTEXT, 1)[3:]
    assert wire[0] == 1 and wire[1:3] == b"\x95\xd4"
    # BINARY_DOUBLE positive → MSB set (Oracle order-preserving form)
    assert _enc_value("0.04", TYPE_BDOUBLE)[3] & 0x80
    # negative → all bits inverted (leading byte has MSB clear)
    assert not _enc_value("-123.5", TYPE_BDOUBLE)[3] & 0x80
    assert _enc_value("deadbeef00", TYPE_RAW)[3:] == b"\xde\xad\xbe\xef\x00"


def test_v5_positional_cols_round_trip():
    """KDO-shaped positional framing: nulls bitmap + dictionary resolve,
    with k/v fallback for objects outside the positional dict and
    schemaless COL_<n> fallback when no dictionary is supplied
    (OpCode.h KDO parse / Builder.cpp:96-100,1382-1426)."""
    from openlogreplicator_spark.sources.binary_redo import (
        FLAG_POSITIONAL,
        encode_redo_file,
        parse_redo_bytes,
    )

    def rec(scn, opcode, obj=0, cols=None, slot=None):
        return {
            "scn": scn, "subscn": 0, "block": 0, "offset": 0, "seq": 1,
            "xid": "1", "opcode": opcode, "obj": obj,
            "bdba": 1 if cols else None, "slot": slot, "fb": 0,
            "cols": cols, "rows": None,
        }

    recs = [
        rec(1000, "begin"),
        rec(1001, "insert", 1001, {"q": "5", "p": "123.45", "d": None}, 1),
        rec(1002, "insert", 9999, {"a": "x", "b": None}, 2),
        rec(1999, "commit"),
    ]
    pos_dicts = {1001: ["q", "p", "d"]}
    data = encode_redo_file(
        recs, 1, col_types={"q": "number", "p": "number"},
        pos_dicts=pos_dicts,
    )

    out = [r for r in parse_redo_bytes(data, dictionary=pos_dicts)
           if r["opcode"] == "insert"]
    assert out[0]["cols"] == {"q": "5", "p": "123.45", "d": None}
    assert out[1]["cols"] == {"a": "x", "b": None}  # k/v fallback

    # no dictionary → schemaless positional names, exactly the
    # reference's COL_<n> rendering
    bare = [r for r in parse_redo_bytes(data)
            if r["opcode"] == "insert"][0]
    assert bare["cols"] == {"COL_0": "5", "COL_1": "123.45", "COL_2": None}

    # the positional vector really has no column names in the stream
    assert FLAG_POSITIONAL == 0x08
    assert b"l_qty" not in data and b"\x01q\x00" not in data


def test_dump_redo_log_layout():
    """dump-redo-log debug surface (Parser.cpp:143-201 layout analog):
    RBA-addressed record headers, SCN lines, per-vector CHANGE lines
    with column images; rollback variant flagged."""
    from openlogreplicator_spark.sources.binary_redo import (
        dump_redo_log,
        encode_redo_file,
    )

    def rec(scn, opcode, obj=0, cols=None, bdba=None, slot=None):
        return {"scn": scn, "subscn": 0, "block": 0, "offset": 0,
                "seq": 1, "xid": "7", "opcode": opcode, "obj": obj,
                "bdba": bdba, "slot": slot, "fb": 0, "cols": cols,
                "rows": None}

    data = encode_redo_file(
        [rec(1000, "begin"),
         rec(1001, "insert", 7, {"q": "5", "d": None}, 1, 1),
         rec(1999, "rollback")],
        3,
    )
    text = dump_redo_log(data, raw=True)
    assert "REDO RECORD - Thread:1 RBA: 0x000003." in text
    assert "SCN: 0x00000000000003e8" in text
    assert "OP:5.2" in text and "OP:11.2" in text
    assert "OP:5.4" in text and "ROLLBACK" in text
    assert 'col q = "5"' in text and "col d = NULL" in text
    assert "## H: [" in text  # raw header hex lines


def test_typed_images_fixture_regeneration_deterministic(spark, sf_dir):
    """Round-3 driver red was a hash divergence the local mirror could
    not reproduce: prove the weakest link — fixture regeneration plus
    the full parse/decode path — is bit-deterministic across two
    independent generations, and that fval hashes as a DOUBLE (not a
    Python repr string racing DuckDB's float formatter)."""
    import shutil

    from openlogreplicator_spark.operators.cdc import (
        _typed_images_redo_dir,
        cdc_typed_images_binary,
    )

    from openlogreplicator_spark.operators.cdc import _source_stamp

    def _fixture_path():
        import os
        import tempfile

        return os.path.join(
            tempfile.gettempdir(),
            "olrs_typed_images_v7",
            os.path.basename(os.path.normpath(sf_dir))
            + "-" + _source_stamp(sf_dir, "orders"),
        )

    def run_once():
        shutil.rmtree(_fixture_path(), ignore_errors=True)
        out = _typed_images_redo_dir(spark, sf_dir)
        assert out == _fixture_path()
        df = cdc_typed_images_binary(spark, sf_dir)
        assert dict(df.dtypes)["fval"] == "double"
        return sorted(tuple(r) for r in df.collect())

    first = run_once()
    second = run_once()
    assert first == second and len(first) > 0


def test_db_timezone_threads_into_tsltz_decode():
    """TIMESTAMP WITH LOCAL TIME ZONE decodes against the CONFIGURED
    database zone (EngineConfig.db_timezone_seconds → parse plane), not
    a module constant: the same wall-clock image yields different UTC
    instants under different zones."""
    utc_canonical = "1997-03-14 06:30:01.000000000"
    recs = [
        _rec(1, "t", "insert", obj=1, bdba=1, slot=1,
             cols={"lt": utc_canonical}),
        _rec(2, "t", "commit"),
    ]
    data = encode_redo_file(recs, 1, col_types={"lt": "timestamp_ltz"})
    # the fixture writer encodes at the +02:00 default; decoding at the
    # matching zone round-trips, decoding at +09:00 shifts by 7 hours
    assert parse_redo_bytes(data, "t")[0]["cols"]["lt"] == utc_canonical
    shifted = parse_redo_bytes(data, "t", db_tz=9 * 3600)[0]["cols"]["lt"]
    assert shifted == "1997-03-13 23:30:01.000000000"


def _damage_record(data: bytes, rec_sizes: list[int], idx: int) -> bytes:
    """Overwrite record `idx`'s first vector opcode with 0xFFFF (an
    unknown code — vector analysis fails, framing stays intact) and
    recompute the touched block's XOR-fold checksum, so the corruption
    reaches the record walk like a cancelling bit error would."""
    import struct as _struct

    from openlogreplicator_spark.sources.binary_redo import (
        _fold_checksum,
    )

    LWN_HEADER, REC_HEADER, PAYLOAD = 24, 16, BLOCK_SIZE - 16
    p = LWN_HEADER + sum(rec_sizes[:idx]) + REC_HEADER  # vector opcode u16
    buf = bytearray(data)
    touched = set()
    for i, byte in enumerate(b"\xff\xff"):
        q = p + i
        buf[(q // PAYLOAD + 1) * BLOCK_SIZE + 16 + q % PAYLOAD] = byte
        touched.add(q // PAYLOAD)
    for b in touched:
        base = (b + 1) * BLOCK_SIZE
        _struct.pack_into(
            "<H", buf, base + 2,
            _fold_checksum(bytearray(buf[base:base + BLOCK_SIZE])),
        )
    return bytes(buf)


def test_ignore_data_errors_skips_damaged_record():
    """REDO_FLAGS::IGNORE_DATA_ERRORS (Ctx.h:91 bit 4; consumer
    Parser.cpp:1468-1479): strict mode aborts the parse with the
    controlled numbered corruption error; flag mode logs warning 60013,
    emits EVERY undamaged record, and surfaces one opcode='warn'
    diagnostic row in the damaged record's place."""
    from openlogreplicator_spark.sources.binary_redo import DecodeOpts

    recs = []
    for i in range(1, 4):
        recs += [
            _rec(i * 100, f"x{i}", "begin"),
            _rec(i * 100 + 1, f"x{i}", "insert", obj=1, bdba=5, slot=0,
                 cols={"v": f"row{i}"}),
            _rec(i * 100 + 9, f"x{i}", "commit"),
        ]
    data = encode_redo_file(recs, sequence=1)
    sizes = [len(encode_record(r)) for r in recs]
    damaged = _damage_record(data, sizes, 4)  # x2's insert

    # strict mode: the whole parse aborts, numbered corruption error
    with pytest.raises(ValueError, match="corrupt record structure"):
        parse_redo_bytes(damaged, "t")

    # flag mode: 8 undamaged records + 1 warn diagnostic
    opts = DecodeOpts(db_tz=2 * 3600, ignore_data_errors=True)
    out = parse_redo_bytes(damaged, "t", db_tz=opts)
    warns = [r for r in out if r["opcode"] == "warn"]
    good = [r for r in out if r["opcode"] != "warn"]
    assert [(r["scn"], r["opcode"]) for r in good] == [
        (r["scn"], r["opcode"]) for i, r in enumerate(recs) if i != 4
    ]
    assert good[3]["cols"] is None or "v" not in (good[3]["cols"] or {})
    assert len(warns) == 1
    w = warns[0]
    assert w["scn"] == recs[4]["scn"]
    assert w["cols"]["code"] == "60013"
    assert "forced to continue" in w["cols"]["msg"]
    assert "corrupt record" in w["cols"]["error"]
    # an undamaged file parses identically under the flag
    assert parse_redo_bytes(data, "t", db_tz=opts) == parse_redo_bytes(
        data, "t"
    )


def test_damage_records_by_scn_targets_exact_set():
    """r12 ADVICE helper: scn-targeted damage hits EVERY matching
    record (set or predicate form), leaves non-matching files
    byte-identical, and the damaged records surface as 60013 warn rows
    under IGNORE_DATA_ERRORS while all other records still parse."""
    from openlogreplicator_spark.sources.binary_redo import (
        DecodeOpts,
        damage_records_by_scn,
    )

    recs = []
    for i in range(1, 5):
        recs += [
            _rec(i * 100, f"x{i}", "begin"),
            _rec(i * 100 + 1, f"x{i}", "insert", obj=1, bdba=5, slot=0,
                 cols={"v": f"row{i}"}),
            _rec(i * 100 + 9, f"x{i}", "commit"),
        ]
    data = encode_redo_file(recs, sequence=1)

    # predicate form: every insert of an even-indexed txn
    damaged, n = damage_records_by_scn(
        data, lambda scn: scn % 100 == 1 and (scn // 100) % 2 == 0
    )
    assert n == 2  # x2 and x4's inserts
    opts = DecodeOpts(db_tz=2 * 3600, ignore_data_errors=True)
    out = parse_redo_bytes(damaged, "t", db_tz=opts)
    warns = [r for r in out if r["opcode"] == "warn"]
    assert sorted(w["scn"] for w in warns) == [201, 401]
    assert all(w["cols"]["code"] == "60013" for w in warns)
    assert sum(r["opcode"] != "warn" for r in out) == len(recs) - 2

    # set form agrees with the predicate form byte-for-byte
    damaged2, n2 = damage_records_by_scn(data, {201, 401})
    assert n2 == 2 and damaged2 == damaged

    # no match → untouched bytes, zero count (the empty-partition case
    # that used to IndexError the per-position damage)
    same, zero = damage_records_by_scn(data, {999999})
    assert zero == 0 and same == data


def test_ignore_data_errors_spark_reader(spark, tmp_path):
    """The flag threads parse_redo_files → DecodeOpts → the executor
    walk: a damaged file degrades per-record instead of failing the
    Spark task."""
    recs = []
    for i in range(1, 4):
        recs += [
            _rec(i * 100, f"x{i}", "begin"),
            _rec(i * 100 + 1, f"x{i}", "insert", obj=1, bdba=5, slot=0,
                 cols={"v": f"row{i}"}),
            _rec(i * 100 + 9, f"x{i}", "commit"),
        ]
    data = encode_redo_file(recs, sequence=1)
    sizes = [len(encode_record(r)) for r in recs]
    out_dir = tmp_path / "redo"
    out_dir.mkdir()
    (out_dir / "1.olrs").write_bytes(_damage_record(data, sizes, 4))

    rows = parse_redo_files(
        spark, str(out_dir), ignore_data_errors=True
    ).collect()
    assert sum(r.opcode == "warn" for r in rows) == 1
    assert sum(r.opcode != "warn" for r in rows) == len(recs) - 1
    with pytest.raises(Exception, match="corrupt record structure"):
        parse_redo_files(spark, str(out_dir)).collect()


def test_bitflip_corruption_fails_controlled():
    """r10 fuzz contract at the block layer: random bit flips either
    fail the XOR-fold checksum (controlled ValueError, like the
    reference's block checks) or — when cancelling flips slip past the
    weak fold, the reference's calcChSum has the same blind spot —
    fail the record walk as the CONTROLLED redo-corruption ValueError,
    never a raw KeyError/IndexError/UnicodeDecodeError from deep
    inside the walk."""
    import random

    from openlogreplicator_spark.sources.binary_redo import (
        encode_redo_file,
        parse_redo_bytes,
    )

    recs = []
    for i in range(1, 8):
        for op, scn, cols in (
            ("begin", i * 100, None),
            ("insert", i * 100 + 1, {"v": "x"}),
            ("commit", i * 100 + 9, None),
        ):
            recs.append(
                {"scn": scn, "subscn": 0, "block": 1, "offset": 0,
                 "seq": 1, "xid": f"{i}", "opcode": op, "obj": 1,
                 "bdba": 5 if op == "insert" else None,
                 "slot": 0 if op == "insert" else None, "fb": 0,
                 "cols": cols, "rows": None}
            )
    data = bytearray(encode_redo_file(recs, sequence=1))
    rng = random.Random(3)
    from openlogreplicator_spark.sources.binary_redo import DecodeOpts

    lenient = DecodeOpts(db_tz=2 * 3600, ignore_data_errors=True)
    for _ in range(1500):
        buf = bytearray(data)
        for _f in range(rng.randint(1, 4)):
            pos = rng.randrange(len(buf))
            buf[pos] ^= 1 << rng.randrange(8)
        try:
            parse_redo_bytes(bytes(buf))
        except ValueError:
            pass  # the controlled corruption contract
        # IGNORE_DATA_ERRORS keeps the same contract: framing errors
        # stay the controlled ValueError, analysis errors degrade to
        # warn rows — never a raw exception, never a hang
        try:
            parse_redo_bytes(bytes(buf), db_tz=lenient)
        except ValueError:
            pass


def test_zeroed_lwn_span_is_controlled_error_not_hang():
    """r10 review pass 5: cancelling bit flips can zero an LWN header's
    span while passing the XOR-fold checksum; an unguarded walk would
    spin forever on cur += 0. Both the zero and the oversized span must
    fail as the controlled corruption error."""
    import struct as _struct

    import pytest

    from openlogreplicator_spark.sources.binary_redo import (
        BLOCK_SIZE,
        encode_redo_file,
        parse_redo_bytes,
    )

    recs = [
        {"scn": 100, "subscn": 0, "block": 1, "offset": 0, "seq": 1,
         "xid": "1", "opcode": "begin", "obj": 1, "bdba": None,
         "slot": None, "fb": 0, "cols": None, "rows": None},
        {"scn": 101, "subscn": 0, "block": 1, "offset": 0, "seq": 1,
         "xid": "1", "opcode": "commit", "obj": 1, "bdba": None,
         "slot": None, "fb": 0, "cols": None, "rows": None},
    ]
    data = bytearray(encode_redo_file(recs, sequence=1))

    def patch_lwn(span, n_records=None):
        buf = bytearray(data)
        base = BLOCK_SIZE + 16  # first LWN header in block 1
        _struct.pack_into("<I", buf, base, span)
        if n_records is not None:
            _struct.pack_into("<I", buf, base + 4, n_records)
        # recompute the block's checksum so the corruption is the span,
        # not a checksum mismatch (the cancelling-flip scenario)
        blk = bytes(buf[BLOCK_SIZE:2 * BLOCK_SIZE])
        words = _struct.unpack(f"<{BLOCK_SIZE // 8}Q", blk)
        w0 = words[0] & ~0xFFFF0000
        x = 0
        for w in words[1:]:
            x ^= w
        x ^= w0
        x ^= (x >> 32)
        x ^= (x >> 16)
        _struct.pack_into("<H", buf, BLOCK_SIZE + 2, x & 0xFFFF)
        return bytes(buf)

    with pytest.raises(ValueError, match="corrupt LWN header"):
        parse_redo_bytes(patch_lwn(0, 0))
    with pytest.raises(ValueError, match="corrupt LWN header"):
        parse_redo_bytes(patch_lwn(10_000))


def test_ignore_data_errors_streaming_engine_e2e(spark, tmp_path):
    """flags bit 4 end to end: reference JSON config → EngineConfig →
    build_pipeline → streaming parse — a damaged record degrades to the
    60013 log path and every undamaged transaction's events reach the
    sink; warn diagnostics never do (the reference's warning goes to
    the LOG, not the stream). Without the flag the same fixture kills
    the query with the numbered corruption error."""
    from conftest import drain
    from openlogreplicator_spark.sources.binary_redo import (
        damage_nth_record,
    )
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.streaming.engine import build_pipeline

    recs = []
    for i in range(1, 5):
        recs += [
            _rec(i * 100, f"7.0.{i}", "begin"),
            _rec(i * 100 + 1, f"7.0.{i}", "insert", obj=9, bdba=5,
                 slot=0, cols={"v": f"row{i}"}),
            _rec(i * 100 + 9, f"7.0.{i}", "commit"),
        ]
    data = damage_nth_record(encode_redo_file(recs, sequence=1), 1)
    redo_dir = tmp_path / "redo"
    redo_dir.mkdir()
    (redo_dir / "0001.olrs").write_bytes(data)

    def run(flag, name, ckpt):
        cfg = EngineConfig(
            fmt=Format(skip_begin=True, skip_commit=True),
            ignore_data_errors=flag,
        )
        return build_pipeline(
            spark, cfg, str(redo_dir), checkpoint=str(tmp_path / ckpt),
            sink="memory", query_name=name,
        )

    import json as _json

    q = run(True, "olr_ide_e2e", "ck1")
    drain(q)
    docs = [
        _json.loads(r.value)
        for r in spark.sql("select value from olr_ide_e2e").collect()
    ]
    # the damaged record was txn 7.0.1's only insert — its transaction
    # emits nothing; the other three emit one 'c' each; no warn rows
    # reach the sink (the 60013 path is log-only, like the reference)
    assert sorted(d["xid"] for d in docs) == ["7.0.2", "7.0.3", "7.0.4"]
    assert all(d["payload"][0]["op"] == "c" for d in docs)

    # strict mode: the same fixture aborts the stream with the
    # controlled numbered error
    q2 = run(False, "olr_ide_strict", "ck2")
    with pytest.raises(Exception, match="corrupt record structure"):
        q2.awaitTermination(120)
    if q2.isActive:
        q2.stop()


def test_segment_writer_straddles_and_assembles(spark, tmp_path):
    """write_binary_redo_segments (the S4 sequence-segment layout):
    files are scn-contiguous with mtimes in sequence order, a
    transaction STRADDLES segments when its commit lands in a later scn
    range, and the paced streaming drain assembles it identically to
    the batch oracle."""
    from conftest import drain
    from openlogreplicator_spark.event_model import REDO_RECORD_SCHEMA
    from openlogreplicator_spark.sources.binary_redo import (
        write_binary_redo_segments,
    )
    from openlogreplicator_spark.streaming.assembly import (
        streaming_assemble,
    )

    recs = []
    for t in range(12):
        recs.append(_rec(t * 100, f"x{t}", "begin"))
        recs.append(_rec(t * 100 + 1, f"x{t}", "insert", obj=9, bdba=t,
                         slot=0, cols={"v": str(t)}))
        # commit 3 transactions later — straddles the 4-file split
        recs.append(_rec(min(t + 3, 11) * 100 + 9, f"x{t}", "commit"))
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in REDO_RECORD_SCHEMA.fields) for r in recs],
        REDO_RECORD_SCHEMA,
    )
    out = str(tmp_path / "seg")
    write_binary_redo_segments(df, out, n_files=4)
    files = sorted(f for f in os.listdir(out) if f.endswith(".olrs"))
    assert len(files) == 4
    mtimes = [os.path.getmtime(os.path.join(out, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    # scn ranges are contiguous across files, and at least one txn's
    # records span two files (the straddle this layout exists for)
    per_file = [
        parse_redo_bytes(open(os.path.join(out, f), "rb").read(), f)
        for f in files
    ]
    maxs = [max(r["scn"] for r in rows) for rows in per_file if rows]
    mins = [min(r["scn"] for r in rows) for rows in per_file if rows]
    assert all(maxs[i] <= mins[i + 1] for i in range(len(maxs) - 1))
    xid_files = {}
    for i, rows in enumerate(per_file):
        for r in rows:
            xid_files.setdefault(r["xid"], set()).add(i)
    assert any(len(v) > 1 for v in xid_files.values()), "no straddle"
    # paced streaming assembly over the segments = full txn set
    from openlogreplicator_spark.sources.binary_redo import (
        parse_redo_stream,
    )

    assembled = streaming_assemble(
        parse_redo_stream(spark, out, max_files_per_trigger=1),
        ttl_timeout=False,
    )
    q = (
        assembled.writeStream.format("memory").queryName("seg_asm")
        .outputMode("append").trigger(availableNow=True).start()
    )
    drain(q)
    got = spark.sql("select xid, op from seg_asm").collect()
    assert sorted(r.xid for r in got) == sorted(f"x{t}" for t in range(12))
    assert all(r.op == "c" for r in got)
