"""Binary redo-log parse plane: block format → LWN → record → vector.

The reference's entire front half reads physical redo: 512-byte blocks
with signed headers and XOR-fold checksums (src/reader/Reader.cpp:109-169,
calcChSum :762-770), LWN (log-writer-number) groups whose header carries
the group's block span / record count / checkpoint SCN
(src/parser/Parser.cpp:1340-1381), records packed back-to-back INSIDE the
LWN payload and split across block boundaries (Parser.cpp:1382-1452), and
per-record chains of typed change vectors (Parser.cpp:113-312).

This module re-creates that pipeline Spark-first on a documented binary
fixture format ("OLRS1") that mirrors the reference's *structure* — block
signatures, per-block checksums, LWN grouping, cross-block record split,
multi-vector records — without copying Oracle's proprietary byte layout
(real redo cannot be synthesized here anyway; what's exercised is the
full parse machinery).

Scale shape: one task per redo file (`spark.read.format("binaryFile")`
keeps each file whole), the same unit of parallelism as the reference's
one-reader-per-file thread model but multiplied across the cluster.
Block validation (signature, block number, checksum) is vectorized with
numpy over all blocks of a file at once; the record/vector walk is a
flat-offset Python loop that records integers only (no per-vector
dicts, no per-value slices), value images are unique-ified and decoded
in vectorized batches, and the output is built directly as the Arrow
RecordBatch that `mapInArrow` returns (r13, guide §4.2).

OLRS1 layout (all little-endian, 512-byte blocks):

  block 0 (file header):  magic "OLRSRED1" | u16 version | u16 block_size
                          | u32 sequence | u64 first_scn
  block N>0 header (16B): u8 0x01 | u8 0x22 (512B signature, like the
                          reference's size byte) | u16 checksum (XOR-fold
                          of the block's u64 words to 16 bits, checksum
                          field zeroed) | u32 block_number | u32 sequence
                          | u16 flags (bit0 = LWN start) | u16 reserved
  LWN header (24B, at payload start of an LWN-start block):
                          u32 lwn_blocks | u32 n_records | u64 lwn_scn
                          | u64 lwn_ts_us
  record header (16B):    u32 record_size (incl. header) | u64 scn
                          | u16 subscn | u16 n_vectors
  vector:                 u16 opcode | u32 obj (~0 null) | u32 bdba (~0
                          null) | u16 slot (0xFFFF null) | u8 fb
                          | u8 flags (bit0 cols, bit1 rows, bit2
                          rollback-variant of 5.4) | u16 xid_len | xid
                          | [u16 n_cols | (u16 klen k VALUE)*]
                          | [u16 n_rows | (u16 n_cols ...)*]
  VALUE (v1):             u16 vlen (0xFFFF null) | vlen utf-8 bytes
  VALUE (v2):             u16 vlen (0xFFFF null) | u8 type | vlen bytes —
                          type 0 utf-8 string, 1 Oracle NUMBER (base-100
                          mantissa/exponent, Builder.h:422-568), 2 Oracle
                          7-byte DATE (Builder.cpp:210-252), 3 Oracle
                          11-byte TIMESTAMP. Version 3 adds: 4 charset
                          text (u8 charset-table index + bytes in that
                          charset; parseString Builder.cpp:129-133),
                          5 BINARY_DOUBLE (8-byte IEEE, Oracle sign-flip,
                          Builder.cpp:258-270), 6 RAW (hex passthrough,
                          Builder.cpp:254-256). Version 4 adds:
                          7 TIMESTAMP WITH TZ (13-byte offset form,
                          Builder.cpp:272-353), 8 INTERVAL YEAR TO MONTH
                          (5 bytes, Builder.cpp:354-434), 9 INTERVAL DAY
                          TO SECOND (11 bytes, Builder.cpp:435-590),
                          10 BOOLEAN (1 byte, Builder.cpp:591-600),
                          11 UROWID (13-byte physical form,
                          Builder.cpp:601-613). Versions 2+ carry column
                          images in Oracle's actual byte forms so the
                          byte-accurate kernels in functions/
                          oracle_types.py run inside the parse plane,
                          exactly where the reference decodes them
                          (the k/v *framing* stays OLRS1's own — Oracle's
                          KDO field layouts are not copied).

Records never straddle LWNs; they do straddle blocks (the writer packs
them continuously through the 496-byte payload areas), so the parser must
reassemble the LWN payload before the record walk — exactly the
reference's copy-into-LwnMember step.
"""

from __future__ import annotations

import logging
import os
import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from openlogreplicator_spark.event_model import REDO_RECORD_SCHEMA


from openlogreplicator_spark.functions.oracle_types import (
    DB_TIMEZONE_SECONDS as DB_TZ_DEFAULT,
    charset_decode,
    column_unknown,
    decode_binary_double,
    decode_binary_float,
    decode_boolean,
    decode_date,
    decode_interval_ds,
    decode_interval_ym,
    decode_number,
    decode_timestamp,
    decode_timestamp_ltz,
    decode_timestamp_tz,
    decode_urowid,
    encode_binary_double,
    encode_binary_float,
    encode_boolean,
    encode_date,
    encode_interval_ds,
    encode_interval_ym,
    encode_number,
    encode_timestamp,
    encode_timestamp_ltz,
    encode_timestamp_tz,
    encode_urowid,
)


class DecodeOpts(NamedTuple):
    """Decode-plane options riding the existing db_tz parameter slots:
    (db_tz, interval_dts, interval_ytm). Everywhere a plain int is
    still accepted (normalized by _opts) so the historical
    db_tz-threading call sites keep working; the interval fields select
    the INTERVAL_DTS_FORMAT / INTERVAL_YTM_FORMAT rendering variants
    (Format.h:54-74, kernels functions/oracle_types.py)."""

    db_tz: int
    interval_dts: str = "iso8601_space"
    interval_ytm: str = "string_ym_dash"
    # CHAR_FORMAT (Format.h:42-46 bits; consumers Builder.h:1089-1184):
    # "default" translates per charset; "nomapping" passes bytes
    # through untranslated; "hex" dumps hex (dominates when both bits
    # are set, like the reference's isCharFormatHex branch)
    char_format: str = "default"
    # TIMESTAMP_TZ_FORMAT (Format.h:31-44) — TSTZ column rendering;
    # "iso8601_nano" is this engine's canonical (pre-matrix) default
    timestamp_tz: str = "iso8601_nano"
    # TIMESTAMP_FORMAT for COLUMN values (Format.h:117-134; the header
    # tm uses Format.timestamp via the builders) — same canonical default
    timestamp_column: str = "iso8601_nano"
    # UNKNOWN_FORMAT (Format.h:177-180) — malformed-byte fallback render
    # of the typed kernels (columnUnknown, Builder.h:395-405):
    # "question" → '?', "dump" → the byte image as hex
    unknown: str = "question"
    # REDO_FLAGS::IGNORE_DATA_ERRORS (Ctx.h:91 bit 4; consumer
    # Parser.cpp:1468-1479): a record whose VECTOR analysis fails
    # logs the error plus warning 60013 ("forced to continue working
    # in spite of error") and the walk continues with the next record,
    # instead of aborting the whole parse. Framing errors (LWN span,
    # record size overruns — the reference's copy phase, not
    # analyzeLwn) stay fatal in both modes.
    ignore_data_errors: bool = False


def _opts(o) -> "DecodeOpts":
    return o if isinstance(o, DecodeOpts) else DecodeOpts(db_tz=int(o))


# executor-side log surface for the per-record degradation path — the
# analog of the reference's ctx->error/ctx->warning stream (Ctx.cpp);
# lands in the Spark executor log
_LOG = logging.getLogger("openlogreplicator_spark.binary_redo")

BLOCK_SIZE = 512
PAYLOAD = BLOCK_SIZE - 16
VERSION = 5
MAGIC = b"OLRSRED1"
SIG0, SIG1 = 0x01, 0x22
FLAG_LWN_START = 0x0001
FLAG_POSITIONAL = 0x08  # vector flag bit3: KDO positional column framing
LWN_HEADER = 24
REC_HEADER = 16
LWN_MAX_RECORDS = 256

NULL32 = 0xFFFFFFFF
NULL16 = 0xFFFF

# v2+ typed-value tags: the writer picks the tag from a column-type map,
# the parse plane dispatches to the matching oracle_types kernel. v3 adds
# the remaining scalar decode paths of Builder.cpp: charset-encoded text
# (parseString, Builder.cpp:129-133 — payload leads with a charset-table
# index byte), BINARY_DOUBLE (IEEE with Oracle sign-flip,
# Builder.cpp:258-270) and RAW (hex passthrough, Builder.cpp:254-256).
TYPE_STR = 0
TYPE_NUMBER = 1
TYPE_DATE = 2
TYPE_TS = 3
TYPE_CSTEXT = 4
TYPE_BDOUBLE = 5
TYPE_RAW = 6
# v4: the remaining scalar column-image forms of Builder.cpp —
# TIMESTAMP WITH TZ 13-byte offset form (Builder.cpp:272-353), INTERVAL
# YEAR TO MONTH / DAY TO SECOND 5/11-byte forms (Builder.cpp:354-590),
# BOOLEAN 1-byte (Builder.cpp:591-600) and UROWID 13-byte physical-rowid
# form (Builder.cpp:601-613, RowId.h:114-131).
TYPE_TSTZ = 7
TYPE_IYM = 8
TYPE_IDS = 9
TYPE_BOOL = 10
TYPE_UROWID = 11
TYPE_TSLTZ = 12   # wall clock in the DB timezone → UTC instant
TYPE_BFLOAT = 13  # sign-flipped IEEE float (Builder.cpp:258-270)

# charset-table indices for TYPE_CSTEXT payloads (u8 prefix); names are
# Oracle charset ids resolved by functions.oracle_types.charset_decode.
CHARSET_TABLE = ("AL32UTF8", "JA16SJIS", "ZHS16GBK", "WE8MSWIN1252")
_CHARSET_PY = ("utf-8", "shift_jis", "gbk", "cp1252")

_TYPE_BY_NAME = {"number": TYPE_NUMBER, "date": TYPE_DATE, "timestamp": TYPE_TS,
                 "binary_double": TYPE_BDOUBLE, "raw": TYPE_RAW,
                 "timestamp_tz": TYPE_TSTZ, "interval_ym": TYPE_IYM,
                 "interval_ds": TYPE_IDS, "boolean": TYPE_BOOL,
                 "urowid": TYPE_UROWID, "timestamp_ltz": TYPE_TSLTZ,
                 "binary_float": TYPE_BFLOAT}


def _vtype_for(type_name: str) -> tuple[int, int]:
    """Column-type name → (tag, charset index). `varchar2:<CHARSET>`
    selects TYPE_CSTEXT with that charset; anything unknown is a plain
    UTF-8 string."""
    if type_name.startswith("varchar2:"):
        return TYPE_CSTEXT, CHARSET_TABLE.index(type_name.split(":", 1)[1])
    return _TYPE_BY_NAME.get(type_name, TYPE_STR), 0

# opcode codes follow the reference's layer.operation numbering
# (OpCode.h): 5.2 begin, 5.4 commit/rollback (flag-distinguished), 5.6
# partial rollback, 5.19 session attrs, 11.2/3/5/6 row ops, 11.4 lock,
# 11.16 supplemental log, 11.22 KDOCMP, 11.11/12 multi-row, 24.1 DDL.
OP_TO_CODE = {
    "undo": 0x0501,
    "begin": 0x0502,
    "commit": 0x0504,
    "rollback": 0x0504,  # + flags bit2
    "prollback": 0x0506,
    "attr": 0x0513,
    "insert": 0x0B02,
    "delete": 0x0B03,
    "lock": 0x0B04,
    "update": 0x0B05,
    "overwrite": 0x0B06,
    "qmi": 0x0B0B,
    "qmd": 0x0B0C,
    "supp": 0x0B10,
    "kdocmp": 0x0B16,
    "ddl": 0x1801,
}
CODE_TO_OP = {
    0x0501: "undo",
    0x0502: "begin",
    0x0504: "commit",  # flags bit2 → rollback
    0x0506: "prollback",
    0x0513: "attr",
    0x0B02: "insert",
    0x0B03: "delete",
    0x0B04: "lock",
    0x0B05: "update",
    0x0B06: "overwrite",
    0x0B0B: "qmi",
    0x0B0C: "qmd",
    0x0B10: "supp",
    0x0B16: "kdocmp",
    0x1801: "ddl",
}


# --------------------------------------------------------------------------
# encoding (fixture writer)
# --------------------------------------------------------------------------


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack("<H", len(b)) + b


CORRUPT_SENTINEL = "!CORRUPT!"
# tags whose decode kernels carry columnUnknown guards — the only ones
# the fixture sentinel may plant corrupt bytes under
_CORRUPTIBLE_TAGS = frozenset((
    TYPE_NUMBER, TYPE_DATE, TYPE_TS, TYPE_BDOUBLE, TYPE_TSTZ, TYPE_IYM,
    TYPE_IDS, TYPE_BOOL, TYPE_UROWID, TYPE_TSLTZ, TYPE_BFLOAT,
))


def _enc_value(v: str, vtype: int, cs_idx: int = 0) -> bytes:
    """v2+ typed value: canonical string → Oracle byte image + tag.

    A value of the form '!CORRUPT!<hex>' writes the raw hex bytes as
    the image under the column's type tag — the fixture's way of
    planting torn/out-of-range byte images (month 99, hour byte 0,
    mantissa digit >99, truncated TSTZ, …) so the decode plane's
    columnUnknown guards are exercised end-to-end, like a corrupt redo
    block replayed through the reference. The sentinel applies only to
    the SCALAR TYPED tags (the ones with columnUnknown guards) — text
    carriers (TYPE_STR, TYPE_CSTEXT) and RAW pass any value through
    verbatim, so user data can never be hijacked into the corrupt-bytes
    path."""
    if vtype in _CORRUPTIBLE_TAGS and v.startswith(CORRUPT_SENTINEL):
        payload = bytes.fromhex(v[len(CORRUPT_SENTINEL):])
        return struct.pack("<HB", len(payload), vtype) + payload
    if vtype == TYPE_NUMBER:
        payload = encode_number(v)
    elif vtype == TYPE_DATE:
        payload = encode_date(v)
    elif vtype == TYPE_TS:
        payload = encode_timestamp(v)
    elif vtype == TYPE_CSTEXT:
        payload = bytes([cs_idx]) + v.encode(_CHARSET_PY[cs_idx])
    elif vtype == TYPE_BDOUBLE:
        payload = encode_binary_double(float(v))
    elif vtype == TYPE_RAW:
        payload = bytes.fromhex(v)
    elif vtype == TYPE_TSTZ:
        payload = encode_timestamp_tz(v)
    elif vtype == TYPE_IYM:
        payload = encode_interval_ym(v)
    elif vtype == TYPE_IDS:
        payload = encode_interval_ds(v)
    elif vtype == TYPE_BOOL:
        payload = encode_boolean(v)
    elif vtype == TYPE_UROWID:
        payload = encode_urowid(v)
    elif vtype == TYPE_TSLTZ:
        payload = encode_timestamp_ltz(v)
    elif vtype == TYPE_BFLOAT:
        payload = encode_binary_float(float(v))
    else:
        payload = v.encode("utf-8")
    return struct.pack("<HB", len(payload), vtype) + payload


def _enc_cols_positional(
    cols: dict, names: list[str], col_types: dict | None = None
) -> bytes:
    """KDO-shaped column area: u8 column count | nulls bitmap | one
    tagged VALUE per non-null column in seg-col# order. Column names
    never enter the stream — the parser resolves (obj, col#) against the
    dictionary, as the reference resolves KDO columns against its schema
    packs."""
    extra = set(cols) - set(names)
    if extra:
        raise ValueError(
            f"positional encode: columns {sorted(extra)} not in the "
            f"dictionary's ordered name list {names} — a mismatched "
            "pos_dicts entry would silently lose column data"
        )
    cc = len(names)
    bitmap = bytearray((cc + 7) // 8)
    vals = b""
    for i, name in enumerate(names):
        v = cols.get(name)
        if v is None:
            bitmap[i // 8] |= 1 << (i % 8)
        else:
            vtype, cs_idx = _vtype_for((col_types or {}).get(name, ""))
            vals += _enc_value(v, vtype, cs_idx)
    return struct.pack("<B", cc) + bytes(bitmap) + vals


def _enc_cols(cols: dict | None, col_types: dict | None = None) -> bytes:
    out = struct.pack("<H", len(cols))
    for k in cols:
        v = cols[k]
        out += _enc_str(k)
        if v is None:
            out += struct.pack("<H", NULL16)
        else:
            vtype, cs_idx = _vtype_for((col_types or {}).get(k, ""))
            out += _enc_value(v, vtype, cs_idx)
    return out


def encode_vector(
    rec: dict,
    col_types: dict | None = None,
    pos_dicts: dict | None = None,
) -> bytes:
    op = rec["opcode"]
    code = OP_TO_CODE[op]
    flags = 0
    if op == "rollback":
        flags |= 0x04
    cols = rec.get("cols")
    rows = rec.get("rows")
    obj = rec.get("obj")
    positional = (
        cols is not None and pos_dicts is not None and obj in pos_dicts
    )
    if cols is not None:
        flags |= 0x01
    if rows is not None:
        flags |= 0x02
    if positional:
        flags |= FLAG_POSITIONAL
    bdba = rec.get("bdba")
    slot = rec.get("slot")
    out = struct.pack(
        "<HIIHBB",
        code,
        NULL32 if obj is None else int(obj),
        NULL32 if bdba is None else int(bdba),
        NULL16 if slot is None else int(slot),
        int(rec.get("fb") or 0),
        flags,
    )
    out += _enc_str(rec.get("xid") or "")
    if cols is not None:
        if positional:
            out += _enc_cols_positional(cols, pos_dicts[obj], col_types)
        else:
            out += _enc_cols(cols, col_types)
    if rows is not None:
        out += struct.pack("<H", len(rows))
        for r in rows:
            out += _enc_cols(r, col_types)
    return out


def encode_record(
    rec: dict,
    extra_vectors: list[dict] | None = None,
    col_types: dict | None = None,
    pos_dicts: dict | None = None,
) -> bytes:
    vectors = [rec] + list(extra_vectors or [])
    body = b"".join(encode_vector(v, col_types, pos_dicts) for v in vectors)
    size = REC_HEADER + len(body)
    return (
        struct.pack(
            "<IQHH", size, int(rec["scn"]), int(rec.get("subscn") or 0),
            len(vectors)
        )
        + body
    )


def _fold_checksum(block: bytearray) -> int:
    """XOR-fold of the block's u64 words down to 16 bits with the
    checksum field zeroed — semantics of Reader::calcChSum."""
    import numpy as np

    w = np.frombuffer(bytes(block), dtype="<u8").copy()
    w[0] &= ~np.uint64(0xFFFF0000)  # zero the u16 checksum at bytes 2..3
    x = int(np.bitwise_xor.reduce(w))
    x ^= x >> 32
    x ^= x >> 16
    return x & 0xFFFF


def encode_redo_file(
    records: list[dict],
    sequence: int,
    col_types: dict | None = None,
    pos_dicts: dict | None = None,
) -> bytes:
    """records (REDO_RECORD_SCHEMA dicts, already in file order) → one
    OLRS1 file: header block + LWN-grouped data blocks. `col_types`
    (column key → number|date|timestamp) selects Oracle byte images for
    those column values (v2). A record's optional ``extra_vectors``
    (record dicts) follow its own vector inside the same record, like
    the 5.1 undo vector that pairs with an 11.x redo."""
    first_scn = int(records[0]["scn"]) if records else 0

    # group into LWNs; encode each LWN's record bytes
    lwns: list[tuple[list[bytes], int, int]] = []  # (recs, lwn_scn, ts)
    for i in range(0, len(records), LWN_MAX_RECORDS):
        chunk = records[i: i + LWN_MAX_RECORDS]
        recs = [encode_record(r, r.get("extra_vectors"), col_types,
                              pos_dicts)
                for r in chunk]
        lwn_scn = max(int(r["scn"]) for r in chunk)
        lwns.append((recs, lwn_scn, 0))

    # lay LWN payloads into blocks
    blocks: list[bytearray] = []
    flags: list[int] = []
    for recs, lwn_scn, ts in lwns:
        body = b"".join(recs)
        total = LWN_HEADER + len(body)
        n_blocks = (total + PAYLOAD - 1) // PAYLOAD
        payload = (
            struct.pack("<IIQQ", n_blocks, len(recs), lwn_scn, ts) + body
        )
        for off in range(0, total, PAYLOAD):
            chunk = payload[off: off + PAYLOAD]
            blk = bytearray(BLOCK_SIZE)
            blk[16: 16 + len(chunk)] = chunk
            blocks.append(blk)
            flags.append(FLAG_LWN_START if off == 0 else 0)

    out = bytearray()
    header = bytearray(BLOCK_SIZE)
    header[:8] = MAGIC
    struct.pack_into("<HHIQ", header, 8, VERSION, BLOCK_SIZE, sequence, first_scn)
    out += header
    for i, blk in enumerate(blocks):
        struct.pack_into(
            "<BBHIIHH", blk, 0, SIG0, SIG1, 0, i + 1, sequence, flags[i], 0
        )
        struct.pack_into("<H", blk, 2, _fold_checksum(blk))
        out += blk
    return bytes(out)


def _walk_lwn_records(data: bytes):
    """Shared OLRS1 record walk for the byte-surgery helpers: yield
    ``(cur, pos, size, scn, at)`` per record — ``cur`` the LWN's base
    body-block index, ``pos`` the record's payload-relative offset,
    ``at`` the payload-offset→file-offset map for that LWN (payload
    byte q lives at body block cur + q // PAYLOAD). One walker so a
    future layout change (REC_HEADER, LWN_HEADER, block framing)
    cannot silently diverge between the damage helpers."""
    n_blocks = len(data) // BLOCK_SIZE
    cur = 0
    while cur < n_blocks - 1:
        lwn_blocks, n_records = struct.unpack_from(
            "<II", data, (cur + 1) * BLOCK_SIZE + 16
        )
        pos = LWN_HEADER  # payload-relative, within this LWN

        def at(q: int, base: int = cur) -> int:
            return (base + 1 + q // PAYLOAD) * BLOCK_SIZE + 16 + q % PAYLOAD

        def u(q: int, width: int, _at=at) -> int:
            return int.from_bytes(
                bytes(data[_at(q + i)] for i in range(width)), "little"
            )

        for _ in range(n_records):
            size = u(pos, 4)
            scn = u(pos + 4, 8)  # record header is <IQHH (encode_record)
            yield cur, pos, size, scn, at
            pos += size
        cur += lwn_blocks


def _destroy_vector_opcode(buf: bytearray, cur: int, pos: int, at,
                           touched: set) -> None:
    """Overwrite a record's first vector opcode with 0xFFFF (an unknown
    code — vector ANALYSIS fails, record FRAMING stays intact) and
    track the touched body blocks for checksum recompute."""
    for q in (pos + REC_HEADER, pos + REC_HEADER + 1):
        buf[at(q)] = 0xFF
        touched.add(cur + 1 + q // PAYLOAD)


def _recompute_checksums(buf: bytearray, touched: set) -> None:
    for b in touched:
        blk = bytearray(buf[b * BLOCK_SIZE:(b + 1) * BLOCK_SIZE])
        struct.pack_into("<H", buf, b * BLOCK_SIZE + 2, _fold_checksum(blk))


def damage_nth_record(data: bytes, n: int) -> bytes:
    """Byte-surgery fixture helper: overwrite the n-th record's first
    vector opcode with 0xFFFF and recompute the touched blocks'
    XOR-fold checksums, so the damage reaches the record walk exactly
    like a cancelling bit error would. This is the shape of corruption
    IGNORE_DATA_ERRORS (Parser.cpp:1468-1479) degrades on: strict mode
    aborts the parse, flag mode emits a warn row and continues."""
    if data[:8] != MAGIC:
        raise ValueError("not an OLRS1 file")
    buf = bytearray(data)
    idx = 0
    for cur, pos, _size, _scn, at in _walk_lwn_records(data):
        if idx == n:
            touched: set[int] = set()
            _destroy_vector_opcode(buf, cur, pos, at, touched)
            _recompute_checksums(buf, touched)
            return bytes(buf)
        idx += 1
    raise IndexError(f"file has only {idx} records, wanted {n}")


def damage_records_by_scn(data: bytes, target) -> tuple[bytes, int]:
    """Scn-targeted twin of :func:`damage_nth_record` (r12 ADVICE):
    destroy the first vector opcode of EVERY record whose header scn
    matches ``target`` (a set of scns, or a predicate scn→bool) and
    recompute the touched blocks' checksums. Returns
    ``(bytes, n_damaged)``. Targeting by scn instead of position makes
    the damaged SET derivable by a SQL oracle (the fixture picks scns
    by a key predicate) and is total on any file — a file holding none
    of the targets passes through untouched, so empty or tiny
    partitions can never fault the fixture build."""
    if data[:8] != MAGIC:
        raise ValueError("not an OLRS1 file")
    hit = target if callable(target) else target.__contains__
    buf = bytearray(data)
    touched: set[int] = set()
    n_damaged = 0
    for cur, pos, _size, scn, at in _walk_lwn_records(data):
        if hit(scn):
            _destroy_vector_opcode(buf, cur, pos, at, touched)
            n_damaged += 1
    _recompute_checksums(buf, touched)
    return bytes(buf), n_damaged


def write_binary_redo(
    redo: DataFrame,
    out_dir: str,
    n_files: int = 32,
    col_types: dict | None = None,
    pos_dicts: dict | None = None,
) -> None:
    """Distributed fixture writer: hash-partition by xid (a transaction
    never straddles files), order records within each file by the
    assembly sort key, write one OLRS1 file per partition from its
    executor. No driver-side data collect — only the tiny per-file
    summary comes back."""
    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)

    ordered = redo.repartition(n_files, "xid").sortWithinPartitions(
        "scn", "subscn", "block", "offset"
    )

    def write_partition(batches):
        import pandas as pd

        records: list[dict] = []
        for pdf in batches:
            records.extend(pdf.to_dict("records"))
        pid = TaskContext.get().partitionId()
        for r in records:
            cols = r.get("cols")
            if cols is not None and not isinstance(cols, dict):
                r["cols"] = dict(cols)  # MapType arrives as (k,v) pairs
            rows = r.get("rows")
            if rows is not None and not isinstance(rows, list):
                rows = list(rows)
            if rows is not None:
                r["rows"] = [
                    dict(x) if not isinstance(x, dict) else x for x in rows
                ]
            for f in ("obj", "bdba", "slot", "fb", "subscn"):
                v = r.get(f)
                if v is not None and pd.isna(v):
                    r[f] = None
        data = encode_redo_file(records, sequence=pid + 1,
                                col_types=col_types, pos_dicts=pos_dicts)
        path = os.path.join(out_dir, f"redo_{pid + 1:04d}.olrs")
        with open(path, "wb") as fh:
            fh.write(data)
        yield pd.DataFrame(
            {"file": [path], "n_records": [len(records)],
             "n_bytes": [len(data)]}
        )

    summary = ordered.mapInPandas(
        write_partition, schema="file string, n_records long, n_bytes long"
    ).collect()
    with open(os.path.join(out_dir, "_SUCCESS"), "w") as fh:
        fh.write("\n".join(f"{r.file}\t{r.n_records}" for r in summary))


def write_binary_redo_segments(
    redo: DataFrame,
    out_dir: str,
    n_files: int = 32,
    col_types: dict | None = None,
    pos_dicts: dict | None = None,
) -> None:
    """SEQUENCE-SEGMENT fixture writer — the S4 scheduler's real input
    layout: contiguous scn-ordered slices of the redo, one OLRS1 file
    per sequence, mtimes restored in sequence order so the streaming
    file source's mtime batching equals sequence order (the
    ordered-arrival contract, `_binary_files_stream`). Unlike
    :func:`write_binary_redo` (hash-partitioned: a transaction never
    straddles files), a transaction here STRADDLES segments whenever
    its begin and commit land in different scn ranges — the layout
    that actually exercises cross-batch assembly state under paced
    replay. Range-partitioned and encoded on executors; only the
    per-file summary returns to the driver (plus one utime pass over
    n_files paths)."""
    import time as _time

    from pyspark import TaskContext
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    ordered = redo.repartitionByRange(
        n_files, F.col("scn"), F.col("subscn"), F.col("block"),
        F.col("offset"),
    ).sortWithinPartitions("scn", "subscn", "block", "offset")

    def write_partition(batches):
        import pandas as pd

        records: list[dict] = []
        for pdf in batches:
            records.extend(pdf.to_dict("records"))
        pid = TaskContext.get().partitionId()
        for r in records:
            cols = r.get("cols")
            if cols is not None and not isinstance(cols, dict):
                r["cols"] = dict(cols)
            rows = r.get("rows")
            if rows is not None and not isinstance(rows, list):
                rows = list(rows)
            if rows is not None:
                r["rows"] = [
                    dict(x) if not isinstance(x, dict) else x for x in rows
                ]
            for f in ("obj", "bdba", "slot", "fb", "subscn"):
                v = r.get(f)
                if v is not None and pd.isna(v):
                    r[f] = None
            r["seq"] = pid + 1
        data = encode_redo_file(records, sequence=pid + 1,
                                col_types=col_types, pos_dicts=pos_dicts)
        path = os.path.join(out_dir, f"redo_{pid + 1:04d}.olrs")
        with open(path, "wb") as fh:
            fh.write(data)
        yield pd.DataFrame(
            {"file": [path], "n_records": [len(records)],
             "n_bytes": [len(data)]}
        )

    summary = ordered.mapInPandas(
        write_partition, schema="file string, n_records long, n_bytes long"
    ).collect()
    # executor writes land near-simultaneously; restore mtimes in
    # sequence order so mtime batching == sequence order
    base_t = _time.time() - 10 * len(summary) - 10
    for r in sorted(summary, key=lambda r: r.file):
        idx = int(os.path.basename(r.file).split("_")[1].split(".")[0])
        t = base_t + idx * 10
        os.utime(r.file, (t, t))
    with open(os.path.join(out_dir, "_SUCCESS"), "w") as fh:
        fh.write("\n".join(f"{r.file}\t{r.n_records}" for r in summary))


# --------------------------------------------------------------------------
# decoding (the parse plane)
# --------------------------------------------------------------------------


def _dec_value_raw(
    tagged: bytes, version: int, db_tz: int = DB_TZ_DEFAULT
) -> str | None:
    """One tagged column image (tag byte + payload) → canonical string.
    v2 runs the byte-accurate Oracle kernels (NUMBER/DATE/TIMESTAMP)
    right here in the parse plane — the same place the reference's
    OpCode decoders run."""
    o = _opts(db_tz)
    unk = o.unknown
    if not tagged:
        # a clamped overrun slice interned an EMPTY image — torn bytes,
        # the unknown render (a bare tagged[0] would IndexError)
        return column_unknown(b"", unk)
    vtype = tagged[0]
    payload = tagged[1:]
    if vtype == TYPE_NUMBER:
        return decode_number(payload, unk)
    if vtype == TYPE_DATE:
        # the reference decodes DATE and TIMESTAMP in ONE arm that
        # renders through the columnTimestamp TIMESTAMP_FORMAT matrix
        # (Builder.cpp:210-249), so DATE columns follow the format
        # selector too; the canonical iso8601_nano case keeps this
        # engine's adjudicated fraction-less DATE text (r12
        # review-pass-9)
        if o.timestamp_column != "iso8601_nano":
            return decode_timestamp(payload, o.timestamp_column, unk)
        return decode_date(payload, unk)
    if vtype == TYPE_TS:
        return decode_timestamp(payload, o.timestamp_column, unk)
    if vtype == TYPE_CSTEXT:
        # a torn charset-index byte is a corrupt image, not a crash
        # (the reference resolves the charset from the DICTIONARY, so
        # its equivalent failure is a bad column charset id → badChar)
        if not payload or payload[0] >= len(CHARSET_TABLE):
            return column_unknown(payload, unk)
        return charset_decode(
            payload[1:], CHARSET_TABLE[payload[0]], o.char_format
        )
    if vtype == TYPE_BDOUBLE:
        v = decode_binary_double(payload)
        # float-typed columnUnknown route (Builder.cpp:265-270): the
        # kernel cannot carry the '?'/hex text in a float return
        return column_unknown(payload, unk) if v is None else repr(v)
    if vtype == TYPE_RAW:
        return payload.hex()
    if vtype == TYPE_TSTZ:
        return decode_timestamp_tz(payload, o.timestamp_tz, unk)
    if vtype == TYPE_IYM:
        return decode_interval_ym(payload, o.interval_ytm, unk)
    if vtype == TYPE_IDS:
        return decode_interval_ds(payload, o.interval_dts, unk)
    if vtype == TYPE_BOOL:
        return decode_boolean(payload, unk)
    if vtype == TYPE_UROWID:
        return decode_urowid(payload, unk)
    if vtype == TYPE_TSLTZ:
        # TSLTZ rides the SAME TIMESTAMP_FORMAT matrix as DATE/TS in
        # the reference (Builder.cpp:205 → columnTimestamp)
        return decode_timestamp_ltz(
            payload, o.db_tz, unk, fmt=o.timestamp_column
        )
    if vtype == TYPE_BFLOAT:
        v = decode_binary_float(payload)
        return column_unknown(payload, unk) if v is None else repr(v)
    # TYPE_STR / unknown tag: invalid UTF-8 in a torn image replaces
    # per character instead of killing the task — the reference's
    # CharacterSet badChar path substitutes UNICODE_REPLACEMENT_
    # CHARACTER for undecodable sequences (CharacterSet.cpp) rather
    # than aborting the stream
    return payload.decode("utf-8", errors="replace")


def _fmt_datetime14(comp, extra_cols: int = 0):
    """Vectorized 'YYYY-MM-DD HH:MM:SS' render from int64 vectors of
    YYYYMMDDHHMMSS composites: digit extraction and separator insertion
    are whole-column numpy ops; only the final bytes→str hop is per
    value. ``extra_cols`` reserves trailing byte columns for callers
    that append fractional seconds."""
    import numpy as np

    n = len(comp)
    digits = np.empty((n, 14), np.uint8)
    c = comp.copy()
    for i in range(13, -1, -1):
        digits[:, i] = c % 10 + 48
        c //= 10
    m = np.empty((n, 19 + extra_cols), np.uint8)
    m[:, 0:4] = digits[:, 0:4]
    m[:, 4] = 45  # '-'
    m[:, 5:7] = digits[:, 4:6]
    m[:, 7] = 45
    m[:, 8:10] = digits[:, 6:8]
    m[:, 10] = 32  # ' '
    m[:, 11:13] = digits[:, 8:10]
    m[:, 13] = 58  # ':'
    m[:, 14:16] = digits[:, 10:12]
    m[:, 16] = 58
    m[:, 17:19] = digits[:, 12:14]
    return m


def _np_strings(m) -> list[str]:
    """(n, w) uint8 matrix → list of n ascii strings."""
    w = m.shape[1]
    return [
        x.decode("ascii")
        for x in m.reshape(-1).view(f"S{w}").tolist()
    ]


def _date_composites(a):
    """(n, ≥7) uint8 date-byte matrix → int64 YYYYMMDDHHMMSS vector."""
    x = a.astype("int64")
    y = (x[:, 0] - 100) * 100 + (x[:, 1] - 100)
    return (
        (((y * 100 + x[:, 2]) * 100 + x[:, 3]) * 100 + (x[:, 4] - 1))
        * 10000
        + (x[:, 5] - 1) * 100
        + (x[:, 6] - 1)
    )


def _nano_digits(m, a, col: int):
    """Write '.fffffffff' into byte-matrix m at ``col`` from the
    big-endian u32 nano columns of a (vectorized)."""
    import numpy as np

    x = a.astype("int64")
    nanos = (
        (x[:, -4] << 24) | (x[:, -3] << 16) | (x[:, -2] << 8) | x[:, -1]
    )
    m[:, col] = 46  # '.'
    c = nanos.copy()
    for i in range(8, -1, -1):
        m[:, col + 1 + i] = c % 10 + 48
        c //= 10


def _pair_strings(vals):
    """(n, k) matrix of base-100 digit values 0..99 → list of n
    2k-char decimal-pair strings (vectorized digit render)."""
    import numpy as np

    n, k = vals.shape
    mm = np.empty((n, 2 * k), np.uint8)
    mm[:, 0::2] = vals // 10 + 48
    mm[:, 1::2] = vals % 10 + 48
    return _np_strings(mm)


def _batch_decode_numbers(items, unk: str) -> dict:
    """Vectorized twin of :func:`decode_number` over same-length groups
    of unique NUMBER images: header/sign/exponent split, base-100 digit
    expansion and range validation are whole-matrix numpy ops; the
    canonical-string tail (leading/trailing-zero strips, decimal-point
    placement) is the scalar kernel's own arithmetic on the rendered
    digit string. Any malformed or edge-shape image (lone header,
    empty digits after the 0x66 terminator, out-of-range digit bytes)
    routes to the scalar kernel, so both routes stay byte-identical on
    every image."""
    import numpy as np

    out: dict = {}
    by_len: dict[int, list[bytes]] = {}
    for t in items:
        by_len.setdefault(len(t), []).append(t)
    for L, grp in by_len.items():
        # tagged length L = 1 (tag) + payload; vector path needs ≥ 2
        # digit-capable payload bytes (header + ≥1 digit)
        if L < 3 or len(grp) <= 16:
            for t in grp:
                out[t] = decode_number(t[1:], unk)
            continue
        n = len(grp)
        m = np.frombuffer(b"".join(grp), np.uint8).reshape(n, L)[:, 1:]
        b0 = m[:, 0].astype(np.int64)
        posm = (b0 & 0x80) != 0
        d = m[:, 1:].astype(np.int64)
        term = (~posm) & (m[:, -1] == 0x66)
        # three shapes: positive (k = P-1), negative with 0x66
        # terminator (k = P-2), negative without (k = P-1)
        for mask, sign, drop_last in (
            (posm, "", False),
            (term, "-", True),
            ((~posm) & ~term, "-", False),
        ):
            idx = np.nonzero(mask)[0]
            if not len(idx):
                continue
            dd = d[idx, :-1] if drop_last else d[idx]
            k = dd.shape[1]
            if k == 0:
                for i in idx.tolist():
                    out[grp[i]] = decode_number(grp[i][1:], unk)
                continue
            if sign:
                exps = (62 - b0[idx]).tolist()
                valid = ((dd >= 2) & (dd <= 101)).all(axis=1)
                vals = 101 - dd
            else:
                exps = ((b0[idx] & 0x7F) - 65).tolist()
                valid = ((dd >= 1) & (dd <= 100)).all(axis=1)
                vals = dd - 1
            dstrs = _pair_strings(vals)
            for i, dstr, exp, ok in zip(
                idx.tolist(), dstrs, exps, valid.tolist()
            ):
                t = grp[i]
                if not ok:
                    out[t] = decode_number(t[1:], unk)
                elif exp < 0:
                    frac = ("00" * (-exp - 1) + dstr).rstrip("0") or "0"
                    out[t] = f"{sign}0.{frac}"
                else:
                    ip = 2 * (exp + 1)
                    int_part = (
                        (dstr[:2].lstrip("0") or "0")
                        + dstr[2:ip]
                        + "00" * (exp + 1 - k if exp + 1 > k else 0)
                    )
                    frac = dstr[ip:].rstrip("0")
                    out[t] = (
                        f"{sign}{int_part}.{frac}" if frac
                        else sign + int_part
                    )
    return out


def _batch_decode(uniq, version: int, db_tz: int = DB_TZ_DEFAULT) -> dict:
    """Unique tagged images → decoded strings, grouped by type tag and
    decoded in vectorized numpy batches where the byte form is fixed
    width (DATE/TIMESTAMP/BINARY_DOUBLE/BINARY_FLOAT); variable-width
    kernels (NUMBER, charset text, RAW, intervals, UROWID) run the
    scalar byte kernels once per distinct image. This is the
    reference's structure: the record walk stays cheap, value render is
    batched per column image (Parser.cpp:113-312 vs Builder.cpp:89-690)."""
    import numpy as np

    out: dict = {}
    by_type: dict[int, list[bytes]] = {}
    for t in uniq:
        if not t:
            # empty interned image (torn overrun slice) — unknown
            out[t] = column_unknown(b"", _opts(db_tz).unknown)
            continue
        by_type.setdefault(t[0], []).append(t)
    def _dt_valid_mask(a):
        # vectorized twin of oracle_types._dt_components_valid
        # (Builder.cpp:242-246): a invalid component routes the image to
        # the scalar kernel, whose guard renders the UNKNOWN_FORMAT
        # fallback — the fast path must not format a plausible-looking
        # wrong date from corrupt bytes. Years outside 0..9999 are NOT
        # invalid (the scalar kernel renders e.g. '-4712-…' faithfully)
        # but the 14-digit matrix render can't represent them — they
        # route to the scalar kernel too, so both routes stay
        # byte-identical on every image. Year 0 also goes scalar: the
        # reference has no year 0 and renders it through the epoch
        # branches (valuesToEpoch BC base / epochToIso8601).
        y = (a[:, 0].astype("int64") - 100) * 100 + (
            a[:, 1].astype("int64") - 100
        )
        return (
            (y >= 1) & (y <= 9999)
            & (a[:, 2] >= 1) & (a[:, 2] <= 12)
            & (a[:, 3] >= 1) & (a[:, 3] <= 31)
            & (a[:, 4] >= 1) & (a[:, 4] <= 24)
            & (a[:, 5] >= 1) & (a[:, 5] <= 60)
            & (a[:, 6] >= 1) & (a[:, 6] <= 60)
        )

    for vtype, items in by_type.items():
        n = len(items)
        if vtype == TYPE_NUMBER and n > 16:
            out.update(_batch_decode_numbers(items, _opts(db_tz).unknown))
        elif (
            vtype == TYPE_DATE
            and n > 16
            # DATE follows TIMESTAMP_FORMAT too (one reference arm);
            # the vectorized render IS the canonical fraction-less form
            and _opts(db_tz).timestamp_column == "iso8601_nano"
            and len(items[0]) == 8
            and all(len(x) == 8 for x in items)
        ):
            a = np.frombuffer(b"".join(items), np.uint8).reshape(n, 8)[:, 1:]
            strs = _np_strings(_fmt_datetime14(_date_composites(a)))
            valid = _dt_valid_mask(a)
            out.update(
                (t, s) if ok else (t, _dec_value_raw(t, version, db_tz))
                for t, s, ok in zip(items, strs, valid.tolist())
            )
        elif (
            vtype == TYPE_TS
            and n > 16
            # the vectorized render IS iso8601_nano; any other
            # TIMESTAMP_FORMAT must take the scalar kernel
            and _opts(db_tz).timestamp_column == "iso8601_nano"
            and all(len(x) == 12 for x in items)
        ):
            a = np.frombuffer(b"".join(items), np.uint8).reshape(n, 12)[:, 1:]
            m = _fmt_datetime14(_date_composites(a), extra_cols=10)
            _nano_digits(m, a, 19)
            x = a.astype("int64")
            nanos = (
                (x[:, 7] << 24) | (x[:, 8] << 16) | (x[:, 9] << 8) | x[:, 10]
            )
            valid = _dt_valid_mask(a) & (nanos <= 999_999_999)
            out.update(
                (t, s) if ok else (t, _dec_value_raw(t, version, db_tz))
                for t, s, ok in zip(items, _np_strings(m), valid.tolist())
            )
        elif vtype == TYPE_BDOUBLE and n > 16 and all(
            len(x) == 9 for x in items
        ):
            raw = np.frombuffer(b"".join(items), np.uint8).reshape(n, 9)[
                :, 1:
            ].copy()
            pos = (raw[:, 0] & 0x80) != 0
            raw[pos, 0] &= 0x7F
            raw[~pos] ^= 0xFF
            vals = np.ascontiguousarray(raw).view(">f8").ravel().tolist()
            # edge exponent classes (zeros/subnormals/inf/NaN patterns)
            # take the scalar kernel: Builder::decodeDouble halves
            # subnormals and finite-izes non-canonical NaNs — the IEEE
            # view here must not diverge from it (r12 review-pass-9)
            exp = (
                (raw[:, 0].astype("int64") & 0x7F) << 4
            ) | (raw[:, 1].astype("int64") >> 4)
            fast = (exp != 0) & (exp != 0x7FF)
            out.update(
                (t, repr(v)) if ok else (t, _dec_value_raw(t, version, db_tz))
                for t, v, ok in zip(items, vals, fast.tolist())
            )
        elif vtype == TYPE_BFLOAT and n > 16 and all(
            len(x) == 5 for x in items
        ):
            raw = np.frombuffer(b"".join(items), np.uint8).reshape(n, 5)[
                :, 1:
            ].copy()
            pos = (raw[:, 0] & 0x80) != 0
            raw[pos, 0] &= 0x7F
            raw[~pos] ^= 0xFF
            vals = np.ascontiguousarray(raw).view(">f4").ravel().tolist()
            # see the BDOUBLE branch: edge exponents go scalar
            exp = (
                (raw[:, 0].astype("int64") & 0x7F) << 1
            ) | (raw[:, 1].astype("int64") >> 7)
            fast = (exp != 0) & (exp != 0xFF)
            out.update(
                (t, repr(v)) if ok else (t, _dec_value_raw(t, version, db_tz))
                for t, v, ok in zip(items, vals, fast.tolist())
            )
        else:
            for t in items:
                out[t] = _dec_value_raw(t, version, db_tz)
    return out


def _batch_decode_list(uniq, version: int, db_tz=DB_TZ_DEFAULT) -> list:
    """Order-preserving list view of :func:`_batch_decode`: the columnar
    parse plane dictionary-encodes the gathered value images (C++ hash)
    and decodes each DISTINCT image exactly once, in the dictionary's
    index order, so the final string column is a single Arrow ``take``."""
    decoded = _batch_decode(uniq, version, db_tz)
    return [decoded[t] for t in uniq]


_ARROW_SCHEMA = None


def _arrow_schema():
    """REDO_RECORD_SCHEMA as the exact Arrow schema Spark's mapInArrow
    expects (computed once; pyspark's own converter so field order,
    entry naming and nullability can never drift from the contract)."""
    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        _ARROW_SCHEMA = to_arrow_schema(REDO_RECORD_SCHEMA)
    return _ARROW_SCHEMA


def _validate_blocks(data: bytes, path: str):
    """File magic + per-block signature / block-number / XOR-fold
    checksum validation (vectorized, semantics unchanged from the
    historical parse loop). Returns ``(version, sequence, n_blocks,
    big, flags16)`` where ``big`` is the CONTIGUOUS concatenation of
    every body block's 496-byte payload area — payload byte q of the
    LWN starting at body block c lives at ``big[c * PAYLOAD + q]``, so
    the record walk addresses one flat buffer instead of copying each
    LWN's span separately."""
    import numpy as np

    if len(data) % BLOCK_SIZE != 0:
        raise ValueError(f"{path}: size {len(data)} not block-aligned")
    if data[:8] != MAGIC:
        raise ValueError(f"{path}: bad magic {data[:8]!r}")
    version, block_size, sequence, _first_scn = struct.unpack_from(
        "<HHIQ", data, 8
    )
    if version not in (1, 2, 3, 4, 5) or block_size != BLOCK_SIZE:
        raise ValueError(f"{path}: unsupported version/block size")
    n_blocks = len(data) // BLOCK_SIZE
    if n_blocks < 2:
        return version, sequence, n_blocks, b"", None
    arr = np.frombuffer(data, dtype="<u1").reshape(n_blocks, BLOCK_SIZE)
    body = arr[1:]
    # signature bytes
    if not ((body[:, 0] == SIG0).all() and (body[:, 1] == SIG1).all()):
        bad = int(np.argmax((body[:, 0] != SIG0) | (body[:, 1] != SIG1)))
        raise ValueError(f"{path}: bad block signature at block {bad + 1}")
    # block numbers + sequence — zero-copy reinterpret views (body is a
    # contiguous row slice of the frombuffer array; r12 review-pass-6)
    hdr = body.view("<u4").reshape(n_blocks - 1, 128)
    blkno = hdr[:, 1]
    seqno = hdr[:, 2]
    expect = np.arange(1, n_blocks, dtype="<u4")
    if not (blkno == expect).all():
        bad = int(np.argmax(blkno != expect))
        raise ValueError(
            f"{path}: block number mismatch at {bad + 1}: {int(blkno[bad])}"
        )
    if not (seqno == sequence).all():
        raise ValueError(f"{path}: sequence mismatch inside file")
    # XOR-fold checksums, all blocks at once (Reader::calcChSum semantics)
    words = body.view("<u8").reshape(n_blocks - 1, 64)
    stored = ((words[:, 0] >> np.uint64(16)) & np.uint64(0xFFFF)).astype(
        np.uint64
    )
    w0 = words[:, 0] & ~np.uint64(0xFFFF0000)
    x = np.bitwise_xor.reduce(words, axis=1) ^ words[:, 0] ^ w0
    x ^= x >> np.uint64(32)
    x ^= x >> np.uint64(16)
    calc = x & np.uint64(0xFFFF)
    if not (stored == calc).all():
        bad = int(np.argmax(stored != calc))
        raise ValueError(f"{path}: checksum mismatch at block {bad + 1}")
    flags16 = body.view("<u2").reshape(n_blocks - 1, 256)[:, 6]
    big = body[:, 16:].tobytes()
    return version, sequence, n_blocks, big, flags16


def _parse_flat(
    data: bytes, path: str, dictionary: dict | None, db_tz
) -> dict:
    """One OLRS1 file → FLAT columnar accumulators (r13 parse-plane
    vectorization, guide §4.2): the Python record walk records only
    integers — per-vector scalars, interned key/xid ids, and for every
    column VALUE the (start, length) of its tagged image inside the
    flat payload buffer. No per-vector dicts, no per-value byte slices:
    the value bytes are gathered, unique-ified (Arrow
    ``dictionary_encode``) and decoded ONCE PER DISTINCT IMAGE by
    `_flat_to_arrow`, all vectorized — the reference's own split
    between the record walk (Parser.cpp:113-312) and value rendering
    (Builder.cpp:89-690). This is the only record walk; its output is
    pinned by the golden digests in tests/test_parse_golden.py.

    Value encodings in the flat lists: ``cv_s``/``rv_s`` hold the
    image's global start offset, or -1 for a pre-decoded literal
    (v1 strings, warn-row diagnostics — index into ``vlits`` rides the
    length slot), or -2 for NULL. Every recorded (start, length) is
    clamped to the record's LWN span, so the render-stage gather can
    never index out of bounds."""
    version, sequence, n_blocks, big, flags16 = _validate_blocks(data, path)
    flat: dict = {
        "version": version, "sequence": sequence, "big": big,
        "scn": [], "subscn": [], "block": [], "offset": [],
        "xid": [], "op": [],
        "obj": [], "bdba": [], "slot": [], "fb": [],
        "cn": [], "rn": [],
        "ck": [], "cv_s": [], "cv_l": [],
        "rcn": [], "rk": [], "rv_s": [], "rv_l": [],
        "klits": [], "vlits": [],
    }
    if n_blocks < 2:
        return flat
    opts = _opts(db_tz)
    ignore_errs = opts.ignore_data_errors
    unpack_from = struct.unpack_from
    code_to_op = CODE_TO_OP

    c_scn = flat["scn"]; c_subscn = flat["subscn"]
    c_block = flat["block"]; c_offset = flat["offset"]
    c_xid = flat["xid"]; c_op = flat["op"]
    c_obj = flat["obj"]; c_bdba = flat["bdba"]
    c_slot = flat["slot"]; c_fb = flat["fb"]
    cn = flat["cn"]; rn = flat["rn"]
    ck = flat["ck"]; cv_s = flat["cv_s"]; cv_l = flat["cv_l"]
    rcn = flat["rcn"]; rk = flat["rk"]
    rv_s = flat["rv_s"]; rv_l = flat["rv_l"]
    klits = flat["klits"]; vlits = flat["vlits"]
    # the per-row lists share one length, as do the col-entry and
    # row-entry triples — a rollback mark is just 4 counters, and only
    # the IGNORE_DATA_ERRORS mode ever truncates (strict mode
    # propagates, so it skips the per-record mark entirely)
    row_lists = (c_scn, c_subscn, c_block, c_offset, c_xid, c_op, c_obj,
                 c_bdba, c_slot, c_fb, cn, rn)
    mark = (0, 0, 0, 0)

    kmap_b: dict = {}   # named-key bytes → key id
    kmap_s: dict = {}   # literal key string → key id
    vmap_s: dict = {}   # literal value string → vlits id
    xmap: dict = {}     # xid bytes → str
    pos_kids: dict = {}  # obj → growing list of positional key ids

    def _kid_s(name: str) -> int:
        i = kmap_s.get(name)
        if i is None:
            i = kmap_s[name] = len(klits)
            klits.append(name)
        return i

    def _vlit(sval: str) -> int:
        i = vmap_s.get(sval)
        if i is None:
            i = vmap_s[sval] = len(vlits)
            vlits.append(sval)
        return i

    def _pos_kids(obj, cc: int) -> list:
        kids = pos_kids.get(obj)
        if kids is None:
            names = dictionary.get(obj) if dictionary else None
            # per-column fallback beyond the dictionary's name list:
            # schemaless COL_<n> rendering (Builder.cpp:96-100)
            kids = pos_kids[obj] = [_kid_s(nm) for nm in (names or [])]
        while len(kids) < cc:
            kids.append(_kid_s(f"COL_{len(kids)}"))
        return kids

    v1 = version < 2
    n_body = n_blocks - 1
    cur = 0  # index into body (block number - 1)
    while cur < n_body:
        if not flags16[cur] & FLAG_LWN_START:
            raise ValueError(
                f"{path}: expected LWN start at block {cur + 1}"
            )
        base = cur * PAYLOAD
        lwn_blocks, n_records, _lwn_scn, _lwn_ts = unpack_from(
            "<IIQQ", big, base
        )
        if lwn_blocks < 1 or cur + lwn_blocks > n_body:
            # a zeroed/oversized LWN span that survived the weak
            # XOR-fold checksum: zero would spin this loop forever
            # (cur += 0), oversize would silently clamp the payload
            # slice — both are the controlled corruption error
            raise ValueError(
                f"{path}: corrupt LWN header at block {cur + 1}: "
                f"span {lwn_blocks} of {n_body - cur} remaining "
                "blocks — redo corruption not caught by the block "
                "checksum"
            )
        lwn_end = base + lwn_blocks * PAYLOAD
        if n_records > (lwn_end - base) // REC_HEADER:
            # each record costs at least its header: a count that can't
            # fit the span is framing corruption (bounds the walk — and
            # the skip-and-continue loop below — in both modes)
            raise ValueError(
                f"{path}: corrupt LWN header at block {cur + 1}: "
                f"{n_records} records cannot fit the "
                f"{lwn_end - base}-byte span — redo corruption not "
                "caught by the block checksum"
            )
        pos = base + LWN_HEADER
        for _ in range(n_records):
            if pos + REC_HEADER > lwn_end:
                # record FRAMING is the reference's LWN copy phase
                # (Parser.cpp:1398-1455), not analyzeLwn — a torn
                # header aborts in both modes; IGNORE_DATA_ERRORS
                # only covers per-record analysis (Parser.cpp:1468)
                raise ValueError(
                    f"{path}: corrupt record structure in the LWN at "
                    f"block {cur + 1} (record header overruns the "
                    "span) — redo corruption not caught by the block "
                    "checksum"
                )
            size, scn, subscn, n_vectors = unpack_from("<IQHH", big, pos)
            if size < REC_HEADER or pos + size > lwn_end:
                raise ValueError(
                    f"{path}: corrupt record structure in the LWN at "
                    f"block {cur + 1}: record size {size} overruns the "
                    "span — redo corruption not caught by the block "
                    "checksum"
                )
            # (block, offset) where this record starts — LwnMember
            blk = pos // PAYLOAD + 1
            off = 16 + pos % PAYLOAD
            if ignore_errs:
                mark = (len(c_scn), len(ck), len(rcn), len(rk))
            try:
                g = pos + REC_HEADER
                for _ in range(n_vectors):
                    code, obj, bdba, slot, fb, flags = unpack_from(
                        "<HIIHBB", big, g
                    )
                    g += 14
                    xl = big[g] | (big[g + 1] << 8)
                    g += 2
                    e = g + xl
                    xb = big[g:e] if e <= lwn_end else big[g:lwn_end]
                    g += xl
                    xid = xmap.get(xb)
                    if xid is None:
                        xid = xmap[xb] = xb.decode("utf-8")
                    cols_n = -1
                    rows_n = -1
                    if flags & FLAG_POSITIONAL:
                        o = None if obj == NULL32 else obj
                        cc = big[g]
                        g += 1
                        nb = (cc + 7) // 8
                        e = g + nb
                        bitmap = big[g:e] if e <= lwn_end else big[g:lwn_end]
                        g += nb
                        kids = _pos_kids(o, cc)
                        for i in range(cc):
                            ck.append(kids[i])
                            if bitmap[i >> 3] & (1 << (i & 7)):
                                cv_s.append(-2)
                                cv_l.append(0)
                            else:
                                vlen = big[g] | (big[g + 1] << 8)
                                g += 2
                                e = g + vlen + 1
                                cv_s.append(g)
                                if e <= lwn_end:
                                    cv_l.append(vlen + 1)
                                else:
                                    cv_l.append(
                                        lwn_end - g if g < lwn_end else 0
                                    )
                                g = e
                        cols_n = cc
                    elif flags & 0x01:
                        nn = big[g] | (big[g + 1] << 8)
                        g += 2
                        for _ in range(nn):
                            klen = big[g] | (big[g + 1] << 8)
                            g += 2
                            e = g + klen
                            kb = big[g:e] if e <= lwn_end else big[g:lwn_end]
                            g += klen
                            kid = kmap_b.get(kb)
                            if kid is None:
                                kid = kmap_b[kb] = len(klits)
                                klits.append(kb.decode("utf-8"))
                            ck.append(kid)
                            vlen = big[g] | (big[g + 1] << 8)
                            g += 2
                            if vlen == NULL16:
                                cv_s.append(-2)
                                cv_l.append(0)
                            elif v1:
                                e = min(g + vlen, lwn_end)
                                sv = big[g:e].decode("utf-8")
                                cv_s.append(-1)
                                cv_l.append(_vlit(sv))
                                g += vlen
                            else:
                                e = g + vlen + 1
                                cv_s.append(g)
                                if e <= lwn_end:
                                    cv_l.append(vlen + 1)
                                else:
                                    cv_l.append(
                                        lwn_end - g if g < lwn_end else 0
                                    )
                                g = e
                        cols_n = nn
                    if flags & 0x02:
                        nr = big[g] | (big[g + 1] << 8)
                        g += 2
                        rows_n = nr
                        for _ in range(nr):
                            nn = big[g] | (big[g + 1] << 8)
                            g += 2
                            rcn.append(nn)
                            for _ in range(nn):
                                klen = big[g] | (big[g + 1] << 8)
                                g += 2
                                e = g + klen
                                kb = big[g:e] if e <= lwn_end else big[g:lwn_end]
                                g += klen
                                kid = kmap_b.get(kb)
                                if kid is None:
                                    kid = kmap_b[kb] = len(klits)
                                    klits.append(kb.decode("utf-8"))
                                rk.append(kid)
                                vlen = big[g] | (big[g + 1] << 8)
                                g += 2
                                if vlen == NULL16:
                                    rv_s.append(-2)
                                    rv_l.append(0)
                                elif v1:
                                    e = min(g + vlen, lwn_end)
                                    sv = big[g:e].decode("utf-8")
                                    rv_s.append(-1)
                                    rv_l.append(_vlit(sv))
                                    g += vlen
                                else:
                                    e = g + vlen + 1
                                    rv_s.append(g)
                                    if e <= lwn_end:
                                        rv_l.append(vlen + 1)
                                    else:
                                        rv_l.append(
                                            lwn_end - g
                                            if g < lwn_end else 0
                                        )
                                    g = e
                    op = code_to_op[code]
                    if code == 0x0504 and flags & 0x04:
                        op = "rollback"
                    c_scn.append(scn)
                    c_subscn.append(subscn)
                    c_block.append(blk)
                    c_offset.append(off)
                    c_xid.append(xid)
                    c_op.append(op)
                    c_obj.append(None if obj == NULL32 else obj)
                    c_bdba.append(None if bdba == NULL32 else bdba)
                    c_slot.append(None if slot == NULL16 else slot)
                    c_fb.append(fb)
                    cn.append(cols_n)
                    rn.append(rows_n)
                if g != pos + size:
                    raise ValueError(
                        f"{path}: record size mismatch at block {blk}"
                    )
            except (
                struct.error, KeyError, IndexError, UnicodeDecodeError,
                OverflowError, ValueError,
            ) as e:
                # a structurally-corrupt record that SURVIVED the
                # XOR-fold checksum (cancelling bit errors — the
                # reference's weak calcChSum has the same blind spot)
                # must fail as the controlled redo-corruption error,
                # never a raw KeyError/IndexError from deep inside the
                # walk — the reference's numbered RedoLogException
                # (Parser record walk, code 50007-style)
                if not ignore_errs:
                    if isinstance(e, ValueError):
                        raise
                    raise ValueError(
                        f"{path}: corrupt record structure in the LWN "
                        f"at block {cur + 1} ({type(e).__name__}: {e}) "
                        "— redo corruption not caught by the block "
                        "checksum"
                    ) from e
                # REDO_FLAGS::IGNORE_DATA_ERRORS (Ctx.h:91 bit 4;
                # Parser.cpp:1468-1479): drop the damaged record whole
                # (the reference's analyzeLwn unit of skip), log error
                # + warning 60013, emit one diagnostic opcode='warn'
                # row in its place, and continue with the next record
                # at the framing-known size
                for lst in row_lists:
                    del lst[mark[0]:]
                del ck[mark[1]:]; del cv_s[mark[1]:]; del cv_l[mark[1]:]
                del rcn[mark[2]:]
                del rk[mark[3]:]; del rv_s[mark[3]:]; del rv_l[mark[3]:]
                err_msg = (
                    f"{path}: corrupt record at block {blk} "
                    f"({type(e).__name__}: {e})"
                )
                _LOG.error(err_msg)
                _LOG.warning(
                    "60013: forced to continue working in spite of error"
                )
                c_scn.append(scn)
                c_subscn.append(subscn)
                c_block.append(blk)
                c_offset.append(off)
                c_xid.append(None)
                c_op.append("warn")
                c_obj.append(None)
                c_bdba.append(None)
                c_slot.append(None)
                c_fb.append(None)
                cn.append(3)
                rn.append(-1)
                for k_, v_ in (
                    ("code", "60013"),
                    ("msg", "forced to continue working in spite of "
                            "error"),
                    ("error", err_msg),
                ):
                    ck.append(_kid_s(k_))
                    cv_s.append(-1)
                    cv_l.append(_vlit(v_))
            pos += size
        cur += lwn_blocks
    return flat


def _gather_binary(bignp, starts, lens):
    """Vectorized ragged gather: (start, length) pairs over the flat
    payload buffer → ONE Arrow binary array (new offsets over gathered
    bytes — the §4.2 re-slicing pattern, no per-value Python slice)."""
    import numpy as np
    import pyarrow as pa

    m = len(starts)
    offsets = np.zeros(m + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    idx = np.repeat(starts - offsets[:-1], lens) + np.arange(
        total, dtype=np.int64
    )
    data = bignp[idx]
    return pa.Array.from_buffers(
        pa.binary(), m,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _flat_to_arrow(flat: dict, db_tz):
    """Flat accumulators → one Arrow RecordBatch in REDO_RECORD_SCHEMA:
    gather the value images, dictionary-encode (C++ hash), decode each
    DISTINCT image once (`_batch_decode` — the same per-type vectorized
    kernels as before), then build every column with `take` and offset
    arithmetic. Null maps/lists ride null offsets."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _arrow_schema()
    n = len(flat["scn"])
    if n == 0:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in schema], schema=schema
        )
    version = flat["version"]
    bignp = np.frombuffer(flat["big"], np.uint8)
    ncv = len(flat["cv_s"])
    all_s = np.array(flat["cv_s"] + flat["rv_s"], np.int64)
    all_l = np.array(flat["cv_l"] + flat["rv_l"], np.int64)
    gm = all_s >= 0
    de = pc.dictionary_encode(_gather_binary(bignp, all_s[gm], all_l[gm]))
    uniq = de.dictionary.to_pylist()
    decoded = _batch_decode_list(uniq, version, db_tz)
    vtable = decoded + flat["vlits"]
    vidx = np.zeros(len(all_s), np.int64)
    if len(uniq):
        vidx[gm] = de.indices.to_numpy(zero_copy_only=False)
    lm = all_s == -1
    vidx[lm] = len(decoded) + all_l[lm]
    nullm = all_s == -2
    vals_all = pa.array(vtable, type=pa.string()).take(
        pa.array(vidx, mask=nullm)
    )
    ktab = pa.array(flat["klits"], type=pa.string())
    cols_keys = ktab.take(pa.array(np.asarray(flat["ck"], np.int64)))
    rows_keys = ktab.take(pa.array(np.asarray(flat["rk"], np.int64)))

    def _offs(counts, n_rows):
        cnp = np.asarray(counts, np.int64)
        offs = np.zeros(n_rows + 1, np.int64)
        np.cumsum(np.maximum(cnp, 0), out=offs[1:])
        mask = np.zeros(n_rows + 1, bool)
        mask[:-1] = cnp < 0
        return pa.array(offs.astype(np.int32), mask=mask)

    cols_arr = pa.MapArray.from_arrays(
        _offs(flat["cn"], n), cols_keys, vals_all.slice(0, ncv)
    ).cast(schema.field("cols").type)
    rcn_np = np.asarray(flat["rcn"], np.int64)
    roffs = np.zeros(len(rcn_np) + 1, np.int64)
    np.cumsum(rcn_np, out=roffs[1:])
    inner = pa.MapArray.from_arrays(
        pa.array(roffs.astype(np.int32)), rows_keys, vals_all.slice(ncv)
    )
    rows_arr = pa.ListArray.from_arrays(
        _offs(flat["rn"], n), inner
    ).cast(schema.field("rows").type)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(flat["scn"], pa.int64()),
            pa.array(flat["subscn"], pa.int32()),
            pa.array(flat["block"], pa.int64()),
            pa.array(flat["offset"], pa.int32()),
            pa.array(np.full(n, flat["sequence"], np.int64)),
            pa.array(flat["xid"], pa.string()),
            pa.array(flat["op"], pa.string()),
            pa.array(flat["obj"], pa.int64()),
            pa.array(flat["bdba"], pa.int64()),
            pa.array(flat["slot"], pa.int32()),
            pa.array(flat["fb"], pa.int32()),
            cols_arr,
            rows_arr,
        ],
        schema=schema,
    )


def parse_redo_arrow(
    data: bytes, path: str = "<mem>", dictionary: dict | None = None,
    db_tz=DB_TZ_DEFAULT,
):
    """One OLRS1 file → one Arrow RecordBatch in REDO_RECORD_SCHEMA.
    The hot parse surface: block validation vectorized, the record walk
    a flat-offset Python loop (no dicts, no per-value slices), value
    decode once per distinct image, Arrow output built by `take`."""
    opts = _opts(db_tz)  # normalize ONCE — the decode plane re-checks
    #                      per value, and a plain-int db_tz would
    #                      rebuild the options tuple every call
    return _flat_to_arrow(
        _parse_flat(data, path, dictionary, opts), opts
    )


def parse_redo_columns(
    data: bytes, path: str = "<mem>", dictionary: dict | None = None,
    db_tz: int = DB_TZ_DEFAULT,
) -> dict[str, list]:
    """Dict-of-lists view of :func:`parse_redo_arrow` (cols as Python
    dicts) — the historical test/debug contract; the distributed
    readers consume the Arrow batch directly."""
    batch = parse_redo_arrow(data, path, dictionary, db_tz)
    out = batch.to_pydict()
    out["cols"] = [
        None if m is None else dict(m) for m in out["cols"]
    ]
    out["rows"] = [
        None if rs is None else [dict(m) for m in rs]
        for rs in out["rows"]
    ]
    return out


def parse_redo_bytes(
    data: bytes, path: str = "<mem>", dictionary: dict | None = None,
    db_tz: int = DB_TZ_DEFAULT,
) -> list[dict]:
    """Row-dict view of :func:`parse_redo_columns` (test/debug surface;
    the distributed reader uses the columnar form directly)."""
    cols = parse_redo_columns(data, path, dictionary, db_tz)
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*cols.values())]


def lwn_headers(data: bytes, path: str = "<mem>") -> list[dict]:
    """Checkpoint scan: only the LWN headers, no record parse — the B8
    heartbeat source (the reference emits an op=chkpt row per completed
    LWN, Parser.cpp:1509-1521). Vectorized flag scan, then one 24-byte
    read per LWN."""
    import numpy as np

    if data[:8] != MAGIC:
        raise ValueError(f"{path}: bad magic")
    (sequence,) = struct.unpack_from("<I", data, 12)
    n_blocks = len(data) // BLOCK_SIZE
    if n_blocks < 2:
        return []
    flags16 = np.frombuffer(data, dtype="<u2").reshape(n_blocks, 256)[1:, 6]
    out = []
    for blk in (np.nonzero(flags16 & FLAG_LWN_START)[0] + 1).tolist():
        lwn_blocks, n_records, lwn_scn, lwn_ts = struct.unpack_from(
            "<IIQQ", data, blk * BLOCK_SIZE + 16
        )
        out.append(
            {
                "seq": sequence,
                "block": blk,
                "lwn_blocks": lwn_blocks,
                "n_records": n_records,
                "c_scn": lwn_scn,
                "ts_us": lwn_ts,
            }
        )
    return out


# binaryFile source schema — must be passed explicitly for readStream
# (streaming file sources can't infer).
BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

HEARTBEAT_SCHEMA = (
    "op string, seq long, block long, lwn_blocks long, "
    "n_records long, c_scn long, ts_us long"
)

_HB_COLS = ["op", "seq", "block", "lwn_blocks", "n_records", "c_scn",
            "ts_us"]


def _record_batches(
    batches, dictionary: dict | None = None, db_tz: int = DB_TZ_DEFAULT
):
    """mapInArrow kernel: (path, content) batches → REDO_RECORD_SCHEMA
    record batches, one per file. Shared by the batch and streaming
    readers; the parse output never exists as pandas/Python rows."""
    for b in batches:
        paths = b.column(0).to_pylist()
        contents = b.column(1)
        for i, path in enumerate(paths):
            rb = parse_redo_arrow(
                contents[i].as_py(), path, dictionary, db_tz
            )
            if rb.num_rows:
                yield rb


def _heartbeat_frames(batches):
    import pandas as pd

    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            for h in lwn_headers(bytes(content), path):
                rows.append({"op": "chkpt", **h})
        if rows:
            yield pd.DataFrame(rows, columns=_HB_COLS)


def _binary_files(spark: SparkSession, in_dir: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.olrs")
        .load(in_dir)
        .select("path", "content")
    )


def _binary_files_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1/S4 online reader: ordered incremental listing of redo files —
    the archived+online scheduler made declarative (maxFilesPerTrigger =
    the reader-thread queue depth).

    ORDERED-ARRIVAL CONTRACT (r11 chaos e2e): Spark's file source
    batches by MODIFICATION TIME (``latestFirst=false``); in the online
    deployment files appear over time, so batch order equals sequence
    order — the same sequential-read premise the reference's Parser
    holds. A directory of same-instant files (a bulk-copied archive)
    batches in UNDEFINED order under maxFilesPerTrigger: a commit can
    then precede its own ops across micro-batches, which breaks
    assembly's in-order premise, and the W7 doc's completeness proof
    (the funnels freeze/cap the doc when they OBSERVE an inversion, but
    an inversion still unread is invisible to any online proof). For
    bulk replays either leave maxFilesPerTrigger unset (one batch is
    order-safe — the record sort handles intra-batch order) or restore
    mtimes in sequence order first."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.olrs")
        .option("latestFirst", "false")
    )
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    return reader.load(in_dir).select("path", "content")


def heartbeats(spark: SparkSession, in_dir: str) -> DataFrame:
    """One op=chkpt heartbeat row per LWN across all redo files — the
    liveness signal consumers poll even when no table they subscribe to
    changes. Same one-task-per-file distribution as the record parse."""
    return _binary_files(spark, in_dir).mapInPandas(
        _heartbeat_frames, schema=HEARTBEAT_SCHEMA
    )


def heartbeat_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """Streaming chkpt rows (B8): one per LWN as its file is listed."""
    return _binary_files_stream(spark, in_dir).mapInPandas(
        _heartbeat_frames, schema=HEARTBEAT_SCHEMA
    )


def parse_redo_files(
    spark: SparkSession,
    in_dir: str,
    dictionary: dict | None = None,
    db_tz_seconds: int = DB_TZ_DEFAULT,
    interval_dts: str = "iso8601_space",
    interval_ytm: str = "string_ym_dash",
    char_format: str = "default",
    timestamp_tz: str = "iso8601_nano",
    timestamp_column: str = "iso8601_nano",
    unknown_format: str = "question",
    ignore_data_errors: bool = False,
) -> DataFrame:
    """Directory of OLRS1 files → REDO_RECORD_SCHEMA DataFrame. One task
    per file via the binaryFile source; validation + parse run on the
    executors. ``dictionary`` maps obj → ordered column names for v5
    KDO-positional vectors (closure-broadcast to the parse tasks — the
    schema-registry resolve the reference performs in Builder::processDml).
    ``db_tz_seconds`` is the database timezone for TIMESTAMP WITH LOCAL
    TIME ZONE decode — the reference reads metadata->dbTimezone; here it
    threads from EngineConfig into the parse tasks. ``interval_dts`` /
    ``interval_ytm`` select the INTERVAL_DTS_FORMAT / INTERVAL_YTM_FORMAT
    rendering variants (Format.h:54-74). ``ignore_data_errors`` is
    REDO_FLAGS bit 4 (Parser.cpp:1468-1479): damaged records degrade to
    opcode='warn' diagnostic rows instead of aborting the file's parse."""
    opts = DecodeOpts(db_tz_seconds, interval_dts, interval_ytm,
                      char_format, timestamp_tz, timestamp_column,
                      unknown_format, ignore_data_errors)

    def kernel(batches):
        return _record_batches(batches, dictionary, opts)

    return _binary_files(spark, in_dir).mapInArrow(
        kernel, schema=REDO_RECORD_SCHEMA
    )


def parse_redo_stream(
    spark: SparkSession,
    in_dir: str,
    max_files_per_trigger: int | None = None,
    dictionary: dict | None = None,
    db_tz_seconds: int = DB_TZ_DEFAULT,
    interval_dts: str = "iso8601_space",
    interval_ytm: str = "string_ym_dash",
    char_format: str = "default",
    timestamp_tz: str = "iso8601_nano",
    timestamp_column: str = "iso8601_nano",
    unknown_format: str = "question",
    ignore_data_errors: bool = False,
) -> DataFrame:
    """Streaming variant of :func:`parse_redo_files`: the reference's
    online mode (S1 reader thread tailing redo + S4 scheduler) as a
    Structured Streaming source — new OLRS files are discovered in
    order, parsed on executors, and feed the stateful assembly.
    ``dictionary``, ``db_tz_seconds``, the interval format selectors
    and ``ignore_data_errors`` behave as in the batch reader."""
    opts = DecodeOpts(db_tz_seconds, interval_dts, interval_ytm,
                      char_format, timestamp_tz, timestamp_column,
                      unknown_format, ignore_data_errors)

    def kernel(batches):
        return _record_batches(batches, dictionary, opts)

    return _binary_files_stream(
        spark, in_dir, max_files_per_trigger
    ).mapInArrow(kernel, schema=REDO_RECORD_SCHEMA)


def dump_redo_log(
    data: bytes, path: str = "<mem>", raw: bool = False,
    dictionary: dict | None = None, db_tz=DB_TZ_DEFAULT,
) -> str:
    """Debug dump of one OLRS1 file in the spirit of the reference's
    LogMiner-compatible ``dump-redo-log`` mode (Parser.cpp:143-201 emits
    the same text Oracle's ``ALTER SYSTEM DUMP LOGFILE`` produces, so
    outputs can be golden-diffed). This renders the OLRS1 structures in
    the same layout — an RBA-addressed record header line, an
    SCN/SUBSCN line, then one line per redo vector — giving the repo the
    same bisection tool: two parsers disagreeing on a file diff here
    first.

    ``raw`` additionally hex-dumps each record's header bytes
    (``## H:`` lines, Parser.cpp:161-171 dumpRawData).

    ``dictionary``/``db_tz`` (a plain offset or a :class:`DecodeOpts`)
    thread the deployment's own decode plane into the dump — the
    reference's dump path runs inside the SAME parser the pipeline
    uses, so positional column names, TSLTZ offsets, format selectors
    and IGNORE_DATA_ERRORS degradation appear in the trace exactly as
    they appeared in the emitted stream (r12 review-pass-6)."""
    (sequence,) = struct.unpack_from("<I", data, 12)
    out: list[str] = []
    records = parse_redo_bytes(data, path, dictionary, db_tz)
    # regroup vectors by (scn, subscn, block, offset) — one REDO RECORD
    # header per record, as the reference prints
    by_rec: dict = {}
    for r in records:
        by_rec.setdefault(
            (r["scn"], r["subscn"], r["block"], r["offset"]), []
        ).append(r)
    for (scn, subscn, block, offset), vecs in by_rec.items():
        out.append(
            f"REDO RECORD - Thread:1 RBA: 0x{sequence:06x}.{block:08x}."
            f"{offset:04x} VLD: 0x05"
        )
        if raw:
            hdr = struct.pack("<IQHH", 0, scn, subscn, len(vecs))
            out.append(
                "## H: [{}] {}".format(
                    block * BLOCK_SIZE + offset,
                    " ".join(f"{b:02x}" for b in hdr),
                )
            )
        out.append(f"SCN: 0x{scn:016x} SUBSCN:{subscn:3d}")
        for v in vecs:
            if v["opcode"] == "warn":
                # IGNORE_DATA_ERRORS diagnostic row: the reference logs
                # the skip (warning 60013) and the dump shows the gap
                out.append(
                    "CHANGE #1 OP:0.0 DAMAGED RECORD SKIPPED "
                    "(ignore-data-errors)"
                )
                continue
            code = OP_TO_CODE[
                "commit" if v["opcode"] == "rollback" else v["opcode"]
            ]
            line = (
                f"CHANGE #1 OP:{code >> 8}.{code & 0xFF}"
                f" OBJ:{v['obj'] if v['obj'] is not None else '~'}"
                f" DBA:{v['bdba'] if v['bdba'] is not None else '~'}"
                f" SLT:{v['slot'] if v['slot'] is not None else '~'}"
                f" XID:{v['xid']}"
            )
            if v["opcode"] == "rollback":
                line += " ROLLBACK"
            out.append(line)
            if v["cols"]:
                for k, val in v["cols"].items():
                    out.append(
                        f"  col {k} = "
                        + ("NULL" if val is None else f'"{val}"')
                    )
            if v["rows"]:
                for i, row in enumerate(v["rows"]):
                    out.append(f"  slot[{i}]: " + ", ".join(
                        f"{k}={'NULL' if x is None else x}"
                        for k, x in row.items()
                    ))
    return "\n".join(out) + "\n"
