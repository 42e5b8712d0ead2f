"""Golden digests of the parse plane: seeded OLRS1 files pinned by the
sha256 of their bytes and of ``parse_redo_columns`` output.

The flat record walk (``_parse_flat`` + ``_flat_to_arrow``) is the only
walk; these digests are its parity evidence. A change to the walk, the
value kernels or the fixture encoder that moves one output byte on any
file fails here. The files cover the named-column v5 framing with every
opcode and multi-row vectors, every ``TYPE_*`` tag (selected through
``col_types``, including the corrupt-image sentinel), KDO positional
framing resolved through a dictionary (with the k/v and COL_<n>
fallbacks), and damaged records degraded under IGNORE_DATA_ERRORS.

A deliberate change to the encoder or to a decoded rendering must
update the digests together with the reason in the commit;
``PYTHONPATH=. python tests/test_parse_golden.py`` prints the current
ones."""

from __future__ import annotations

import hashlib
import json
import random

import pytest

from openlogreplicator_spark.functions.oracle_types import rowid_to_text
from openlogreplicator_spark.sources.binary_redo import (
    CORRUPT_SENTINEL,
    LWN_MAX_RECORDS,
    DecodeOpts,
    damage_records_by_scn,
    encode_redo_file,
    parse_redo_columns,
)

_ROW_OPS = ("insert", "update", "delete", "overwrite", "supp", "lock",
            "kdocmp")


def _rec(scn, xid, opcode, subscn=0, obj=None, bdba=None, slot=None,
         fb=0, cols=None, rows=None):
    return {"scn": scn, "subscn": subscn, "block": 0, "offset": 0,
            "seq": 1, "xid": xid, "opcode": opcode, "obj": obj,
            "bdba": bdba, "slot": slot, "fb": fb, "cols": cols,
            "rows": rows}


def _txns(rng, n_txns, cols_for, scn0=1000):
    """Seeded interleaved transactions: begin, row ops (some
    multi-row qmi/qmd, some undo + redo pairs), an attr or ddl record
    now and then, and a commit or rollback."""
    recs = []
    scn = scn0
    for t in range(n_txns):
        xid = f"{rng.randrange(1, 9)}.{rng.randrange(32)}.{t}"
        recs.append(_rec(scn, xid, "begin"))
        scn += 1
        for _ in range(rng.randrange(1, 6)):
            obj = rng.choice((101, 102, 103))
            op = rng.choice(_ROW_OPS + ("qmi", "qmd", "undo", "prollback"))
            bdba, slot = rng.randrange(1 << 20), rng.randrange(400)
            if op in ("qmi", "qmd"):
                recs.append(_rec(
                    scn, xid, op, obj=obj, bdba=bdba,
                    rows=[cols_for(rng, obj)
                          for _ in range(rng.randrange(1, 4))]))
            elif op == "prollback":
                recs.append(_rec(scn, xid, op, bdba=bdba, slot=slot))
            elif op in ("lock", "kdocmp"):
                recs.append(_rec(scn, xid, op, obj=obj, bdba=bdba,
                                 slot=slot))
            else:
                recs.append(_rec(
                    scn, xid, op, subscn=rng.randrange(3), obj=obj,
                    bdba=bdba, slot=slot, fb=rng.choice((0, 0x2c, 0x0c)),
                    cols=cols_for(rng, obj)))
            scn += 1
        if rng.random() < 0.2:
            recs.append(_rec(scn, xid, "attr",
                             cols={"LOGIN_USER_NAME": f"u{t % 3}"}))
            scn += 1
        if rng.random() < 0.1:
            recs.append(_rec(scn, xid, "ddl",
                             cols={"sql": f"ALTER TABLE t{t} ADD c int"}))
            scn += 1
        recs.append(_rec(scn, xid,
                         "rollback" if rng.random() < 0.15 else "commit"))
        scn += rng.randrange(1, 3)
    return recs


def _named_cols(rng, obj):
    return {
        f"C{i}": (None if rng.random() < 0.15
                  else rng.choice(("", "x", "abc", "ÄÖü", "長い値"))
                  + str(rng.randrange(10 ** rng.randrange(1, 8))))
        for i in range(rng.randrange(1, 7))
    }


def _named_v5():
    rng = random.Random(6001)
    # > LWN_MAX_RECORDS records: several LWN groups, records straddling
    # block boundaries
    recs = _txns(rng, 90, _named_cols)
    assert len(recs) > LWN_MAX_RECORDS
    return encode_redo_file(recs, sequence=11), None, DecodeOpts(7200)


_TSTZ_SUFFIXES = ("+05:30", "-08:00", "+00:00", "Asia/Tokyo", "UTC", "TZ?")

# every TYPE_* tag through its col_types name; TYPE_STR is the untyped
# fallback ("s"), TYPE_CSTEXT appears once per charset-table entry
_TYPED = {
    "n": "number", "d": "date", "ts": "timestamp",
    "cs_utf8": "varchar2:AL32UTF8", "cs_sjis": "varchar2:JA16SJIS",
    "cs_gbk": "varchar2:ZHS16GBK", "cs_1252": "varchar2:WE8MSWIN1252",
    "bd": "binary_double", "raw": "raw", "tz": "timestamp_tz",
    "iym": "interval_ym", "ids": "interval_ds", "b": "boolean",
    "ur": "urowid", "ltz": "timestamp_ltz", "bf": "binary_float",
}

# torn images per typed tag (the fixture's '!CORRUPT!<hex>' sentinel):
# month byte 99, hour byte 0, mantissa digit > 99, short TSTZ, ...
_CORRUPT = {
    "n": "c1ff", "d": "77750c0e0d0101", "ts": "7775630e0d010100000000",
    "bd": "bf", "tz": "777503", "iym": "80", "ids": "8000000a",
    "b": "07", "ur": "02000000000000000000000000", "ltz": "7775",
    "bf": "bf00",
}


def _typed_cols(rng, obj):
    y, mo, dd = rng.randrange(1900, 2100), rng.randrange(1, 13), \
        rng.randrange(1, 29)
    hh, mi, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    wall = f"{y:04d}-{mo:02d}-{dd:02d} {hh:02d}:{mi:02d}:{ss:02d}"
    nanos = f"{rng.randrange(10 ** 9):09d}"
    sign = rng.choice(("", "-"))
    vals = {
        "n": f"{sign}{rng.randrange(10 ** 9)}.{rng.randrange(100):02d}",
        "d": wall,
        "ts": f"{wall}.{nanos}",
        "s": f"plain {rng.randrange(1000)}",
        "cs_utf8": rng.choice(("naïve", "数据", "plain")),
        "cs_sjis": rng.choice(("返品 F", "テスト", "abc")),
        "cs_gbk": rng.choice(("数据库", "中文", "xyz")),
        "cs_1252": rng.choice(("café", "Straße", "plain")),
        "bd": repr(rng.uniform(-1e6, 1e6)),
        "raw": bytes(rng.randrange(256) for _ in range(5)).hex(),
        "tz": f"{wall}.{nanos} {rng.choice(_TSTZ_SUFFIXES)}",
        "iym": f"{sign}{rng.randrange(100)}-{rng.randrange(12)}",
        "ids": f"{sign}{rng.randrange(1000)} {hh:02d}:{mi:02d}:{ss:02d}"
               f".{nanos}",
        "b": rng.choice(("0", "1")),
        "ur": rowid_to_text(rng.randrange(1 << 32), rng.randrange(1024),
                            rng.randrange(1 << 22), rng.randrange(1 << 16)),
        "ltz": f"{wall}.{nanos}",
        "bf": repr(float(rng.randrange(-5000, 5000)) / 8),
    }
    for k in list(vals):
        if rng.random() < 0.08:
            vals[k] = None
        elif k in _CORRUPT and rng.random() < 0.08:
            vals[k] = CORRUPT_SENTINEL + _CORRUPT[k]
    return vals


def _typed_tags():
    rng = random.Random(6002)
    recs = _txns(rng, 40, _typed_cols)
    data = encode_redo_file(recs, sequence=12, col_types=_TYPED)
    return data, None, DecodeOpts(7200)


def _typed_tags_dump():
    """The same file under the non-default renderings: hex charset
    text and the byte-dump UNKNOWN_FORMAT for the torn images."""
    data, _, _ = _typed_tags()
    return data, None, DecodeOpts(3600, char_format="hex", unknown="dump")


# obj 101 resolves fully, obj 102 has fewer names than columns on the
# stream (per-column COL_<n> fallback), obj 103 is outside the
# positional dictionary (named k/v framing)
_POS_DICTS = {101: ["Q", "P", "D", "NOTE"], 102: ["A", "B", "C"]}
_DICTIONARY = {101: ["Q", "P", "D", "NOTE"], 102: ["A", "B"]}


def _pos_cols(rng, obj):
    if obj == 101:
        cols = {"Q": str(rng.randrange(50)),
                "P": f"{rng.randrange(10 ** 5)}.{rng.randrange(100):02d}",
                "D": "2020-01-%02d 10:00:00" % rng.randrange(1, 29),
                "NOTE": rng.choice(("a", "bb", "ccc"))}
    elif obj == 102:
        cols = {"A": str(rng.randrange(9)), "B": "b", "C": "c"}
    else:
        cols = {"K": str(rng.randrange(9)), "V": "v"}
    for k in cols:
        if rng.random() < 0.2:
            cols[k] = None
    return cols


def _kdo_positional():
    rng = random.Random(6003)
    recs = _txns(rng, 50, _pos_cols)
    data = encode_redo_file(
        recs, sequence=13, col_types={"Q": "number", "P": "number",
                                      "D": "date"},
        pos_dicts=_POS_DICTS)
    return data, _DICTIONARY, DecodeOpts(7200)


def _damaged():
    rng = random.Random(6004)
    recs = _txns(rng, 60, _named_cols)
    hit = set(rng.sample(sorted({r["scn"] for r in recs}), 12))
    data, n = damage_records_by_scn(
        encode_redo_file(recs, sequence=14), hit)
    assert n == 12
    return data, None, DecodeOpts(7200, ignore_data_errors=True)


_FILES = {
    "named_v5": _named_v5,
    "typed_tags": _typed_tags,
    "typed_tags_dump": _typed_tags_dump,
    "kdo_positional": _kdo_positional,
    "damaged_ignore_errors": _damaged,
}

# (sha256 of the file bytes, sha256 of the parsed columns), first 16 hex
_GOLDEN = {
    "named_v5": ("69ce3fe8745f2a88", "18d45f13240c0619"),
    "typed_tags": ("9f83a5512ec883fc", "080ceaa66d19ace8"),
    "typed_tags_dump": ("9f83a5512ec883fc", "c8a5a92c87937c94"),
    "kdo_positional": ("3f009e3ec66894ec", "8d343a35b9dd3f1a"),
    "damaged_ignore_errors": ("ec9b183067e18f33", "eae03205cd3579d8"),
}


def _digests(name):
    data, dictionary, opts = _FILES[name]()
    cols = parse_redo_columns(data, name, dictionary, opts)
    text = json.dumps(cols, sort_keys=True, ensure_ascii=False)
    return (hashlib.sha256(data).hexdigest()[:16],
            hashlib.sha256(text.encode("utf-8")).hexdigest()[:16])


@pytest.mark.parametrize("name", sorted(_FILES))
def test_parse_output_matches_golden_digest(name):
    assert _digests(name) == _GOLDEN[name]


if __name__ == "__main__":
    for n in _FILES:
        print(f"    {n!r}: {_digests(n)!r},")
