"""W3 rotating file sink — the reference WriterFile contract
(src/writer/WriterFile.cpp:37-360): %i/%t/%s output masks,
max-file-size rotation, startup renumbering, new-line modes, append
semantics, and the engine/reference-config wiring."""

from __future__ import annotations

import glob
import json
import os

import pytest

from openlogreplicator_spark.streaming.file_writer import (
    RotatingFileWriter,
    _ConfigError,
)


def w(tmp_path, mask, **kw):
    return RotatingFileWriter(str(tmp_path / mask), **kw)


# -- mask parsing / configuration rejections (cpp:81-135) ----------------


def test_invalid_percent_mask_rejected(tmp_path):
    with pytest.raises(_ConfigError) as ei:
        w(tmp_path, "out-%x.json", max_file_size=100)
    assert ei.value.code == 30005


def test_no_rotation_requires_append(tmp_path):
    with pytest.raises(_ConfigError) as ei:
        w(tmp_path, "out.json", append=0)
    assert ei.value.code == 30006


def test_rotation_requires_max_file_size(tmp_path):
    for mask in ("out-%i.json", "out-%t.json"):
        with pytest.raises(_ConfigError) as ei:
            w(tmp_path, mask)
        assert ei.value.code == 30007
    # %s (sequence) rotation does NOT need max-file-size (cpp:133 only
    # checks TIMESTAMP and NUM)
    w(tmp_path, "out-%s.json")


def test_num_fill_variants(tmp_path):
    wr = w(tmp_path, "o-%4i.json", max_file_size=10)
    wr.write(b"aaaaaaaa", seq=1)  # 8+1 newline
    wr.write(b"bbbbbbbb", seq=1)  # rotates
    wr.close()
    names = sorted(os.listdir(tmp_path))
    assert names == ["o-0000.json", "o-0001.json"]


# -- NUM rotation + startup scan (cpp:138-229) ----------------------------


def test_num_rotation_and_scan_append(tmp_path):
    wr = w(tmp_path, "out-%i.json", max_file_size=25)
    for i in range(6):
        wr.write(b"0123456789", seq=1)  # 11 B w/ newline → 2/file (33>25)
    wr.close()
    files = sorted(os.listdir(tmp_path))
    assert files == ["out-0.json", "out-1.json", "out-2.json"]
    assert (tmp_path / "out-0.json").read_bytes() == b"0123456789\n" * 2

    # restart with append=1: continues INTO the highest existing file
    wr2 = w(tmp_path, "out-%i.json", max_file_size=25, append=1)
    assert wr2.file_name_num == 2
    wr2.write(b"x", seq=1)
    wr2.close()
    assert (tmp_path / "out-2.json").read_bytes() == (
        b"0123456789\n" * 2 + b"x\n"
    )

    # restart with append=0: starts a FRESH number past the highest
    wr3 = w(tmp_path, "out-%i.json", max_file_size=25, append=0)
    assert wr3.file_name_num == 3
    wr3.write(b"y", seq=1)
    wr3.close()
    assert (tmp_path / "out-3.json").read_bytes() == b"y\n"


def test_append_zero_refuses_existing_file(tmp_path):
    (tmp_path / "solo-7.json").write_text("old")
    wr = w(tmp_path, "solo-%i.json", max_file_size=100, append=0)
    assert wr.file_name_num == 8  # renumbered past the survivor
    wr.write(b"new", seq=1)
    wr.close()
    assert (tmp_path / "solo-8.json").read_bytes() == b"new\n"


def test_oversize_message_warns_and_still_writes(tmp_path):
    wr = w(tmp_path, "big-%i.json", max_file_size=4)
    with pytest.warns(UserWarning, match="max-file"):
        wr.write(b"0123456789", seq=1)
    wr.close()
    # an oversize FIRST message still bumps the counter — the reference's
    # checkFile increments fileNameNum before any file is open
    # (WriterFile.cpp:212-216 runs with outputDes == -1)
    assert (tmp_path / "big-1.json").read_bytes() == b"0123456789\n"


# -- new-line modes (cpp:60-64,308-311) -----------------------------------


def test_new_line_modes(tmp_path):
    for nl, tail in ((0, b"ab"), (1, b"a\nb\n"), (2, b"a\r\nb\r\n")):
        wr = w(tmp_path, f"nl{nl}.json", new_line=nl)
        wr.write(b"a", seq=1)
        wr.write(b"b", seq=1)
        wr.close()
        assert (tmp_path / f"nl{nl}.json").read_bytes() == tail
    # the newline counts against the rotation size:
    # checkFile(scn, seq, size + newLine) — cpp:303
    wr = w(tmp_path, "nlr-%i.json", max_file_size=4, new_line=2)
    wr.write(b"ab", seq=1)   # 2+2 = 4 ≤ 4
    wr.write(b"cd", seq=1)   # 4+4 > 4 → rotate
    wr.close()
    assert sorted(os.listdir(tmp_path)).count("nlr-1.json") == 1


# -- SEQUENCE mode (cpp:259-269) ------------------------------------------


def test_sequence_rotation(tmp_path):
    wr = w(tmp_path, "seq-%s.json")
    wr.write(b"a", seq=5)
    wr.write(b"b", seq=5)
    wr.write(b"c", seq=6)
    wr.close()
    assert (tmp_path / "seq-5.json").read_bytes() == b"a\nb\n"
    assert (tmp_path / "seq-6.json").read_bytes() == b"c\n"


# -- TIMESTAMP mode (cpp:230-258) -----------------------------------------


def test_timestamp_same_tick_warns_once_keeps_writing(
    tmp_path, monkeypatch
):
    # pin the clock: a real second boundary between writes would rotate
    # instead of warn, making the assertion time-sensitive
    import time as _time

    frozen = _time.localtime()
    monkeypatch.setattr(
        "openlogreplicator_spark.streaming.file_writer.time.localtime",
        lambda *a: frozen,
    )
    wr = w(tmp_path, "t-%t.json", max_file_size=4)
    wr.write(b"abc", seq=1)
    # same strftime second → same name → warn 60030-style, no switch
    with pytest.warns(UserWarning, match="rotation size"):
        wr.write(b"def", seq=1)
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")   # the 60030 warning fires only once
        wr.write(b"ghi", seq=1)
    wr.close()
    files = os.listdir(tmp_path)
    assert len(files) == 1
    content = (tmp_path / files[0]).read_bytes()
    assert content == b"abc\ndef\nghi\n"


def test_timestamp_format_compat_tokens(tmp_path):
    wr = w(tmp_path, "t-%t.json", max_file_size=1000,
           timestamp_format="%F_%T")
    wr.write(b"x", seq=1)
    wr.close()
    (name,) = os.listdir(tmp_path)
    # %F_%T → 2026-08-16_12:34:56 shape
    import re

    assert re.fullmatch(r"t-\d{4}-\d{2}-\d{2}_\d{2}:\d{2}:\d{2}\.json", name)


# -- stdout mode (cpp:67-70) ------------------------------------------------


def test_stdout_mode(capsys):
    wr = RotatingFileWriter("")
    assert wr.mode == RotatingFileWriter.MODE_STDOUT
    wr.write(b"hello", seq=1)
    wr.flush()


# -- reference-config wiring ------------------------------------------------


def test_reference_config_builds_rotating_writer(tmp_path):
    from openlogreplicator_spark.reference_config import (
        ConfigurationError,
        from_reference_json,
    )

    def cfg(writer_extra):
        return {
            "version": "1.9.0",
            "source": [{
                "alias": "S", "name": "DB",
                "reader": {"type": "offline"},
                "format": {"type": "json"},
            }],
            "target": [{
                "alias": "T", "source": "S",
                "writer": {"type": "file", **writer_extra},
            }],
        }

    dep = from_reference_json(
        cfg({"output": str(tmp_path / "o-%i.json"),
             "max-file-size": 1000, "new-line": 2, "append": 1})
    )
    assert dep.spark_sink() == "file"
    kw = dep.pipeline_kwargs()
    fw = kw["file_writer"]
    assert fw.mode == RotatingFileWriter.MODE_NUM
    assert fw.new_line_bytes == b"\r\n"
    assert kw["out_dir"] == str(tmp_path)

    # mask/size rejections surface as ConfigurationError with the
    # reference's code
    dep_bad = from_reference_json(
        cfg({"output": str(tmp_path / "o-%i.json")})
    )
    with pytest.raises(ConfigurationError) as ei:
        dep_bad.pipeline_kwargs()
    assert ei.value.code == 30007

    # no output → stdout in the reference; maps to the distributed json
    # sink here (documented)
    dep_plain = from_reference_json(cfg({}))
    assert dep_plain.spark_sink() == "json"
    assert "file_writer" not in dep_plain.pipeline_kwargs()

    # write-buffer-flush-size is range-validated like cpp:1152-1157
    with pytest.raises(ConfigurationError):
        from_reference_json(
            cfg({"write-buffer-flush-size": 2_000_000})
        )


# -- e2e: pipeline → rotating file sink -------------------------------------


def test_pipeline_file_sink_rotation_e2e(spark, tmp_path):
    """build_pipeline(sink='file') drains the binary fixture into a
    NUM-rotated single-file layout: every file but the last stays under
    max-file-size (unless one message alone exceeds it), names follow
    the mask, content is newline-delimited JSON in emission order."""
    from conftest import drain
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import write_binary_redo
    from openlogreplicator_spark.sources.redo_gen import redo_records_df
    from openlogreplicator_spark.streaming.engine import build_pipeline

    def rec(scn, opcode, xid="5.5.5", **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": xid, "opcode": opcode, "obj": 9,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    records = [rec(1, "begin")] + [
        rec(2 + i, "insert", cols={"A": f"v{i:04d}"}) for i in range(40)
    ] + [rec(50, "commit")]
    redo_dir = str(tmp_path / "redo")
    write_binary_redo(redo_records_df(spark, records), redo_dir, n_files=1)

    out_dir = tmp_path / "out"
    out_dir.mkdir()
    cap = 2048
    fw = RotatingFileWriter(
        str(out_dir / "olr-%3i.json"), max_file_size=cap
    )
    cfg = EngineConfig(fmt=Format(skip_begin=True, skip_commit=True))
    q = build_pipeline(
        spark, cfg, redo_dir,
        checkpoint=str(tmp_path / "ckpt"),
        sink="file", file_writer=fw, query_name="olr_file_rot",
    )
    drain(q)
    fw.close()

    files = sorted(glob.glob(str(out_dir / "olr-*.json")))
    assert len(files) >= 2, "expected rotation under the byte cap"
    assert all(
        os.path.basename(f).startswith("olr-")
        and len(os.path.basename(f)) == len("olr-000.json")
        for f in files
    )
    rows = []
    for f in files[:-1]:
        assert os.path.getsize(f) <= cap
    for f in files:
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    assert len(rows) == 40
    scns = [r["scn"] for r in rows]
    assert scns == sorted(scns), "emission order must survive rotation"


def test_file_funnel_executes_each_batch_once(spark, tmp_path):
    """The file funnel's emission-order sort runs two jobs (the range
    boundary sample, then the shuffle). Unless the rendered frame is
    persisted, each job re-executes the plan above foreachBatch — the
    stateful assembly, its state commit and the observe() counters —
    and the W8 ``rows_out`` summed over the drain reads twice the
    messages written."""
    import time

    from conftest import drain
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import write_binary_redo
    from openlogreplicator_spark.sources.redo_gen import (
        generate_redo_records,
        redo_records_df,
    )
    from openlogreplicator_spark.streaming.engine import build_pipeline
    from openlogreplicator_spark.streaming.pipeline import MetricsListener

    redo_dir = str(tmp_path / "redo")
    write_binary_redo(
        redo_records_df(spark, generate_redo_records(n_txns=6, seed=11)),
        redo_dir, n_files=2,
    )
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    fw = RotatingFileWriter(str(out_dir / "olr.json"))
    cfg = EngineConfig(fmt=Format(skip_begin=True, skip_commit=True))
    listener = MetricsListener()
    listener.attach(spark)
    try:
        q = build_pipeline(
            spark, cfg, redo_dir,
            checkpoint=str(tmp_path / "ckpt"),
            sink="file", file_writer=fw, query_name="olr_file_once",
        )
        drain(q)
        fw.close()
        with open(out_dir / "olr.json") as fh:
            written = sum(1 for line in fh if line.strip())

        def rows_out():
            return sum(
                p["observedMetrics"]["olr_metrics"]["rows_out"]
                for p in listener.progress
                if p.get("observedMetrics", {}).get("olr_metrics")
            )

        # listener delivery is async: wait until the counters stop short
        deadline = time.time() + 20
        while rows_out() < written and time.time() < deadline:
            time.sleep(0.2)
        time.sleep(0.5)
    finally:
        listener.detach(spark)
    assert written > 0
    assert rows_out() == written


def test_pipeline_sequence_mask_rotates_on_real_seq(spark, tmp_path):
    """%s SEQUENCE rotation end-to-end: the per-record redo seq (the
    OLRS1 file header sequence) now rides through assembly
    (ASSEMBLED_SCHEMA.seq) into the change events, so a log switch
    between transactions rotates the output file
    (WriterFile.cpp:259-269) — previously every event carried the
    hardcoded seq 1 and %s never rotated."""
    from conftest import drain
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import encode_redo_file
    from openlogreplicator_spark.streaming.engine import build_pipeline

    def rec(scn, opcode, xid, **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "xid": xid, "opcode": opcode, "obj": 9,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    seq3 = (
        [rec(1, "begin", "1.1.1")]
        + [rec(2 + i, "insert", "1.1.1", cols={"A": str(i)})
           for i in range(4)]
        + [rec(10, "commit", "1.1.1")]
    )
    seq4 = (
        [rec(100, "begin", "2.2.2")]
        + [rec(101 + i, "insert", "2.2.2", cols={"A": str(i)})
           for i in range(3)]
        + [rec(110, "commit", "2.2.2")]
    )
    redo_dir = tmp_path / "redo"
    redo_dir.mkdir()
    for seq, recs in ((3, seq3), (4, seq4)):
        (redo_dir / f"redo_{seq:04d}.olrs").write_bytes(
            encode_redo_file(recs, sequence=seq)
        )

    out_dir = tmp_path / "out"
    out_dir.mkdir()
    fw = RotatingFileWriter(str(out_dir / "olr-%s.json"))
    q = build_pipeline(
        spark, EngineConfig(fmt=Format(skip_begin=True, skip_commit=True)),
        str(redo_dir), checkpoint=str(tmp_path / "ckpt"),
        sink="file", file_writer=fw, query_name="olr_seq_rot",
    )
    drain(q)
    fw.close()
    names = sorted(os.listdir(out_dir))
    assert names == ["olr-3.json", "olr-4.json"]
    n3 = sum(1 for _l in open(out_dir / "olr-3.json") if _l.strip())
    n4 = sum(1 for _l in open(out_dir / "olr-4.json") if _l.strip())
    assert (n3, n4) == (4, 3)


def test_rotation_invariants_property(tmp_path):
    """Property: across arbitrary message/rotation interleavings, the
    NUM-mode writer (a) never loses or reorders a byte — concatenating
    the rotated files in counter order reproduces the exact message
    stream — and (b) never lets a file exceed max-file-size unless a
    single message alone does."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        msgs=st.lists(
            st.binary(min_size=0, max_size=40), min_size=1, max_size=60
        ),
        cap=st.integers(min_value=1, max_value=64),
        new_line=st.sampled_from([0, 1, 2]),
    )
    def run(msgs, cap, new_line):
        import shutil
        import tempfile

        d = tempfile.mkdtemp(dir=str(tmp_path))
        try:
            wr = RotatingFileWriter(
                os.path.join(d, "p-%i.json"),
                max_file_size=cap,
                new_line=new_line,
            )
            import warnings as w

            with w.catch_warnings():
                w.simplefilter("ignore")
                for m in msgs:
                    wr.write(m, seq=1)
            wr.close()
            nl = {0: b"", 1: b"\n", 2: b"\r\n"}[new_line]
            files = sorted(
                os.listdir(d),
                key=lambda n: int(n[2:-5]),
            )
            blob = b"".join(
                open(os.path.join(d, f), "rb").read() for f in files
            )
            assert blob == b"".join(m + nl for m in msgs)
            for f in files:
                size = os.path.getsize(os.path.join(d, f))
                if size > cap:
                    # only a single over-cap message may exceed the cap,
                    # and then it must be alone in its file
                    with open(os.path.join(d, f), "rb") as fh:
                        content = fh.read()
                    assert any(
                        content == m + nl and len(m) + len(nl) > cap
                        for m in msgs
                    ), (f, size, cap)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    run()


def test_pipeline_file_sink_protobuf_payload(spark, tmp_path):
    """format=protobuf + writer=file: the rotated file carries
    protobuf-framed RedoResponse messages (the reference pairs any
    format with any writer; WriterFile writes whatever the builder
    renders). new-line=0 keeps the frames contiguous; each decodes with
    the independent wire parser."""
    from conftest import drain
    from openlogreplicator_spark.builders.protobuf_builder import (
        decode_message,
    )
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import write_binary_redo
    from openlogreplicator_spark.sources.redo_gen import redo_records_df
    from openlogreplicator_spark.streaming.engine import build_pipeline

    def rec(scn, opcode, **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": "5.5.5", "opcode": opcode, "obj": 9,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    records = [rec(1, "begin")] + [
        rec(2 + i, "insert", cols={"A": f"v{i}"}) for i in range(5)
    ] + [rec(20, "commit")]
    redo_dir = str(tmp_path / "redo")
    write_binary_redo(redo_records_df(spark, records), redo_dir, n_files=1)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    # MESSAGE_FORMAT::FULL → ONE envelope per transaction, so the
    # single output frame is parseable without length prefixes
    fw = RotatingFileWriter(str(out_dir / "olr.pb"), new_line=0)
    from openlogreplicator_spark.config import MessageFormat

    cfg = EngineConfig(
        fmt=Format(db_name="PDB", message=MessageFormat.FULL,
                   skip_begin=True, skip_commit=True)
    )
    q = build_pipeline(
        spark, cfg, redo_dir,
        checkpoint=str(tmp_path / "ckpt"),
        sink="file", file_writer=fw, payload_format="protobuf",
        query_name="olr_file_pb",
    )
    drain(q)
    fw.close()
    frame = (out_dir / "olr.pb").read_bytes()
    fields = {}
    payloads = []
    for f, _w, v in decode_message(frame):
        if f == 9:
            payloads.append(v)
        else:
            fields[f] = v
    assert fields[1] == 5            # code = PAYLOAD
    assert fields[8] == b"PDB"       # db
    assert len(payloads) == 5        # the 5 inserts, one envelope


def test_pipeline_file_sink_restart_no_duplicates(spark, tmp_path):
    """Restarting the drained pipeline on the SAME checkpoint (fresh
    writer object, as after a process restart) appends nothing: Spark's
    offset log yields no new batches, the batch-id sidecar guards any
    replayed one, and NUM renumbering continues instead of rewriting."""
    from conftest import drain
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import write_binary_redo
    from openlogreplicator_spark.sources.redo_gen import redo_records_df
    from openlogreplicator_spark.streaming.engine import build_pipeline

    def rec(scn, opcode, **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": "5.5.5", "opcode": opcode, "obj": 9,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    records = [rec(1, "begin")] + [
        rec(2 + i, "insert", cols={"A": f"v{i}"}) for i in range(6)
    ] + [rec(20, "commit")]
    redo_dir = str(tmp_path / "redo")
    write_binary_redo(redo_records_df(spark, records), redo_dir, n_files=1)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    cfg = EngineConfig(fmt=Format(skip_begin=True, skip_commit=True))
    ckpt = str(tmp_path / "ckpt")

    def run():
        fw = RotatingFileWriter(str(out_dir / "o-%i.json"),
                                max_file_size=10_000)
        q = build_pipeline(
            spark, cfg, redo_dir, checkpoint=ckpt,
            sink="file", file_writer=fw, query_name="olr_file_restart",
        )
        drain(q)
        fw.close()

    run()
    snapshot = {
        f: (out_dir / f).read_bytes() for f in os.listdir(out_dir)
    }
    assert sum(v.count(b"\n") for v in snapshot.values()) == 6
    run()   # restart: fresh writer + sink closure, same checkpoint
    after = {f: (out_dir / f).read_bytes() for f in os.listdir(out_dir)}
    assert after == snapshot, "restart on a drained checkpoint must be a no-op"


def test_pipeline_timestamp_mask_e2e(spark, tmp_path):
    """%t TIMESTAMP rotation through build_pipeline: with a cap far
    above the batch size nothing rotates — one strftime-named file
    holds the whole drain in emission order."""
    import re as _re

    from conftest import drain
    from openlogreplicator_spark.config import EngineConfig, Format
    from openlogreplicator_spark.sources.binary_redo import write_binary_redo
    from openlogreplicator_spark.sources.redo_gen import redo_records_df
    from openlogreplicator_spark.streaming.engine import build_pipeline

    def rec(scn, opcode, **kw):
        base = {"scn": scn, "subscn": 0, "block": scn, "offset": 0,
                "seq": 1, "xid": "5.5.5", "opcode": opcode, "obj": 9,
                "bdba": scn, "slot": 1, "fb": 0, "cols": None,
                "rows": None}
        base.update(kw)
        return base

    records = [rec(1, "begin")] + [
        rec(2 + i, "insert", cols={"A": f"v{i}"}) for i in range(8)
    ] + [rec(20, "commit")]
    redo_dir = str(tmp_path / "redo")
    write_binary_redo(redo_records_df(spark, records), redo_dir, n_files=1)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    fw = RotatingFileWriter(
        str(out_dir / "olr-%t.json"), max_file_size=1 << 20
    )
    q = build_pipeline(
        spark, EngineConfig(fmt=Format(skip_begin=True, skip_commit=True)),
        redo_dir, checkpoint=str(tmp_path / "ckpt"),
        sink="file", file_writer=fw, query_name="olr_ts_rot",
    )
    drain(q)
    fw.close()
    (name,) = os.listdir(out_dir)
    assert _re.fullmatch(
        r"olr-\d{4}-\d{2}-\d{2}_\d{2}:\d{2}:\d{2}\.json", name
    )
    lines = [
        json.loads(line)
        for line in open(out_dir / name)
        if line.strip()
    ]
    assert len(lines) == 8
    scns = [r["scn"] for r in lines]
    assert scns == sorted(scns)


def test_interval_mb_byte_paced_checkpoint_doc(spark, tmp_path):
    """state.interval-mb wired (Metadata::writeCheckpoint pacing,
    Metadata.cpp:421-424): the W7 checkpoint document advances when the
    funnel's rendered-byte counter crosses the threshold, even though
    interval-s has not elapsed. First checkpoint is forced; a batch
    below both thresholds leaves the doc untouched."""
    from openlogreplicator_spark.metadata.state_documents import (
        read_checkpoint_doc,
    )
    from openlogreplicator_spark.streaming.file_writer import (
        RotatingFileWriter,
        stream_file_sink,
    )

    out = tmp_path / "out.json"
    state = str(tmp_path / "state")
    wr = RotatingFileWriter(str(out))
    fb = stream_file_sink(
        wr,
        state_path=str(tmp_path / "sidecar"),
        state_dir=state,
        database="DB",
        interval_s=10_000,   # time cadence never fires in this test
        interval_mb=1,       # byte cadence: 1 MiB
    )

    def batch(scn: int, payload: str, n: int = 1):
        return spark.createDataFrame(
            [(f"x{i}", payload, scn, f"x{i}", i, 1) for i in range(n)],
            "key string, value string, _oscn long, _oxid string, "
            "_oidx long, _oseq long",
        )

    # scn 100 alone: nothing provably complete yet — no doc
    fb(batch(100, "a" * 10), 0)
    assert read_checkpoint_doc(state, "DB") is None
    # scn 200 proves 100 complete — FIRST checkpoint forced
    fb(batch(200, "b" * 10), 1)
    assert read_checkpoint_doc(state, "DB")["scn"] == 100
    # big batch at scn 300: 200 complete AND the byte cadence crossed
    fb(batch(300, "c" * (600 * 1024), n=2), 2)
    assert read_checkpoint_doc(state, "DB")["scn"] == 200
    # scn 400 completes 300, but neither cadence is due — doc holds
    fb(batch(400, "d" * 10), 3)
    assert read_checkpoint_doc(state, "DB")["scn"] == 200
    wr.close()


def _msg_batch(spark, rows):
    """(scn, xid, odoc, value) rows → rendered-message frame with the
    funnel's order + doc columns."""
    return spark.createDataFrame(
        [(scn, xid, odoc, v, 0, 1) for scn, xid, odoc, v in rows],
        "_oscn long, _oxid string, _odoc long, value string, "
        "_oidx long, _oseq long",
    ).selectExpr("'k' as key", "value", "_oscn", "_oxid", "_oidx",
                 "_oseq", "_odoc")


def test_doc_watermark_complete_scns_only(spark, tmp_path):
    """r10 review pass 6 (final contract): the file funnel's doc
    records the highest COMPLETE commit scn — advanced only when a
    HIGHER commit-backed data message proves the previous scn finished
    (scns are globally monotone in redo order). Heartbeats (NULL xid,
    unthrottled source) and incomplete diagnostics (NULL commit) never
    advance it, so a doc-based cold start with strict commit_scn > doc
    can never skip an unwritten transaction."""
    from openlogreplicator_spark.metadata.state_documents import (
        read_checkpoint_doc,
    )
    from openlogreplicator_spark.streaming.file_writer import (
        RotatingFileWriter,
        stream_file_sink,
    )

    out = tmp_path / "out.json"
    state = str(tmp_path / "state")
    wr = RotatingFileWriter(str(out))
    fb = stream_file_sink(wr, state_dir=state, database="DB",
                          interval_s=10_000, interval_mb=10_000)
    # batch 0: one commit scn only — nothing is provably complete yet
    fb(_msg_batch(spark, [(100, "1.1.1", 100, "data-a")]), 0)
    assert read_checkpoint_doc(state, "DB") is None
    # batch 1: commit 150 proves 100 complete — doc = 100; the far-ahead
    # heartbeat (500) and the diagnostic (300) do NOT advance it
    fb(
        _msg_batch(spark, [
            (150, "B", 150, "b-0"),
            (500, None, None, "chkpt-hb"),
            (300, "2.2.2", None, "diagnostic"),
        ]),
        1,
    )
    doc = read_checkpoint_doc(state, "DB")
    assert doc is not None and doc["scn"] == 100, doc
    wr.close()


def test_file_sink_split_scn_never_lost(spark, tmp_path):
    """Two transactions sharing one commit scn across micro-batches:
    the doc cannot advance TO that scn until a higher commit appears,
    so a crash between the batches leaves the doc strictly below it and
    a cold start (commit_scn > doc) re-emits the whole scn — the
    unwritten transaction is preserved; duplicates are bounded to the
    scn's already-written prefix (the reference's at-least-once
    window)."""
    from openlogreplicator_spark.metadata.state_documents import (
        read_checkpoint_doc,
    )
    from openlogreplicator_spark.streaming.file_writer import (
        RotatingFileWriter,
        stream_file_sink,
    )

    out = tmp_path / "out.json"
    state = str(tmp_path / "state")
    wr = RotatingFileWriter(str(out))
    fb = stream_file_sink(wr, state_dir=state, database="DB",
                          interval_s=10_000, interval_mb=10_000)
    # batch 0 completes scn 100, then writes part of scn 150 (txn B);
    # txn A (also commit 150) would have come in batch 1 — crash first
    fb(_msg_batch(spark, [(100, "Z", 100, "z-0"),
                          (150, "B", 150, "b-0")]), 0)
    wr.close()
    doc = read_checkpoint_doc(state, "DB")
    # the doc records the COMPLETE scn 100, never the in-flight 150
    assert doc is not None and doc["scn"] == 100, doc
    # cold start filters commit_scn > 100: scn 150 re-emits WHOLE —
    # txn A is preserved; b-0 duplicates (bounded, documented)
