"""Hot-bucket spill path of the batch assembly kernel (r5 VERDICT #6 /
reference T10 swap-to-disk): a bucket that outgrows
spark.olrs.assembly.spillThresholdMb stages its payload batches to a
local Arrow IPC file and assembles from the slim key columns — a skewed
xid-bucket degrades to disk I/O instead of a Python-worker OOM."""

from __future__ import annotations

import re
import subprocess
import sys
import textwrap

import pytest

_PROBE = textwrap.dedent(
    """
    import resource, sys
    sys.path.insert(0, {repo!r})
    import pyarrow as pa
    from openlogreplicator_spark.operators.transaction_assembly import (
        _assemble_stream,
    )

    N_BATCHES, ROWS, VAL = 40, 1500, "x" * 2048  # ~120 MB payload

    def gen():
        schema = pa.schema([
            ("scn", pa.int64()), ("subscn", pa.int32()),
            ("block", pa.int64()), ("offset", pa.int32()),
            ("seq", pa.int64()), ("xid", pa.string()),
            ("opcode", pa.string()), ("obj", pa.int64()),
            ("bdba", pa.int64()), ("slot", pa.int32()),
            ("fb", pa.int32()),
            ("cols", pa.map_(pa.string(), pa.string())),
            ("rows", pa.list_(pa.map_(pa.string(), pa.string()))),
        ])
        scn = 0
        for bi in range(N_BATCHES):
            first, last = bi == 0, bi == N_BATCHES - 1
            rows = []
            for i in range(ROWS):
                scn += 1
                if first and i == 0:
                    rows.append((scn, 0, 0, 0, 1, "hot", "begin", 0,
                                 None, None, 0, None, None))
                elif last and i == ROWS - 1:
                    rows.append((scn, 0, 0, 0, 1, "hot", "commit", 0,
                                 None, None, 0, None, None))
                else:
                    rows.append((scn, 0, i, i, 1, "hot", "insert", 5,
                                 i, 0, 0, [("v", VAL)], None))
            cols = list(zip(*rows))
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type)
                 for c, f in zip(cols, schema)],
                schema=schema,
            )

    total = 0
    for out in _assemble_stream(gen(), False, None, int(sys.argv[1])):
        total += len(out)
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    print(f"rows={{total}} rss_kb={{rss}}")
    """
)


def _probe(spill_mb: int) -> tuple[int, int]:
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=repo), str(spill_mb)],
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    m = re.search(r"rows=(\d+) rss_kb=(\d+)", out)
    assert m, out
    return int(m.group(1)), int(m.group(2))


def test_hot_bucket_spill_bounds_peak_rss():
    """ONE transaction whose payload (~120 MB) dwarfs the spill
    threshold: the spilled kernel must emit the identical row count at
    a small fraction of the in-memory kernel's peak RSS (measured in a
    clean subprocess — ru_maxrss is a process-lifetime high-water
    mark). Measured 257 MB vs 1395 MB at 400 MB payload; the gate here
    is a conservative 0.6× so allocator noise can't flake it."""
    rows_spill, rss_spill = _probe(8)
    rows_mem, rss_mem = _probe(100000)  # never spills
    assert rows_spill == rows_mem > 0
    assert rss_spill < rss_mem * 0.6, (
        f"spill path peak RSS {rss_spill} kB not below 0.6× the "
        f"in-memory path's {rss_mem} kB"
    )


def test_forced_spill_matches_sequential(spark):
    """spillThresholdMb=0 forces EVERY bucket through the disk-staged
    path; output must equal the sequential reference across exotic
    shapes (rollbacks, partial rollbacks, QMI/QMD, attributes)."""
    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions,
        assemble_transactions_py,
    )
    from openlogreplicator_spark.sources.redo_gen import (
        generate_redo_records,
        redo_records_df,
    )

    def norm(events):
        return sorted(
            (e["xid"], e["begin_scn"], e["commit_scn"], e["num"], e["op"],
             e["obj"], e["bdba"], e["slot"], e["scn"],
             tuple(sorted((e["cols"] or {}).items())),
             tuple(sorted((e["attrs"] or {}).items())))
            for e in events
        )

    spark.conf.set("spark.olrs.assembly.spillThresholdMb", "0")
    try:
        for seed in (7, 23):
            records = generate_redo_records(
                n_txns=40, seed=seed, p_rollback=0.15
            )
            expected = assemble_transactions_py(records)
            got = [
                r.asDict()
                for r in assemble_transactions(
                    redo_records_df(spark, records)
                ).collect()
            ]
            assert norm(got) == norm(expected), f"seed {seed}"
    finally:
        spark.conf.unset("spark.olrs.assembly.spillThresholdMb")


def test_forced_spill_honors_swap_path(spark, tmp_path):
    """The reference "memory" element's swap-path (wired through
    spark.olrs.assembly.swapPath, r7): spilled Arrow IPC staging files
    must land in the configured directory, and the output must be
    unchanged. Observation is race-free: a writable swap dir gives
    output identical to the in-memory route, and a NONEXISTENT swap dir
    makes the spill path fail loudly — proof the staging files really
    target the configured directory."""
    import os

    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions,
    )
    from openlogreplicator_spark.sources.redo_gen import (
        generate_redo_records,
        redo_records_df,
    )

    records = generate_redo_records(n_txns=12, seed=11)
    df = redo_records_df(spark, records)
    baseline = sorted(
        (r["xid"], r["num"], r["op"]) for r in assemble_transactions(df).collect()
    )

    writable = tmp_path / "swap_ok"
    writable.mkdir()
    spark.conf.set("spark.olrs.assembly.spillThresholdMb", "0")
    spark.conf.set("spark.olrs.assembly.swapPath", str(writable))
    try:
        got = sorted(
            (r["xid"], r["num"], r["op"])
            for r in assemble_transactions(df).collect()
        )
        assert got == baseline

        # a NONEXISTENT swap dir must fail mkstemp inside the kernel —
        # the root-proof observation that staging really targets the
        # configured directory (permission bits don't bind root)
        spark.conf.set(
            "spark.olrs.assembly.swapPath", str(tmp_path / "no_such_dir")
        )
        try:
            assemble_transactions(df).collect()
            raised = False
        except Exception:
            raised = True
        assert raised, (
            "spill staging ignored the configured swap-path (no failure "
            "on a nonexistent dir means files went elsewhere)"
        )
    finally:
        spark.conf.unset("spark.olrs.assembly.spillThresholdMb")
        spark.conf.unset("spark.olrs.assembly.swapPath")


@pytest.mark.parametrize("bad", ["abc", "-1"])
def test_bad_spill_threshold_is_rejected_at_wiring(spark, bad):
    """A non-integer or negative ``spark.olrs.assembly.spillThresholdMb``
    raises ValueError naming the conf when the plan is wired, before any
    job runs. It used to be replaced by the 256 MB default without a
    word, so a typo silently disabled the configured memory bound."""
    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions,
    )
    from openlogreplicator_spark.sources.redo_gen import (
        generate_redo_records,
        redo_records_df,
    )

    df = redo_records_df(spark, generate_redo_records(n_txns=2, seed=3))
    spark.conf.set("spark.olrs.assembly.spillThresholdMb", bad)
    try:
        with pytest.raises(
            ValueError, match="spark.olrs.assembly.spillThresholdMb"
        ):
            assemble_transactions(df)
    finally:
        spark.conf.unset("spark.olrs.assembly.spillThresholdMb")
