#!/usr/bin/env python3
"""Engine benchmark: live redo tail and analytic query mix.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_tail --seed 1 \
        --seconds 20 --trace 0

Workloads: ``cdc_tail``, ``query_mix`` (see perfbench/README.md). The
inputs are generated from ``--seed`` under ``.perfbench/`` in the
repository root and removed at exit. With
``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics and the run's spans are
written to ``.perfbench-traces/``. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import procstat  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_FILES = (
    "openlogreplicator_spark/__init__.py", "bench.py", "__spark_entry__.py",
)

# the cdc_tail generator's shape: transactions per one-second segment,
# and how many transactions later each one commits
SCALES = {
    "full": {"tail_txns_per_segment": 100, "tail_open_window": 150},
    # the self-test's smoke size: every code path, a few seconds each
    "smoke": {"tail_txns_per_segment": 20, "tail_open_window": 30},
}

WORKLOAD_MODULES = {"cdc_tail": "wl_tail", "query_mix": "wl_query"}

E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "drain_records_per_s": "1/s",
    "tail_lag_p50_ms": "ms",
    "tail_lag_p90_ms": "ms",
    "query_total_s": "s",
    "query_geomean_s": "s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in print order."""
    from wl_query import MIX

    u = {
        "binary_redo.parse_s": "s",
        "binary_redo.records": "count",
        "binary_redo.input_bytes": "bytes",
        "binary_redo.python_s": "s",
        "binary_redo.python_boot_s": "s",
        "transaction_assembly.self_s": "s",
        "transaction_assembly.transactions": "count",
        "transaction_assembly.exchange_bytes": "bytes",
        "transaction_assembly.spill_bytes": "bytes",
        "engine.change_events_self_s": "s",
        "engine.change_events": "count",
        "json_builder.render_self_s": "s",
        "json_builder.messages": "count",
        "json_builder.bytes": "bytes",
        "assembly.state_bytes_max": "bytes",
        "assembly.state_rows_updated": "count",
        "assembly.state_commit_ms": "ms",
        "assembly.state_rows_final": "count",
        "microbatch.data_batches": "count",
        "microbatch.idle_batches": "count",
        "microbatch.trigger_ms_p50": "ms",
        "microbatch.add_batch_ms_p50": "ms",
        "microbatch.planning_ms_p50": "ms",
        "microbatch.wal_commit_ms_p50": "ms",
        "microbatch.commit_offsets_ms_p50": "ms",
        "microbatch.idle_batch_ms_p50": "ms",
        "file_writer.write_ms": "ms",
        "file_writer.flushes": "count",
        "file_writer.messages": "count",
        "file_writer.bytes": "bytes",
        "file_writer.checkpoint_docs": "count",
        "loadgen.late_ms_max": "ms",
        "loadgen.segments": "count",
        "tail.backlog_segments_max": "count",
        "tail.idle_cpu_cores": "cores",
        "run.error_rate": "ratio",
        "host.steal_s": "s",
        "trace.overhead_s": "s",
    }
    for name in MIX:
        u[f"query.{name}.s"] = "s"
        u[f"query.{name}.shuffle_bytes"] = "bytes"
        u[f"query.{name}.scan_bytes"] = "bytes"
        if name.startswith("dedup_"):
            u[f"query.{name}.candidate_pairs"] = "count"
    return u


class Context:
    """What a workload gets: the session, its scratch directory, the
    run's arguments, the process-tree sampler and the tracer. The
    workload calls :meth:`setup_done` right before its first timed
    operation, wraps its timed region in :meth:`timed` and each timed
    operation in :meth:`op`."""

    def __init__(self, args, scale: dict, work: str, sampler, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = scale
        self.work = work
        self.sampler = sampler
        self.tracer = tracer
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.setup_s = None
        self.op_cpu_s: list[float] = []
        self.peak_rss_bytes = 0
        self.steal_s = 0.0

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_PROCESS

    @contextmanager
    def timed(self):
        """The timed region: the peak memory is taken over it. Set-up
        peaks (the warm-up's first executions) stay out of
        ``peak_rss_mb``."""
        self.sampler.reset_peak()
        steal0 = procstat.host_steal_s()
        yield
        self.steal_s += procstat.host_steal_s() - steal0
        self.peak_rss_bytes = max(
            self.peak_rss_bytes, self.sampler.peak_rss_bytes
        )

    @contextmanager
    def op(self):
        """One timed operation: its process-tree CPU seconds. ``cpu_s``
        is the median over the run's operations."""
        cpu0 = self.sampler.cpu_s()
        yield
        self.op_cpu_s.append(self.sampler.cpu_s() - cpu0)


def start_session(work: str, cores: int):
    """One local[cores] session whose scratch files stay under
    ``work``."""
    from openlogreplicator_spark.session import get_spark

    heap = os.environ["SPARK_DRIVER_MEMORY"]
    jtmp = os.path.join(work, "jvm")
    os.makedirs(jtmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={jtmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _missing_engine() -> list[str]:
    return [
        p for p in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, p))
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(WORKLOAD_MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full")
    args = ap.parse_args(argv)

    missing = _missing_engine()
    if missing:
        print(f"perfbench: engine sources missing: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temp file of the driver, the JVM and the Python workers
    # lands under the run's scratch directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # shuffle and block files; the variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)

    sampler = procstat.ProcTree().start()
    tracer = (
        tracing.Tracer(f"{args.workload}-seed{args.seed}")
        if args.trace else tracing.NullTracer("off")
    )
    ctx = Context(args, SCALES[args.scale], work, sampler, tracer)
    result = None
    try:
        ctx.spark = start_session(work, ctx.cores)
        mod = __import__(WORKLOAD_MODULES[args.workload])
        result = mod.run(ctx)
    except Exception:
        traceback.print_exc()
    finally:
        if ctx.spark is not None:
            try:
                stop_session(ctx.spark)
            except Exception:
                traceback.print_exc()
        sampler.stop()
        procstat.reap_descendants(os.getpid())
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there
    if result is None:
        return 1
    if args.trace:
        tracer.write(os.path.join(
            ROOT, ".perfbench-traces",
            f"{args.workload}-seed{args.seed}.jsonl",
        ))
    attempted, failed = result["attempted"], result["failed"]
    print(f"perfbench: host CPU steal {ctx.steal_s:.1f} s in the timed "
          "region", file=sys.stderr)
    if args.trace:
        units = layer_units()
        values = {k: 0 for k in units}
        values.update(result["layers"])
        values["run.error_rate"] = failed / max(attempted, 1)
        values["host.steal_s"] = ctx.steal_s
    else:
        units = E2E_UNITS
        values = dict(result["e2e"])
        values["setup_s"] = ctx.setup_s
        values["cpu_s"] = statistics.median(ctx.op_cpu_s)
        values["peak_rss_mb"] = ctx.peak_rss_bytes / 2**20
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics without a unit: {sorted(unknown)}")
    out = {
        "correct": bool(result["correct"]) and failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
