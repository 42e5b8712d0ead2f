"""``query_mix``: the analytic queries, closed loop with one client.

One client runs the mix in a fixed order and starts the next query only
when it holds the previous query's result, with ``clearCache()`` after
each. A query's wall runs from building its DataFrame to its rows in
the client. Set-up runs the mix twice, so the timed passes see a
session in which every query's code is loaded and mostly compiled. The
client then repeats the mix, at least twice and then while another
pass should end inside the measuring time, and each query reports the
median of its walls. After the clock stops, the first timed result of
every query is compared with its DuckDB oracle through
``openlogreplicator_spark.testing.compare`` (order-insensitive,
cell-exact).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from datagen import write_tables
from tracing import percentile, run_with_counters

# scale factor of the generated tables
QUERY_SF = 0.001
# untimed passes of the mix in set-up. In one session a pass's wall
# and CPU time fall for about eight passes while the JIT compiles
# (10.4, 4.3, 4.0, 3.6, 3.5, 3.3, 3.2, 3.1, then 2.9-3.0 s on 4 cores);
# timing passes from the sixth on keeps most of that compile work, and
# its run-to-run jitter, out of the measurement. On a contended host a
# pass takes two to three times as long, so warm-up also stops once
# WARM_BUDGET_S has passed (after at least two passes), which keeps a
# run inside its time limit
WARM_PASSES = 5
WARM_BUDGET_S = 30.0

# relational (EXISTS / NOT EXISTS over lineitem), dedup (the exact
# n-gram Jaccard pair generator ROADMAP #4 targets), similarity, and
# batch transaction assembly over a redo stream (the kernel ROADMAP #5
# targets). A warm pass takes 3-9 s on 4 cores, so two to six fit in
# a run
MIX = (
    "q21_suppliers_kept_waiting",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "cdc_txn_assembly",
)


class _Collected:
    """A result already in the client, shaped for ``compare_to_oracle``
    (which only calls ``toPandas``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _run_mix(spark, registry, sf_dir: str) -> tuple[dict, dict]:
    """One pass of the mix: per query, (wall seconds, collected result
    or None if it raised)."""
    walls, results = {}, {}
    for name in MIX:
        t0 = time.perf_counter()
        try:
            results[name] = registry[name](spark, sf_dir).toPandas()
        except Exception:
            results[name] = None
            traceback.print_exc()
        walls[name] = time.perf_counter() - t0
        spark.catalog.clearCache()
    return walls, results


def run(ctx) -> dict:
    import __spark_entry__ as entry

    from bench import plan_fingerprint
    from openlogreplicator_spark.testing.compare import compare_to_oracle

    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "tables")
    rows = write_tables(sf_dir, QUERY_SF, ctx.seed)
    registry, oracle = entry.queries(), entry.oracle_sql()
    # warm-up: the first execution of each query loads its code into
    # the JVM and the Python workers; walls keep falling for the next
    # few passes while the JIT compiles
    attempted = failed = n_warm = 0
    warm_end = time.perf_counter() + WARM_BUDGET_S
    while n_warm < 2 or (
        n_warm < WARM_PASSES and time.perf_counter() < warm_end
    ):
        _, warm = _run_mix(spark, registry, sf_dir)
        attempted += len(warm)
        failed += sum(1 for r in warm.values() if r is None)
        n_warm += 1
    print(f"perfbench: {n_warm} warm-up passes", file=sys.stderr)
    ctx.setup_done()

    samples: dict[str, list[float]] = {n: [] for n in MIX}
    results: dict = {}
    passes: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    with ctx.timed():
        while len(passes) < 2 or time.perf_counter() + statistics.median(
            passes
        ) <= deadline:
            with ctx.op():
                walls, got = _run_mix(spark, registry, sf_dir)
            passes.append(sum(walls.values()))
            for name in MIX:
                samples[name].append(walls[name])
                results.setdefault(name, got[name])
            attempted += len(MIX)
            failed += sum(1 for r in got.values() if r is None)
    walls = {n: statistics.median(v) for n, v in samples.items()}
    for name, pdf in results.items():
        if pdf is None:
            continue
        try:
            compare_to_oracle(spark, _Collected(pdf), oracle[name], sf_dir,
                              name)
        except AssertionError:
            failed += 1
            traceback.print_exc()

    layers: dict = {}
    if ctx.trace:
        for name in MIX:
            df = registry[name](spark, sf_dir)
            with ctx.tracer.overhead():
                fp = plan_fingerprint(df)
            with ctx.tracer.span("query", query=name, plan_fingerprint=fp):
                c = run_with_counters(spark, df, collect=True,
                                      tracer=ctx.tracer)
            spark.catalog.clearCache()
            layers[f"query.{name}.s"] = walls[name]
            layers[f"query.{name}.shuffle_bytes"] = c["shuffle_bytes"]
            layers[f"query.{name}.scan_bytes"] = c["scan_bytes"]
            if name.startswith("dedup_"):
                layers[f"query.{name}.candidate_pairs"] = c["join_rows_max"]
            print(f"perfbench: {name} plan {fp}", file=sys.stderr)
        layers["trace.overhead_s"] = ctx.tracer.overhead_s

    ms = [w * 1000 for w in walls.values()]
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "e2e": {
            # the batch assembly query's redo stream: one begin and one
            # commit per order plus one insert per line item
            "drain_records_per_s": (rows["lineitem"] + 2 * rows["orders"])
            / walls["cdc_txn_assembly"],
            "tail_lag_p50_ms": percentile(ms, 50),
            "tail_lag_p90_ms": percentile(ms, 90),
            "query_total_s": sum(walls.values()),
            "query_geomean_s": statistics.geometric_mean(walls.values()),
        },
        "layers": layers,
    }
