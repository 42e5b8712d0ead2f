#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Execution is forced with a noop sink (no driver-side collect), so timings
measure the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "join_shuffle_facts",
    "join_asof_attribution",
    "join_range_window",
    "window_running_sum",
    "agg_rollup",
    "scalar_json_funcs",
    "array_explode_wordcount",
    "dedup_minhash_lsh",
    "dedup_substring",
    "text_bigram_perplexity",
    "pipeline_pretraining_corpus",
    "dedup_cluster_cc",
    "decontaminate_ngram",
    "ann_cosine_topk",
    "ann_pq",  # r7: map-side ADC scan — track the rewritten plan
    "text_quality_score",
    "cdc_txn_assembly",
    "cdc_txn_assembly_binary",
    "cdc_kdo_positional_binary",
    "cdc_lob_reassembly",
    "event_funnel",
    "stream_session_window",
    "q21_suppliers_kept_waiting",
]


def plan_fingerprint(df) -> str:
    """Hash of the optimized logical plan with volatile tokens
    (expression ids, lambda-variable counters, temp paths, object
    addresses) canonicalized — two runs of the same code produce the
    same fingerprint, so a timing swing with an UNCHANGED fingerprint
    is machine noise, not a plan change. Stability is test-pinned
    (tests/test_plans.py): the lambda-variable counter (`lambda x_7#`)
    is a session-global allocator, so missing it made most
    higher-order-function plans churn every run and silently disabled
    the noise detector for them (found r7)."""
    import hashlib
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+[L]?", "#", plan)
    plan = re.sub(r"\blambda ([A-Za-z]+)_\d+", r"lambda \1_", plan)
    plan = re.sub(r"@[0-9a-f]+", "@", plan)
    plan = re.sub(r"/tmp/\S+", "/tmp/_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:12]


def _drain_signature(progresses) -> str:
    """Invariant signature of a drain run — the streaming analog of
    plan_fingerprint (r7 VERDICT #6): per-data-batch input rows, state
    rows updated/total, and sink output rows. Two runs of the same
    pipeline over the same fixture produce the same signature, so a
    drain-rate swing with an UNCHANGED signature is machine noise.
    Zero-input scheduler ticks are excluded (their count varies run to
    run under AvailableNow)."""
    import hashlib

    rows = []
    for p in progresses:
        d = p if isinstance(p, dict) else json.loads(p.json)
        sink_rows = (d.get("sink") or {}).get("numOutputRows") or 0
        if not d.get("numInputRows") and sink_rows <= 0:
            continue
        st = (d.get("stateOperators") or [{}])[0]
        rows.append(
            (
                d.get("batchId"),
                d.get("numInputRows"),
                st.get("numRowsUpdated"),
                st.get("numRowsTotal"),
                sink_rows,
            )
        )
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:12]


def _stage_bytes(spark) -> tuple[int, int]:
    """(shuffle_write_bytes, input_bytes) totals across completed stages
    via the REST status API — the load-independent counters the r12
    verdict asked for (#4): a wall-clock move with UNCHANGED bytes and
    an unchanged plan fingerprint is machine noise with certainty,
    while changed bytes localize a real plan/data change. Sampled
    OUTSIDE the timed region (before t0 / after dt), so the timing
    methodology is untouched. Returns (-1, -1) when the UI is off."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return -1, -1
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete",
            timeout=10,
        ) as r:
            stages = json.load(r)
        return (
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("inputBytes", 0) for s in stages),
        )
    except Exception:
        return -1, -1


def _stream_drain_rate(spark, sf_dir: str) -> dict:
    """End-to-end STREAMING drain over the OLRS binary fixture — the
    reference's headline workload (binary redo → parse → stateful
    assembly → rendered change events → sink) as one Structured
    Streaming AvailableNow run, reported as input records/second. The
    reference publishes no numbers (BASELINE.md), so this is the
    apples-to-apples throughput artifact for 'matches-or-beats
    single-node throughput at the same data scale'."""
    import shutil
    import tempfile

    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.operators.cdc import _binary_redo_dir
    from openlogreplicator_spark.sources.binary_redo import parse_redo_files
    from openlogreplicator_spark.streaming.engine import build_pipeline

    redo_dir = _binary_redo_dir(spark, sf_dir)
    n_records = parse_redo_files(spark, redo_dir).count()
    # three fresh-checkpoint runs: the first pays one-time costs (state
    # store init, codegen); the box's minute-scale interference waves
    # make any single run unreliable, so the reported rate uses the
    # MEDIAN of all runs (round-over-round comparisons need a stable
    # central tendency, not a lucky min). All runs are reported.
    runs = []
    sigs = []
    for _ in range(3):
        ckpt = tempfile.mkdtemp(prefix="olrs_bench_ckpt_")
        try:
            t0 = time.perf_counter()
            q = build_pipeline(
                spark,
                EngineConfig(),
                redo_dir,
                checkpoint=ckpt,
                sink="noop",
                query_name="olr_bench_drain",
                available_now=True,
            )
            q.awaitTermination()
            runs.append(round(time.perf_counter() - t0, 3))
            sigs.append(_drain_signature(q.recentProgress))
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    import statistics

    dt = statistics.median(runs)
    return {
        "records": n_records,
        "sec_runs": runs,
        "records_per_sec": int(n_records / dt) if dt > 0 else 0,
        # run-invariant pipeline signature: compare across ROUNDS the
        # way plan fingerprints compare for queries
        "signature": sigs[0],
        "signature_stable": len(set(sigs)) == 1,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from openlogreplicator_spark.session import get_spark

    spark = get_spark(
        app_name="olr-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # the engine default disables the UI; the bench needs the REST
        # status store for the per-query shuffle/scan byte counters
        # (r12 VERDICT #4). Port 0 = any free port (parallel sessions).
        # retainedStages raised above the full bench's ~800 stages: the
        # 1000 default could evict early stages mid-run, making the
        # completed-stage byte deltas undercount (or go negative).
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "10000",
            "spark.ui.retainedJobs": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # warm the JVM/codegen/scheduler once so the first query's timing
    # measures the query, not session startup
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # warm the Python-worker fleet + Arrow channels: worker processes
    # spawn lazily on the first pandas-UDF stage, a per-session one-time
    # cost that otherwise lands entirely on the first assembly query
    def _worker_warm(p):
        import openlogreplicator_spark.operators.transaction_assembly  # noqa: F401

        return p

    spark.range(0, 1 << 20, 1, int(cpus)).withColumn(
        "b", F.col("id") % int(cpus)
    ).groupBy("b").applyInPandas(
        _worker_warm, schema="id long, b long"
    ).write.mode("overwrite").format("noop").save()
    # materialize the OLRS binary redo fixture out of band: writing the
    # fixture is test-data prep, not part of the parse/assembly pipeline
    # the binary queries measure
    from openlogreplicator_spark.operators.cdc import (
        _binary_redo_dir,
        _kdo_positional_redo_dir,
    )

    _binary_redo_dir(spark, sf_dir)
    _kdo_positional_redo_dir(spark, sf_dir)

    registry = entrymod.queries()
    names = [n for n in HEADLINE if n in registry]
    if os.environ.get("BENCH_ALL"):
        names = sorted(registry)

    import statistics

    prev: dict = {}
    prev_fp: dict = {}
    for r in range(20, 0, -1):
        path = os.path.join(REPO_ROOT, f"BENCH_r{r:02d}.json")
        if os.path.exists(path):
            with open(path) as fh:
                doc = json.load(fh)
            # the driver wraps the printed JSON line under "parsed"
            doc = (doc.get("parsed") or {}) if isinstance(doc, dict) else {}
            prev = doc.get("queries", {})
            prev_fp = doc.get("plan_fingerprints", {})
            break
    # round 5's printed line outgrew the driver's stdout-tail capture
    # (BENCH_r05 parsed:null), so fingerprints now live in a side file;
    # it is ALSO the noise-detection source for rounds whose BENCH doc
    # failed to parse (like r5).
    # r13: the side file is keyed per core count. The driver benches at
    # 32 AND at 8 cores; queries with parallelism-derived repartition
    # widths legitimately plan differently per core count, so the
    # 8-core run overwriting the flat side file silently disabled the
    # noise detector for exactly those queries in the next 32-core run
    # (found r13: 6 non-binary fingerprint "changes" were the r12 c8
    # run's 8-core plans). Same-core-count fingerprints AND timings are
    # now preferred for the noise comparison; other core counts'
    # entries are preserved on write.
    fp_path = os.path.join(REPO_ROOT, "bench_fingerprints.json")
    prev_drain: dict = {}
    side: dict = {}
    if os.path.exists(fp_path):
        with open(fp_path) as fh:
            side = json.load(fh)
        same_cpus = side.get("by_cpus", {}).get(str(cpus))
        # an entry recorded at a DIFFERENT scale factor (a local smoke
        # run) must not feed the comparison either — same flaw class
        # as the core-count poisoning
        if same_cpus and same_cpus.get("sf_dir", sf_dir) == sf_dir:
            prev_fp = same_cpus.get("plan_fingerprints", {}) or prev_fp
            prev = same_cpus.get("queries", {}) or prev
            prev_drain = same_cpus.get("stream_drain", {})

    # median of three FULL PASSES over the query list, not three
    # back-to-back runs per query: this box's interference arrives in
    # minute-scale waves (same-code medians observed 2-3.5× apart), so
    # back-to-back repetitions all sample the same wave — interleaving
    # spreads each query's three samples across the whole sweep.
    # Pass 0 additionally absorbs one-time constants (codegen compile,
    # Arrow channel setup, page-cache fill) the reference's long-running
    # process never re-pays.
    samples: dict[str, list[float]] = {n: [] for n in names}
    byte_samples: dict[str, list[tuple[int, int]]] = {n: [] for n in names}
    for _pass in range(3):
        for name in names:
            fn = registry[name]
            sh0, in0 = _stage_bytes(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            samples[name].append(time.perf_counter() - t0)
            # byte counters sampled after the clock stops — no cost
            # inside the timed region
            sh1, in1 = _stage_bytes(spark)
            # drop the sample if either endpoint failed OR the delta is
            # negative (status-store eviction between samples)
            if sh0 >= 0 and sh1 >= sh0 and in1 >= in0:
                byte_samples[name].append((sh1 - sh0, in1 - in0))
            # release persisted frames (dedup pipelines cache
            # intermediates) so later queries aren't taxed by
            # accumulated executor memory
            spark.catalog.clearCache()

    timings: dict[str, float] = {}
    fingerprints: dict[str, str] = {}
    bytes_kb: dict[str, list[int]] = {}
    noise: list[str] = []
    for name in names:
        timings[name] = round(statistics.median(samples[name]), 3)
        if byte_samples[name]:
            bytes_kb[name] = [
                int(statistics.median(x[0] for x in byte_samples[name]))
                // 1024,
                int(statistics.median(x[1] for x in byte_samples[name]))
                // 1024,
            ]
        fingerprints[name] = plan_fingerprint(registry[name](spark, sf_dir))
        # >25% move on an unchanged plan = machine noise by construction
        if (
            name in prev
            and prev_fp.get(name) == fingerprints[name]
            and prev[name] > 0
            and abs(timings[name] - prev[name]) / prev[name] > 0.25
        ):
            noise.append(name)

    drain = _stream_drain_rate(spark, sf_dir)
    # r8 VERDICT #7: the signature must be stable across the two runs of
    # THIS invocation before any cross-round comparison is meaningful —
    # an unstable signature means the drain pipeline itself is
    # nondeterministic and every rate delta is unattributable
    assert drain["signature_stable"], (
        "drain invariant signature differed between back-to-back runs: "
        f"{drain['signature']} — the streaming pipeline emitted "
        "different per-batch row/state counts over the same fixture; "
        "fix the nondeterminism before trusting drain rates"
    )
    # drain noise detection (r7 VERDICT #6): a >25% rate move on an
    # UNCHANGED pipeline signature is the box's interference, not a
    # regression — same rule as the query fingerprints
    if (
        prev_drain.get("signature") == drain["signature"]
        and prev_drain.get("records_per_sec", 0) > 0
        and abs(drain["records_per_sec"] - prev_drain["records_per_sec"])
        / prev_drain["records_per_sec"]
        > 0.25
    ):
        noise.append("stream_drain")

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # plan fingerprints (26 queries × 12-hex) blew the driver's stdout
    # tail window in round 5 → side file; the printed line carries only
    # the headline numbers, compact separators, and is the LAST line
    this_run = {
        "sf_dir": sf_dir,
        "plan_fingerprints": fingerprints,
        "queries": timings,
        # per-query [shuffle_write_kb, scan_kb] medians — the
        # full per-pass samples stay here (side file), the
        # printed line carries the same medians compactly
        "bytes_kb": bytes_kb,
        "byte_samples": {n: v for n, v in byte_samples.items() if v},
        "stream_drain": {
            "signature": drain["signature"],
            "records_per_sec": drain["records_per_sec"],
        },
    }
    by_cpus = side.get("by_cpus", {}) if isinstance(side, dict) else {}
    by_cpus[str(cpus)] = this_run
    with open(fp_path, "w") as fh:
        json.dump(
            # top level mirrors this run (legacy readers) + the
            # per-core-count history (same-core noise comparison)
            {**this_run, "cpus": int(cpus), "by_cpus": by_cpus},
            fh,
            indent=1,
        )
    spark.stop()
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # [shuffle_write_kb, scan_kb] per query (REST stage
                # deltas, median of the 3 passes): load-independent
                # signals next to the walls (r12 VERDICT #4)
                "bytes_kb": bytes_kb,
                "noise_flagged": noise,
                "stream_drain": drain,
                "sf": float(sf) if sf else sf_dir,
                "n_queries": len(timings),
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
