"""Connected-components duplicate clustering: the large-star/small-star
DataFrame implementation must agree with a sequential union-find on
arbitrary graphs (chains, stars, self-loops, random), and the component
label must be the true minimum id of each component."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from openlogreplicator_spark.operators.clustering import (
    connected_components,
    dedup_cluster_cc,
)


def _union_find_min_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            find(a)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comps: dict[int, list[int]] = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    labels = {}
    for members in comps.values():
        m = min(members)
        for node in members:
            labels[node] = m
    # drop pure self-loop singletons: CC input edges are self-loop-free
    seen = {n for a, b in edges if a != b for n in (a, b)}
    return {n: c for n, c in labels.items() if n in seen}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find_min_labels(edges)


def test_cc_long_chain(spark):
    # a 40-node path: naive one-hop label propagation needs 40 rounds;
    # large-star/small-star must close it within the iteration cap
    _check(spark, [(i, i + 1) for i in range(1, 41)])


def test_cc_multiple_components_and_noise(spark):
    _check(
        spark,
        [(1, 2), (2, 3), (10, 11), (12, 11), (100, 100), (7, 7), (5, 6)],
    )


def test_cc_star_and_duplicate_edges(spark):
    edges = [(100, i) for i in range(1, 9)] + [(100, 4), (4, 100), (2, 1)]
    _check(spark, edges)


@pytest.mark.parametrize("seed", [7, 11, 13])
def test_cc_random_graphs(spark, seed):
    rng = random.Random(seed)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    _check(spark, edges)


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src: long, dst: long")
    assert connected_components(df).count() == 0


def test_cluster_query_transitive(spark, sf_dir):
    """The 3-gen corpus must produce at least one cluster where the
    original↔gen3 pair was NEVER a candidate (Jaccard below threshold)
    but both land in one cluster via gen2 — i.e. the query exercises
    transitivity, not just pair mirroring."""
    out = dedup_cluster_cc(spark, sf_dir).persist()
    by_cluster = (
        out.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("mn"))
    )
    # every cluster's id equals its minimum member id
    assert by_cluster.filter(F.col("cluster_id") != F.col("mn")).count() == 0
    # exactly one survivor per cluster
    surv = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_survivor").cast("int")).alias("s")
    )
    assert surv.filter(F.col("s") != 1).count() == 0
    # 3-generation clusters exist (orig + gen2 + gen3 resolved together)
    assert by_cluster.filter(F.col("n") >= 3).count() > 0
    out.unpersist()


def test_substring_fingerprints_alignment_invariant(spark):
    """Two docs sharing a long verbatim run at DIFFERENT offsets must
    share anchored grams (content anchoring, not stride alignment), and
    unrelated text must share none."""
    from openlogreplicator_spark.operators.clustering import (
        substring_fingerprints,
    )

    run = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "PREFIX_A " + run),
            (2, "a very different and much longer leading segment here " + run),
            (3, "entirely unrelated content with no overlap whatsoever in it"),
        ],
        "doc_id: long, text: string",
    )
    fp = substring_fingerprints(docs)
    a = {r.g for r in fp.filter("doc_id = 1").collect()}
    b = {r.g for r in fp.filter("doc_id = 2").collect()}
    c = {r.g for r in fp.filter("doc_id = 3").collect()}
    assert a & b, "shared verbatim run must share anchored grams"
    assert not (a & c) and not (b & c)


def test_dedup_substring_expected_overlap(spark, sf_dir):
    """gen-1/gen-2 differ only in the first word, so nearly every
    document of the 3-gen corpus must report shared grams; the query's
    plan must stay JVM-only (no Python eval in the gram pipeline)."""
    from openlogreplicator_spark.operators.clustering import dedup_substring

    out = dedup_substring(spark, sf_dir)
    assert "BatchEvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    from openlogreplicator_spark.sources.tables import load_table

    n_base = load_table(spark, sf_dir, "documents").count()
    n_docs = out.count()
    # every generation overlaps its neighbor over most of the text, so
    # (nearly) all 3×n_base corpus members must report shared grams —
    # not just one overlapping pair
    assert n_docs >= 2 * n_base, f"{n_docs} of {3 * n_base} report overlap"
    assert out.filter("n_shared <= 0").count() == 0


def test_cc_local_and_distributed_paths_agree(spark):
    """The size-gated union-find fast path and the alternating-star
    distributed loop must produce identical (node, component) maps."""
    import random

    from openlogreplicator_spark.operators.clustering import (
        connected_components,
    )

    rng = random.Random(123)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        (r.node, r.component)
        for r in connected_components(df).collect()
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert local == dist and local


def test_connected_components_raises_on_non_convergence(spark):
    """r12 review-pass-7 regression: exhausting max_iter without
    reaching a star forest must raise — the members/roots extraction is
    only valid on the converged fixpoint, so falling through silently
    emitted partially-merged cluster ids."""
    from openlogreplicator_spark.operators.clustering import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, local_threshold=0)
    # and the same graph converges fine with the default budget
    out = connected_components(chain, local_threshold=0)
    assert out.select("component").distinct().count() == 1


def test_cc_assume_canonical_matches_default(spark):
    """r12: the canonicalization-skip path must produce exactly the
    default path's labels when the caller's guarantee holds (distinct,
    self-loop-free, consistently oriented pairs — the shape every pair
    generator emits), in both orientations and on both the local and
    distributed routes."""
    pairs = [(1, 7), (2, 7), (3, 9), (9, 11), (5, 6)]
    for orient in (pairs, [(b, a) for a, b in pairs]):
        df = spark.createDataFrame(orient, "src: long, dst: long")
        want = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        for thresh in (len(pairs) + 1, 0):  # local route, loop route
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    df, local_threshold=thresh, assume_canonical=True
                ).collect()
            }
            assert got == want


def test_jaccard_df_cap_excludes_boilerplate(spark):
    """The DF cap remains a window count over the shingle partitioning
    (an r12 hot-shingle broadcast anti-join variant was A/B-measured at
    the 10x probe and reverted — commit 74a08c6); pin the cap semantics
    shape-agnostically against a synthetic corpus — a shingle present
    in MORE than _SHINGLE_DF_CAP documents generates no candidate
    pairs, while pairs sharing rare shingles survive with the same
    threshold gate."""
    from openlogreplicator_spark.operators.dedup import (
        _SHINGLE_DF_CAP,
        jaccard_pairs,
    )

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [(1, "one " + body), (2, "two " + body)]
    # _SHINGLE_DF_CAP + 1 docs sharing exactly one boilerplate shingle
    rows += [
        (100 + i, f"common boiler plate u{i} v{i}")
        for i in range(_SHINGLE_DF_CAP + 1)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in jaccard_pairs(corpus, 0.6).collect()}
    # docs 1/2 share 9 of 11 distinct shingles (J = 0.818); every
    # boilerplate-only doc pair must be suppressed by the cap
    assert got == {(1, 2)}
