"""Duplicate-cluster resolution: connected components over a near-dup
pair graph.

Candidate generators (``dedup_ngram_jaccard``, ``dedup_minhash_lsh``,
``dedup_embedding_cosine``) emit PAIRS; a real dedup pipeline must
resolve pairs into CLUSTERS (A~B and B~C put A,B,C in one group even
when A~C was never emitted) and pick one canonical survivor per
cluster. That closure is connected components — an iterative algorithm
no single SQL query expresses, and the one stage of the dedup pipeline
that genuinely needs a driver loop.

``connected_components`` implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — a published MapReduce algorithm, here
re-expressed as DataFrame joins):

- large-star: every node links its LARGER neighbors to the minimum of
  its neighborhood (including itself);
- small-star: every node links its smaller-or-self neighborhood to its
  minimum.

Each round is two self-joins + two groupBys (shuffles on the node id);
the edge set converges to a star forest — every node pointing at its
component's minimum id — in O(log n) rounds on any graph (vs O(diameter)
for naive label propagation, which dies on long chains at scale). Each
iteration is ``localCheckpoint``-ed: without it the loop's lineage grows
unboundedly and Catalyst re-analyzes an exponentially deepening plan —
the classic iterative-algorithm failure mode on a real cluster.

The driver loop touches only per-round COUNTS (convergence check), never
data rows — there is no ``collect()`` of the graph.

The registered query builds a three-generation re-crawl corpus (original
∪ first-word-mutated ∪ first+last-word-mutated). With 3-word shingles
and a 0.8 Jaccard threshold, documents of 11-19 words connect
original↔m1 and m1↔m2 but NOT original↔m2 — the oracle (a DuckDB
recursive CTE computing reachability closure) therefore verifies true
transitive clustering, not just pair mirroring.

Reference analog: none (training-pipeline extension; the reference
dedups nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openlogreplicator_spark.operators.dedup import (
    _DOCS_MUTATED_SQL,
    _SHINGLE_DF_CAP,
    _SHINGLES_SQL,
    jaccard_pairs,
)
from openlogreplicator_spark.sources.tables import load_table

_GEN2_OFFSET = 1_000_000
_GEN3_OFFSET = 2_000_000
_JACCARD_T = 0.8


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Self-loop-free, (larger, smaller)-oriented, distinct edge set."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Link each node's strictly-larger neighbors to min(N(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least("mn", F.col("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Link each node's smaller-or-self neighborhood to its minimum."""
    oriented = _canon_edges(edges)
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    smaller = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    selfs = mins.select("src", F.col("m").alias("dst"))
    return smaller.unionByName(selfs)


# Below this edge count the whole graph fits ONE task comfortably
# (16 bytes/edge ⇒ ≤ ~80 MB) and a single-pass union-find beats the
# alternating-star loop's per-round scheduling cost by ~10×. Same
# size-gated adaptivity as broadcast-vs-shuffle joins: executor-side
# either way (mapInPandas, never a driver collect); above the gate the
# O(log n)-round distributed algorithm owns the graph.
_LOCAL_CC_EDGES = 5_000_000


def _cc_local(e: DataFrame) -> DataFrame:
    """Single-task union-find (union-by-min + path compression): exact
    same (node, min-reachable-id) output as the distributed loop."""

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for s_, d_ in zip(pdf["src"], pdf["dst"]):
                s_, d_ = int(s_), int(d_)
                if s_ not in parent:
                    parent[s_] = s_
                if d_ not in parent:
                    parent[d_] = d_
                a, b = find(s_), find(d_)
                if a != b:
                    if a < b:
                        parent[b] = a
                    else:
                        parent[a] = b
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(v) for v in nodes]}
        )

    # coalesce, not repartition: the union-find consumes every row in one
    # task either way, and coalesce(1) folds the upstream partitions into
    # that task without a 1-partition shuffle write+read (guide §2.4)
    return e.coalesce(1).mapInPandas(
        uf, schema="node long, component long"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = _LOCAL_CC_EDGES,
    assume_canonical: bool = False,
) -> DataFrame:
    """(node, component) for every node incident to an edge; component =
    the minimum node id reachable through the undirected edge set.

    ``assume_canonical``: the caller guarantees edges are already
    distinct, self-loop-free and (src > dst)-oriented — true for every
    pair generator in this package (their pairs are grouped on
    (id_a < id_b)) — so the entry canonicalization pass (one exchange +
    distinct over the pair set) is skipped. The loop's per-round
    invariants are unchanged."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_canonical:
        e = _canon_edges(e)
    else:
        # pair generators emit (smaller, larger); the loop's canonical
        # orientation is (src > dst) — a projection, not a shuffle
        e = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
    e = e.localCheckpoint()
    # Each round's shuffles otherwise run at the session's full
    # spark.sql.shuffle.partitions even when the edge set has shrunk to
    # thousands of rows — AQE's partition coalescing does not apply to
    # the RDD materialization localCheckpoint performs, so per-round
    # task-scheduling overhead dominates small graphs. Scale the loop's
    # shuffle width to the measured edge count (from the convergence
    # signature we already compute), never above the session default —
    # at cluster scale with billions of edges this is a no-op.
    # KNOWN SCOPE HAZARD (r12 review-pass-7, accepted): conf.set is
    # session-global, so a query running CONCURRENTLY on this session
    # would have its shuffles squeezed while the loop runs. The engine's
    # execution model is one registered query at a time (bench, driver,
    # oracle sweep are all sequential) and Spark offers no per-plan
    # shuffle-width knob that survives localCheckpoint's RDD
    # materialization; the finally below restores the session default.
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig_parts = spark.conf.get(conf_key)
    default_parts = int(orig_parts)
    # seed the width from the input edge count — the checkpointed frame
    # is already materialized, so this count is a metadata-cheap job
    n_edges = e.count()
    if n_edges <= local_threshold:
        return _cc_local(e)
    try:
        for _ in range(max_iter):
            p = min(default_parts, max(4, n_edges // 250_000))
            spark.conf.set(conf_key, str(p))
            e = _canon_edges(_small_star(_large_star(e))).localCheckpoint()
            # Convergence = the canon-oriented edge set is a star forest
            # (every src appears exactly once, no dst is also a src) —
            # the exact alternating-star fixpoint, detected at the end
            # of the productive round instead of burning one more round
            # to observe an unchanged signature. Three scalars, computed
            # distributed, no row collect.
            per_src = e.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
            chain = (
                e.alias("x")
                .join(
                    per_src.select("src").alias("y"),
                    F.col("x.dst") == F.col("y.src"),
                    "left_outer",
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count(F.col("y.src")).alias("n_chain"),
                )
            )
            row = chain.crossJoin(
                per_src.agg(F.max("c").alias("max_c"))
            ).collect()[0]
            n_edges = row["n"]
            if row["n_chain"] == 0 and (row["max_c"] or 1) == 1:
                break
        else:
            # exhausting the rounds without reaching a star forest must
            # FAIL, not silently emit partially-merged components — the
            # members/roots extraction below is only valid on the
            # converged fixpoint (r12 review-pass-7). Alternating-star
            # converges in O(log² n) rounds, so 25 covers any real
            # graph; hitting this means the loop (or a caller's
            # max_iter) is broken.
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iter} alternating-star rounds "
                f"({n_edges} canon edges still non-star); the result "
                f"would be partially-merged components — raise max_iter"
            )
    finally:
        spark.conf.set(conf_key, orig_parts)
    # converged edge set is a star forest: (node > root) → root
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    return members.unionByName(roots)


def _three_gen_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m1 = docs.select(
        (F.col("doc_id") + _GEN2_OFFSET).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    m2 = docs.select(
        (F.col("doc_id") + _GEN3_OFFSET).alias("doc_id"),
        F.regexp_replace(
            F.regexp_replace("text", r"^\S+", "zzz"), r"\S+$", "qqq"
        ).alias("text"),
    )
    # scale-adaptive spread — see dedup._docs_with_exact_copies
    width = 2 * spark.sparkContext.defaultParallelism
    return docs.unionByName(m1).unionByName(m2).repartition(width, "doc_id")


_THREE_GEN_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_GEN2_OFFSET} AS doc_id,
           regexp_replace(text, '^\\S+', 'zzz') AS text
    FROM documents
    UNION ALL
    SELECT doc_id + {_GEN3_OFFSET} AS doc_id,
           regexp_replace(regexp_replace(text, '^\\S+', 'zzz'),
                          '\\S+$', 'qqq') AS text
    FROM documents
"""


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (3-gen re-crawl corpus, Jaccard ≥ 0.8) resolved
    into duplicate clusters by connected components; emits one row per
    clustered document with its cluster id (= min doc_id in cluster) and
    the cluster's canonical survivor flag."""
    corpus = _three_gen_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, _JACCARD_T).select("id_a", "id_b")
    comp = connected_components(
        pairs, src="id_a", dst="id_b", assume_canonical=True
    )
    return comp.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )


DEDUP_CLUSTER_CC_SQL = f"""
WITH RECURSIVE
corpus AS ({_THREE_GEN_SQL}),
shingled_all AS (SELECT DISTINCT * FROM ({_SHINGLES_SQL})),
hot AS (SELECT shingle FROM shingled_all
        GROUP BY shingle HAVING COUNT(*) > {_SHINGLE_DF_CAP}),
shingled AS (SELECT * FROM shingled_all
             WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM shingled a JOIN shingled b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_T}
),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(n, r) AS (
    SELECT s, s FROM sym
    UNION
    SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.n
)
SELECT CAST(n AS BIGINT) AS doc_id,
       CAST(MIN(r) AS BIGINT) AS cluster_id,
       n = MIN(r) AS is_survivor
FROM reach
GROUP BY n
"""


def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection per duplicate cluster: the same
    near-dup clusters as `dedup_cluster_cc`, but the canonical document
    is the LONGEST member (tie → min doc_id) — the keep-longest rule
    production dedup pipelines use instead of keep-min-id, since a
    truncated re-crawl should lose to the fuller original. One extra
    cluster-keyed agg over the CC output; the argmax folds into a single
    struct-max, so no second pass over members."""
    corpus = _three_gen_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, _JACCARD_T).select("id_a", "id_b")
    comp = connected_components(
        pairs, src="id_a", dst="id_b", assume_canonical=True
    )
    sized = comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).join(
        corpus.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    return (
        sized.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("best"),
        )
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            (-F.col("best.neg_id")).cast("bigint").alias("survivor_id"),
            F.col("best.n_chars").cast("bigint").alias("survivor_chars"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


DEDUP_CANONICAL_SQL = f"""
WITH RECURSIVE
corpus AS ({_THREE_GEN_SQL}),
shingled_all AS (SELECT DISTINCT * FROM ({_SHINGLES_SQL})),
hot AS (SELECT shingle FROM shingled_all
        GROUP BY shingle HAVING COUNT(*) > {_SHINGLE_DF_CAP}),
shingled AS (SELECT * FROM shingled_all
             WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM shingled a JOIN shingled b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_T}
),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(n, r) AS (
    SELECT s, s FROM sym
    UNION
    SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.n
),
members AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
sized AS (
    SELECT m.doc_id, m.cluster_id, LENGTH(c.text) AS n_chars
    FROM members m JOIN corpus c USING (doc_id)
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(survivor_id AS BIGINT) AS survivor_id,
       CAST(survivor_chars AS BIGINT) AS survivor_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM (
    SELECT cluster_id, doc_id AS survivor_id, n_chars AS survivor_chars,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM sized
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Exact-substring overlap dedup (Manber, "Finding Similar Files in a Large
# File System", USENIX'94; the character-level exact-match family behind
# Lee et al., "Deduplicating Training Data Makes Language Models Better",
# ACL'22 — their suffix-array pass re-expressed as content-anchored
# fingerprints so it distributes as hash joins).
#
# Word-shingle Jaccard and MinHash measure SET similarity; they can miss a
# long verbatim run embedded in two otherwise-different documents. This
# operator detects exact character-level overlap: every position where a
# space is followed by _SUB_W more characters anchors a _SUB_W-char gram.
# Anchoring on CONTENT (not on a stride) makes the fingerprint set
# alignment-invariant — two documents sharing any verbatim substring that
# contains an anchor with _SUB_W chars of runway share the identical gram,
# no matter where the run sits in either document. At 100 TB this is one
# explode (map-side), one distinct, and one document-frequency join — the
# same shuffle shape as the shingle pipeline, keyed by 8-byte gram hashes.

_SUB_W = 32


def substring_fingerprints(docs: DataFrame, w: int = _SUB_W) -> DataFrame:
    """(doc_id, g): distinct 64-bit hashes of the w-char grams anchored at
    each space with w characters of runway. JVM-only (sequence/substring/
    xxhash64 under whole-stage codegen); no Python in the loop."""
    anchors = F.when(
        F.length("text") > w,
        F.sequence(F.lit(1), F.length("text") - w),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", "text", F.explode(anchors).alias("p"))
        .filter(F.expr("substring(text, p, 1)") == " ")
        .select(
            "doc_id",
            F.xxhash64(F.expr(f"substring(text, p + 1, {int(w)})")).alias("g"),
        )
        .distinct()
    )


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shared): how many of the document's anchored grams also
    appear verbatim in at least one OTHER document of the 3-generation
    re-crawl corpus. Documents with n_shared > 0 carry verbatim overlap;
    the exact-dedup'd corpus drops or trims them. The first-word mutation
    leaves gen-1/gen-2 sharing everything after the first word, so the
    expected overlap is structural, not incidental."""
    from pyspark.sql import Window

    corpus = _three_gen_corpus(spark, sf_dir)
    # ONE straight pipeline, no persist, no join-back: grams are
    # distinct per (doc_id, g), so a count over the g-partitioned
    # window IS the document frequency — the aggregate + self-join of
    # the previous shape collapses into a window filter on the same
    # exchange (the dedup.jaccard_pairs restructure, applied here)
    grams = substring_fingerprints(corpus).repartition("g")
    shared = grams.withColumn(
        "_nd", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).filter(F.col("_nd") > 1)
    return (
        shared.groupBy("doc_id")
        # rows are unique per (doc_id, g), so count == count_distinct
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "n_shared")
    )


DEDUP_SUBSTRING_SQL = f"""
WITH corpus AS ({_THREE_GEN_SQL}),
positions AS (
    SELECT doc_id, text,
           unnest(generate_series(1, GREATEST(LENGTH(text) - {_SUB_W}, 0)))
               AS p
    FROM corpus
),
grams AS (
    SELECT DISTINCT doc_id, substr(text, p + 1, {_SUB_W}) AS gram
    FROM positions
    WHERE substr(text, p, 1) = ' '
),
shared AS (
    SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       COUNT(DISTINCT gram) AS n_shared
FROM grams JOIN shared USING (gram)
GROUP BY doc_id
"""


QUERIES = {
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_canonical_pick": dedup_canonical_pick,
    "dedup_substring": dedup_substring,
}

ORACLE = {
    "dedup_cluster_cc": DEDUP_CLUSTER_CC_SQL,
    "dedup_canonical_pick": DEDUP_CANONICAL_SQL,
    "dedup_substring": DEDUP_SUBSTRING_SQL,
}
