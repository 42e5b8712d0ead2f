"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-architected for 100 TB:

- exact dedup: hash-groupBy on a content digest — one shuffle on md5(text),
  survivor = min(doc_id). At scale the digest is the shuffle key, so
  identical documents land on the same reducer regardless of cluster size.
- n-gram Jaccard: word-shingle explode → self-join on shingle → pairwise
  intersection counts. The shingle join only pairs documents that *share*
  a shingle — candidate generation is data-proportional, never O(n²).
- MinHash + LSH: k=16 signatures (min over md5(seed#shingle)), banded into
  4 bands of 4; candidate pairs = same (band, band-key) bucket. The only
  all-pairs-ish work happens inside LSH buckets, which are tiny by
  construction. This is the 100-TB near-dup path.
- SimHash: 16-bit sign-of-sums fingerprint over token hashes; signature
  equality/neighborhood gives constant-size near-dup keys.

Every query doubles the corpus with a synthetic "re-crawl" copy (exact or
first-word-mutated) so dedup behavior is observable and oracle-checkable
on the driver's synthetic documents table.

To keep DuckDB oracles byte-identical, all hashing is md5-of-string and
all tie-breaking is explicit — no engine-native hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openlogreplicator_spark.sources.tables import load_table

_COPY_OFFSET = 1_000_000


def _docs_with_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dup = docs.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text", "source"
    )
    # the documents file is a single small parquet → 1-2 input splits;
    # spread the (expensive) shingle/hash stages across all cores.
    # 2× the executor-core count (not a constant): identical to the old
    # literal 64 at the bench's local[32], scales with the cluster, and
    # the 2× headroom absorbs doc-length skew in the explode stage
    # (AQE cannot split an input partition of a Generate).
    width = 2 * spark.sparkContext.defaultParallelism
    return docs.unionByName(dup).repartition(width, "doc_id")


_DOCS_WITH_COPIES_SQL = f"""
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + {_COPY_OFFSET} AS doc_id, text, source FROM documents
"""


def _docs_with_mutated_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ∪ near-duplicate copies (first word replaced) — re-crawl sim."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    # scale-adaptive spread — see _docs_with_exact_copies
    width = 2 * spark.sparkContext.defaultParallelism
    return docs.unionByName(mut).repartition(width, "doc_id")


_DOCS_MUTATED_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_COPY_OFFSET} AS doc_id,
           regexp_replace(text, '^\\S+', 'zzz') AS text
    FROM documents
"""


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — n-word shingles via JVM-side array lambdas."""
    words = F.split("text", " ")
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda j: F.concat_ws(
            " ", *[F.element_at(words, j + k) for k in range(n)]
        ),
    )
    return docs.select("doc_id", F.explode(sh).alias("shingle"))


_SHINGLES_SQL = """
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(words) - 2),
                  i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
               AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id.
    (reference analog: none — this is the training-pipeline extension)"""
    corpus = _docs_with_exact_copies(spark, sf_dir)
    return (
        corpus.withColumn("text_md5", F.md5("text"))
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


DEDUP_EXACT_SQL = f"""
WITH corpus AS ({_DOCS_WITH_COPIES_SQL})
SELECT md5(text) AS text_md5, MIN(doc_id) AS survivor_id,
       COUNT(*) AS n_copies
FROM corpus
GROUP BY md5(text)
HAVING COUNT(*) > 1
"""


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact dedup with survivor PRIORITY — the mix-building
    case exact dedup misses: the same document arrives from several
    dumps/sources (wiki inside a web crawl, books in two snapshots), and
    the pipeline must keep the copy from the most-trusted source, not an
    arbitrary minimum. Survivor = lexicographically-highest-priority
    source, doc_id as the tie-break; emits one row per duplicated digest
    with the survivor and the losing source set. One digest-keyed
    shuffle; min-by-struct aggregates — no window, no join-back."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # re-crawl sim: every 5th document also arrives from a mirror dump —
    # same bytes, different source attribution
    mirror = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        F.concat(F.lit("mirror-"), F.col("source")).alias("source"),
        "text",
    )
    docs = base.unionByName(mirror).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    pick = F.struct(F.col("source").alias("s"), F.col("doc_id").alias("d"))
    return (
        docs.groupBy("digest")
        .agg(
            F.min(pick).alias("_w"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_set("source")).alias("sources"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "digest",
            F.col("_w.d").alias("survivor_id"),
            F.col("_w.s").alias("survivor_source"),
            "n_copies",
            F.array_join("sources", ",").alias("source_set"),
        )
    )


DEDUP_CROSS_SOURCE_SQL = f"""
WITH docs AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT doc_id + {_COPY_OFFSET} AS doc_id,
           'mirror-' || source AS source, text
    FROM documents WHERE doc_id % 5 = 0
),
d AS (SELECT doc_id, source, md5(text) AS digest FROM docs),
r AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY digest
                              ORDER BY source, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY digest) AS n
    FROM d
)
SELECT digest,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
       MAX(CASE WHEN rn = 1 THEN source END) AS survivor_source,
       COUNT(*) AS n_copies,
       string_agg(DISTINCT source, ',' ORDER BY source) AS source_set
FROM r WHERE n > 1
GROUP BY digest
"""


# Stop-shingle cap: a shingle appearing in more than this many documents
# is boilerplate and is excluded from the Jaccard space BEFORE candidate
# generation. Without it one hot shingle (a common trigram) makes the
# self-join quadratic in its posting-list length — the round-1 scale
# killer. With it, per-shingle join fan-out is bounded by CAP², and
# near-dup pairs (which share rare, content-specific shingles) are
# unaffected. The oracle SQL applies the identical filter.
_SHINGLE_DF_CAP = 100


def jaccard_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """The one Jaccard pair generator: exact pairwise Jaccard over
    3-word shingles for candidate pairs that share ≥1 (non-boilerplate)
    shingle. Emits ``id_a < id_b, n_inter, _j_raw`` for pairs whose RAW
    ratio is ≥ ``threshold``. The shingle equi-join is the candidate
    generator — no cross join anywhere; the document-frequency cap
    bounds its fan-out. Used by ``dedup_ngram_jaccard`` and by the
    clustering queries (``clustering.dedup_cluster_cc``,
    ``dedup_canonical_pick``)."""
    from pyspark.sql import Window

    # shingles hash to 64 bits before any exchange: the distinct, the
    # df-cap window, and the self-join all shuffle 8-byte keys instead
    # of ~20-byte trigram strings (collision odds are ~1e-8 at 1e9
    # distinct shingles — see decontaminate_ngram).
    # ONE persisted frame, partitioned by shingle: the DF cap is a
    # window count over that partitioning (not a second aggregate +
    # anti-join pass over a second persist), and the self-join joins ON
    # the partitioning key — the shingle set shuffles twice total.
    # Interleaved A/B at sf0.1 (pairs + connected components): median
    # 8.1s → 5.9s.
    # r12 note: a hot-shingle broadcast anti-join (no sort, cache holds
    # the UNFILTERED set) measured ~10% faster at sf0.1 but parity-to-
    # worse at the 10× probe with a heavy degradation tail (the uncapped
    # hot-shingle rows in the cache spill under pressure) — measured,
    # reverted; the window's whole-set sort buys the SMALLER cache,
    # which is what matters at scale.
    sh = (
        shingles(corpus)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .distinct()
        .repartition("shingle")
        .withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .drop("_df")
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "_j_raw",
            F.col("n_inter")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        # filter the RAW ratio; callers round only a rendered column —
        # the oracles' WHERE also compares the raw value, so a pair
        # whose ratio sits just under the threshold but rounds up to it
        # must fail on BOTH sides (r12 review-pass-7)
        .filter(F.col("_j_raw") >= threshold)
        .select("id_a", "id_b", "n_inter", "_j_raw")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (J ≥ 0.6) of the first-word-mutated re-crawl
    corpus, with the shared-shingle count and the rounded ratio."""
    return (
        jaccard_pairs(_docs_with_mutated_copies(spark, sf_dir), 0.6)
        .withColumn("jaccard", F.round(F.col("_j_raw"), 6))
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


DEDUP_NGRAM_SQL = f"""
WITH corpus AS ({_DOCS_MUTATED_SQL}),
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
)
SELECT id_a, id_b, n_inter,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
"""


_K = 16          # minhash signature length
_BAND_ROWS = 4   # rows per LSH band → 4 bands


def minhash_signatures(sh: DataFrame, k: int = _K) -> DataFrame:
    """(doc_id, sig array<string>): sig[g*4+j] = min over shingles of the
    j-th 8-hex slice of md5(g || '#' || shingle).

    Wide-form: k min-aggregates in ONE doc-keyed shuffle instead of a k×
    row explode + (doc, seed)-keyed shuffle — partial aggregation (min is
    algebraic) compresses each partition to one row per doc before the
    exchange, so network volume is k strings per doc regardless of corpus
    size. That's what survives 100 TB.

    Hashing cost: k/4 md5 calls per shingle, not k — each 128-bit digest
    yields four independent 32-bit minwise hashes (disjoint bit ranges of
    a cryptographic hash; NOT the correlated a+i*b double-hashing scheme
    the precision guard in tests/test_dedup.py rejects). Fixed-width
    lowercase-hex slices compare lexicographically = numerically, and
    DuckDB's substr(md5(..)) renders the identical strings. Measured 2×
    on the sf0.1 bench over one-md5-per-seed."""
    assert k % 4 == 0
    mins = []
    for g in range(k // 4):
        digest = F.md5(F.concat(F.lit(f"{g}#"), F.col("shingle")))
        for j in range(4):
            mins.append(F.min(digest.substr(j * 8 + 1, 8)).alias(f"m{g * 4 + j}"))
    wide = sh.groupBy("doc_id").agg(*mins)
    return wide.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, the 100-TB path: signatures are
    fixed-size per doc; banding turns similarity search into equi-joins
    on (band, band_key); only bucket-mates are compared."""
    corpus = _docs_with_mutated_copies(spark, sf_dir)
    sh = shingles(corpus).distinct()
    mh = minhash_signatures(sh)
    # bands: slice the signature array; band_key = md5 of the slice
    n_bands = _K // _BAND_ROWS
    bands = mh.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",", F.slice("sig", b * _BAND_ROWS + 1, _BAND_ROWS)
                            )
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    # the self-join would recompute the whole shingle→signature pipeline
    # for each side; persist the (small: n_docs × n_bands rows) band table
    # so candidate generation reads it twice from memory
    bands = bands.persist()
    a = bands.alias("a")
    b = bands.alias("b")
    est = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            / float(_K),
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    return est.filter(F.col("est_jaccard") >= 0.5)


DEDUP_MINHASH_SQL = f"""
WITH corpus AS ({_DOCS_MUTATED_SQL}),
shingled AS (SELECT DISTINCT * FROM ({_SHINGLES_SQL})),
mh AS (
    SELECT doc_id, g.g * 4 + j.j AS seed,
           MIN(substr(md5(g.g || '#' || shingle), j.j * 8 + 1, 8)) AS mh
    FROM shingled, generate_series(0, {_K // 4 - 1}) AS g(g),
                   generate_series(0, 3) AS j(j)
    GROUP BY doc_id, g.g * 4 + j.j
),
bands AS (
    SELECT doc_id, seed // {_BAND_ROWS} AS band,
           md5(string_agg(mh, ',' ORDER BY seed)) AS band_key
    FROM mh GROUP BY doc_id, seed // {_BAND_ROWS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
),
est AS (
    SELECT id_a, id_b,
           SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / {_K}.0 AS est_jaccard
    FROM cand
    JOIN mh x ON x.doc_id = id_a
    JOIN mh y ON y.doc_id = id_b AND y.seed = x.seed
    GROUP BY id_a, id_b
)
SELECT * FROM est WHERE est_jaccard >= 0.5
"""

_HEXD = "0123456789abcdef"
_SIMHASH_BITS = 16


def simhash(docs: DataFrame, bits: int = _SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): sign-of-sums over per-token md5 bits. All
    integer/string builtins — portable bit-for-bit to the SQL oracle."""
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    h = F.md5("tok")
    contribs = [
        (
            2
            * F.shiftright(
                F.instr(F.lit(_HEXD), F.substring(h, 1 + b // 4, 1)) - 1,
                b % 4,
            ).bitwiseAND(F.lit(1))
            - 1
        ).alias(f"c{b}")
        for b in range(bits)
    ]
    per_tok = tokens.select("doc_id", *contribs)
    sums = per_tok.groupBy("doc_id").agg(
        *[F.sum(f"c{b}").alias(f"s{b}") for b in range(bits)]
    )
    packed = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, 1 << b).otherwise(0)
        packed = bit if packed is None else packed + bit
    return sums.select("doc_id", packed.cast("bigint").alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + exact-signature collision groups."""
    docs = _docs_with_exact_copies(spark, sf_dir).select("doc_id", "text")
    sig = simhash(docs)
    groups = sig.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc")
    )
    return groups.filter(F.col("n_docs") > 1)


DEDUP_SIMHASH_SQL = f"""
WITH corpus AS ({_DOCS_WITH_COPIES_SQL}),
tokens AS (
    SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
    FROM corpus
),
contrib AS (
    SELECT doc_id, b.b,
           SUM(2 * ((strpos('{_HEXD}', substr(md5(tok), 1 + b.b // 4, 1)) - 1
                     >> (b.b % 4)) & 1) - 1) AS s
    FROM tokens, generate_series(0, {_SIMHASH_BITS - 1}) AS b(b)
    GROUP BY doc_id, b.b
),
sigs AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS BIGINT)
               AS simhash
    FROM contrib GROUP BY doc_id
)
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
FROM sigs GROUP BY simhash HAVING COUNT(*) > 1
"""


# Benchmark decontamination uses long (8-word) n-grams: long enough that a
# shared gram is near-certain verbatim overlap, the standard knob in
# published training-data pipelines (e.g. GPT-3 used 13-gram, Gopher 8-gram
# overlap against their eval sets).
_DECON_N = 8


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination scan: flag every training document that
    shares at least one 8-word n-gram with the held-out evaluation split
    (here `doc_id % 10 == 0` — a deterministic split both engines agree
    on). Emits (doc_id, n_shared) for contaminated training docs; the
    decontaminated corpus is the anti-join of `documents` against this.

    100-TB shape: both sides reduce to DISTINCT (doc, gram) / DISTINCT
    gram *before* a single equi-join shuffle keyed on the gram, so the
    join input is bounded by the distinct-gram space, not raw tokens. A
    real benchmark eval set is tiny relative to the corpus, so its gram
    set broadcasts; this synthetic split is 10% of the corpus, which is
    exactly the shape AQE resolves to a shuffle join on its own — no
    hand-picked strategy needed.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # the gram explode is the dominant cost and must use every core;
        # the test corpus is one parquet split, which would otherwise pin
        # the whole scan+explode to a single task (at production scale the
        # source has many splits and this is a near-free small shuffle).
        # Hash by doc_id so the (doc_id, gram) distinct below rides this
        # same exchange instead of adding its own (guide §2.4)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # Grams are hashed to 64 bits right after the explode, so every
    # downstream exchange (two DISTINCTs + the equi-join) shuffles 8-byte
    # keys instead of ~50-byte strings — the standard trick in published
    # dedup pipelines. Collisions would need two distinct grams on the
    # same xxhash64 value inside one doc↔eval pair; at 2^-64 per pair
    # that is ~1e-8 even at 1e9 distinct grams, far below any other
    # error source in the pipeline.
    from pyspark.sql import Window

    # ONE explode + ONE distinct: the previous train/eval plan branches
    # each re-ran the gram explode (Spark shares no subtrees below a
    # fork), and their equi-join re-shuffled both sides. A gram-window
    # max of the eval flag over the gram-partitioned frame marks every
    # contaminated gram in place — measured faster and strictly fewer
    # exchanges at sf0.1.
    g = (
        shingles(docs, n=_DECON_N)
        .select("doc_id", F.xxhash64("shingle").alias("gram"))
        .distinct()
    )
    flagged = (
        g.repartition("gram")
        .withColumn(
            "_ev",
            F.max((F.col("doc_id") % 10 == 0).cast("int")).over(
                Window.partitionBy("gram")
            ),
        )
        .filter((F.col("_ev") == 1) & (F.col("doc_id") % 10 != 0))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )


_DECON_GRAM_EXPR = " || ' ' || ".join(
    f"words[i+{k}]" for k in range(_DECON_N)
)

DECONTAMINATE_SQL = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(words) - {_DECON_N - 1}),
                  i -> {_DECON_GRAM_EXPR})) AS gram
    FROM w
    WHERE len(words) >= {_DECON_N}
),
train AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM train t JOIN eval_g e USING (gram)
GROUP BY t.doc_id
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: deduplicate a NEW ingestion batch against a
    prior-snapshot kept set (the re-crawl / continuous-ingestion shape —
    a new document is dropped if its exact content hash already exists
    in the kept corpus, and within the batch only the smallest doc_id
    per hash survives). Snapshot boundary is deterministic: doc_id % 3
    != 0 is the prior corpus, % 3 == 0 the new batch.

    100-TB shape: both sides reduce to (hash[, min id]) aggregates
    before one equi-join on the hash — the prior set is arbitrarily
    large, so no broadcast assumption; the anti-join shuffles digest
    keys only."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    prior = (
        docs.filter(F.col("doc_id") % 3 != 0).select("content_hash").distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    batch_min = batch.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id")
    )
    return batch_min.join(prior, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


DEDUP_INCREMENTAL_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
prior AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 3 <> 0),
batch AS (
    SELECT content_hash, MIN(doc_id) AS doc_id
    FROM h WHERE doc_id % 3 = 0 GROUP BY content_hash
)
SELECT doc_id, content_hash FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM prior p
                  WHERE p.content_hash = b.content_hash)
"""


QUERIES = {
    "dedup_cross_source": dedup_cross_source,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "decontaminate_ngram": decontaminate_ngram,
    "dedup_incremental": dedup_incremental,
}

ORACLE = {
    "dedup_cross_source": DEDUP_CROSS_SOURCE_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "decontaminate_ngram": DECONTAMINATE_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
}
