"""LOB reassembly — out-of-row LOB chunks → whole values (SURVEY T8).

The reference buffers LOB pages per LobId (LobCtx/LobData), orders them
via the LOB-index dba chains, and attaches the assembled value to the
owning row at transaction flush; orphaned LOBs (data arriving before the
row) are attached through the LobId↔XID map
(src/parser/Transaction.cpp:286-417, TransactionBuffer.h:64).

Spark shape: LOB chunks are their own keyed stream — ONE shuffle on
lob_id assembles pages in chunk order (partial collect_list + JVM-side
sort; memory per key = one LOB, the same envelope as the reference's
page map). Attachment to the owning event is a broadcast-or-shuffle
equi join on lob_id, never a per-row lookup. Placeholder protocol: a
column whose value is 'LOB:<lob_id>' is replaced by the assembled value
at attach time — unresolved references survive as placeholders (orphans
policy) so a later batch can still attach them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LOB_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("lob_id", T.StringType()),
        T.StructField("xid", T.StringType()),
        T.StructField("chunk_idx", T.IntegerType()),   # page order (index dba chain)
        T.StructField("data", T.StringType()),          # page payload (hex/utf8)
    ]
)


def assemble_lobs(chunks: DataFrame) -> DataFrame:
    """(lob_id, value, n_chunks): pages concatenated in chunk order.
    collect_list is partially aggregated per partition; the comparator
    array_sort runs JVM-side after the single lob_id shuffle."""
    return (
        chunks.groupBy("lob_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "data")),
                        lambda l, r: F.when(l.chunk_idx < r.chunk_idx, -1)
                        .when(l.chunk_idx > r.chunk_idx, 1)
                        .otherwise(0),
                    ),
                    lambda s: s.data,
                ),
            ).alias("value"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
    )


# LOB page-map rows — the KDLI LMAP/IMAP index analog: the LOB index
# (not the data op) says which dba holds which logical page
# (Transaction.cpp:380-417 setPage loop).
LOB_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("lob_id", T.StringType()),
        T.StructField("dba", T.LongType()),
        T.StructField("page_no", T.IntegerType()),
    ]
)

# dba successor chains — the orderList(dba, next_dba) analog
# (Transaction.cpp:331-344): page order defined only by links.
LOB_CHAIN_SCHEMA = T.StructType(
    [
        T.StructField("lob_id", T.StringType()),
        T.StructField("dba", T.LongType()),
        T.StructField("next_dba", T.LongType()),
    ]
)

# data chunks addressed by dba, NOT by a pre-supplied order
# (the 19.1/26.x FILL payload: addLob(lobId, dba, data)).
LOB_DBA_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("lob_id", T.StringType()),
        T.StructField("xid", T.StringType()),
        T.StructField("dba", T.LongType()),
        T.StructField("data", T.StringType()),
    ]
)


def chain_page_numbers(chains: DataFrame) -> DataFrame:
    """(lob_id, dba, next_dba) links → (lob_id, dba, page_no).

    ONE shuffle on lob_id, then an O(chain) hash-map walk per LOB inside
    an Arrow-batched ``applyInPandas`` — the reference's orderList walk
    (Transaction.cpp:331-344), but partition-parallel across LOBs. This
    is the 100-TB shape: a single LOB's page list always fits one task
    (even a 1 GB LOB is ~128k pages of link rows), while LOB *count*
    scales across the cluster — so parallelism lives across keys, not
    within a chain. Keys are hash-bucketed so one Python invocation
    walks thousands of LOBs (per-key applyInPandas invocation overhead
    measured 4× slower at 60k keys). A pointer-doubling variant
    (log(chain) self-join rounds) was measured slower still: each round
    is a full-frame shuffle plus a blocking materialization, which
    dominates when no single chain is anywhere near cluster scale."""
    import pandas as pd

    def walk_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        out_lob: list[str] = []
        out_dba: list[int] = []
        out_no: list[int] = []
        for lob_id, g in pdf.groupby("lob_id", sort=False):
            # normalize NaN tail links to None: LOB_CHAIN_SCHEMA allows
            # a null-terminated tail row, and pandas floats its NaN
            # through `cur is not None` — the walk then emitted one
            # bogus NaN-dba page per chain (r12 review pass)
            nxt = {
                d: (None if pd.isna(n) else n)
                for d, n in zip(g["dba"], g["next_dba"])
            }
            heads = set(g["dba"]) - {
                n for n in nxt.values() if n is not None
            }
            for head in heads:
                cur, no = head, 0
                seen = 0
                while cur is not None and seen <= len(nxt) + 1:
                    out_lob.append(lob_id)
                    out_dba.append(cur)
                    out_no.append(no)
                    cur = nxt.get(cur)
                    no += 1
                    seen += 1
        return pd.DataFrame(
            {"lob_id": out_lob, "dba": out_dba, "page_no": out_no}
        )

    # shared batch bucket default (one per core, honoring the
    # spark.olrs.assembly.buckets override) — was a hand-copy that
    # ignored the tuning knob the assembly stage honors (r12 review)
    from openlogreplicator_spark.operators.transaction_assembly import (
        _default_buckets,
    )

    n_buckets = _default_buckets(chains)
    bucketed = chains.withColumn(
        "_bucket", F.pmod(F.xxhash64("lob_id"), F.lit(n_buckets))
    )
    return (
        bucketed.groupBy("_bucket")
        .applyInPandas(
            lambda pdf: walk_bucket(pdf),
            schema="lob_id string, dba long, page_no int",
        )
    )


def chain_page_numbers_doubling(
    chains: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Pointer-doubling variant of :func:`chain_page_numbers` for the
    degenerate case of a chain too long for one task: every node starts
    pointing at its predecessor with rank 1 (the head gets rank 0); each
    round follows the pointer two steps and adds its rank, so after k
    rounds each pointer spans 2^k links — chains up to 2^max_iter pages
    resolve in max_iter equi-join shuffles keyed (lob_id, dba)."""
    pred = chains.select(
        "lob_id",
        F.col("next_dba").alias("dba"),
        F.col("dba").alias("ptr"),
    )
    heads = chains.select("lob_id", "dba").subtract(
        chains.select("lob_id", F.col("next_dba").alias("dba"))
    )
    nodes = (
        chains.select("lob_id", "dba")
        .union(
            # a null next_dba is a TAIL LINK, not a node — including it
            # minted a spurious (lob_id, null, 0) output row (r12
            # review pass, sibling of the walk_bucket NaN fix)
            chains.select("lob_id", F.col("next_dba").alias("dba"))
            .where(F.col("dba").isNotNull())
        )
        .distinct()
        .join(pred, ["lob_id", "dba"], "left")
        .select(
            "lob_id",
            "dba",
            "ptr",
            F.when(F.col("ptr").isNull(), 0).otherwise(1).alias("rank"),
        )
    )
    _ = heads  # heads are exactly the ptr-null nodes; kept for clarity
    prev = None
    for _i in range(max_iter):
        nodes = nodes.persist()
        done = nodes.filter(F.col("ptr").isNotNull()).isEmpty()
        # the isEmpty() above materialized THIS round — the previous
        # round's cache is now dead weight; without the unpersist every
        # invocation pinned up to max_iter full node sets in executor
        # storage for the application lifetime (r12 review pass)
        if prev is not None:
            prev.unpersist()
        prev = nodes
        if done:
            break
        hop = nodes.select(
            "lob_id",
            F.col("dba").alias("ptr"),
            F.col("ptr").alias("ptr2"),
            F.col("rank").alias("rank2"),
        )
        nodes = (
            nodes.join(hop, ["lob_id", "ptr"], "left")
            .select(
                "lob_id",
                "dba",
                F.col("ptr2").alias("ptr"),
                (F.col("rank") + F.coalesce(F.col("rank2"), F.lit(0))).alias(
                    "rank"
                ),
            )
        )
    return nodes.select(
        "lob_id", "dba", F.col("rank").cast("int").alias("page_no")
    )


def assemble_lobs_indexed(
    chunks: DataFrame, page_map: DataFrame
) -> DataFrame:
    """dba-addressed chunks + index page map → (lob_id, value, n_chunks,
    n_unmapped). Page order comes from the LOB INDEX, not from arrival
    order or caller-supplied chunk numbers (Transaction.cpp:286-417).
    One equi join on (lob_id, dba), then the same single-shuffle ordered
    concat as assemble_lobs. Chunks with no index entry are counted in
    n_unmapped and excluded (the reference warns and skips: 60014)."""
    mapped = chunks.join(page_map, ["lob_id", "dba"], "left")
    return (
        mapped.groupBy("lob_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("page_no").isNotNull(),
                                F.struct("page_no", "data"),
                            )
                        ),
                        lambda l, r: F.when(l.page_no < r.page_no, -1)
                        .when(l.page_no > r.page_no, 1)
                        .otherwise(0),
                    ),
                    lambda s: s.data,
                ),
            ).alias("value"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("page_no").isNull(), 1).otherwise(0)
            ).cast("int").alias("n_unmapped"),
        )
    )


def reassemble_ddl(ddl_chunks: DataFrame) -> DataFrame:
    """P15 DDL text reassembly (OpCode1801.h:28-103): a DDL statement
    arrives chunked across redo records as (xid, seq, cnt, text_part);
    concatenate in seq order per statement — same ordered-concat shape
    as LOB assembly, one shuffle on the group key. Emits op='ddl' rows
    with the full statement and a completeness flag (got all `cnt`
    chunks). A ``ddl_type`` column (the 24.1 record's numeric type
    code) is carried through for :func:`classify_ddl`.

    The reference scopes reassembly to ONE redo record group; xid alone
    under-scopes it when a transaction carries several chunked DDL
    statements (their seqs would interleave into one garbled text, r12
    review pass) — so a ``scn`` column, when present, joins the group
    key as the per-statement discriminator. Chunk frames without one
    must carry at most one statement per xid."""
    aggs = [
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seq", "text_part")),
                    lambda l, r: F.when(l.seq < r.seq, -1)
                    .when(l.seq > r.seq, 1)
                    .otherwise(0),
                ),
                lambda s: s.text_part,
            ),
        ).alias("ddl_text"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("cnt").alias("expected_chunks"),
    ]
    if "ddl_type" in ddl_chunks.columns:
        aggs.append(F.max("ddl_type").alias("ddl_type"))
    keys = ["xid"] + (
        ["scn"] if "scn" in ddl_chunks.columns else []
    )
    return (
        ddl_chunks.groupBy(*keys)
        .agg(*aggs)
        .withColumn("complete", F.col("n_chunks") == F.col("expected_chunks"))
        .withColumn("op", F.lit("ddl"))
    )


def ddl_category_expr(ddl_type_col: str = "ddl_type") -> "F.Column":
    """B7 DDL classification by the numeric ddlType carried in the 24.1
    record — the exact code table of Builder::processDdl
    (Builder.cpp:1810-1846): 1/4/9 create, 85 truncate, 8/12 drop,
    15/11 alter, 198 purge, everything else other. Feeds the per-category
    ddl_ops metrics counters (Metrics.h:68-73)."""
    c = F.col(ddl_type_col)
    return (
        F.when(c.isin(1, 4, 9), "create")
        .when(c == 85, "truncate")
        .when(c.isin(8, 12), "drop")
        .when(c.isin(15, 11), "alter")
        .when(c == 198, "purge")
        .otherwise("other")
    )


def ddl_category_from_text(text_col: str = "ddl_text") -> "F.Column":
    """Classification fallback from the statement's leading verb, for
    streams whose 24.1 records didn't carry a ddlType code (the rendered
    text is authoritative enough for the counter buckets)."""
    verb = F.upper(F.regexp_extract(F.ltrim(F.col(text_col)), r"^(\w+)", 1))
    return (
        F.when(verb == "CREATE", "create")
        .when(verb == "TRUNCATE", "truncate")
        .when(verb == "DROP", "drop")
        .when(verb == "ALTER", "alter")
        .when(verb == "PURGE", "purge")
        .otherwise("other")
    )


def classify_ddl(ddl: DataFrame) -> DataFrame:
    """Reassembled DDL rows → rows + ``ddl_category``: by ddlType code
    when a ``ddl_type`` column exists and is non-null, else by leading
    verb. Pure JVM expressions — classification never leaves codegen."""
    if "ddl_type" in ddl.columns:
        cat = F.when(
            F.col("ddl_type").isNotNull(), ddl_category_expr("ddl_type")
        ).otherwise(ddl_category_from_text("ddl_text"))
    else:
        cat = ddl_category_from_text("ddl_text")
    return ddl.withColumn("ddl_category", cat)


def attach_lobs(events: DataFrame, lobs: DataFrame, cols_field: str = "cols") -> DataFrame:
    """Replace 'LOB:<id>' placeholders inside the event's column map with
    assembled values — each placeholder matched to ITS OWN lob_id (a row
    may reference several LOB columns, e.g. a CLOB and a BLOB in one
    update; the reference attaches per LobId via the page map,
    Transaction.cpp:286-417).

    Scale shape: rows without LOB references bypass everything (a
    map_filter predicate, no shuffle). Referencing rows explode their
    distinct lob_ids (almost always 1-2), equi-join on lob_id, and fold
    back into a per-row patch map — join + regroup, both on narrow keys.
    Unresolved references keep their placeholder (orphan policy) so a
    later batch can attach them."""
    orig_cols = events.columns
    # coalesce to an empty array: a NULL cols map (a DML record parsed
    # with no column payload) propagates NULL through map_filter, and
    # F.size(NULL) is -1 — the row then failed BOTH branch filters and
    # silently vanished from the output (r12 review pass)
    ref_ids = F.coalesce(
        F.array_distinct(
            F.transform(
                F.map_values(
                    F.map_filter(
                        F.col(cols_field),
                        lambda k, v: v.startswith("LOB:"),
                    )
                ),
                lambda v: v.substr(F.lit(5), F.lit(1 << 10)),
            )
        ),
        F.array().cast("array<string>"),
    )
    tagged = events.withColumn("_ref_ids", ref_ids)
    plain = tagged.filter(F.size("_ref_ids") == 0).drop("_ref_ids")
    # _row_id is generated once, and every downstream node (explode →
    # join → group) is a single lineage pass — no self-join, so the
    # nondeterministic id cannot diverge between branches.
    refs = tagged.filter(F.size("_ref_ids") > 0).withColumn(
        "_row_id", F.monotonically_increasing_id()
    )
    exploded = refs.select("*", F.explode("_ref_ids").alias("_lob_id")).drop(
        "_ref_ids"
    )
    joined = exploded.join(
        lobs.select(
            F.col("lob_id").alias("_lob_id"), F.col("value").alias("_lob_value")
        ),
        on="_lob_id",
        how="left",
    )
    # collect_list skips nulls, so unresolved ids simply don't enter the
    # patch map and their placeholders survive.
    regrouped = joined.groupBy("_row_id").agg(
        *[F.first(c).alias(c) for c in orig_cols],
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("_lob_value").isNotNull(),
                    F.struct(
                        F.col("_lob_id").alias("key"),
                        F.col("_lob_value").alias("value"),
                    ),
                )
            )
        ).alias("_patch"),
    )
    patched = F.transform_values(
        F.col(cols_field),
        lambda k, v: F.when(
            v.startswith("LOB:"),
            F.coalesce(
                F.try_element_at(
                    F.col("_patch"), v.substr(F.lit(5), F.lit(1 << 10))
                ),
                v,
            ),
        ).otherwise(v),
    )
    resolved = (
        regrouped.withColumn(cols_field, patched)
        .drop("_row_id", "_patch")
        .select(*orig_cols)
    )
    return plain.select(*orig_cols).unionByName(resolved)
