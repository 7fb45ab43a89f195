"""J1–J4 — MySQL-style enrichment rebuilt as broadcast left joins
(mysql_data_extractor.py:45-116). The reference runs 4 point queries per
document; at 100 TB these become four broadcast-hash joins against small,
pre-aggregated dimension DataFrames — zero shuffles on the fact side.

Semantics preserved exactly:
 - rights          emitted only when EXACTLY ONE rights_current row matches
                   (namespace, id)            (mysql_data_extractor.py:95-99)
 - ht_heldby       member list, NULL (absent) when empty   (:101-104)
 - ht_heldby_brlm  members with access_count > 0, NULL when empty (:106-110)
 - coll_id         distinct MColl_ID of the item's collections with
                   num_items > MAX_ITEM_IDS(=1000), default [0]  (:45-64,
                   :112-114; ht_indexer_config.py:6).
                   QUIRK NOTE: the reference SQL at :56-59 lacks the
                   mb_coll_item↔mb_collection join predicate (a cartesian
                   against all large collections); we implement the
                   documented intent — join on MColl_ID then filter.
Member/coll lists are canonicalized sorted (the reference emits unspecified
DB row order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from index_search_monorepo_spark.functions.text import namespace_expr, object_id_expr

MAX_ITEM_IDS = 1000


def rights_dim(rights_current: DataFrame) -> DataFrame:
    """Pre-aggregate: one row per (namespace, id) carrying rights only when
    exactly one source row exists (J1 count guard)."""
    return rights_current.groupBy("namespace", "id").agg(
        F.when(F.count("*") == 1, F.min("attr")).alias("rights")
    )


def holdings_dims(holdings: DataFrame) -> tuple[DataFrame, DataFrame]:
    heldby = holdings.groupBy("volume_id").agg(
        F.sort_array(F.collect_list("member_id")).alias("ht_heldby")
    )
    brlm = (
        holdings.filter(F.col("access_count") > 0)
        .groupBy("volume_id")
        .agg(F.sort_array(F.collect_list("member_id")).alias("ht_heldby_brlm"))
    )
    return heldby, brlm


def coll_dim(mb_coll_item: DataFrame, mb_collection: DataFrame) -> DataFrame:
    return (
        mb_coll_item.join(
            broadcast(mb_collection.filter(F.col("num_items") > MAX_ITEM_IDS)),
            "MColl_ID",
        )
        .groupBy("extern_item_id")
        .agg(F.sort_array(F.collect_set("MColl_ID")).alias("coll_id"))
    )


def with_mysql_fields(
    docs: DataFrame,
    rights_current: DataFrame,
    holdings: DataFrame,
    mb_coll_item: DataFrame,
    mb_collection: DataFrame,
    doc_id_col: str = "doc_id",
    dim_join: str | None = None,
) -> DataFrame:
    """All four enrichments as left joins; adds columns
    rights, ht_heldby, ht_heldby_brlm, coll_id.

    The four pre-aggregates are persisted, pinning the once-per-job
    dim-build semantic: without it a caller that materializes the output
    k times rebuilds them k times (at small scale that near-serial rebuild
    dominates high-core wall time).

    dim_join (r6): join-strategy hint ("shuffle_hash" | "merge") for the
    four dims. Default None keeps the broadcast plan (one-shot jobs at
    bench scale). But these dims are DOC-CARDINALITY — rights_current is
    one row per volume (~17M at reference scale), holdings one per
    volume-member — so in production they cannot broadcast, and in any
    repeated-run deployment the per-materialization driver-side broadcast
    hash-relation build is a SERIAL cost that grows with the corpus (the
    r5 sf1 scaling run's corpus-proportional serial term: s = 23.2 s at
    120k docs vs 2.0 s at 12k). With a hint, all four dims join
    shuffle-hash on doc_id — the fact side exchanges ONCE on doc_id and
    every dim join (and the downstream doc_id-keyed metadata joins)
    reuses that partitioning, so the dim build parallelizes instead of
    serializing on the driver. The rights dim is re-keyed to
    doc_id = concat(namespace, '.', id), equivalent to the
    (namespace, object_id) pair join once rights rows with a dotted
    namespace are dropped: split-at-first-dot never yields one, so such a
    row can only re-key onto another pair's doc_id ('a.b' + 'c' vs
    'a' + 'b.c'). Both forms null out for dot-less ids (object_id NULL
    never equality-matches; concat NULL-propagates)."""
    did = F.col(doc_id_col)
    heldby, brlm = holdings_dims(holdings)
    colls = coll_dim(mb_coll_item, mb_collection)
    if dim_join:
        r = rights_dim(
            rights_current.filter(~F.col("namespace").contains("."))
        ).select(
            F.concat(F.col("namespace"), F.lit("."), F.col("id")).alias(
                doc_id_col
            ),
            "rights",
        )
        heldby = heldby.withColumnRenamed("volume_id", doc_id_col)
        brlm = brlm.withColumnRenamed("volume_id", doc_id_col)
        colls = colls.withColumnRenamed("extern_item_id", doc_id_col)
        r, heldby, brlm, colls = (
            d.persist() for d in (r, heldby, brlm, colls)
        )
        return (
            docs.join(r.hint(dim_join), doc_id_col, "left")
            .join(heldby.hint(dim_join), doc_id_col, "left")
            .join(brlm.hint(dim_join), doc_id_col, "left")
            .join(colls.hint(dim_join), doc_id_col, "left")
            .withColumn("coll_id", F.coalesce("coll_id", F.array(F.lit(0))))
        )
    docs = docs.withColumn("_ns", namespace_expr(did)).withColumn(
        "_obj", object_id_expr(did)
    )
    r = rights_dim(rights_current).withColumnsRenamed(
        {"namespace": "_ns", "id": "_obj"}
    )
    r, heldby, brlm, colls = (d.persist() for d in (r, heldby, brlm, colls))
    out = (
        docs.join(broadcast(r), ["_ns", "_obj"], "left")
        .join(
            broadcast(heldby.withColumnRenamed("volume_id", doc_id_col)),
            doc_id_col,
            "left",
        )
        .join(
            broadcast(brlm.withColumnRenamed("volume_id", doc_id_col)),
            doc_id_col,
            "left",
        )
        .join(
            broadcast(colls.withColumnRenamed("extern_item_id", doc_id_col)),
            doc_id_col,
            "left",
        )
        .withColumn("coll_id", F.coalesce("coll_id", F.array(F.lit(0))))
    )
    return out.drop("_ns", "_obj")
