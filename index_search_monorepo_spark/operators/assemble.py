"""§1.3 — final full-text document assembly
(full_text_document_generator.py:144-182).

The reference accretes dict keys in a fixed order and pops two of them; in the
columnar rebuild that becomes a fixed output schema with the same field
inventory:

  1. id                                  (:153)
  2. ocr                                 (:158, A1)
  3. allfields                           (:163-165); fullrecord popped (:166)
  4. catalog fields (P3 identical minus fullrecord, P4 renamed, M-fields)
  5. mysql fields rights/ht_heldby/ht_heldby_brlm/coll_id (:174, J1–J4)
  6. METS fields ht_page_feature/ht_scanning_order/ht_reading_order/
     ht_cover_tag                        (:179, X1–X3)
  7. ht_id popped                        (:181) — not in the output schema

Dict-key-absence (absent-if-empty) is encoded as NULL; a sink that needs the
reference's literal serialization drops NULL fields (create_solr_string's
falsy skip, text_processor.py:67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from index_search_monorepo_spark.operators.catalog import (
    IDENTICAL_CATALOG_METADATA,
    RENAMED_CATALOG_METADATA,
)

CATALOG_OUTPUT_FIELDS = [
    f for f in IDENTICAL_CATALOG_METADATA if f not in ("fullrecord", "htsource")
]

OUTPUT_FIELD_ORDER = (
    ["id", "ocr", "allfields"]
    + CATALOG_OUTPUT_FIELDS
    + list(RENAMED_CATALOG_METADATA.keys())
    + ["bothPublishDate", "enumPublishDate", "volume_enumcron", "htsource", "vol_id"]
    + ["rights", "ht_heldby", "ht_heldby_brlm", "coll_id"]
    + ["ht_page_feature", "ht_scanning_order", "ht_reading_order", "ht_cover_tag"]
)


def assemble_full_text_documents(
    docs_with_ocr: DataFrame,
    item_metadata: DataFrame,
    mets_fields: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """docs_with_ocr: (doc_id, ocr, [rights, ht_heldby, ht_heldby_brlm,
    coll_id] already enriched); item_metadata: catalog_item_metadata()
    output with `allfields` already computed (functions/marc.py);
    mets_fields: with_mets_fields() output. Joins on doc_id == ht_id_item
    and drops fullrecord (the pop at :166)."""
    meta = item_metadata.drop("fullrecord", "_doc_json")
    joined = (
        docs_with_ocr.withColumnRenamed("doc_id", "id")
        .join(meta.withColumnRenamed("ht_id_item", "id"), "id", "left")
        .join(mets_fields.withColumnRenamed("doc_id", "id"), "id", "left")
    )
    return joined.select(*OUTPUT_FIELD_ORDER, *extra_cols)
