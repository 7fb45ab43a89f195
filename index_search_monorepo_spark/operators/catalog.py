"""J5/J6 + M-fields — catalog record → per-item metadata
(catalog_metadata.py:6-106, ht_indexer_config.py:29-90).

The reference receives one Solr catalog record owning N items and loops over
items in Python; here the catalog DataFrame is posexploded on ht_id — the one
genuine shuffle-free generator op — and all computed fields are pure column
expressions.

Quirks preserved (each has a dedicated test so intent is visible):
 - volume_enumcron: ht_id_display[0].split('|')[2], emitted only when
   len > 1; IndexError (no element / short split) -> absent
   (catalog_metadata.py:58-65, 78-79)
 - htsource: positional pick htsource[index(ht_id)], IndexError fallback to
   element 0 (catalog_metadata.py:95-106)
 - ht_json filter walrus-precedence: keep entries where enum_pubdate is
   truthy AND htid == ht_id (catalog_metadata.py:85-93)
 - enumPublishDate: doc_json[0].get('ht_json') — a key that never exists in
   item dicts -> ALWAYS None -> dropped by the falsy-skipping serializer
   (catalog_metadata.py:73-76 + text_processor.py:67). Kept as an
   always-NULL column.
 - bothPublishDate: record['enumPublishDate'] iff raw record has truthy
   'date' AND 'enumPublishDate' (catalog_metadata.py:21-23)
 - absent-if-empty (P3): identical catalog fields are NULLed when falsy
   (empty array / empty string), matching dict-key absence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

# P3 whitelist (ht_indexer_config.py:36-90) — 'fullrecord' included here, is
# consumed by allfields and popped before output (assemble.py).
IDENTICAL_CATALOG_METADATA = [
    "author", "author2", "lccn", "sdrnum", "rptnum", "oclc", "issn", "isbn",
    "edition", "isn_related", "callnumber", "sudoc", "language",
    "language008_full", "format", "htsource", "publisher", "author_top",
    "author_rest", "authorSort", "author_sortkey", "mainauthor", "vtitle",
    "title_c", "title_sortkey", "title_display", "title", "titleSort",
    "title_ab", "title_a", "title_top", "title_rest", "series", "series2",
    "serialTitle_ab", "serialTitle_a", "serialTitle", "serialTitle_rest",
    "topicStr", "publishDate", "geographicStr", "countryOfPubStr", "genre",
    "era", "fullrecord",
]

# P4 renamed copies (ht_indexer_config.py:29-34): new_field <- catalog_field
RENAMED_CATALOG_METADATA = {
    "record_no": "id",
    "date": "publishDate",
    "Vauthor": "author",
    "Vtitle": "title",
}

HT_JSON_SCHEMA = ArrayType(
    StructType(
        [
            StructField("htid", StringType()),
            StructField("ingest", StringType()),
            StructField("rights", ArrayType(StringType())),
            StructField("heldby", ArrayType(StringType())),
            StructField("collection_code", StringType()),
            StructField("enum_pubdate", StringType()),
            StructField("enumcron", StringType()),
            StructField("dig_source", StringType()),
        ]
    )
)


def _truthy(col: Column, dt) -> Column:
    """Python-truthiness for catalog values: None, '', [] are falsy."""
    if isinstance(dt, ArrayType):
        return col.isNotNull() & (F.size(col) > 0)
    if isinstance(dt, StringType):
        return col.isNotNull() & (col != "")
    return col.isNotNull()


def _absent_if_falsy(col: Column, dt) -> Column:
    return F.when(_truthy(col, dt), col)


def catalog_item_metadata(
    catalog: DataFrame, extra_passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Full per-item metadata projection: P3 identical fields (absent-if-
    falsy), P4 renamed copies, computed M-fields, vol_id.

    extra_passthrough: record-level columns copied through unchanged (e.g. a
    pre-computed `allfields` — computing it BEFORE the posexplode parses
    the MARC record once per record instead of once per item)."""
    dtypes = {f.name: f.dataType for f in catalog.schema.fields}
    # keep the raw record's enumPublishDate for bothPublishDate before the
    # quirk column shadows it
    has_raw_epd = "enumPublishDate" in dtypes
    has_raw_date = "date" in dtypes
    cat = catalog
    if has_raw_epd:
        cat = cat.withColumnRenamed("enumPublishDate", "_raw_enumPublishDate")
        dtypes["_raw_enumPublishDate"] = dtypes.pop("enumPublishDate")
    if has_raw_date:
        cat = cat.withColumnRenamed("date", "_raw_date")
        dtypes["_raw_date"] = dtypes.pop("date")

    df = cat.select("*", F.posexplode("ht_id").alias("_pos", "ht_id_item"))

    cols: list[Column] = [F.col("ht_id_item")]
    # P3 identical fields, absent-if-falsy
    for f in IDENTICAL_CATALOG_METADATA:
        if f == "htsource":
            continue  # overwritten by the computed item htsource below
        if f in dtypes:
            cols.append(_absent_if_falsy(F.col(f), dtypes[f]).alias(f))
        else:
            cols.append(F.lit(None).cast(StringType()).alias(f))
    # P4 renamed copies (value may be NULL — reference keeps the key)
    for new_field, src in RENAMED_CATALOG_METADATA.items():
        cols.append(
            (F.col(src) if src in dtypes else F.lit(None)).alias(new_field)
        )
    # bothPublishDate
    if has_raw_date and has_raw_epd:
        cols.append(
            F.when(
                _truthy(F.col("_raw_date"), dtypes["_raw_date"])
                & _truthy(F.col("_raw_enumPublishDate"), dtypes["_raw_enumPublishDate"]),
                F.col("_raw_enumPublishDate"),
            ).alias("bothPublishDate")
        )
    else:
        cols.append(F.lit(None).cast(StringType()).alias("bothPublishDate"))
    # enumPublishDate — always NULL (quirk, see module docstring)
    cols.append(F.lit(None).cast(StringType()).alias("enumPublishDate"))

    # volume_enumcron
    disp0 = F.element_at("ht_id_display", 1)
    parts = F.split(disp0, "\\|")
    venum = F.when(
        F.col("ht_id_display").isNotNull()
        & (F.size("ht_id_display") > 0)
        & (F.size(parts) >= 3),
        parts[2],
    )
    cols.append(F.when(F.length(venum) > 1, venum).alias("volume_enumcron"))

    # htsource positional
    pos1 = F.col("_pos") + 1
    cols.append(
        F.when(F.size("htsource") >= pos1, F.element_at("htsource", pos1))
        .otherwise(F.element_at("htsource", 1))
        .alias("htsource")
    )
    cols.append(F.col("ht_id_item").alias("vol_id"))

    # J6 doc_json (exposed for tests; drives nothing in output — quirk)
    parsed = F.from_json("ht_json", HT_JSON_SCHEMA)
    cols.append(
        F.filter(
            parsed,
            lambda x: x["enum_pubdate"].isNotNull()
            & (x["enum_pubdate"] != "")
            & (x["htid"] == F.col("ht_id_item")),
        ).alias("_doc_json")
    )
    for name in extra_passthrough:
        cols.append(F.col(name))
    return df.select(*cols)
