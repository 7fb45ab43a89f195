"""A2 — `allfields` from a MARC21-slim XML string column, as one native
Catalyst expression (no Python worker).

Reference (full_text_document_generator.py:111-142; byte-for-byte oracle
`oracle.reference_oracle.oracle_allfields`): over datafields with numeric
tag > 99, append each child's text ('None' when empty), or the childless
element's own text when non-empty, stripping the accumulator before each
append; then xml.sax.saxutils.quoteattr.

Spark's `from_xml` parses the record (DTD support and external entities
off, so no file is ever read); a malformed record yields NULL. Outside
MARC21-slim the output differs from the reference, pinned by
tests/test_allfields.py: non-subfield children of a datafield are skipped;
markup nested in a subfield stays in its text; content after the root
element is ignored; an entity declared in a DOCTYPE yields NULL; tags in
non-ASCII digits count as non-numeric; only elements named `datafield`
count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from index_search_monorepo_spark.functions.text import (
    PY_WHITESPACE,
    pystrip,
    quoteattr_expr,
)

_DATAFIELD = "array<struct<_tag: string, subfield: array<string>, ownText: string>>"
_SCHEMA = (
    f"record array<struct<datafield: {_DATAFIELD}>>, datafield {_DATAFIELD}, "
    "_corrupt_record string"
)
_OPTIONS = {
    "ignoreNamespace": "true",
    "ignoreSurroundingSpaces": "false",
    "columnNameOfCorruptRecord": "_corrupt_record",
}
# from_xml drops an element's whitespace-only text but keeps a child's, so
# a childless datafield's text moves into an <ownText> child first
_NS_PREFIX = r"(?:[^\s/>:=]+:)?"
_ATTRS = r"""(?:\s+[^\s=/>]+\s*=\s*(?:"[^"]*"|'[^']*'))*\s*"""
_CHILDLESS = (
    rf"(?s)(<{_NS_PREFIX}datafield{_ATTRS}>)"
    r"([^<]*+(?:(?:<!\[CDATA\[.*?\]\]>|<!--.*?-->|<\?.*?\?>)[^<]*+)*+)"
    rf"(</{_NS_PREFIX}datafield\s*>)"
)


def _bind(e: Column, f) -> Column:
    """f(e) with `e` evaluated once (lambdas get no CSE)."""
    return F.element_at(F.transform(F.array(e), f), 1)


def _tag_over_99(tag: Column) -> Column:
    """Python `int(tag) > 99`, including sign and `_` digit separators."""
    t = pystrip(tag)
    return t.rlike(r"^[+-]?[0-9](?:_?[0-9])*$") & F.replace(
        t, F.lit("_"), F.lit("")
    ).rlike(r"^\+?0*[1-9][0-9]{2,}$")


def _strip_fold(t: Column) -> Column:
    """acc = acc.strip() + ' ' + x over t from acc = '', in closed form:
    lstrip(' '.join(r for r in map(rstrip, t[:-1]) if r)) + ' ' + t[-1]."""
    ws = F.lit(PY_WHITESPACE)
    n = F.size(t)
    head = F.filter(
        F.transform(F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
                    lambda x: F.rtrim(x, ws)),
        lambda x: F.length(x) > 0,
    )
    return F.when(n == 0, F.lit("")).otherwise(F.concat(
        F.ltrim(F.array_join(head, " "), ws), F.lit(" "),
        F.try_element_at(t, F.lit(-1)),
    ))


def _fold_record(p: Column) -> Column:
    datafields = F.concat(
        F.coalesce(F.flatten(F.array_compact(p["record"]["datafield"])), F.array()),
        F.coalesce(p["datafield"], F.array()),
    )
    texts = F.flatten(F.transform(
        F.filter(datafields, lambda d: _tag_over_99(d["_tag"])),
        lambda d: F.coalesce(
            F.transform(d["subfield"],
                        lambda s: F.coalesce(F.nullif(s, F.lit("")), F.lit("None"))),
            F.when(F.length(d["ownText"]) > 0, F.array(d["ownText"])),
            F.array().cast("array<string>"),
        ),
    ))
    return F.when(
        p.isNotNull() & p["_corrupt_record"].isNull(),
        quoteattr_expr(_bind(texts, _strip_fold)),
    )


def extract_allfields(fullrecord: Column) -> Column:
    """MARC21-slim XML column -> quoteattr'd allfields (NULL when the
    record is NULL or malformed)."""
    doc = F.regexp_replace(fullrecord, _CHILDLESS, "$1<ownText>$2</ownText>$3")
    return _bind(F.from_xml(doc, _SCHEMA, _OPTIONS), _fold_record)
