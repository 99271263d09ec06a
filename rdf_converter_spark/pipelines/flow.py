# -*- coding: utf-8 -*-
"""Flow-file entity linking (J3): filename -> program URI with
fallback candidate keys — the reference's alias-resolution primitive.

LD (ld_converter.py:577-607): identifier = stem minus leading 'R';
probe lineage[identifier] then lineage['R'+identifier]; silent skip.
PA (pa_converter.py:555-586): same key ladder against the PA lineage.
Yle (yle_converter.py:557-608): probe '<stem>.xml' then the
MEDIA->PROG substitution — but the triple emission is guarded by
membership of the *unsubstituted* filename in the scanned file list,
so MEDIA->PROG matches never emit triples [Q].

Spark expression: two left joins on the candidate keys + coalesce
with primary-key priority; first-match per key via row_number (A4).
All dimension sides are lineage tables — small next to the corpus, so
AQE broadcast-joins them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config
from ..operators.emit import bundle, explode_triples, lit, triple, uref
from ..terms import EB

BASE = config.BASE


# the fused parse passes each flow payload through unparsed
FLOW_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("row", T.IntegerType()),
    T.StructField("flow_payload", T.BinaryType()),
])


def parse_flow(parsed: DataFrame) -> DataFrame:
    """The fused parse's flow rows -> (name, flow_href), the JSON read
    by the JVM's ``get_json_object``."""
    src = parsed.filter(F.col("doc_type") == "flow")
    payload = F.col("flow_payload").cast("string")
    return src.select(
        "url", "row",
        F.get_json_object(payload, "$.name").alias("name"),
        F.get_json_object(payload, "$.flowHRef").alias("flow_href"),
    )


def _first_by_key(lineage: DataFrame, order_cols) -> DataFrame:
    w = Window.partitionBy("identifier").orderBy(*order_cols)
    return (
        lineage.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("identifier", "uri")
    )


def _fallback_join(flow: DataFrame, lineage_first: DataFrame) -> DataFrame:
    """identifier then 'R'+identifier (coalesce priority)."""
    j1 = lineage_first.select(
        F.col("identifier").alias("k1"), F.col("uri").alias("uri1")
    )
    j2 = lineage_first.select(
        F.col("identifier").alias("k2"), F.col("uri").alias("uri2")
    )
    out = (
        flow.join(j1, flow.identifier == j1.k1, "left")
        .join(j2, F.concat(F.lit("R"), flow.identifier) == j2.k2, "left")
        .withColumn("uri", F.coalesce("uri1", "uri2"))
        .drop("k1", "k2", "uri1", "uri2")
    )
    return out.filter(F.col("uri").isNotNull())


_MEDIA = "concat(%s, element_at(split(`uri`, '/'), -1))" % lit(BASE + "media/")


def _media_triples(matched: DataFrame, graph: str) -> DataFrame:
    return explode_triples(
        matched,
        bundle(uref(_MEDIA, EB("locator"), "flow_href"),
               triple(_MEDIA, EB("filename"), "name")),
        graph=graph,
    )


def flow_triples(flow: DataFrame, lineage: DataFrame,
                 graph: str) -> DataFrame:
    """LD and PA flow links (``graph`` "ld_flow" or "pa_flow"): the
    identifier is the name's stem minus a leading 'R' (the LD pass
    tests the name, the PA pass the stem; a name starts with 'R'
    exactly when its stem does)."""
    stem = r"split(`name`, '\\.')[0]"
    f = flow.withColumn("identifier", F.expr(
        "IF(startswith(%s, 'R'), substring(%s, 2), %s)" % (stem, stem, stem)))
    first = _first_by_key(lineage, ["dataset", "file", "row"])
    return _media_triples(_fallback_join(f, first), graph)


def yle_flow_triples(flow: DataFrame, yle_lineage: DataFrame) -> DataFrame:
    """Only direct '<stem>.xml' matches emit triples; names without an
    extension are skipped; MEDIA->PROG fallback matches emit nothing
    [Q] (yle_converter.py:578-608)."""
    f = flow.filter(F.col("name").contains(".")).withColumn(
        "identifier",
        F.concat(F.split(F.col("name"), "\\.").getItem(0), F.lit(".xml")),
    )
    first = _first_by_key(yle_lineage, ["dataset", "row"])
    matched = f.join(first, f.identifier == first.identifier, "left").filter(
        first.uri.isNotNull()
    ).select(f["*"], first.uri.alias("uri"))
    return _media_triples(matched, "yle_flow")
