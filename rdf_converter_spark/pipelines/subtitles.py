# -*- coding: utf-8 -*-
"""ASR subtitle pipeline (pa_converter.py:596-669).

Parse: the fused Arrow parse (pipelines.fused) of ASR XML payloads ->
one row per non-empty speech segment (S4), carrying the within-file
sequence.
Link (J4): the reference builds {identifier -> URI} from the LD
lineage with R-prefix *and* extension stripped, but probes it with
only the extension stripped — so R-prefixed subtitle files never
match (KeyError, printed skip) [Q]. Reproduced with an equi-join.
Numbering (A3): TextLine URIs are numbered 1.. per program in segment
order — ``row_number`` over (identifier, seq).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config
from ..operators.emit import explode_triples, triple, uref
from ..terms import EB, RDF_TYPE, XSD

BASE = config.BASE

ASR_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("identifier", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("speaker", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("start", T.StringType()),
        T.StructField("end", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def parse_asr(routed: DataFrame) -> DataFrame:
    from . import fused

    return fused.of_kind(fused.parse_all(routed, kinds=("asr",)), "asr")


def subtitle_triples(asr: DataFrame, ld_lineage: DataFrame) -> DataFrame:
    # the {iden -> URI} map: R-prefix stripped, extension stripped,
    # restricted to identifiers present in the LD lineage
    keys = (
        asr.select("identifier").distinct()
        .withColumn(
            "iden",
            F.split(
                F.when(
                    F.col("identifier").startswith("R"),
                    F.expr("substring(identifier, 2)"),
                ).otherwise(F.col("identifier")),
                "\\.",
            ).getItem(0),
        )
    )
    w = Window.partitionBy("identifier").orderBy("dataset", "file", "row")
    lineage_first = (
        ld_lineage.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("identifier").alias("lkey"), "uri")
    )
    mapping = keys.join(
        lineage_first, keys.iden == lineage_first.lkey, "inner"
    ).select(F.col("iden"), F.col("uri"))

    # probe key: filename minus last 4 chars — keeps any 'R' [Q]
    probe = asr.withColumn("probe_key", F.expr(
        "substring(identifier, 1, length(identifier) - 4)"
    ))
    matched = probe.join(mapping, probe.probe_key == mapping.iden, "inner")

    # per-program 1-based counter in segment order (A3)
    nw = Window.partitionBy("probe_key").orderBy("seq")
    numbered = matched.withColumn("n", F.row_number().over(nw)).withColumn(
        "textline_uri",
        F.concat(F.col("uri"), F.lit("/subtitles/asr_"), F.col("n")),
    )

    bundle = F.array(
        uref("textline_uri", RDF_TYPE, EB("TextLine")),
        triple("textline_uri", EB("textLineContent"), F.col("content"),
               lang="fr"),
        uref("textline_uri", EB("textLineLanguage"),
             BASE + "language/french"),
        triple("textline_uri", EB("textLineSource"),
               "ASR (Vocapia Research 5.1)"),
        triple("textline_uri", EB("textLineStartTime"), F.col("start"),
               dt=XSD("time")),
        triple("textline_uri", EB("textLineEndTime"), F.col("end"),
               dt=XSD("time")),
        triple("textline_uri", EB("hasTextLineRelatedPerson"),
               F.concat(F.col("speaker"), F.col("gender"))),
        uref("uri", EB("hasRelatedTextLine"), F.col("textline_uri")),
    )
    return explode_triples(numbered, bundle, graph="pa_subtitles")
