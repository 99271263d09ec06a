# -*- coding: utf-8 -*-
"""Routing stage: web_pages -> doc-kind-tagged payload rows, all JVM-side.

At 10^12 documents one full scan of the corpus is the budget for
routing, so doc-kind dispatch (the reference's column-presence /
id-shape checks, ld_converter.py:69-72, pa_converter.py:348) is a pure
Spark expression: envelope attributes are pulled with
``regexp_extract`` and the payload with ``unbase64`` — no Python.
The fused parse (pipelines.fused) reads it straight from the scan; it
is not materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def route(web: DataFrame) -> DataFrame:
    s = F.col("html").cast("string")
    return web.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        F.regexp_extract(s, r'data-doc-type="([^"]+)"', 1).alias("doc_type"),
        F.regexp_extract(s, r'data-dataset="([^"]*)"', 1).alias("dataset"),
        F.regexp_extract(s, r'data-file="([^"]*)"', 1).alias("file"),
        F.regexp_extract(s, r'data-row="(\d+)"', 1).cast("int").alias("row"),
        F.unbase64(
            F.regexp_replace(
                F.regexp_extract(
                    s, r'data-enc="base64">([A-Za-z0-9+/=\s]*)</pre>', 1
                ),
                r"\s",
                "",
            )
        ).alias("payload"),
    )
