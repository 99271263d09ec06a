# -*- coding: utf-8 -*-
"""The canonical engine input: Common-Crawl-style ``web_pages`` rows.

Schema (per BASELINE input_hint):
    url: string            -- unique key; encodes doc_type + source id
    warc_ts: timestamp     -- capture time; partitioning column
    html: binary           -- raw source payload in a minimal HTML envelope
    text: string           -- reference-extracted text (byte-identical
                              per url is a pipeline invariant)
    lang: string           -- fr (INA), fi/se (Yle)

The envelope wraps one *source unit* per page: a single CSV data row
(with its header line for schema context, mirroring the reference's
whole-file pandas parse at ld_converter.py:68), one Yle MAObject XML
document (yle_converter.py:277), one ASR XML document
(pa_converter.py:601), or one flow-mapping JSON object
(ld_converter.py:580).
"""

from __future__ import annotations

import base64
import re
from typing import Tuple

from pyspark.sql import types as T

DOC_TYPES = (
    "ld_program",
    "ld_segment",
    "pa",
    "yle",
    "asr",
    "flow",
)

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_ENVELOPE = (
    '<html><head><meta charset="utf-8"/></head><body>'
    '<pre data-doc-type="{doc_type}" data-dataset="{dataset}"'
    ' data-file="{file}" data-row="{row}" data-enc="base64">{b64}</pre>'
    "</body></html>"
)

_PRE_RE = re.compile(
    rb'<pre data-doc-type="([^"]+)" data-dataset="([^"]*)"'
    rb' data-file="([^"]*)" data-row="(\d+)" data-enc="base64">'
    rb"([A-Za-z0-9+/=\s]*)</pre>"
)


def wrap_html(
    doc_type: str, dataset: str, file: str, row: int, payload: bytes
) -> bytes:
    """Wrap a raw source payload into the minimal HTML envelope."""
    if doc_type not in DOC_TYPES:
        raise ValueError("unknown doc_type " + doc_type)
    return _ENVELOPE.format(
        doc_type=doc_type,
        dataset=dataset,
        file=file,
        row=row,
        b64=base64.b64encode(payload).decode("ascii"),
    ).encode("utf-8")


def unwrap_html(html: bytes) -> Tuple[str, str, str, int, bytes]:
    """Inverse of :func:`wrap_html`; returns
    (doc_type, dataset, file, row, payload_bytes)."""
    m = _PRE_RE.search(html)
    if not m:
        raise ValueError("not a web_pages envelope")
    doc_type = m.group(1).decode("ascii")
    dataset = m.group(2).decode("utf-8")
    file = m.group(3).decode("utf-8")
    row = int(m.group(4))
    payload = base64.b64decode(m.group(5))
    return doc_type, dataset, file, row, payload


def page_url(doc_type: str, dataset: str, file: str, row: int) -> str:
    return "https://fixtures.memad.test/{}/{}/{}/{}".format(
        doc_type, dataset or "-", file or "-", row
    )


def read_web_pages(spark, path: str):
    """Scan a web_pages parquet/Iceberg location.

    Column pruning matters at 100 TB: callers that only need ``text``
    must select it *before* any action so the parquet reader never
    materializes ``html`` (verified in tests via the plan's ReadSchema).
    """
    return spark.read.schema(WEB_PAGES_SCHEMA).parquet(path)
