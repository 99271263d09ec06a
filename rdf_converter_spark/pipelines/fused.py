# -*- coding: utf-8 -*-
"""Fused single-pass parse: every document kind in ONE mapInPandas
crossing — the package's only parse path.

A parse per kind would scan the routed table once per kind and pay one
Python/Arrow round trip per partition each time; with K kinds the
corpus would cross the JVM<->Python boundary K times. At 10^12
documents the parse is the pipeline's dominant cost, so every build
(the staged ``parsed_docs`` stage, the single-plan builds) parses each
partition EXACTLY ONCE: one Arrow batch in, rows grouped by
``doc_type`` and dispatched to the per-kind derive kernels, one
union-schema batch out. Downstream
consumers filter the fused frame by kind — pure JVM scans of the
(checkpointed) parsed columns, which are far narrower than the raw
payloads. The per-kind helpers (``ld.parse_ld_programs``,
``pa.parse_pa``, ...) are this parse restricted to one kind.

Schemas have no cross-kind name/type conflicts (asserted at import
time); absent columns are null for rows of other kinds.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.units import parse_asr_unit, parse_csv_units_batched
from . import ld as ldp
from . import pa as pap
from . import subtitles as subp
from . import yle as ylep

_SCHEMAS = {
    "ld_program": ldp.LD_PROGRAM_SCHEMA,
    "ld_segment": ldp.LD_SEGMENT_SCHEMA,
    "pa": pap.PA_SCHEMA,
    "yle": ylep.YLE_SCHEMA,
    "asr": subp.ASR_SCHEMA,
}


def _fused_schema(kinds: Sequence[str]) -> T.StructType:
    fields = [T.StructField("doc_type", T.StringType(), False)]
    seen = {"doc_type"}
    for kind in kinds:
        for f in _SCHEMAS[kind].fields:
            if f.name in seen:
                continue
            seen.add(f.name)
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


# import-time guard: a same-name field with a different type across two
# kind schemas would silently corrupt the fused frame. An explicit
# raise (not assert): the guard must survive `python -O` (ADVICE r2).
_types = {}
for _k, _s in _SCHEMAS.items():
    for _f in _s.fields:
        _t = _f.dataType.simpleString()
        if _types.setdefault(_f.name, _t) != _t:
            raise TypeError(
                "fused schema conflict on %s: %s in %s vs %s"
                % (_f.name, _t, _k, _types[_f.name])
            )


def _csv_recs(derive, pdf: pd.DataFrame):
    rows = parse_csv_units_batched([bytes(p) for p in pdf["payload"]])
    return [
        derive(u, d, f, r, row)
        for u, d, f, r, row in zip(
            pdf["url"], pdf["dataset"], pdf["file"], pdf["row"], rows
        )
    ]


def _yle_recs(pdf: pd.DataFrame):
    return [
        ylep._derive_yle(u, d, f, r, bytes(p))
        for u, d, f, r, p in zip(
            pdf["url"], pdf["dataset"], pdf["file"], pdf["row"],
            pdf["payload"],
        )
    ]


def _asr_recs(pdf: pd.DataFrame):
    recs = []
    for url, fname, payload in zip(pdf["url"], pdf["file"], pdf["payload"]):
        for seq, r in enumerate(parse_asr_unit(bytes(payload), fname)):
            recs.append({"url": url, "file": fname, "seq": seq, **r})
    return recs


_KERNELS = {
    "ld_program": lambda pdf: _csv_recs(ldp._derive_ld_program, pdf),
    "ld_segment": lambda pdf: _csv_recs(ldp._derive_ld_segment, pdf),
    "pa": lambda pdf: _csv_recs(pap._derive_pa, pdf),
    "yle": _yle_recs,
    "asr": _asr_recs,
}


def parse_all(
    routed: DataFrame,
    kinds: Sequence[str] = ("ld_program", "ld_segment", "pa", "yle", "asr"),
) -> DataFrame:
    """routed rows of the given kinds -> one fused parsed frame."""
    kinds = tuple(kinds)
    schema = _fused_schema(kinds)
    cols = [f.name for f in schema.fields]
    src = routed.filter(F.col("doc_type").isin(*kinds)).select(
        "doc_type", "url", "dataset", "file", "row", "payload"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for kind, grp in pdf.groupby("doc_type", sort=True):
                sub = pd.DataFrame(_KERNELS[kind](grp))
                if sub.empty:
                    continue
                sub["doc_type"] = kind
                # absent cross-kind columns must be None (not NaN:
                # Arrow rejects NaN for non-float target types)
                for c in cols:
                    if c not in sub.columns:
                        sub[c] = None
                frames.append(sub[cols])
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame({c: [] for c in cols})

    return src.mapInPandas(run, schema)


def of_kind(fused: DataFrame, kind: str) -> DataFrame:
    """Project one kind's rows back to its per-kind schema."""
    cols = [f.name for f in _SCHEMAS[kind].fields]
    return fused.filter(F.col("doc_type") == kind).select(cols)
