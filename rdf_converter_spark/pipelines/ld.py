# -*- coding: utf-8 -*-
"""INA Legal Deposit pipeline (reference: ld_converter.py).

Stage layout:
  parse+derive  — the per-row derive kernels of ld_program /
                  ld_segment payloads, run inside the fused Arrow parse
                  (pipelines.fused); all byte-exact scalar work (slugs,
                  sha1 URIs, datetime/duration quirks) happens there via
                  the textkit kernels.
  emit          — pure Spark: one array-of-triple-structs per row
                  (static bundle + F.transform over multi-valued
                  arrays), one explode, empty-object gate.
  segments join — J2: segment.parent_id == program.id equi-join with
                  first-match semantics (row_number over source order,
                  ld_converter.py:551-557), then the relative
                  start/end time math (F10/F11) in a small Arrow UDF.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config, mappings
from ..operators.emit import cached_exprs, explode_triples, triple, uref
from ..terms import DCT_PUBLISHER, EB, MEMAD, RDF_TYPE, RDFS_LABEL, XSD
from ..textkit import (
    RADIO_CHANNELS,
    clean_string_ld,
    ld_end_datetime,
    ld_format_datetime,
    ld_format_duration,
    ld_scrub,
    ld_time_after,
    ld_time_between,
    parse_ld_credits,
    sha1_hex,
)

BASE = config.BASE

_KW_STRUCT = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("label", T.StringType()),
    ]
)
_CREDIT_STRUCT = T.StructType(
    [
        T.StructField("agent_uri", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("role_uri", T.StringType()),
    ]
)

_COMMON_FIELDS = [
    T.StructField("url", T.StringType()),
    T.StructField("dataset", T.StringType()),
    T.StructField("file", T.StringType()),
    T.StructField("row", T.IntegerType()),
]

LD_PROGRAM_SCHEMA = T.StructType(
    _COMMON_FIELDS
    + [
        T.StructField("program_id", T.StringType()),
        T.StructField("channel_name", T.StringType()),
        T.StructField("channel_code", T.StringType()),
        T.StructField("channel_uri", T.StringType()),
        T.StructField("service_desc", T.StringType()),
        T.StructField("timeslot_name", T.StringType()),
        T.StructField("timeslot_uri", T.StringType()),
        T.StructField("collection_name", T.StringType()),
        T.StructField("collection_uri", T.StringType()),
        T.StructField("program_uri", T.StringType()),
        T.StructField("program_type_uri", T.StringType()),
        T.StructField("hashed_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("lead", T.StringType()),
        T.StructField("producer_summary", T.StringType()),
        T.StructField("duration_lex", T.StringType()),
        T.StructField("media_uri", T.StringType()),
        T.StructField("start_raw", T.StringType()),
        T.StructField("start_lex", T.StringType()),
        T.StructField("end_lex", T.StringType()),
        T.StructField("history_uri", T.StringType()),
        T.StructField("pubevent_uri", T.StringType()),
        T.StructField("genre_uris", T.ArrayType(T.StringType())),
        T.StructField("theme_uris", T.ArrayType(T.StringType())),
        T.StructField("keywords", T.ArrayType(_KW_STRUCT)),
        T.StructField("producers", T.ArrayType(T.StringType())),
        T.StructField("credits", T.ArrayType(_CREDIT_STRUCT)),
    ]
)

LD_SEGMENT_SCHEMA = T.StructType(
    _COMMON_FIELDS
    + [
        T.StructField("segment_id", T.StringType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("channel_name", T.StringType()),
        T.StructField("channel_code", T.StringType()),
        T.StructField("channel_uri", T.StringType()),
        T.StructField("service_desc", T.StringType()),
        T.StructField("timeslot_name", T.StringType()),
        T.StructField("timeslot_uri", T.StringType()),
        T.StructField("collection_name", T.StringType()),
        T.StructField("collection_uri", T.StringType()),
        T.StructField("program_uri", T.StringType()),
        T.StructField("segment_uri", T.StringType()),
        T.StructField("hashed_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("lead", T.StringType()),
        T.StructField("duration_lex", T.StringType()),
        T.StructField("duration_seconds", T.LongType()),
        T.StructField("start_lex", T.StringType()),
        T.StructField("keywords", T.ArrayType(_KW_STRUCT)),
        T.StructField("credits", T.ArrayType(_CREDIT_STRUCT)),
    ]
)


def _channel_fields(channel_name: str, upper_check: bool) -> dict:
    """Channel dimension lookup (J1). ``upper_check=False`` reproduces
    the segment pass's lowercase-code membership test
    (ld_converter.py:459) which never matches — segments are always
    labelled 'TV channel' [Q]."""
    code = mappings.ina_channel2code()[channel_name].lower()
    radio = (code.upper() if upper_check else code) in RADIO_CHANNELS
    return {
        "channel_name": channel_name,
        "channel_code": code,
        "channel_uri": BASE + "channel/" + code,
        "service_desc": ("Radio" if radio else "TV") + " channel",
    }


def _parent_fields(code: str, timeslot: str, collection: str) -> dict:
    out = {
        "timeslot_name": timeslot,
        "timeslot_uri": (BASE + code + "/" + clean_string_ld(timeslot))
        if timeslot
        else None,
        "collection_name": collection,
        "collection_uri": (BASE + code + "/" + clean_string_ld(collection))
        if collection
        else None,
    }
    parent = "orphan"
    if collection or timeslot:
        parent = collection if collection else timeslot
    out["parent"] = parent
    return out


def _keyword_structs(field: str, clean) -> list:
    """Keyword URIs (encode_uri 'keyword', ld_converter.py:218-221):
    slug of lowercased/underscored label; the post-slug ``split('(')``
    is a no-op because '(' is already dashed, kept for fidelity. The
    label literal is the *unstripped* split part [Q]."""
    out = []
    for kw in field.strip().split("|"):
        if kw.strip():
            slug = clean(kw.strip().lower().replace(" ", "_")).split("(")[0]
            out.append({"uri": BASE + "keyword/" + slug, "label": kw})
    return out


def _credit_structs(field: str) -> list:
    roles = mappings.ina_code2role()
    out = []
    for name, role in parse_ld_credits(field):
        rec = {
            "agent_uri": BASE + "agent/" + clean_string_ld(name),
            "name": name,
            "role_uri": None,
        }
        if role:
            t_role = roles[role].lower()
            rec["role_uri"] = BASE + "role/" + t_role.replace(" ", "_")
        out.append(rec)
    return out


def _derive_ld_program(url, dataset, file, row_idx, row: pd.Series) -> dict:
    # the reference scrubs every string cell of the concatenated
    # program table (ld_converter.py:77) [Q]; dict-style comprehension
    # works for both dict and Series rows
    row = {k: ld_scrub(v) if isinstance(v, str) else v
           for k, v in row.items()}

    out = {"url": url, "dataset": dataset, "file": file, "row": row_idx}
    out.update(_channel_fields(row["Chaine"], upper_check=True))
    code = out["channel_code"]
    out.update(_parent_fields(code, row["TitreTrancheHoraire"],
                              row["TitreCollection"]))
    parent = out.pop("parent")

    pid = row["Identifiant"]
    hashed = sha1_hex(pid)
    program_uri = BASE + code + "/" + clean_string_ld(parent) + "/" + hashed
    radio = out["service_desc"] == "Radio channel"
    out.update(
        program_id=pid,
        program_uri=program_uri,
        program_type_uri=EB("RadioProgramme" if radio else "TVProgramme"),
        hashed_id=hashed,
        title=row["TitreEmission"].strip(),
        summary=row["Resume"].strip().replace("\r", ""),
        lead=row["Chapeau"].strip().replace("\r", ""),
        producer_summary=row["ResumeProducteur"].strip().replace("\r", ""),
        duration_lex=ld_format_duration(row["DureeSecondes"]),
        media_uri=BASE + "media/" + hashed,
        start_raw=str(row["startDate"]),
        start_lex=ld_format_datetime(row["startDate"]),
        end_lex=ld_format_datetime(row["endDate"]),
        history_uri=program_uri + "/publication",
        pubevent_uri=program_uri + "/publication/0",
    )

    genres = mappings.ina_genres()
    themes = mappings.ina_themes()
    out["genre_uris"] = [
        BASE + "genre/" + genres[g.strip()].lower().replace(" ", "_")
        for g in row["Genres"].strip().split("|")
        if g.strip()
    ]
    out["theme_uris"] = [
        BASE + "theme/" + themes[t.strip()].lower().replace(" ", "_")
        for t in row["Thematique"].strip().split("|")
        if t.strip()
    ]
    out["keywords"] = _keyword_structs(row["Descripteurs"], clean_string_ld)
    out["producers"] = [
        p for p in row["Producteurs"].strip().split("|") if p.strip()
    ]
    out["credits"] = _credit_structs(row["Generiques"])
    return out


def _derive_ld_segment(url, dataset, file, row_idx, row: pd.Series) -> dict:
    # segment tables are NOT scrubbed
    out = {"url": url, "dataset": dataset, "file": file, "row": row_idx}
    out.update(_channel_fields(row["Chaine"], upper_check=False))
    code = out["channel_code"]
    out.update(_parent_fields(code, row["TitreTrancheHoraire"],
                              row["TitreCollection"]))
    parent = out.pop("parent")

    sid = row["Identifiant"]
    prefix = BASE + code + "/" + clean_string_ld(parent) + "/"
    out.update(
        segment_id=sid,
        parent_id=sid[:-4],
        program_uri=prefix + sha1_hex(sid[:-4]),
        segment_uri=prefix + sha1_hex(sid),
        hashed_id=sha1_hex(sid),
        title=row["TitreEmission"].strip(),
        lead=row["Chapeau"].strip().replace("\r", ""),
        duration_lex=ld_format_duration(row["DureeSecondes"]),
        duration_seconds=int(row["DureeSecondes"]),
        start_lex=ld_format_datetime(row["startDate"]),
    )
    out["keywords"] = _keyword_structs(row["Descripteurs"], clean_string_ld)
    out["credits"] = _credit_structs(row["Generique"])
    return out


def parse_ld_programs(routed: DataFrame) -> DataFrame:
    from . import fused

    return fused.of_kind(fused.parse_all(routed, kinds=("ld_program",)),
                         "ld_program")


def parse_ld_segments(routed: DataFrame) -> DataFrame:
    from . import fused

    return fused.of_kind(fused.parse_all(routed, kinds=("ld_segment",)),
                         "ld_segment")


# --------------------------------------------------------------------------
# Emission
# --------------------------------------------------------------------------

def _channel_bundle():
    return F.array(
        uref("channel_uri", RDF_TYPE, EB("PublicationChannel")),
        triple("channel_uri", EB("publicationChannelId"),
               F.upper(F.col("channel_code"))),
        triple("channel_uri", EB("publicationChannelName"),
               F.col("channel_name")),
        triple("channel_uri", EB("serviceDescription"), F.col("service_desc")),
    )


def _parent_bundle():
    return F.array(
        uref("timeslot_uri", RDF_TYPE, MEMAD("Timeslot")),
        triple("timeslot_uri", EB("title"), F.col("timeslot_name")),
        uref("collection_uri", RDF_TYPE, EB("Collection")),
        triple("collection_uri", EB("title"), F.col("collection_name")),
    )


def _kw_bundle(subject_col: str):
    return F.flatten(
        F.transform(
            "keywords",
            lambda k: F.array(
                uref(k["uri"], RDF_TYPE, EB("Keyword")),
                triple(k["uri"], RDFS_LABEL, k["label"], lang="fr"),
                uref(subject_col, EB("hasKeyword"), k["uri"]),
            ),
        )
    )


def _credit_bundle(subject_col: str, agent_name_first: bool):
    """agent_name_first toggles nothing semantically (set graph) but is
    kept for symmetry with the two reference passes."""
    return F.flatten(
        F.transform(
            "credits",
            lambda c: F.array(
                uref(c["agent_uri"], RDF_TYPE, EB("Agent")),
                uref(subject_col, EB("hasContributor"), c["agent_uri"]),
                triple(c["agent_uri"], EB("agentName"), c["name"]),
                uref(c["agent_uri"], EB("hasRole"), c["role_uri"]),
            ),
        )
    )


def _ld_program_bundle():
    static = F.array(
        uref("collection_uri", EB("isParentOf"), F.col("program_uri")),
        uref("timeslot_uri", EB("isParentOf"), F.col("program_uri")),
        triple("program_uri", DCT_PUBLISHER, "INA-LD"),
        uref("program_uri", RDF_TYPE, F.col("program_type_uri")),
        triple("program_uri", EB("hasIdentifier"), F.col("hashed_id")),
        triple("program_uri", EB("title"), F.col("title"), lang="fr"),
        triple("program_uri", EB("summary"), F.col("summary"), lang="fr"),
        triple("program_uri", MEMAD("producerSummary"),
               F.col("producer_summary"), lang="fr"),
        triple("program_uri", MEMAD("lead"), F.col("lead"), lang="fr"),
        triple("program_uri", EB("duration"), F.col("duration_lex"),
               dt=XSD("duration")),
        uref("program_uri", EB("hasLanguage"), BASE + "language/french"),
        uref("media_uri", RDF_TYPE, EB("MediaResource")),
        uref("program_uri", EB("isInstantiatedBy"), F.col("media_uri")),
        uref("history_uri", RDF_TYPE, EB("PublicationHistory")),
        uref("program_uri", EB("hasPublicationHistory"), F.col("history_uri")),
        uref("history_uri", EB("hasPublicationEvent"), F.col("pubevent_uri")),
        uref("pubevent_uri", RDF_TYPE, EB("PublicationEvent")),
        uref("pubevent_uri", RDF_TYPE, MEMAD("FirstRun")),
        uref("pubevent_uri", EB("publishes"), F.col("program_uri")),
        uref("pubevent_uri", EB("isReleasedBy"), F.col("channel_uri")),
        triple("pubevent_uri", EB("publicationStartDateTime"),
               F.col("start_lex"), dt=XSD("dateTime")),
        triple("pubevent_uri", EB("publicationEndDateTime"),
               F.col("end_lex"), dt=XSD("dateTime")),
        triple("pubevent_uri", EB("firstShowing"), "1", dt=XSD("boolean")),
    )
    genres = F.transform("genre_uris",
                         lambda g: uref("program_uri", EB("hasGenre"), g))
    themes = F.transform("theme_uris",
                         lambda t_: uref("program_uri", EB("hasTheme"), t_))
    producers = F.transform(
        "producers", lambda p: triple("program_uri", EB("hasProducer"), p)
    )
    return (
        _channel_bundle(),
        _parent_bundle(),
        static,
        genres,
        themes,
        _kw_bundle("program_uri"),
        producers,
        _credit_bundle("program_uri", True),
    )


def ld_program_triples(programs: DataFrame) -> DataFrame:
    """Triples of the LD program pass (ld_converter.py:278-431)."""
    return explode_triples(
        programs,
        *cached_exprs("ld_program_triples", _ld_program_bundle),
        graph="ld",
    )


_SEG_TIME_SCHEMA = T.StructType(
    [
        T.StructField("t_start", T.StringType()),
        T.StructField("t_end", T.StringType()),
    ]
)


@F.pandas_udf(_SEG_TIME_SCHEMA)
def _segment_times(
    parent_start_raw: pd.Series, start_lex: pd.Series, duration_lex: pd.Series
) -> pd.DataFrame:
    """Relative segment start/end (ld_converter.py:551-557): start =
    time_between(parent startDate, segment start lexical with 'T'->' ');
    end = time_after(start, str(duration))."""
    starts, ends = [], []
    for praw, slex, dlex in zip(parent_start_raw, start_lex, duration_lex):
        if praw is None:
            starts.append(None)
            ends.append(None)
            continue
        start = ld_time_between(praw, str(slex).replace("T", " "))
        starts.append(start)
        ends.append(ld_time_after(start, str(dlex)))
    return pd.DataFrame({"t_start": starts, "t_end": ends})


def ld_segments_with_times(
    segments: DataFrame, programs: DataFrame
) -> DataFrame:
    """J2 + F10/F11: left join to the parent program's raw startDate
    with first-match semantics in source order (A4)."""
    w = Window.partitionBy("program_id").orderBy("dataset", "file", "row")
    parents = (
        programs.select("program_id", "start_raw", "dataset", "file", "row")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("program_id").alias("parent_key"),
            F.col("start_raw").alias("parent_start_raw"),
        )
    )
    # no broadcast hint: AQE broadcasts when the (deduplicated) parent
    # side is small and falls back to sort-merge at corpus scale
    joined = segments.join(
        parents, segments.parent_id == parents.parent_key, "left"
    ).drop("parent_key")
    return (
        joined.withColumn(
            "_times",
            _segment_times(
                F.col("parent_start_raw"), F.col("start_lex"),
                F.col("duration_lex"),
            ),
        )
        .withColumn("t_start", F.col("_times.t_start"))
        .withColumn("t_end", F.col("_times.t_end"))
        .drop("_times")
    )


def _ld_segment_bundle():
    static = F.array(
        uref("segment_uri", RDF_TYPE, EB("Part")),
        triple("segment_uri", EB("hasIdentifier"), F.col("hashed_id")),
        uref("program_uri", EB("hasPart"), F.col("segment_uri")),
        triple("segment_uri", EB("title"), F.col("title"), lang="fr"),
        triple("segment_uri", MEMAD("lead"), F.col("lead"), lang="fr"),
        triple("segment_uri", EB("duration"), F.col("duration_lex"),
               dt=XSD("duration")),
        triple("segment_uri", EB("start"), F.col("t_start"), dt=XSD("time")),
        triple("segment_uri", EB("end"), F.col("t_end"), dt=XSD("time")),
    )
    return (
        _channel_bundle(),
        _parent_bundle(),
        static,
        _kw_bundle("segment_uri"),
        _credit_bundle("segment_uri", False),
    )


def ld_segment_triples(segments_with_times: DataFrame) -> DataFrame:
    """Triples of the LD segment pass (ld_converter.py:443-560); NO
    vocabulary and no isParentOf in this graph."""
    return explode_triples(
        segments_with_times,
        *cached_exprs("ld_segment_triples", _ld_segment_bundle),
        graph="ld_sujets",
    )


def ld_lineage(programs: DataFrame) -> DataFrame:
    """The ina_ld_mapping.csv analog (S7): identifier -> URI (+channel,
    start, end) — the join input for flow (J3) and subtitles (J4)."""
    return programs.select(
        F.col("program_id").alias("identifier"),
        F.col("program_uri").alias("uri"),
        F.col("channel_code").alias("channel"),
        F.coalesce(F.col("start_lex"), F.lit("None")).alias("start"),
        F.coalesce(F.col("end_lex"), F.lit("None")).alias("end"),
        "dataset", "file", "row",
    )
