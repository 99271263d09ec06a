# -*- coding: utf-8 -*-
"""Yle MAObject pipeline (reference: yle_converter.py).

The fused Arrow parse (pipelines.fused) runs ``_derive_yle`` on each
XML document, which derives every URI/lexical (E8: repeated
MVAttribute groups come out as arrays of pre-derived structs with
their positional index — the reference's ``enumerate`` feeds
``/subtitling/{n}`` URIs and first-run logic, A5).
Emission is a single explode per document; the intra-document GUID
join (J5) happens inside the parser — no shuffle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config, mappings
from ..operators.emit import cached_exprs, explode_triples, triple, uref
from ..sources.units import parse_yle_unit
from ..terms import DCT_PUBLISHER, EB, MEMAD, RDF_TYPE, SKOS_NOTE, XSD
from ..textkit import (
    clean_string_yle,
    sha1_hex,
    yle_duration_tc,
    yle_format_date,
    yle_format_datetime,
    yle_ms_time,
)

BASE = config.BASE

_GENRE_STRUCT = T.StructType(
    [T.StructField("val", T.StringType()), T.StructField("is_uri", T.BooleanType())]
)
_SUB_STRUCT = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("lang_uri", T.StringType()),
        T.StructField("filename", T.StringType()),
        T.StructField("ingested_lex", T.StringType()),
        T.StructField("published_lex", T.StringType()),
    ]
)
_AUDIO_STRUCT = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("lang_uri", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("sample_rate", T.StringType()),
    ]
)
_PUB_STRUCT = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("channel_uri", T.StringType()),
        T.StructField("channel_name", T.StringType()),
        T.StructField("channel_code", T.StringType()),
        T.StructField("start_lex", T.StringType()),
        T.StructField("end_lex", T.StringType()),
        T.StructField("is_first", T.BooleanType()),
    ]
)
_CONT_STRUCT = T.StructType(
    [
        T.StructField("agent_uri", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("role_uri", T.StringType()),
    ]
)
_SEG_STRUCT = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("hashed", T.StringType()),
        T.StructField("start_lex", T.StringType()),
        T.StructField("end_lex", T.StringType()),
        T.StructField("dur_lex", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("content_id", T.StringType()),
    ]
)

YLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("guid", T.StringType()),
        T.StructField("series_name", T.StringType()),
        T.StructField("series_uri", T.StringType()),
        T.StructField("program_uri", T.StringType()),
        T.StructField("hashed_id", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("number", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("fi_title", T.StringType()),
        T.StructField("se_title", T.StringType()),
        T.StructField("main_title", T.StringType()),
        T.StructField("web_desc", T.StringType()),
        T.StructField("web_desc_sw", T.StringType()),
        T.StructField("languages_label", T.StringType()),
        T.StructField("language_uris", T.ArrayType(T.StringType())),
        T.StructField("duration_lex", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("working_title", T.StringType()),
        T.StructField("archive_date_lex", T.StringType()),
        T.StructField("genres", T.ArrayType(_GENRE_STRUCT)),
        T.StructField("media_uri", T.StringType()),
        T.StructField("metro_id", T.StringType()),
        T.StructField("aspect_ratio", T.StringType()),
        T.StructField("video_format_uri", T.StringType()),
        T.StructField("framerate", T.StringType()),
        T.StructField("history_uri", T.StringType()),
        T.StructField("firstrun_uri", T.StringType()),
        T.StructField("firstrun_lex", T.StringType()),
        T.StructField("subtitles", T.ArrayType(_SUB_STRUCT)),
        T.StructField("audios", T.ArrayType(_AUDIO_STRUCT)),
        T.StructField("pubevents", T.ArrayType(_PUB_STRUCT)),
        T.StructField("contributors", T.ArrayType(_CONT_STRUCT)),
        T.StructField("segments", T.ArrayType(_SEG_STRUCT)),
    ]
)


def _lang_uri(label: Optional[str]) -> Optional[str]:
    """encode_uri('language'): lower + space->underscore; '/' is kept
    (multi-language labels mint a slash-bearing URI) [Q]
    (yle_converter.py:193-195)."""
    if label is None:
        return None
    return BASE + "language/" + str(label).lower().replace(" ", "_")


def _genre_term(value: Optional[str]) -> dict:
    """encode_uri('genre'): known class -> URI, unknown -> fi-tagged
    Literal (yle_converter.py:200-209) [Q]."""
    genres = mappings.yle_class2label()
    if value is not None and value in genres:
        en = genres[value]
        return {
            "val": BASE + "genre/" + en.lower().replace(" ", "_").replace("/", "_"),
            "is_uri": True,
        }
    return {"val": value, "is_uri": False}


def _derive_yle(url, dataset, file, row_idx, payload: bytes) -> dict:
    d = parse_yle_unit(payload)
    guid = d["guid"]
    series_name = d["series_name"]

    parent = "orphan"
    series_uri = None
    if series_name:
        series_uri = BASE + "yle/" + clean_string_yle(series_name)
        parent = series_name
    hashed = sha1_hex(guid)
    program_uri = BASE + "yle/" + clean_string_yle(parent) + "/" + hashed

    ep_langs = mappings.yle_episode_lang()
    languages = (
        ep_langs[d["language"].lower()] if d["language"] else None
    )
    language_uris = (
        [_lang_uri(part) for part in languages.split("/")]
        if languages is not None
        else []
    )

    class_sub = d["class_sub"]
    class_sub = class_sub if "]" not in class_sub else class_sub.split("]")[1][1:]

    aspect = (
        mappings.yle_aspect_ratio()[d["media_aspect_ratio"]]
        if d["media_aspect_ratio"]
        else None
    )
    video_formats = {
        "0": config.EBU_VIDEO_CS + "_12",
        "1": config.EBU_VIDEO_CS + "_12",
        "2": config.EBU_VIDEO_CS + "_14",
        "3": config.EBU_VIDEO_CS + "_15",
    }
    video_format_uri = (
        video_formats[d["media_video_format"]]
        if d["media_video_format"]
        else None
    )

    sub_langs = mappings.yle_subtitles_lang()
    subtitles = []
    for i, s in enumerate(d["subtitles"]):
        lang_label = (
            sub_langs[s["language"].lower()] if s["language"] else None
        )
        subtitles.append(
            {
                "uri": program_uri + "/subtitling/" + str(i),
                "lang_uri": _lang_uri(lang_label),
                "filename": s["filename"],
                "ingested_lex": yle_format_date(s["date_ingested"])
                if s["date_ingested"] else None,
                "published_lex": yle_format_date(s["date_published"])
                if s["date_published"] else None,
            }
        )

    audio_langs = mappings.yle_audio_lang()
    audios = []
    for i, a in enumerate(d["audios"]):
        lang_label = (
            audio_langs[a["language"].lower()] if a["language"] else None
        )
        audios.append(
            {
                "uri": program_uri + "/audio/" + str(i),
                "lang_uri": _lang_uri(lang_label),
                "note": a["note"],
                "sample_rate": a["sample_rate"],
            }
        )

    has_firstrun = bool(d["firstrun_date"] and d["firstrun_time"])
    ch_codes = mappings.yle_channel2code()
    pubevents = []
    for i, p in enumerate(d["pubevents"]):
        code = ch_codes[p["channel"]]
        pubevents.append(
            {
                "uri": program_uri + "/publication/" + str(i),
                "channel_uri": BASE + "channel/" + code,
                "channel_name": p["channel"],
                "channel_code": code,
                "start_lex": yle_format_datetime(p["datetime"])
                if p["datetime"] else None,
                "end_lex": yle_format_datetime(p["datetime_end"])
                if p["datetime_end"] else None,
                "is_first": i == 0,
            }
        )

    roles_en = mappings.yle_id2role_en()
    contributors = []
    for c in d["contributors"]:
        if not c["name"]:
            continue
        role_uri = None
        if c["role"]:
            label = roles_en[c["role"].strip()]
            # encode_uri('role') does NOT replace '/' here — the vocab
            # block does; contributor role URIs diverge for slash
            # labels [Q] (yle_converter.py:196-198 vs :241)
            role_uri = BASE + "role/" + label.lower().replace(" ", "_")
        contributors.append(
            {
                "agent_uri": BASE + "agent/" + clean_string_yle(c["name"].strip()),
                "name": c["name"],
                "role_uri": role_uri,
            }
        )

    segments = []
    for s in d["segments"]:
        seg_hashed = sha1_hex(s["content_id"])
        segments.append(
            {
                "uri": BASE + "yle/" + clean_string_yle(parent) + "/" + seg_hashed,
                "hashed": seg_hashed,
                "start_lex": yle_ms_time(s["begin"]),
                "end_lex": yle_ms_time(s["end"]),
                "dur_lex": yle_ms_time(str(int(s["end"]) - int(s["begin"]))),
                "description": s["description"],
                "content_id": s["content_id"],
            }
        )

    return {
        "url": url, "dataset": dataset, "file": file, "row": row_idx,
        "guid": guid,
        "series_name": series_name,
        "series_uri": series_uri,
        "program_uri": program_uri,
        "hashed_id": hashed,
        "subject": d["subject"],
        "number": d["number"],
        "description": d["description"],
        "fi_title": d["fi_title"],
        "se_title": d["se_title"],
        "main_title": d["main_title"],
        "web_desc": d["web_desc"],
        "web_desc_sw": d["web_desc_sw"],
        "languages_label": languages,
        "language_uris": language_uris,
        "duration_lex": yle_duration_tc(d["duration_tc"])
        if d["duration_tc"] else None,
        "version": d["version"],
        "working_title": d["working_title"],
        "archive_date_lex": yle_format_date(d["archiving_date"])
        if d["archiving_date"] else None,
        "genres": [
            _genre_term(d["class_content"]),
            _genre_term(d["class_comb_a"]),
            _genre_term(d["class_main"]),
            _genre_term(class_sub),
        ],
        "media_uri": BASE + "media/" + hashed,
        "metro_id": d["metro_id"],
        "aspect_ratio": aspect,
        "video_format_uri": video_format_uri,
        "framerate": d["media_framerate"],
        "history_uri": program_uri + "/publication",
        "firstrun_uri": (program_uri + "/publication/firstrun")
        if has_firstrun else None,
        "firstrun_lex": yle_format_datetime(
            d["firstrun_date"] + d["firstrun_time"]
        )
        if has_firstrun else None,
        "subtitles": subtitles,
        "audios": audios,
        "pubevents": pubevents,
        "contributors": contributors,
        "segments": segments,
    }


def parse_yle(routed: DataFrame) -> DataFrame:
    from . import fused

    return fused.of_kind(fused.parse_all(routed, kinds=("yle",)), "yle")


def _yle_bundle():
    has_fr = F.col("firstrun_uri").isNotNull()
    static = F.array(
        # series (yle_converter.py:291-297)
        uref("series_uri", RDF_TYPE, EB("Series")),
        uref("series_uri", RDF_TYPE, EB("Collection")),
        triple("series_uri", EB("title"), F.col("series_name")),
        uref("series_uri", EB("isParentOf"), F.col("program_uri")),
        uref(F.when(F.col("series_uri").isNotNull(), F.col("program_uri")),
             RDF_TYPE, EB("Episode")),
        # program metadata (:340-362)
        uref("program_uri", RDF_TYPE, EB("TVProgramme")),
        triple("program_uri", DCT_PUBLISHER, "Yle"),
        triple("program_uri", EB("hasIdentifier"), F.col("hashed_id")),
        triple("program_uri", EB("hasSubject"), F.col("subject")),
        triple("program_uri", EB("episodeNumber"), F.col("number")),
        triple("program_uri", EB("description"), F.col("description"),
               lang="fi"),
        triple("program_uri", EB("title"), F.col("fi_title"), lang="fi"),
        triple("program_uri", EB("title"), F.col("se_title"), lang="se"),
        triple("program_uri", EB("mainTitle"), F.col("main_title")),
        triple("program_uri", EB("hasLanguage"), F.col("languages_label"),
               lang="fi"),
        triple("program_uri", EB("duration"), F.col("duration_lex"),
               dt=XSD("duration")),
        triple("program_uri", EB("version"), F.col("version")),
        triple("program_uri", EB("workingTitle"), F.col("working_title")),
        triple("program_uri", EB("dateArchived"), F.col("archive_date_lex"),
               dt=XSD("date")),
        triple("program_uri", EB("description"), F.col("web_desc"), lang="fi"),
        triple("program_uri", EB("description"), F.col("web_desc_sw"),
               lang="se"),
        # media (:376-387)
        uref("media_uri", RDF_TYPE, EB("MediaResource")),
        uref("program_uri", EB("isInstantiatedBy"), F.col("media_uri")),
        triple("media_uri", MEMAD("hasMetroIdentifier"), F.col("metro_id")),
        triple("media_uri", EB("aspectRatio"), F.col("aspect_ratio")),
        uref("media_uri", EB("hasVideoEncodingFormat"),
             F.col("video_format_uri")),
        triple("media_uri", EB("frameRate"), F.col("framerate"),
               dt=XSD("float")),
        # publication history + firstrun (:435-449)
        uref("history_uri", RDF_TYPE, EB("PublicationHistory")),
        uref("program_uri", EB("hasPublicationHistory"), F.col("history_uri")),
        uref("history_uri", EB("hasPublicationEvent"), F.col("firstrun_uri")),
        uref("firstrun_uri", RDF_TYPE, MEMAD("FirstRun")),
        triple("firstrun_uri", EB("publicationStartDateTime"),
               F.col("firstrun_lex"), dt=XSD("dateTime")),
        uref("firstrun_uri", EB("publishes"), F.col("program_uri")),
    )
    langs = F.transform(
        "language_uris",
        lambda u: uref("program_uri", EB("hasLanguage"), u),
    )
    genres = F.transform(
        "genres",
        lambda g: triple("program_uri", EB("hasGenre"), g["val"],
                         uri=g["is_uri"],
                         lang=F.when(~g["is_uri"], F.lit("fi"))),
    )
    subtitles = F.flatten(
        F.transform(
            "subtitles",
            lambda s: F.array(
                uref(s["uri"], RDF_TYPE, EB("Subtitling")),
                uref("program_uri", EB("hasSubtitling"), s["uri"]),
                uref(s["uri"], EB("hasLanguage"), s["lang_uri"]),
                triple(s["uri"], EB("filename"), s["filename"]),
                triple(s["uri"], EB("dateIngested"), s["ingested_lex"],
                       dt=XSD("date")),
                triple(s["uri"], EB("datePublished"), s["published_lex"],
                       dt=XSD("date")),
            ),
        )
    )
    audios = F.flatten(
        F.transform(
            "audios",
            lambda a: F.array(
                uref(a["uri"], RDF_TYPE, EB("AudioTrack")),
                uref("program_uri", EB("hasAudioTrack"), a["uri"]),
                uref(a["uri"], EB("hasLanguage"), a["lang_uri"]),
                triple(a["uri"], SKOS_NOTE, a["note"]),
                triple(a["uri"], EB("sampleRate"), a["sample_rate"],
                       dt=XSD("nonNegativeInteger")),
            ),
        )
    )
    pubs = F.flatten(
        F.transform(
            "pubevents",
            lambda p: F.array(
                uref(p["channel_uri"], RDF_TYPE, EB("PublicationChannel")),
                triple(p["channel_uri"], EB("publicationChannelName"),
                       p["channel_name"]),
                triple(p["channel_uri"], EB("publicationChannelId"),
                       p["channel_code"]),
                triple(p["channel_uri"], EB("serviceDescription"),
                       "TV channel"),
                uref(p["uri"], RDF_TYPE, EB("PublicationEvent")),
                uref("history_uri", EB("hasPublicationEvent"), p["uri"]),
                uref(p["uri"], EB("publishes"), F.col("program_uri")),
                uref(p["uri"], EB("isReleasedBy"), p["channel_uri"]),
                triple(p["uri"], EB("publicationStartDateTime"),
                       p["start_lex"], dt=XSD("dateTime")),
                triple(p["uri"], EB("publicationEndDateTime"),
                       p["end_lex"], dt=XSD("dateTime")),
                # i==0 and no explicit firstrun -> FirstRun (A5) [Q]
                uref(
                    F.when(p["is_first"] & ~has_fr, p["uri"]),
                    RDF_TYPE, MEMAD("FirstRun"),
                ),
                triple(
                    F.when(p["is_first"], p["uri"]),
                    EB("firstShowing"), "1", dt=XSD("boolean"),
                ),
            ),
        )
    )
    segments = F.flatten(
        F.transform(
            "segments",
            lambda s: F.array(
                uref(s["uri"], RDF_TYPE, EB("Part")),
                triple(s["uri"], EB("hasIdentifier"), s["hashed"]),
                uref("program_uri", EB("hasPart"), s["uri"]),
                triple(s["uri"], EB("start"), s["start_lex"], dt=XSD("time")),
                triple(s["uri"], EB("end"), s["end_lex"], dt=XSD("time")),
                triple(s["uri"], EB("duration"), s["dur_lex"], dt=XSD("time")),
                triple(s["uri"], EB("description"), s["description"],
                       lang="fi"),
            ),
        )
    )
    contributors = F.flatten(
        F.transform(
            "contributors",
            lambda c: F.array(
                uref(c["agent_uri"], RDF_TYPE, EB("Agent")),
                uref("program_uri", EB("hasContributor"), c["agent_uri"]),
                triple(c["agent_uri"], EB("agentName"), c["name"]),
                uref(c["agent_uri"], EB("hasRole"), c["role_uri"]),
            ),
        )
    )
    return (static, langs, genres, subtitles, audios, pubs, segments,
            contributors)


def yle_triples(docs: DataFrame) -> DataFrame:
    """All triples of one dataset pass (yle_converter.py:277-543)."""
    return explode_triples(
        docs, *cached_exprs("yle_triples", _yle_bundle), graph="yle"
    )


def yle_lineage(docs: DataFrame) -> DataFrame:
    """yle_mapping.csv analog: filename -> program URI."""
    return docs.select(
        F.col("file").alias("identifier"),
        F.col("program_uri").alias("uri"),
        "dataset", "row",
    )
