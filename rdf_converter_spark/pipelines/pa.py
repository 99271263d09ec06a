# -*- coding: utf-8 -*-
"""INA Professional Archive pipeline (reference: pa_converter.py).

Stage layout:
  parse+derive — the per-row derive kernel, run inside the fused Arrow
                 parse (pipelines.fused): all URI minting and scalar
                 formatting; the only cross-row state,
                 ``Heure de diffusion 2`` (extract_time's stale
                 broadcast_time carry, pa_converter.py:66-79), is left
                 to a native window over the global source order.
  heure window — candidate marker values + ``last(..., ignorenulls)``
                 over (dataset, file, row): exactly the reference's
                 stale-variable semantics [Q].
  emit         — single explode of per-row triple bundles.
  segments     — J2 self-join on parent id (first match in source
                 order), relative times in an Arrow UDF with the
                 reference's silent-exception behaviour
                 (pa_converter.py:522-523).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config, mappings
from ..operators.emit import cached_exprs, explode_triples, triple, uref
from ..terms import DCT_PUBLISHER, EB, MEMAD, RDF_TYPE, RDFS_LABEL, SKOS_NOTE, XSD
from ..textkit import (
    clean_string_pa,
    pa_format_date,
    pa_format_datetime,
    pa_format_duration,
    pa_time_after,
    pa_time_between,
    parse_pa_credit,
    sha1_hex,
)

BASE = config.BASE

_KW_STRUCT = T.StructType(
    [T.StructField("uri", T.StringType()), T.StructField("label", T.StringType())]
)
_CREDIT_STRUCT = T.StructType(
    [
        T.StructField("agent_uri", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("role_uri", T.StringType()),
    ]
)

PA_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("notice_id", T.StringType()),
        T.StructField("is_segment", T.BooleanType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("has_media", T.BooleanType()),
        T.StructField("channel_name", T.StringType()),
        T.StructField("channel_code", T.StringType()),
        T.StructField("channel_uri", T.StringType()),
        T.StructField("service_desc", T.StringType()),
        T.StructField("timeslot_name", T.StringType()),
        T.StructField("timeslot_uri", T.StringType()),
        T.StructField("collection_name", T.StringType()),
        T.StructField("collection_uri", T.StringType()),
        T.StructField("program_uri", T.StringType()),
        T.StructField("source_program_uri", T.StringType()),
        T.StructField("program_type_uri", T.StringType()),
        T.StructField("hashed_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("notes", T.StringType()),
        T.StructField("legal_notes", T.StringType()),
        T.StructField("title_notes", T.StringType()),
        T.StructField("corpus", T.StringType()),
        T.StructField("sequences", T.StringType()),
        T.StructField("broadcasting", T.StringType()),
        T.StructField("duration_raw", T.StringType()),
        T.StructField("duration_lex", T.StringType()),
        T.StructField("lead", T.StringType()),
        T.StructField("recording_date_lex", T.StringType()),
        T.StructField("producer_summary", T.StringType()),
        T.StructField("isan", T.StringType()),
        T.StructField("record_uri", T.StringType()),
        T.StructField("creation_date_lex", T.StringType()),
        T.StructField("update_date_lex", T.StringType()),
        T.StructField("record_type", T.StringType()),
        T.StructField("media_uri", T.StringType()),
        T.StructField("media_note_id", T.StringType()),
        T.StructField("media_note_detail", T.StringType()),
        T.StructField("producers", T.ArrayType(T.StringType())),
        T.StructField("credits", T.ArrayType(_CREDIT_STRUCT)),
        T.StructField("keywords", T.ArrayType(_KW_STRUCT)),
        T.StructField("genre_uris", T.ArrayType(T.StringType())),
        T.StructField("theme_uris", T.ArrayType(T.StringType())),
        T.StructField("broadcast_date", T.StringType()),
        T.StructField("geo_scope", T.StringType()),
        T.StructField("history_uri", T.StringType()),
        T.StructField("pubevent_uri", T.StringType()),
        T.StructField("heure_raw", T.StringType()),
        T.StructField("heure_marker", T.StringType()),
    ]
)


def _derive_pa(url, dataset, file, row_idx, row: pd.Series) -> dict:
    ch = mappings.ina_channel2code()

    channel_name = row["Canal de diffusion"]
    code = ch[channel_name].lower()
    radio = channel_name in ["France Inter", "France Culture", "FC", "FI"]

    timeslot = row["Titre tranche horaire"]
    collection = row["Titre collection"]
    parent = "orphan"
    if collection or timeslot:
        parent = collection if collection else timeslot

    pid = str(row["Identifiant de la notice"])
    pid2 = pid[1:] if pid.startswith("R") else pid
    prefix = BASE + code + "/" + clean_string_pa(parent) + "/"
    program_uri = prefix + sha1_hex(pid2)
    is_segment = pid.count("_") == 2

    # exact header quirks: 'Type de date ' unless 'Type de date' exists
    broadcasting = (
        row["Type de date "]
        if "Type de date" not in row
        else row["Type de date"]
    )
    duration_raw = str(row["Durée"])

    material_id = (
        row["Identifiant Matériels"]
        if row["Identifiant Matériels"]
        else row["Identifiant Matériels (info.)"]
    )
    material_id = str(material_id).strip().replace("\r", "")
    material_note = str(row["Matériels  (Détail)"]).strip().replace("\r", "")

    producers = [
        p.strip()
        for p in str(row["Producteurs (Aff.)"]).strip().replace("\r", "").split("\n")
        if p.strip()
    ]

    roles = mappings.ina_code2role()
    credits = []
    for credit in str(row["Générique (Aff. Lig.) "]).strip().split(";"):
        credit = credit.strip()
        if not credit:
            continue
        role, name = parse_pa_credit(credit)
        rec = {
            "agent_uri": BASE + "agent/" + clean_string_pa(name),
            "name": name,
            "role_uri": None,
        }
        if role:
            rec["role_uri"] = (
                BASE + "role/" + roles[role].lower().replace(" ", "_")
            )
        credits.append(rec)

    keywords = []
    for kw in str(row["Descripteurs (Aff. Lig.)"]).strip().split(";"):
        kw = kw.strip()
        if kw:
            kw = kw[4:].strip()
            slug = clean_string_pa(kw.lower().replace(" ", "_")).split("(")[0]
            keywords.append({"uri": BASE + "keyword/" + slug, "label": kw})

    genres_map = mappings.ina_genres()
    themes_map = mappings.ina_themes()
    genre_uris = [
        BASE + "genre/" + genres_map[g.strip()].lower().replace(" ", "_")
        for g in str(row["Genre"]).strip().split(";")
        if g.strip()
    ]
    theme_uris = [
        BASE + "theme/" + themes_map[t.strip()].lower().replace(" ", "_")
        for t in str(row["Thématique"]).strip().split(";")
        if t.strip()
    ]

    # extract_time candidates (pa_converter.py:66-79): the window stage
    # resolves heure2 = heure_raw or last non-null heure_marker [Q]
    heure_raw = str(row["Heure de diffusion"])
    diff = str(row["Diffusion (aff.)"])
    heure_marker = None
    if not heure_raw and "-heure:" in diff:
        heure_marker = diff.split("-heure:")[1][:8]

    notes = str(row["Notes"]).strip()
    legal = str(row["Notes juridiques"]).strip().replace("\r", "")

    return {
        "url": url, "dataset": dataset, "file": file, "row": row_idx,
        "notice_id": pid,
        "is_segment": is_segment,
        "parent_id": pid[:-4] if is_segment else None,
        "has_media": pid.count("_") == 1,
        "channel_name": channel_name,
        "channel_code": code,
        "channel_uri": BASE + "channel/" + code,
        "service_desc": ("Radio" if radio else "TV") + " channel",
        "timeslot_name": timeslot,
        "timeslot_uri": (BASE + code + "/" + clean_string_pa(timeslot))
        if timeslot else None,
        "collection_name": collection,
        "collection_uri": (BASE + code + "/" + clean_string_pa(collection))
        if collection else None,
        "program_uri": program_uri,
        "source_program_uri": (prefix + sha1_hex(pid2[:-4]))
        if is_segment else None,
        "program_type_uri": EB("RadioProgramme" if radio else "TVProgramme"),
        "hashed_id": sha1_hex(pid2),
        "title": str(row["Titre propre"]).strip(),
        "summary": str(row["Résumé"]).strip().replace("\r", ""),
        "notes": ("[Notes] " + notes) if notes else None,
        "legal_notes": ("[Legal Notes] " + legal) if legal else None,
        "title_notes": str(row["Notes du titre "]).strip().replace("\r", ""),
        "corpus": str(row["Corpus  (Aff.)"]).strip().replace("\r", ""),
        "sequences": str(row["Séquences"]).strip().replace("\r", ""),
        "broadcasting": str(broadcasting),
        "duration_raw": duration_raw,
        "duration_lex": pa_format_duration(duration_raw),
        "lead": str(row["Chapeau"]).strip(),
        "recording_date_lex": pa_format_date(str(row["Date d'enregistrement"])),
        "producer_summary": str(row["Résumé producteur"]).strip(),
        "isan": str(row["Numéro ISAN"]).strip(),
        "record_uri": program_uri + "/record",
        "creation_date_lex": pa_format_date(str(row["Date de création"])),
        "update_date_lex": pa_format_date(str(row["Date de modification"])),
        "record_type": str(row["Type de notice"]),
        "media_uri": BASE + "media/" + sha1_hex(pid2),
        "media_note_id": ("Identifiant Matériels: " + material_id)
        if material_id else None,
        "media_note_detail": ("Matériels  (Détail): " + material_note)
        if material_note else None,
        "producers": producers,
        "credits": credits,
        "keywords": keywords,
        "genre_uris": genre_uris,
        "theme_uris": theme_uris,
        "broadcast_date": str(row["Date de diffusion"]),
        "geo_scope": str(row["Extension géographique (info.)"]),
        "history_uri": program_uri + "/publication",
        "pubevent_uri": program_uri + "/publication/0",
        "heure_raw": heure_raw,
        "heure_marker": heure_marker,
    }


def parse_pa(routed: DataFrame) -> DataFrame:
    from . import fused

    return fused.of_kind(fused.parse_all(routed, kinds=("pa",)), "pa")


def with_heure2(pa: DataFrame) -> DataFrame:
    """Resolve 'Heure de diffusion 2' with the stale carry [Q].

    The carry is sequential over the reference's global row order, but
    it only *involves* rows whose ``Heure de diffusion`` is empty:
    marker values are produced exclusively by such rows, and only such
    rows consume the carry. The r01 version ran one GLOBAL ordered
    window over that subset — a single-reducer sort with no bound on
    the subset size (VERDICT r01 #6). This version is two-level and
    never sorts more than one file's rows in one partition:

      1. within-file carry: window partitioned by (dataset, file),
         ordered by row — fully parallel;
      2. cross-file fix-up: ONE row per file (its last non-null
         marker) goes through a global ordered carry — the sorted set
         is #files, bounded by the corpus layout, not #rows — and is
         broadcast-joined back as the seed for rows before their
         file's first marker.
    """
    needs = pa.filter(F.col("heure_raw") == "").select(
        "dataset", "file", "row", "heure_marker"
    )
    # three consumers below (within-file carry, per-file last marker,
    # file list) — materialize the tiny heure-empty subset ONCE so its
    # lineage (the python PA parse when the input is not yet a
    # materialized stage) is never re-executed per consumer
    needs = needs.localCheckpoint(eager=True)
    wf = (
        Window.partitionBy("dataset", "file")
        .orderBy("row")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = needs.withColumn(
        "c_in", F.last("heure_marker", ignorenulls=True).over(wf)
    )
    # one row per file: the last non-null marker (max (row, marker)
    # struct over marker-bearing rows orders by row)
    file_last = (
        needs.filter(F.col("heure_marker").isNotNull())
        .groupBy("dataset", "file")
        .agg(F.max(F.struct("row", "heure_marker")).alias("s"))
        .select("dataset", "file", F.col("s.heure_marker").alias("last_m"))
    )
    files = needs.select("dataset", "file").dropDuplicates()
    wg = (
        Window.orderBy("dataset", "file")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_by_file = (
        files.join(file_last, ["dataset", "file"], "left")
        .withColumn("prev_m", F.last("last_m", ignorenulls=True).over(wg))
        .select("dataset", "file", "prev_m")
    )
    carried = (
        within.join(F.broadcast(prev_by_file), ["dataset", "file"], "left")
        .withColumn("heure_carried", F.coalesce("c_in", "prev_m"))
        .select("dataset", "file", "row", "heure_carried")
    )
    # carried is tiny (only heure-empty rows) — broadcast it so the
    # main PA table is never shuffled for this join
    return pa.join(F.broadcast(carried), ["dataset", "file", "row"], "left").withColumn(
        "heure2",
        F.when(F.col("heure_raw") != "", F.col("heure_raw")).otherwise(
            F.col("heure_carried")
        ),
    ).drop("heure_carried")


@F.pandas_udf(T.StringType())
def _pa_pubevent_datetime(broadcast_date: pd.Series, heure2: pd.Series) -> pd.Series:
    """transform('datetime', date + time) — pa_converter.py:123-127,526."""
    out = []
    for d, h in zip(broadcast_date, heure2):
        try:
            out.append(pa_format_datetime(str(d) + str(h if h is not None else "")))
        except Exception:
            out.append(None)  # only reachable where the reference crashes
    return pd.Series(out)


_SEG_TIME_SCHEMA = T.StructType(
    [T.StructField("t_start", T.StringType()), T.StructField("t_end", T.StringType())]
)


@F.pandas_udf(_SEG_TIME_SCHEMA)
def _pa_segment_times(
    parent_heure2: pd.Series, heure2: pd.Series, duration_raw: pd.Series
) -> pd.DataFrame:
    """Relative segment times (pa_converter.py:510-523); ANY exception
    (missing parent, bad formats) silently yields no start/end [Q]."""
    starts, ends = [], []
    for ph, h, dr in zip(parent_heure2, heure2, duration_raw):
        try:
            start = pa_time_between(str(ph), str(h))
            end = pa_time_after(start, str(dr)[:8])
            starts.append(start)
            ends.append(end)
        except Exception:
            starts.append(None)
            ends.append(None)
    return pd.DataFrame({"t_start": starts, "t_end": ends})


def pa_with_segment_times(pa2: DataFrame) -> DataFrame:
    """J2 for PA: first matching parent row in source order (A4)."""
    w = Window.partitionBy("notice_id").orderBy("dataset", "file", "row")
    parents = (
        pa2.select("notice_id", "heure2", "dataset", "file", "row")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("notice_id").alias("pkey"),
            F.col("heure2").alias("parent_heure2"),
        )
    )
    joined = pa2.join(
        parents, pa2.parent_id == parents.pkey, "left"
    ).drop("pkey")
    return (
        joined.withColumn(
            "_times",
            F.when(
                F.col("is_segment") & F.col("parent_heure2").isNotNull(),
                _pa_segment_times(
                    F.col("parent_heure2"), F.col("heure2"),
                    F.col("duration_raw"),
                ),
            ),
        )
        .withColumn("t_start", F.col("_times.t_start"))
        .withColumn("t_end", F.col("_times.t_end"))
        .drop("_times")
        .withColumn(
            "pubevent_start_lex",
            F.when(
                ~F.col("is_segment"),
                _pa_pubevent_datetime(F.col("broadcast_date"), F.col("heure2")),
            ),
        )
    )


def _pa_bundle():
    seg = F.col("is_segment")
    static = F.array(
        # channel (4)
        uref("channel_uri", RDF_TYPE, EB("PublicationChannel")),
        triple("channel_uri", EB("publicationChannelId"),
               F.upper(F.col("channel_code"))),
        triple("channel_uri", EB("publicationChannelName"),
               F.col("channel_name")),
        triple("channel_uri", EB("serviceDescription"), F.col("service_desc")),
        # timeslot / collection
        uref("timeslot_uri", RDF_TYPE, MEMAD("Timeslot")),
        triple("timeslot_uri", EB("title"), F.col("timeslot_name")),
        uref("collection_uri", RDF_TYPE, EB("Collection")),
        triple("collection_uri", EB("title"), F.col("collection_name")),
        # segment vs program typing (pa_converter.py:348-357)
        uref("program_uri", RDF_TYPE,
             F.when(seg, EB("Part")).otherwise(F.col("program_type_uri"))),
        uref(
            F.when(seg, F.col("source_program_uri")),
            EB("hasPart"), F.col("program_uri"),
        ),
        uref(
            F.when(~seg, F.col("collection_uri")),
            EB("isParentOf"), F.col("program_uri"),
        ),
        uref(
            F.when(~seg, F.col("timeslot_uri")),
            EB("isParentOf"), F.col("program_uri"),
        ),
        # common metadata (pa_converter.py:373-385)
        triple("program_uri", DCT_PUBLISHER, "INA-PA"),
        triple("program_uri", EB("hasIdentifier"), F.col("hashed_id")),
        triple("program_uri", EB("title"), F.col("title"), lang="fr"),
        triple("program_uri", EB("summary"), F.col("summary"), lang="fr"),
        triple("program_uri", EB("duration"), F.col("duration_lex"),
               dt=XSD("duration")),
        triple("program_uri", MEMAD("titleNotes"), F.col("title_notes"),
               lang="fr"),
        triple("program_uri", MEMAD("corpus"), F.col("corpus")),
        triple("program_uri", SKOS_NOTE, F.col("notes")),
        triple("program_uri", SKOS_NOTE, F.col("legal_notes")),
        triple("program_uri", MEMAD("log"), F.col("sequences"), lang="fr"),
        triple("program_uri", MEMAD("broadcasting"), F.col("broadcasting")),
        # radio/TV extras (pa_converter.py:389-399)
        triple("program_uri", MEMAD("lead"), F.col("lead"), lang="fr"),
        triple("program_uri", EB("dateCreated"), F.col("recording_date_lex"),
               dt=XSD("date")),
        triple("program_uri", MEMAD("producerSummary"),
               F.col("producer_summary"), lang="fr"),
        triple("program_uri", MEMAD("hasISANIdentifier"), F.col("isan")),
        # record entity (pa_converter.py:402-423)
        uref("record_uri", RDF_TYPE, MEMAD("Record")),
        uref("program_uri", MEMAD("hasRecord"), F.col("record_uri")),
        triple("record_uri", EB("hasIdentifier"), F.col("hashed_id")),
        triple("record_uri", EB("dateCreated"), F.col("creation_date_lex"),
               dt=XSD("date")),
        triple("record_uri", EB("dateModified"), F.col("update_date_lex"),
               dt=XSD("date")),
        uref("record_uri", EB("hasLanguage"), BASE + "language/french"),
        uref("program_uri", EB("hasLanguage"), BASE + "language/french"),
        triple("record_uri", EB("hasType"), F.col("record_type")),
        # media (programs with one '_' only, pa_converter.py:426-436)
        uref(F.when(F.col("has_media"), F.col("media_uri")),
             RDF_TYPE, EB("MediaResource")),
        uref(
            F.when(F.col("has_media"), F.col("program_uri")),
            EB("isInstantiatedBy"), F.col("media_uri"),
        ),
        triple(F.when(F.col("has_media"), F.col("media_uri")),
               SKOS_NOTE, F.col("media_note_id")),
        triple(F.when(F.col("has_media"), F.col("media_uri")),
               SKOS_NOTE, F.col("media_note_detail")),
        # segment relative times (within the J2 try/except)
        triple(F.when(seg, F.col("program_uri")), EB("start"),
               F.col("t_start"), dt=XSD("time")),
        triple(F.when(seg, F.col("program_uri")), EB("end"),
               F.col("t_end"), dt=XSD("time")),
        # publication events (programs only, pa_converter.py:525-541)
        uref(F.when(~seg, F.col("history_uri")), RDF_TYPE,
             EB("PublicationHistory")),
        uref(F.when(~seg, F.col("program_uri")),
             EB("hasPublicationHistory"), F.col("history_uri")),
        uref(F.when(~seg, F.col("history_uri")),
             EB("hasPublicationEvent"), F.col("pubevent_uri")),
        uref(F.when(~seg, F.col("pubevent_uri")), RDF_TYPE,
             EB("PublicationEvent")),
        uref(F.when(~seg, F.col("pubevent_uri")), RDF_TYPE,
             MEMAD("FirstRun")),
        triple(F.when(~seg, F.col("pubevent_uri")),
               EB("publicationStartDateTime"), F.col("pubevent_start_lex"),
               dt=XSD("dateTime")),
        uref(F.when(~seg, F.col("pubevent_uri")), EB("publishes"),
             F.col("program_uri")),
        uref(F.when(~seg, F.col("pubevent_uri")), EB("isReleasedBy"),
             F.col("channel_uri")),
        triple(F.when(~seg, F.col("pubevent_uri")), EB("duration"),
               F.col("duration_lex"), dt=XSD("duration")),
        triple(F.when(~seg, F.col("pubevent_uri")),
               EB("hasPublicationRegion"), F.col("geo_scope")),
        triple(F.when(~seg, F.col("pubevent_uri")), EB("firstShowing"),
               "1", dt=XSD("boolean")),
    )
    producers = F.transform(
        "producers", lambda p: triple("program_uri", EB("hasProducer"), p)
    )
    credits = F.flatten(
        F.transform(
            "credits",
            lambda c: F.array(
                uref("program_uri", EB("hasContributor"), c["agent_uri"]),
                uref(c["agent_uri"], RDF_TYPE, EB("Agent")),
                triple(c["agent_uri"], EB("agentName"), c["name"]),
                uref(c["agent_uri"], EB("hasRole"), c["role_uri"]),
            ),
        )
    )
    keywords = F.flatten(
        F.transform(
            "keywords",
            lambda k: F.array(
                uref(k["uri"], RDF_TYPE, EB("Keyword")),
                triple(k["uri"], RDFS_LABEL, k["label"], lang="fr"),
                uref("program_uri", EB("hasKeyword"), k["uri"]),
            ),
        )
    )
    genres = F.transform("genre_uris",
                         lambda g: uref("program_uri", EB("hasGenre"), g))
    themes = F.transform("theme_uris",
                         lambda t_: uref("program_uri", EB("hasTheme"), t_))
    return (static, producers, credits, keywords, genres, themes)


def pa_triples(pa_full: DataFrame) -> DataFrame:
    """All triples of the PA pass (pa_converter.py:303-541)."""
    return explode_triples(
        pa_full, *cached_exprs("pa_triples", _pa_bundle), graph="pa"
    )


def pa_lineage(pa: DataFrame) -> DataFrame:
    """ina_pa_mapping.csv analog: identifier -> URI (S7)."""
    return pa.select(
        F.col("notice_id").alias("identifier"),
        F.col("program_uri").alias("uri"),
        "dataset", "file", "row",
    )
