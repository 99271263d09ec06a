# -*- coding: utf-8 -*-
"""Per-payload parsers: raw source bytes -> typed Python values.

These are the *kernels* invoked inside Arrow-batched UDFs
(``mapInPandas``) — one call per source unit, never per output row.
They mirror the reference's input handling exactly:

* CSV units reproduce ``pd.read_csv(..., encoding='latin-1',
  delimiter=';').fillna('')`` semantics (ld_converter.py:68,
  pa_converter.py:297) including pandas' numeric dtype inference.
* Yle XML mirrors the XPath extraction at yle_converter.py:277-540.
* ASR XML mirrors pa_converter.py:600-626 (speaker map, gender code,
  ``seconds_to_time`` formatting, ``preprocess_content``, empty-content
  skip).
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
from typing import Dict, List, Optional

import pandas as pd

from ..textkit import preprocess_content, seconds_to_time


def parse_csv_unit(payload: bytes) -> pd.Series:
    """One CSV data row (header line + row bytes) -> pandas row.

    Same dialect as the reference scan: latin-1, ';' delimiter, NaN ->
    ''. Numeric columns inherit pandas' inference — the fixture domain
    keeps numeric columns always-populated so per-unit inference equals
    the reference's whole-file inference.
    """
    df = pd.read_csv(
        io.BytesIO(payload), encoding="latin-1", delimiter=";", low_memory=False
    ).fillna("")
    return df.iloc[0]


def parse_csv_units_batched(payloads):
    """Batched variant: one ``pd.read_csv`` per distinct header in the
    batch instead of one per unit (10x+ fewer parser setups — the
    dominant Python cost of the CSV kinds). Yields pandas rows in the
    input order.

    Equivalence: string cells are unaffected by batching; numeric
    dtype inference is per-(batch, header) group, which matches the
    per-unit result under the fixture/ingest contract that numeric
    columns are always populated (and is in fact closer to the
    reference's whole-file inference, ld_converter.py:68).
    """
    groups = {}  # header bytes -> [(position, row bytes)]
    order = []
    for pos, payload in enumerate(payloads):
        nl = payload.index(b"\n") + 1
        header, row = payload[:nl], payload[nl:]
        groups.setdefault(header, []).append((pos, row))
        order.append(None)
    for header, items in groups.items():
        buf = header + b"".join(row for _, row in items)
        df = pd.read_csv(
            io.BytesIO(buf), encoding="latin-1", delimiter=";",
            low_memory=False,
        ).fillna("")
        # plain dicts, not iterrows() Series: the derive kernels read
        # ~17 fields per row, and Series.__getitem__ + per-row Series
        # construction were >half the parse kernel's CPU (profiled);
        # dict access is ~10x cheaper and value-identical (to_dict
        # unboxes numpy scalars to native int/float — str()/int()
        # formatting is unchanged, golden parity pins it)
        for (pos, _), row in zip(items, df.to_dict("records")):
            order[pos] = row
    return order


def _meta_map(parent: ET.Element) -> Dict[str, Optional[str]]:
    """name -> text of the FIRST Meta child with that name (the
    ``Meta/[@name='x']`` find semantics), built in ONE child walk —
    the per-name indexed-path ``find`` re-walked the tree and built
    ElementPath parent maps 28x per document (profiled as the single
    hottest spot of the fused parse)."""
    out: Dict[str, Optional[str]] = {}
    for m in parent:
        if m.tag == "Meta":
            name = m.get("name")
            if name not in out:
                out[name] = m.text
    return out


def parse_yle_unit(payload: bytes) -> Dict:
    """One Yle MAObject XML document -> dict of scalar fields plus
    repeated sub-entity lists (yle_converter.py:277-540)."""
    root = ET.fromstring(payload)
    first_ma = root.find("./MAObject")
    guid = first_ma.find("./GUID").text
    metas = _meta_map(first_ma)

    def _meta(_root, name):
        return metas.get(name)

    fields = {
        "guid": guid,
        "series_id": _meta(root, "SERIES_ID"),
        "series_name": _meta(root, "SERIES_NAME"),
        "number": _meta(root, "EPISODE_NUMBER"),
        "subject": _meta(root, "SUBJECT"),
        "fi_title": _meta(root, "FI_TITLE"),
        "se_title": _meta(root, "SE_TITLE"),
        "version": _meta(root, "VERSION_NAME"),
        "main_title": _meta(root, "MAINTITLE"),
        "metro_id": _meta(root, "METRO_PROGRAMME_ID"),
        "language": _meta(root, "LANGUAGE"),
        "duration1": _meta(root, "DURATION"),
        "description": _meta(root, "DESCRIPTION_SHORT"),
        "duration_tc": _meta(root, "SYSTEM_DURATION_TC"),
        "working_title": _meta(root, "WORKING_TITLE"),
        "archiving_date": _meta(root, "ARCHIVE_DATE"),
        "class_comb_a": _meta(root, "CLASSIFICATION_COMB_A"),
        "class_content": _meta(root, "CLASSIFICATION_CONTENT"),
        "class_main": _meta(root, "CLASSIFICATION_MAIN_CLASS"),
        "class_sub": _meta(root, "CLASSIFICATION_SUB_CLASS"),
        "web_desc": _meta(root, "WEB_DESCRIPTION"),
        "web_desc_sw": _meta(root, "WEB_DESCRIPTION_SWE"),
        "media_id": _meta(root, "MEDIA_ID"),
        "media_framerate": _meta(root, "SYSTEM_FRAMERATE_FPS"),
        "media_video_format": _meta(root, "VIDEO_FORMAT"),
        "media_aspect_ratio": _meta(root, "ASPECT_RATIO"),
        "firstrun_date": _meta(root, "FIRSTRUN_DATE"),
        "firstrun_time": _meta(root, "FIRSTRUN_TIME"),
    }

    # one child-walk per repeated group (indexed Meta finds re-walk
    # the subtree per field); a missing required Meta raises KeyError —
    # the parse kernels' documented fail-fast contract (P4)
    subtitles = []
    audios = []
    pubevents = []
    contributors = []
    segments_content = {}
    for child in root:
        if child.tag == "MVAttribute":
            ctype = child.get("type")
            if ctype == "SUBTITLES":
                m = _meta_map(child)
                subtitles.append(
                    {
                        "filename": m["ST_FILENAME"],
                        "language": m["ST_LANGUAGE_CODES"],
                        "file_format": m["ST_FILE_FORMAT"],
                        "date_ingested": m["ST_INGEST_DATE"],
                        "date_published": m["ST_PUB_DATE"],
                    }
                )
            elif ctype == "AUDIO":
                m = _meta_map(child)
                audios.append(
                    {
                        "codec": m["PMA_CODEC"],
                        "language": m["PMA_LANGUAGE"],
                        "sample_rate": m["PMA_SAMPLE_RATE"],
                        "note": m["PMA_NOTES"],
                    }
                )
            elif ctype == "PUBLICATIONS":
                m = _meta_map(child)
                pubevents.append(
                    {
                        "pub_id": m["PUB_ID"],
                        "datetime": m["PUB_DATETIME"],
                        "datetime_end": m["PUB_DATETIME_END"],
                        "channel": m["PUB_CHANNEL"],
                    }
                )
            elif ctype == "CONTRIBUTORS":
                m = _meta_map(child)
                contributors.append(
                    {
                        "name": m["CONT_PERSON_NAME"],
                        "role": m["CONT_PERSON_ROLE"],
                    }
                )
        elif (child.tag == "MAObject"
              and child.get("mdclass") == "S_CONTENT_DESCRIPTION"):
            # segment descriptions keyed by GUID, joined intra-document
            # (yle_converter.py:485-502 — J5: no shuffle, same doc)
            segments_content[child.find("./GUID").text] = _meta_map(
                child
            )["SEGMENT_DESCRIPTION"]

    segments = []
    for seg in first_ma.findall(
        "./StratumEx[@name='CONTENT_DESCRIPTION']/*/Segment"
    ):
        if "contentid" in seg.attrib:
            cid = seg.attrib["contentid"]
            if cid in segments_content:
                segments.append(
                    {
                        "content_id": cid,
                        "begin": seg.attrib["begin"],
                        "end": seg.attrib["end"],
                        "description": segments_content[cid],
                    }
                )

    fields["subtitles"] = subtitles
    fields["audios"] = audios
    fields["pubevents"] = pubevents
    fields["contributors"] = contributors
    fields["segments"] = segments
    return fields


def parse_asr_unit(payload: bytes, filename: str) -> List[Dict]:
    """One Vocapia ASR XML document -> flat subtitle segment rows
    (pa_converter.py:600-626)."""
    root = ET.fromstring(payload)

    speakers: Dict[str, Dict] = {}
    for speaker in root.findall("./SpeakerList/Speaker"):
        s = speaker.attrib
        if s["spkid"] in speakers:
            raise Exception("Speaker already mentioned")
        speakers[s["spkid"]] = {
            "gender": s["gender"],
            "lang": s["lang"],
            "nw": s["nw"],
        }

    rows: List[Dict] = []
    for segment in root.findall("./SegmentList/SpeechSegment"):
        s = segment.attrib
        content = " ".join(w.text.strip() for w in segment.findall("./Word"))
        if content == "":
            continue
        rows.append(
            {
                "identifier": filename,
                "language": s["lang"],
                "speaker": s["spkid"],
                "gender": "M" if speakers[s["spkid"]]["gender"] == "1" else "F",
                "start": seconds_to_time(float(s["stime"])),
                "end": seconds_to_time(float(s["etime"])),
                "content": preprocess_content(content),
            }
        )
    return rows

