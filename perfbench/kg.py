"""The ``sparql_mix`` graph: a seeded MeMAD-shaped triple table.

The shape follows what the pipelines emit for the INA and Yle catalogues
(EBUCore classes and properties, ``data.memad.eu`` IRIs): collections
that are parents of TV and radio programmes and programmes that are
parents of parts (``ebucore:isParentOf`` chains two deep), typed titles and durations, genres and contributors drawn from
skewed pools (a few hub genres and agents carry most edges), optional
summaries, editorial notes (``skos:note``), identifiers, keywords and
publication events on channels.

The table has the package's six-column triple key, holds no duplicate,
and is written as one parquet file that the Spark graph and the DuckDB
twins both read. Literals hold no quote or backslash.
"""

from __future__ import annotations

import os
import random

EB = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#"
BASE = "http://data.memad.eu/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SKOS_NOTE = "http://www.w3.org/2004/02/skos/core#note"
XSD = "http://www.w3.org/2001/XMLSchema#"

# ~23k triples: 150 collections of ~6 programmes and ~1.5 parts a
# programme, over 400 agents and 40 genres.
N_COLLECTIONS = 150
N_AGENTS = 400
N_GENRES = 40
CHANNELS = ["tf1", "france2", "france3", "france-inter", "france-culture",
            "yle-tv1", "yle-tv2", "yle-radio1"]

_WORDS = ["Grand", "Soir", "Matin", "Monde", "Histoire", "Culture", "Sport",
          "Science", "Musique", "Documentaire", "Portrait", "Regards",
          "Dossier", "Magazine", "Ajankohtainen", "Uutiset", "Kulttuuri",
          "Talk", "Week-end", "Europe", "Debat", "Cinema", "Nature", "Voyage"]
_FIRST = ["marie", "jean", "anne", "pierre", "sophie", "ahmed", "laura",
          "mikko", "aino", "paul", "claire", "louis", "juha", "elina",
          "francois", "nora", "hugo", "sanna", "yann", "ines"]
_LAST = ["durand", "lefevre", "dupont", "martin", "lahtinen", "virtanen",
         "moreau", "bernard", "korhonen", "petit", "roux", "nieminen",
         "garcia", "fournier", "makinen", "girard", "lambert", "salo",
         "bonnet", "heikkinen"]


class _Table:
    """Triples in first-seen order, duplicates dropped."""

    def __init__(self):
        self.rows = {}

    def uri(self, s, p, o):
        self.rows.setdefault((s, p, o, True, None, None), None)

    def lit(self, s, p, o, datatype=None, lang=None):
        self.rows.setdefault((s, p, o, False, lang, datatype), None)


def _skewed(rng: random.Random, n: int) -> int:
    """Index in [0, n) with weight 1 / (i + 1): a few hubs, a long tail."""
    return min(int(n ** rng.random()) - 1, n - 1)


def _title(rng: random.Random) -> str:
    words = rng.sample(_WORDS, rng.randint(1, 3))
    if rng.random() < 0.12:
        words.insert(0, rng.choice(["Journal", "Le Journal", "Journal du"]))
    return " ".join(words)


def _duration(rng: random.Random, lo: int, hi: int) -> str:
    s = rng.randint(lo, hi)
    return "PT%02dH%02dM%02dS" % (s // 3600, s // 60 % 60, s % 60)


def build(seed: int) -> _Table:
    rng = random.Random(seed)
    t = _Table()
    genres = [BASE + "genre/g%02d" % i for i in range(N_GENRES)]
    agents = []
    for i in range(N_AGENTS):
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        a = BASE + "agent/%s-%s-%d" % (first, last, i)
        agents.append(a)
        t.uri(a, RDF_TYPE, EB + "Agent")
        t.lit(a, EB + "agentName", "%s %s" % (first.title(), last.title()))
    channels = []
    for c in CHANNELS:
        ch = BASE + "channel/" + c
        channels.append(ch)
        t.uri(ch, RDF_TYPE, EB + "PublicationChannel")
        t.lit(ch, EB + "publicationChannelName", c.upper())

    for ci in range(N_COLLECTIONS):
        channel = rng.choice(CHANNELS)
        radio = channel.startswith(("france-inter", "france-culture",
                                    "yle-radio"))
        coll = BASE + "%s/c%04d" % (channel, ci)
        t.uri(coll, RDF_TYPE, EB + "Collection")
        t.lit(coll, EB + "title", _title(rng))
        for pi in range(rng.randint(1, 11)):
            p = "%s/p%03d" % (coll, pi)
            t.uri(coll, EB + "isParentOf", p)
            _programme(t, rng, p, radio, genres, agents, channels)
            for si in range(rng.randint(0, 3)):
                part = "%s/part%d" % (p, si)
                t.uri(p, EB + "isParentOf", part)
                _part(t, rng, part, genres, agents)
    return t


def _programme(t, rng, p, radio, genres, agents, channels):
    t.uri(p, RDF_TYPE, EB + ("RadioProgramme" if radio else "TVProgramme"))
    t.lit(p, EB + "title", _title(rng))
    t.lit(p, EB + "duration", _duration(rng, 300, 7200), XSD + "duration")
    t.lit(p, EB + "hasIdentifier", "%08d" % rng.randrange(10 ** 8))
    t.uri(p, EB + "hasLanguage", BASE + "language/" + rng.choice(
        ["fr", "fi", "sv", "en"]))
    for _ in range(rng.randint(1, 3)):
        t.uri(p, EB + "hasGenre", genres[_skewed(rng, len(genres))])
    for _ in range(rng.randint(0, 4)):
        t.uri(p, EB + "hasContributor", agents[_skewed(rng, len(agents))])
    for _ in range(rng.randint(0, 3)):
        t.uri(p, EB + "hasKeyword",
              BASE + "keyword/" + rng.choice(_WORDS).lower())
    if rng.random() < 0.5:
        t.lit(p, EB + "summary", "Summary of " + _title(rng))
    if rng.random() < 0.3:
        t.lit(p, SKOS_NOTE, "Note " + _title(rng))
    ev = p + "/publication/0"
    t.uri(p, EB + "hasPublicationEvent", ev)
    t.uri(ev, RDF_TYPE, EB + "PublicationEvent")
    t.uri(ev, EB + "isReleasedBy", rng.choice(channels))
    t.lit(ev, EB + "publicationStartDateTime",
          "20%02d-%02d-%02dT%02d:%02d:00" % (
              rng.randint(10, 19), rng.randint(1, 12), rng.randint(1, 28),
              rng.randint(0, 23), rng.randrange(0, 60, 5)),
          XSD + "dateTime")


def _part(t, rng, part, genres, agents):
    t.uri(part, RDF_TYPE, EB + "Part")
    t.lit(part, EB + "title", _title(rng))
    t.lit(part, EB + "start", _duration(rng, 0, 3000), XSD + "duration")
    t.lit(part, EB + "end", _duration(rng, 3000, 6000), XSD + "duration")
    if rng.random() < 0.4:
        t.uri(part, EB + "hasGenre", genres[_skewed(rng, len(genres))])
    if rng.random() < 0.3:
        t.uri(part, EB + "hasContributor", agents[_skewed(rng, len(agents))])


def write(seed: int, out_dir: str) -> int:
    """Writes the graph for ``seed`` to ``out_dir``/graph.parquet;
    returns its triple count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdf_converter_spark.terms import TRIPLE_KEY

    rows = list(build(seed).rows)
    cols = list(zip(*rows))
    types = [pa.string(), pa.string(), pa.string(), pa.bool_(),
             pa.string(), pa.string()]
    table = pa.table([pa.array(c, type=ty) for c, ty in zip(cols, types)],
                     names=TRIPLE_KEY)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "graph.parquet"))
    return len(rows)
