"""Output checks for triple tables.

A build's output is summarized by its row count and an order-independent
digest: the sum, as a 38-digit decimal, of one 64-bit hash per row over
``graph`` plus the six-column triple key (nulls hashed as a sentinel so
that a null and an empty string differ). Every build must also hold no
duplicate key and no null subject or empty object.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_converter_spark.terms import TRIPLE_KEY

COLUMNS = ["graph"] + TRIPLE_KEY

# Row count and digest of the full triple table for the corpus of each
# seed (see corpus.py), taken from the fused build (``build_triples_inmem``).
# The staged build must emit the same table, so on these seeds every
# staged build is checked against the other parse path without running it.
# Any change to what a build emits for these corpora shows here.
PINNED = {
    0: {"rows": 37573, "digest": "-1344901801099628017498"},
    1: {"rows": 37290, "digest": "936175202084444492139"},
    2: {"rows": 37075, "digest": "-1707638406273019933852"},
    3: {"rows": 37251, "digest": "-984214886429807652635"},
    4: {"rows": 37200, "digest": "-1941948084884161598565"},
    5: {"rows": 37241, "digest": "267041370517207886780"},
    6: {"rows": 37366, "digest": "-376749720161614831657"},
    7: {"rows": 37058, "digest": "-126472250413652807900"},
    8: {"rows": 37116, "digest": "-216012143661616287985"},
    9: {"rows": 37346, "digest": "162320021918238115989"},
    10: {"rows": 37307, "digest": "-304175515236893746384"},
    11: {"rows": 37241, "digest": "-135385998980734075517"},
    12: {"rows": 36895, "digest": "-402813153658136474293"},
    13: {"rows": 37358, "digest": "7410356014142441323"},
    14: {"rows": 37013, "digest": "461838041084208240628"},
    15: {"rows": 37475, "digest": "785361877339680367561"},
    16: {"rows": 37682, "digest": "1332263070792931762304"},
    17: {"rows": 37109, "digest": "-1359443287810973495094"},
    18: {"rows": 37216, "digest": "-547101552639670847391"},
    19: {"rows": 37005, "digest": "-519862690943379680861"},
}


def summarize(df: DataFrame) -> dict:
    key = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in COLUMNS]
    bad = (F.col("subj").isNull() | F.col("obj").isNull()
           | (F.col("obj") == ""))
    h = F.xxhash64(*key)
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.cast("decimal(38,0)")).alias("digest"),
        F.sum(bad.cast("long")).alias("bad"),
        # equal keys hash alike, so duplicates lower the distinct count
        F.countDistinct(h).alias("distinct"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "digest": str(row["digest"]),
            "bad": int(row["bad"] or 0),
            "dup_keys": int(row["rows"]) - int(row["distinct"])}


def problems(summary: dict, seed: int, reference: dict = None) -> list:
    """Reasons a full build's ``summary`` fails; empty when it is
    correct. ``reference`` is the other build path's summary of the same
    corpus, which must match."""
    out = []
    if summary["bad"]:
        out.append("%d rows with a null subject or empty object"
                   % summary["bad"])
    if summary["dup_keys"]:
        out.append("%d duplicate triple keys" % summary["dup_keys"])
    for k in ("rows", "digest"):
        if reference is not None and summary[k] != reference[k]:
            out.append("%s %s != other build path's %s"
                       % (k, summary[k], reference[k]))
        pin = PINNED.get(seed, {}).get(k)
        if pin is not None and summary[k] != pin:
            out.append("%s %s != pinned %s" % (k, summary[k], pin))
    return out
