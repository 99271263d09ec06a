# -*- coding: utf-8 -*-
"""Self-check of the driver contract: every queries() entry runs, and
every oracle_sql() twin produces identical (sorted, rounded) results
via DuckDB on the same parquet — the same comparison the driver's
correctness gate performs at sf=0.01.
"""

import ast
import math
import os

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
            % (t, sf_dir, t)
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rows(recs):
    # null-safe sort key: None must order stably against any value
    # (rollup-style subtotal rows carry NULL group keys)
    return sorted(
        (tuple(_norm(v) for v in r) for r in recs),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


ENTRY_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


def _entry_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location("spark_entry", ENTRY_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = _entry_module()
    df = mod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "subj", "pred", "obj", "obj_is_uri", "obj_lang", "obj_datatype"
    ]


def test_all_queries_run_and_match_oracles(spark):
    mod = _entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) == set(qs)

    con = _duck(SF_DIR)
    failures = []
    for name, fn in sorted(qs.items()):
        df = fn(spark, SF_DIR)
        cols = df.columns
        spark_rows = _rows([tuple(r) for r in df.collect()])
        assert len(spark_rows) >= 0  # ran
        if name not in oracles:
            continue
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = _rows(res.fetchall())
        if sorted(cols) != sorted(duck_cols):
            failures.append("%s: columns %s vs %s" % (name, cols, duck_cols))
            continue
        # align column order by name (driver sorts columns by name)
        sidx = [cols.index(c) for c in sorted(cols)]
        didx = [duck_cols.index(c) for c in sorted(duck_cols)]
        s_sorted = sorted(
            tuple(r[i] for i in sidx) for r in spark_rows
        )
        d_sorted = sorted(
            tuple(r[i] for i in didx) for r in duck_rows
        )
        if s_sorted != d_sorted:
            diff = [
                (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
            ][:3]
            failures.append(
                "%s: %d vs %d rows; first diffs %s"
                % (name, len(s_sorted), len(d_sorted), diff)
            )
    assert not failures, "\n".join(failures)


def _defined_names(node):
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return {node.name}
    if isinstance(node, ast.Assign):
        return {t.id for t in node.targets if isinstance(t, ast.Name)}
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return {(a.asname or a.name).split(".")[0] for a in node.names
                if a.name != "annotations"}
    return set()


def test_every_entry_helper_is_used():
    """Every top-level name of the driver module (query, oracle text,
    helper, import) is read somewhere outside its own definition; only
    the three contract functions stand alone. A query dropped from
    queries() must take its helpers and its oracle text with it."""
    with open(ENTRY_PATH, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    loaded = set()
    for node in tree.body:
        own = _defined_names(node)
        for n in ast.walk(node):
            if (isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
                    and n.id not in own):
                loaded.add(n.id)
    unused = sorted(
        name for node in tree.body for name in _defined_names(node)
        if name not in loaded
        and name not in ("entry", "queries", "oracle_sql")
    )
    assert not unused, (
        "unused top-level names in __spark_entry__.py: %s" % unused)
