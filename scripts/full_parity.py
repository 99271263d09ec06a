# -*- coding: utf-8 -*-
"""Run EVERY queries() entry against its DuckDB oracle twin and write
a CORRECTNESS-style JSON artifact (the local replica of the driver
gate, which samples only the first 50 dict entries per round).

Usage: python scripts/full_parity.py [--sf DIR] [--out FILE]
"""
import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()

    import importlib.util

    import duckdb
    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location(
        "spark_entry",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
            % (t, a.sf, t)
        )
    qs = mod.queries()
    oracles = mod.oracle_sql()
    report = {}
    for name, fn in qs.items():
        t0 = time.time()
        rec = {"rows_match": False, "schema_match": False,
               "values_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        try:
            df = fn(spark, a.sf)
            cols = df.columns
            srows = [tuple(_norm(v) for v in r) for r in df.collect()]
            rec["spark_rows"] = len(srows)
            if name not in oracles:
                rec["err"] = "no oracle (rows-only check)"
                rec["rows_match"] = rec["spark_rows"] >= 0
                report[name] = rec
                continue
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = [tuple(_norm(v) for v in r) for r in res.fetchall()]
            rec["oracle_rows"] = len(drows)
            rec["rows_match"] = len(srows) == len(drows)
            rec["schema_match"] = sorted(cols) == sorted(dcols)
            if rec["schema_match"]:
                sidx = [cols.index(c) for c in sorted(cols)]
                didx = [dcols.index(c) for c in sorted(dcols)]
                s = sorted(tuple(r[i] for i in sidx) for r in srows)
                d = sorted(tuple(r[i] for i in didx) for r in drows)
                rec["values_match"] = s == d
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = "%s: %s" % (type(e).__name__, str(e)[:300])
        report[name] = rec
        ok = (rec["values_match"] or
              (rec["err"] or "").startswith("no oracle"))
        print("%-24s %s %5s rows %.1fs" % (
            name, "OK " if ok else "FAIL",
            rec["spark_rows"], time.time() - t0), flush=True)
    out = a.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CORRECTNESS_FULL_local.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    n_ok = sum(
        1 for r in report.values()
        if r["values_match"] or (r["err"] or "").startswith("no oracle"))
    print("TOTAL %d/%d green -> %s" % (n_ok, len(report), out))
    spark.stop()


if __name__ == "__main__":
    main()
