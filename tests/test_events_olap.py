# -*- coding: utf-8 -*-
"""Batch event windows and interval joins (operators/events.py) on
hand-computable inputs."""

from datetime import datetime

from rdf_converter_spark.operators.events import event_deltas


def _ts(s):
    return datetime.fromisoformat(s)


def test_event_deltas(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 7, "c", 10.0, ""),
            (2, _ts("2024-01-01T10:00:30"), 7, "c", 13.5, ""),
            (3, _ts("2024-01-01T10:02:00"), 7, "c", 13.0, ""),
            (4, _ts("2024-01-01T09:00:00"), 8, "c", 1.0, ""),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        "value double, props string",
    )
    got = {r["event_id"]: r for r in event_deltas(ev).collect()}
    assert got[1]["value_delta"] is None and got[1]["gap_seconds"] is None
    assert got[2]["value_delta"] == 3.5 and got[2]["gap_seconds"] == 30
    assert got[3]["value_delta"] == -0.5 and got[3]["gap_seconds"] == 90
    assert got[4]["value_delta"] is None  # other user's first event


def test_interval_point_join_matches_brute_force(spark):
    import itertools
    from rdf_converter_spark.operators.events import interval_point_join

    # spans chosen to cross bucket boundaries (bucket=100)
    ivals = [(1, 50, 250), (2, 100, 101), (3, 400, 700), (4, 699, 700)]
    pts = [(10, 50), (11, 99), (12, 100), (13, 249), (14, 250),
           (15, 500), (16, 699), (17, 700)]
    idf = spark.createDataFrame(ivals, "iid long, start long, end long")
    pdf = spark.createDataFrame(pts, "pid long, t long")
    got = sorted(
        (r.iid, r.pid)
        for r in interval_point_join(idf, pdf, bucket=100).collect()
    )
    want = sorted(
        (i, p) for (i, s, e), (p, t) in itertools.product(ivals, pts)
        if s <= t < e  # half-open
    )
    assert got == want
    assert (1, 14) not in got          # end is exclusive
    assert (4, 16) in got and (4, 17) not in got


def test_interval_point_join_no_nested_loop_plan(spark):
    from rdf_converter_spark.operators.events import interval_point_join

    idf = spark.range(10).selectExpr(
        "id AS iid", "id * 1000 AS start", "id * 1000 + 500 AS end")
    pdf = spark.range(100).selectExpr("id AS pid", "id * 97 AS t")
    plan = interval_point_join(idf, pdf, bucket=250)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_interval_point_join_pathological_span_raises(spark):
    import pytest
    from rdf_converter_spark.operators.events import interval_point_join

    idf = spark.createDataFrame(
        [(1, 0, 10_000_000)], "iid long, start long, end long")
    pdf = spark.createDataFrame([(1, 5)], "pid long, t long")
    with pytest.raises(Exception, match="interval_point_join"):
        interval_point_join(idf, pdf, bucket=10, max_buckets=100).collect()
