"""DQ operators: single-pass profile, Deequ-semantics uniqueness edge cases,
constraint verification contract, row-level rules + routing."""

import pytest

from cryptocurrency_data_pipeline_spark.operators import quality
from cryptocurrency_data_pipeline_spark.schemas import DQ_CHECK, DQ_METRIC


def _df(spark, rows):
    return spark.createDataFrame(rows, "coin_id string, price double, cap long")


def _plan_leaves(node):
    children = node.children()
    if children.size() == 0:
        return [node]
    return [leaf for i in range(children.size()) for leaf in _plan_leaves(children.apply(i))]


def _leaf_names(df):
    return [
        leaf.getClass().getSimpleName()
        for leaf in _plan_leaves(df._jdf.queryExecution().executedPlan())
    ]


def test_profile_single_pass(spark):
    df = _df(
        spark,
        [("a", 1.0, 10), ("b", 3.0, 20), ("c", None, 30), ("a", 5.0, 40)],
    )
    m = quality.profile(
        df, completeness_cols=["price"], numeric_cols=["price"], unique_key="coin_id"
    )
    assert m["Size()"] == 4.0
    assert m["Completeness(price)"] == 0.75
    assert m["Mean(price)"] == 3.0
    assert m["Minimum(price)"] == 1.0
    assert m["Maximum(price)"] == 5.0
    # 'a' occurs twice -> 2 of 4 ROWS hold a value occurring exactly once
    # (Deequ Uniqueness divides by rows, not by distinct values).
    assert abs(m["Uniqueness(coin_id)"] - 2 / 4) < 1e-12
    assert abs(m["UniqueValueRatio(coin_id)"] - 2 / 3) < 1e-12
    assert abs(m["Distinctness(coin_id)"] - 3 / 4) < 1e-12
    assert m["StandardDeviation(price)"] == pytest.approx(
        (((1 - 3) ** 2 + (3 - 3) ** 2 + (5 - 3) ** 2) / 3) ** 0.5
    )


def test_uniqueness_edge_cases(spark):
    all_dup = _df(spark, [("a", 1.0, 1), ("a", 2.0, 2)])
    assert quality.profile(all_dup, unique_key="coin_id")["Uniqueness(coin_id)"] == 0.0
    unique = _df(spark, [("a", 1.0, 1), ("b", 2.0, 2)])
    assert quality.profile(unique, unique_key="coin_id")["Uniqueness(coin_id)"] == 1.0


def test_verify_pass_fail_and_raise(spark):
    df = _df(spark, [("a", 1.0, 10), ("b", -3.0, 20)])
    m = quality.profile(df, numeric_cols=["price"])
    constraints = [
        quality.Constraint("size >= 1", "Size()", lambda v: v >= 1),
        quality.Constraint("min price > 0", "Minimum(price)", lambda v: v > 0),
    ]
    frame = quality.verify(spark, m, constraints)
    assert frame.schema == DQ_CHECK
    assert _leaf_names(frame) == ["LocalTableScanExec"]
    res = {r.constraint_name: r.constraint_status for r in frame.collect()}
    assert res == {"size >= 1": "Success", "min price > 0": "Failure"}
    with pytest.raises(quality.DQGateError, match="min price > 0"):
        quality.verify(spark, m, constraints, raise_on_failure=True)


def test_profile_df_round_trips_values_on_a_local_scan(spark):
    """The metrics frame keeps NaN, NULL and ±inf apart (a pandas round
    trip would turn NaN into NULL), and it plans as a local scan in the
    JVM — no pickled RDD, so no Python worker per metrics-sink append."""
    import math

    from pyspark.sql import functions as F

    metrics = {
        "Size()": 4.0,
        "Mean(price)": float("nan"),
        "StandardDeviation(price)": None,
        "Minimum(price)": float("-inf"),
        "Maximum(price)": float("inf"),
    }
    df = quality.profile_df(spark, metrics)
    assert df.schema == DQ_METRIC
    got = {(r.entity, r.instance, r.name): r.value for r in df.collect()}
    assert set(got) == {
        ("Dataset", "*", "Size"),
        ("Column", "price", "Mean"),
        ("Column", "price", "StandardDeviation"),
        ("Column", "price", "Minimum"),
        ("Column", "price", "Maximum"),
    }
    assert got[("Dataset", "*", "Size")] == 4.0
    assert math.isnan(got[("Column", "price", "Mean")])
    assert got[("Column", "price", "StandardDeviation")] is None
    assert got[("Column", "price", "Minimum")] == float("-inf")
    assert got[("Column", "price", "Maximum")] == float("inf")
    # The JVM sees the same distinction, not only the Python collect.
    assert df.where(F.isnan("value")).count() == 1
    assert df.where(F.col("value").isNull()).count() == 1
    assert _leaf_names(df) == ["LocalTableScanExec"]

    empty = quality.profile_df(spark, {})
    assert empty.schema == DQ_METRIC
    assert empty.columns == ["entity", "instance", "name", "value"]
    assert empty.collect() == []


def test_row_level_rules_and_routing(spark):
    df = _df(
        spark,
        [
            ("a", 1.0, 10),     # passes
            ("b", None, 20),    # fails IsComplete(price)
            ("c", -1.0, 30),    # fails ColumnValues(price > 0)
            ("d", 2.0, 40),     # dup key -> fails IsPrimaryKey
            ("d", 3.0, 50),
        ],
    )
    tagged = quality.row_level_rules(
        df, complete_cols=["price"], positive_cols=["price"], primary_key="coin_id"
    )
    passed, failed = quality.route_rows(tagged)
    assert {r.coin_id for r in passed.collect()} == {"a"}
    assert failed.count() == 4
    assert "dq_result" not in passed.columns


def test_hll_weekly_union_close_to_exact(spark):
    """Sketch-union estimate must land within 5% of the exact weekly
    distinct-user count (merging daily sketches, not re-scanning raws).
    The query now carries the bound as a hashed boolean column; every week
    must report True with a positive exact count."""
    from cryptocurrency_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["hll_weekly_users"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0 and r.within_5pct, (r.week, r.exact_users)


def test_observed_metrics_ride_the_write(spark, tmp_path):
    from cryptocurrency_data_pipeline_spark.operators.quality import observed

    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 8.0)], "k long, v double"
    )
    watched, obs = observed(
        df, completeness_cols=["v"], numeric_cols=["v"]
    )
    # the metrics accumulate on the write job itself — no second scan
    watched.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["Size(*)"] == 3
    assert abs(got["Completeness(v)"] - 2 / 3) < 1e-9
    assert got["Minimum(v)"] == 2.0 and got["Maximum(v)"] == 8.0
    # and the data itself is untouched by observation
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3


def test_t_closeness_math_tiny_fixture(spark):
    """TV distance cross-check on a 2-class fixture computed by hand
    through the registered query's exact formula (present + absent
    terms)."""
    from cryptocurrency_data_pipeline_spark.queries import QUERIES
    import collections
    import duckdb
    import os
    import tempfile

    # class A: values [0,0,1]; class B: values [1,1,1]
    rows = [
        (0, "A", 100.0), (1, "A", 200.0), (2, "A", 1100.0),
        (3, "B", 1100.0), (4, "B", 1200.0), (5, "B", 1300.0),
    ]
    # Expected: N=6, N_0=2, N_1=4.
    # A (n_c=3): |2*6-2*3| + |1*6-4*3| = 6+6=12; absent 0 -> D=12; TV=12/36=1/3
    # B (n_c=3): |3*6-4*3| = 6; absent value 0 -> +3*(6-4)=6 -> D=12; TV=1/3
    # t=0.2 -> both violate.
    import pandas as pd
    with tempfile.TemporaryDirectory() as td:
        pdf = pd.DataFrame(
            rows, columns=["c_custkey", "qi", "c_acctbal"]
        )
        pdf["c_nationkey"] = pdf["qi"].map({"A": 1, "B": 2})
        pdf["c_mktsegment"] = "X"
        duckdb.sql(
            "COPY (SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal "
            "FROM pdf) TO '" + os.path.join(td, "customer.parquet") + "'"
        )
        got = QUERIES["t_closeness_audit"](spark, td).collect()[0]
    assert got.n_classes == 2
    assert got.n_violating == 2
    assert got.max_tv == round(1 / 3, 6)


def test_ab_chi_square_known_table(spark):
    """chi2 on a hand-built 2x2 via the registered query's ladder:
    users 0..99, arm by md5 first hex; conversions chosen so the
    cells are known."""
    import os
    import tempfile

    import duckdb
    import hashlib
    import pandas as pd

    from cryptocurrency_data_pipeline_spark.queries import QUERIES

    rows = []
    base = pd.Timestamp("2026-01-01")
    a = b = c = d = 0
    for uid in range(100):
        arm_a = hashlib.md5(str(uid).encode()).hexdigest()[0] < "8"
        # arm A converts ~80%, arm B ~20% (deterministic by uid)
        conv = (uid % 10 < 8) if arm_a else (uid % 10 < 2)
        if arm_a and conv:
            a += 1
        elif arm_a:
            b += 1
        elif conv:
            c += 1
        else:
            d += 1
        rows.append((uid * 2, base, uid, "purchase" if conv else "view",
                     1.0, None))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        duckdb.sql(
            "COPY (SELECT * FROM pdf) TO '"
            + os.path.join(td, "events.parquet") + "'"
        )
        got = QUERIES["ab_test_chi_square"](spark, td).collect()[0]
    n = a + b + c + d
    det = a * d - b * c
    den = (a + b) * (c + d) * (a + c) * (b + d)
    expect = round(float(n * det) * det / max(den, 1), 6)
    assert got.conv_a == a and got.conv_b == c
    assert got.chi2 == expect
    assert got.significant_05 == (float(n * det) * det / max(den, 1) > 3.841)


def test_nonfinite_audit_counts_every_class_single_pass(spark):
    """nonfinite_audit: NULL/NaN/±Inf/finite tallied per column in one
    wide aggregate; empty input audits as NULL ratio, not a dead job."""
    from cryptocurrency_data_pipeline_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1.0, 2.0),
            (float("nan"), None),
            (float("inf"), 4.0),
            (float("-inf"), float("nan")),
            (None, 5.0),
        ],
        "a double, b double",
    )
    got = {r.column: r for r in quality.nonfinite_audit(df, ["a", "b"]).collect()}
    a, b = got["a"], got["b"]
    assert (a.n_rows, a.n_null, a.n_nan, a.n_inf) == (5, 1, 1, 2)
    assert a.finite_ratio == 0.2
    assert (b.n_rows, b.n_null, b.n_nan, b.n_inf) == (5, 1, 1, 0)
    assert b.finite_ratio == 0.6

    empty = spark.createDataFrame([], "a double, b double")
    for r in quality.nonfinite_audit(empty, ["a", "b"]).collect():
        assert r.n_rows == 0 and r.finite_ratio is None


def test_nonfinite_audit_rejects_bad_inputs(spark):
    """Column names are interpolated into the stack() SQL — empty,
    missing, and non-identifier names must fail fast and clearly."""
    import pytest

    from cryptocurrency_data_pipeline_spark.operators import quality

    df = spark.createDataFrame([(1.0,)], "a double").withColumnRenamed(
        "a", "a b"
    )
    with pytest.raises(ValueError, match="at least one column"):
        quality.nonfinite_audit(df, [])
    with pytest.raises(ValueError, match="not in the frame"):
        quality.nonfinite_audit(df, ["missing"])
    with pytest.raises(ValueError, match="simple identifiers"):
        quality.nonfinite_audit(df, ["a b"])
