"""Property-based tests (hypothesis): the alert state machine against
a pure-Python reference on random match sequences, hashing/fold
invariants, and P7 schema-cast routing."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from matano_spark.operators.alerts import aggregate_alerts
from matano_spark.schema.cast import apply_schema
from tests.alert_reference import reference_fold

T0 = dt.datetime(2024, 5, 1, 0, 0, 0)


# One spark-backed hypothesis test keeps runtime sane: moderate examples,
# distinct offsets (equal timestamps have no deterministic tie order in
# the reference fold either).
@settings(max_examples=15, deadline=None)
@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=4 * 3600), min_size=1, max_size=40,
        unique=True,
    ),
    threshold=st.integers(min_value=1, max_value=5),
    window_minutes=st.sampled_from([5, 30, 60]),
)
def test_alert_state_machine_matches_reference(spark_global, offsets, threshold, window_minutes):
    spark = spark_global
    rows = [
        ("r", "k", T0 + dt.timedelta(seconds=off), f"m{off}") for off in offsets
    ]
    df = spark.createDataFrame(
        rows, "rule_name string, dedupe string, ts timestamp, match_id string"
    )
    got = sorted(
        (
            (r.first_matched_at, r.last_matched_at, r.match_count, r.activated,
             r.created_at)
            for r in aggregate_alerts(
                df, threshold=threshold, window_seconds=window_minutes * 60
            ).collect()
        )
    )
    expect = sorted(
        (a["first"], a["last"], a["n"], a["act"], a["created"])
        for a in reference_fold(
            [T0 + dt.timedelta(seconds=off) for off in offsets],
            threshold,
            window_minutes * 60,
        )
    )
    assert got == expect


# Register a session fixture alias usable inside @given (function-scoped
# fixtures don't mix with hypothesis).
import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


def test_apply_schema_routes_mismatches(spark):
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("port", T.LongType()),
                        T.StructField("host", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            ("1", ("443", "a")),
            ("oops", ("80", "b")),      # n fails
            ("3", ("not-a-port", "c")),  # meta.port fails
            (None, (None, "d")),         # nulls are fine
        ],
        "n string, meta struct<port:string, host:string>",
    )
    good, bad = apply_schema(df, schema)
    assert good.schema["n"].dataType == T.LongType()
    good_rows = {r.asDict(recursive=True)["meta"]["host"] for r in good.collect()}
    assert good_rows == {"a", "d"}
    bad_rows = {
        r.asDict(recursive=True)["meta"]["host"]: r.mismatch_fields
        for r in bad.collect()
    }
    assert bad_rows == {"b": ["n"], "c": ["meta"]}


def test_apply_schema_flags_scalar_where_struct_declared(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "geo", T.StructType([T.StructField("city", T.StringType())])
            ),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, "not-a-struct", "not-an-array"),  # geo + tags both mismatch
            (2, None, None),                      # nulls fine
        ],
        "id long, geo string, tags string",
    )
    good, bad = apply_schema(df, schema)
    assert [r.id for r in good.collect()] == [2]
    b = bad.collect()
    assert len(b) == 1
    assert sorted(b[0].mismatch_fields) == ["geo", "tags"]


# --- as-of join vs pandas merge_asof (independent reference) ---------

@settings(max_examples=10, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=30,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=0, max_size=30,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    import pandas as pd

    from matano_spark.operators.temporal import asof_join

    # unique right (key, ts): merge_asof tie behavior on duplicate right
    # timestamps is positional, ours is undefined — dedup like any asof
    # engine requires (keep max payload for determinism)
    rdict = {}
    for k, ts, v in right:
        rdict[(k, ts)] = max(v, rdict.get((k, ts), -1))
    right_rows = [(k, ts, v) for (k, ts), v in sorted(rdict.items())]
    left_rows = [(i, k, ts) for i, (k, ts) in enumerate(left)]

    ldf = spark.createDataFrame(
        [(i, k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts))
         for i, k, ts in left_rows],
        "row_id long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts), v)
         for k, ts, v in right_rows],
        "k long, ts timestamp, v long",
    ) if right_rows else spark.createDataFrame(
        [], "k long, ts timestamp, v long"
    )

    ours = {
        r.row_id: (r.asof_v, r.asof_ts)
        for r in asof_join(ldf, rdf, key="k").collect()
    }

    if not right_rows:
        assert all(v is None and t is None for v, t in ours.values())
        return

    lp = pd.DataFrame(
        [(i, k, pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=ts))
         for i, k, ts in left_rows],
        columns=["row_id", "k", "ts"],
    ).sort_values("ts", kind="mergesort")
    rp = pd.DataFrame(
        [(k, pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=ts), v)
         for k, ts, v in right_rows],
        columns=["k", "ts", "v"],
    ).sort_values("ts", kind="mergesort")
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="backward",
        suffixes=("", "_r"),
    )
    for _, row in merged.iterrows():
        got_v, got_ts = ours[row.row_id]
        if pd.isna(row.v):
            assert got_v is None and got_ts is None
        else:
            assert got_v == int(row.v)
