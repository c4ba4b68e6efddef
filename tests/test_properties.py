"""Property-based tests (hypothesis): operator semantics vs an
independent pandas computation on arbitrary small inputs — catches the
edge cases fixed fixtures never hit (ties, empty groups, all-equal
values, negative values)."""

from __future__ import annotations

import datetime

import pandas as pd
from hypothesis import given, settings, strategies as st

ROW = st.tuples(
    st.integers(min_value=0, max_value=3),               # key
    st.integers(min_value=0, max_value=10_000),          # ts offset seconds
    st.floats(min_value=-100, max_value=100,
              allow_nan=False, allow_infinity=False),    # value
)
BASE_TS = datetime.datetime(2024, 1, 1)


def _df(spark, rows):
    data = [
        (i, k, BASE_TS + datetime.timedelta(seconds=s), float(v))
        for i, (k, s, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE"
    )


@settings(max_examples=15, deadline=None)
@given(st.lists(ROW, min_size=1, max_size=30))
def test_latest_per_key_property(spark, rows):
    """latest_per_key == pandas idxmax on (ts, event_id) per key —
    including duplicate-timestamp ties, which the event_id tiebreak
    must resolve identically."""
    from iot_etl_spark.operators.latest import latest_per_key

    df = _df(spark, rows)
    got = {
        r.user_id: r.event_id
        for r in latest_per_key(
            df, key_cols=("user_id",), time_col="ts", tiebreak_col="event_id"
        ).collect()
    }
    pdf = df.toPandas()
    expected = {
        int(k): int(g.sort_values(["ts", "event_id"], ascending=[False, False])
                    .iloc[0].event_id)
        for k, g in pdf.groupby("user_id")
    }
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(st.lists(ROW, min_size=1, max_size=30))
def test_zscore_guard_property(spark, rows):
    """z-score: (x - mean)/stddev per key with the stddev>0 guard —
    single-row and all-equal groups must yield z == 0.0, never NaN/null
    (spark_transform.py:168-170 semantics)."""
    from iot_etl_spark.operators.anomaly import add_zscore_anomaly

    df = _df(spark, rows)
    out = add_zscore_anomaly(df, key_cols=("user_id",)).toPandas()
    assert out.z_score.notna().all()
    pdf = df.toPandas()
    stats = pdf.groupby("user_id")["value"].agg(["mean", "std", "count"])
    vmax = pdf.groupby("user_id")["value"].apply(lambda s: s.abs().max())
    for _, r in out.iterrows():
        mean, std, n = stats.loc[r.user_id]
        if n < 2 or pd.isna(std) or std == 0:
            assert r.z_score == 0.0
        elif std <= 1e-9 * max(1.0, vmax.loc[r.user_id]):
            # Ill-conditioned group: spread within a few ulps of the
            # values' magnitude (Hypothesis found values 1 ulp apart).
            # Spark's stddev_samp accumulation may legitimately collapse
            # to exactly 0 (guard -> z=0) or differ from pandas in the
            # last bits, amplified by 1/std into an arbitrary z. Either
            # is faithful; only require non-null (asserted above).
            continue
        else:
            assert abs(r.z_score - (r.value - mean) / std) < 1e-9 * max(
                1.0, abs(r.z_score)
            )


@settings(max_examples=10, deadline=None)
@given(st.lists(ROW, min_size=1, max_size=25))
def test_rolling_range_frame_property(spark, rows):
    """5-minute range-frame rolling mean == brute-force per-row average
    over [ts-300s, ts] within the key (frame inclusivity both ends)."""
    from iot_etl_spark.operators.rolling import add_rolling_features

    df = _df(spark, rows)
    out = add_rolling_features(df, key_cols=("user_id",)).toPandas()
    pdf = df.toPandas()
    pdf["tse"] = pdf.ts.astype("int64") // 10**9
    for _, r in out.iterrows():
        tse = int(pd.Timestamp(r.ts).value // 10**9)
        window = pdf[(pdf.user_id == r.user_id) & (pdf.tse >= tse - 300) & (pdf.tse <= tse)]
        assert abs(r.rolling_avg_5min - window.value.mean()) < 1e-9


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),                    # id (dups likely)
            st.one_of(st.none(), st.floats(min_value=-50, max_value=200,
                                           allow_nan=False)),         # value
            st.sampled_from(["a", "b", "z"]),                         # category
        ),
        min_size=1,
        max_size=25,
    )
)
def test_constraint_report_property(spark, rows):
    """constraint_report == independent pandas recomputation for every
    rule kind, on arbitrary frames with nulls, duplicates, and
    out-of-range/-vocabulary values."""
    from iot_etl_spark.operators.quality import (
        accepted_values,
        constraint_report,
        in_range,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [(int(i), v if v is None else float(v), c) for i, v, c in rows],
        "id LONG, value DOUBLE, cat STRING",
    )
    rep = {
        r.constraint: r
        for r in constraint_report(
            df,
            [
                not_null("value"),
                in_range("value", 0, 100),
                accepted_values("cat", ["a", "b"]),
                unique("id"),
            ],
        ).collect()
    }
    pdf = df.toPandas()
    n = len(pdf)
    assert all(r.n_rows == n for r in rep.values())
    assert rep["not_null_value"].n_violations == int(pdf["value"].isna().sum())
    inr = pdf["value"].dropna()
    assert rep["in_range_value"].n_violations == int(((inr < 0) | (inr > 100)).sum())
    assert rep["accepted_values_cat"].n_violations == int((~pdf["cat"].isin(["a", "b"])).sum())
    assert rep["unique_id"].n_violations == n - pdf["id"].nunique()
    for r in rep.values():
        assert r.passed == (r.n_violations == 0)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "signup", "error"]),
            st.integers(min_value=0, max_value=200_000_000_000),
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_funnel_greedy_fold_equals_min_construction(events):
    """The streaming funnel's greedy in-order fold must equal the
    batch twin's staged-MIN semantics on ANY time-ordered event
    sequence: s1 = min view; s2 = min click in (s1, s1+W];
    s3 = min purchase in (s2, s1+W]."""
    import pandas as pd

    from iot_etl_spark.streaming.stateful import (
        FUNNEL_WINDOW_US,
        _fold_funnel,
    )

    events = sorted(events, key=lambda e: e[1])
    pdf = pd.DataFrame(
        {"event_type": [e[0] for e in events], "t": [e[1] for e in events]}
    )
    g1, g2, g3 = _fold_funnel(pdf, None, None, None)

    views = [t for et, t in events if et == "view"]
    s1 = min(views) if views else None
    s2 = s3 = None
    if s1 is not None:
        clicks = [
            t for et, t in events
            if et == "click" and s1 < t <= s1 + FUNNEL_WINDOW_US
        ]
        s2 = min(clicks) if clicks else None
    if s2 is not None:
        purchases = [
            t for et, t in events
            if et == "purchase" and s2 < t <= s1 + FUNNEL_WINDOW_US
        ]
        s3 = min(purchases) if purchases else None
    assert (g1, g2, g3) == (s1, s2, s3)

    # batch-boundary invariance: splitting the sequence anywhere and
    # folding the halves through carried state gives the same anchors
    for cut in (0, len(events) // 2, len(events)):
        a, b = pdf.iloc[:cut], pdf.iloc[cut:]
        h = _fold_funnel(b, *_fold_funnel(a, None, None, None))
        assert h == (g1, g2, g3), f"cut at {cut} diverged"
