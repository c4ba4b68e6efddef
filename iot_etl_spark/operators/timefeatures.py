"""Time-derived feature columns.

Reference: ``batch_etl/spark_transform.py:95-110`` adds hour /
day-of-week / month / is_weekend / is_business_hours with
``withColumn`` chains; here they are one ``withColumns`` projection,
analysed once. Spark's ``dayofweek`` is 1=Sunday (the reference's
weekend test is ``isin([1,7])`` at ``spark_transform.py:106``). All
expressions are built-in Column ops — fully Catalyst-optimizable, no
UDFs (SURVEY.md §2.10).

DELIBERATE DIVERGENCE from the reference: its ``is_business_hours`` is
``hour >= 9 AND hour <= 17`` with no weekday test
(``spark_transform.py:107``) — 9 hours long (9:00-17:59) and true on
weekends. This engine uses the half-open ``9 <= hour < 17`` AND a
weekday requirement: an 8-hour 9-to-5 that excludes Saturday/Sunday.
Every oracle twin encodes the engine semantics, so the divergence is
intentional, documented, and parity-checked on both sides (like the
watermark and DISTINCT-ON tiebreak corrections).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

BUSINESS_HOUR_START = 9
BUSINESS_HOUR_END = 17


def add_time_features(df: DataFrame, time_col: str = "ts") -> DataFrame:
    t = F.col(time_col)
    hour = F.hour(t)
    dow = F.dayofweek(t)  # 1=Sunday .. 7=Saturday
    return df.withColumns({
        "hour_of_day": hour,
        "day_of_week": dow,
        "month": F.month(t),
        "is_weekend": dow.isin([1, 7]),
        "is_business_hours":
            (hour >= BUSINESS_HOUR_START) & (hour < BUSINESS_HOUR_END) & ~dow.isin([1, 7]),
    })
