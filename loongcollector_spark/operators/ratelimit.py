"""Rate limiting — processor_rate_limit (plugins/processor/ratelimit/
processor_rate_limit.go:26, token bucket plugins/processor/ratelimit/
token_bucket.go:83-127): per distinct value-combination of ``Fields``, pass at
most ``rate`` events per second.

``rate_limit_batch`` is the deterministic batch analog: at most N rows per
key per event-time window, earliest-first (row_number over (key, window)).
One shuffle on (key) — the window lives inside the partition ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def rate_limit_batch(
    df: DataFrame,
    key_cols: list[str],
    limit_per_window: int,
    ts_col: str = "ts",
    window_sec: int = 1,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the first ``limit_per_window`` rows per key per window_sec bucket
    (event-time order; pass ``tiebreak_cols`` for deterministic results when
    timestamps collide)."""
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / window_sec)
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols, bucket.alias("_b")).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit_per_window)
        .drop("_rn")
    )
