"""Job / batch accounting (A1-A4) as conditional aggregations.

The reference keeps Job/Batch counters in Postgres and updates them one row
at a time on every batch completion (update_job_with_batch, reference
src/services/database/job_service.py:32-51). In Spark the same facts are a
single hash aggregation over a status DataFrame — partial aggregation
(map-side combine) comes free from Catalyst, so this scales to billions of
batch rows with one shuffle on job_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorflow_spark.config import BatchStatus, JobStatus


def job_rollup(batch_status: DataFrame, job_col: str = "job_id", status_col: str = "batch_status") -> DataFrame:
    """A1: per-job rollup with the reference's terminal-status rule —
    COMPLETED if every batch succeeded, FAILED if none did,
    PARTIALLY_COMPLETED otherwise (job_service.py:41-51)."""
    succeeded = F.sum(F.when(F.col(status_col) == BatchStatus.COMPLETED.value, 1).otherwise(0))
    processed = F.count(F.lit(1))
    return (
        batch_status.groupBy(job_col)
        .agg(
            processed.alias("batches_processed"),
            succeeded.alias("batches_succeeded"),
        )
        .withColumn(
            "job_status",
            F.when(F.col("batches_succeeded") == F.col("batches_processed"), F.lit(JobStatus.COMPLETED.value))
            .when(F.col("batches_succeeded") > 0, F.lit(JobStatus.PARTIALLY_COMPLETED.value))
            .otherwise(F.lit(JobStatus.FAILED.value)),
        )
    )


def upload_report(manifest: DataFrame, class_col: str = "outcome") -> DataFrame:
    """A4: per-request ingest report — counts by outcome class (successful /
    failed / empty_file / duplicate_file, reference src/api/app.py:88-147)."""
    return manifest.groupBy(class_col).agg(F.count(F.lit(1)).alias("n"))


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """ANALYZE-style column profile: (column_name, n_rows, n_nulls,
    n_distinct) per column — the stats that drive layout choices (z-order
    candidates, broadcast thresholds, skew detection) and that a catalog
    would persist for CBO.

    One aggregation job for the whole table: Catalyst plans the
    multi-distinct via a single Expand (#cols replicas of each row,
    map-side partial aggregation applies), which is the exact-count scale
    ceiling — at 100 TB you'd flip the distinct counts to HLL
    (approx_count_distinct) and keep the same one-pass shape; counts are
    kept exact here so the result is engine-hashable. The wide->long
    reshape runs on the single aggregated row, not on data."""
    cols = columns or df.columns
    aggs: list = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _n, _n - _nn_{c}, _nd_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column_name, n_rows, n_nulls, n_distinct)"
        )
    )


def rolling_zscore_flags(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
    window_rows: int = 20,
    min_history: int = 10,
    z_threshold: int = 3,
    quant: int = 100,
) -> DataFrame:
    """Per-key rolling anomaly flags: is the current value more than
    ``z_threshold`` standard deviations from the trailing-window mean?

    The z-test is evaluated ENTIRELY in integer arithmetic: values are
    quantized to ``1/quant`` units, and ``|x - mu| > z * sigma`` is squared
    and cleared of divisions into

        (x*n - s)^2 > z^2 * (n*ss - s^2)

    with s = sum, ss = sum of squares over the window — no float mean, no
    float sqrt, so the flags are bit-identical across engines and immune
    to accumulation-order noise (a float stddev differs between Spark and
    DuckDB in the last ulp, which is exactly where a threshold comparison
    flips). One shuffle on the key; the window sums are O(1) per row.
    ``min_history`` suppresses flags until the window has enough rows for
    the statistic to mean anything."""
    from pyspark.sql import Window

    q = F.floor(F.col(value_col) * quant + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    base = events.withColumn("_q", q)
    n = F.count(F.lit(1)).over(w)
    s = F.sum("_q").over(w)
    ss = F.sum(F.col("_q") * F.col("_q")).over(w)
    lhs = (F.col("_q") * n - s) * (F.col("_q") * n - s)
    rhs = F.lit(z_threshold * z_threshold) * (n * ss - s * s)
    return base.select(
        key_col,
        id_col,
        F.col("_q").alias("qvalue"),
        ((lhs > rhs) & (n >= min_history)).alias("is_anomaly"),
    )


def width_bucket_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Equi-width histogram over [lo, hi): (bin, bin_lo, bin_hi, cnt) with
    underflow clamped into bin 0 and overflow into bin nbins-1 (SQL
    width_bucket semantics minus the sentinel buckets). One map-side-
    combinable aggregation over at most ``nbins`` groups — the shuffle
    carries the histogram, not the data, so it is 100 TB-safe by
    construction. Bin edges are double literals folded by Catalyst."""
    width = (hi - lo) / nbins
    bin_expr = F.least(
        F.lit(nbins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - lo) / width).cast("int")),
    )
    return (
        df.groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("bin_hi"),
            "cnt",
        )
    )
