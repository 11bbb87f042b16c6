"""The die-bonder daily batch pipeline, reimplemented Spark-first.

Semantics match ``/root/reference/src/daily_aggregator.py`` stage for
stage — CSV cleanse (:161-168), cycle sessionization (:32-67), threshold
errors (:70-116), enriched-event output (:173-188), hourly summary
(:193-265) — with the four deliberate fixes SURVEY.md §7C calls out:

1. **Stable ordering** — the reference tiebreaks equal timestamps with
   ``monotonically_increasing_id`` (:33), which varies with partitioning.
   Here the order is (event_timestamp, marker_rank, parameter_name): a
   ``Cycle_End`` sharing a millisecond with the next ``Cycle_Start`` (the
   generator emits exactly that) sorts End < measurements < Start, which
   reproduces file order deterministically on any partitioning.
2. **One shared pass** — the reference recomputes the whole lineage for
   its second write action (SURVEY.md §3 step 7) and joins per-cycle times
   back onto the events. Here both outputs read one persisted frame in
   which the per-cycle start and duration are window columns, so nothing
   is joined back and nothing but that frame is persisted.
3. **Idempotent summary** — the README documents a staging+merge the code
   never had (D1/D4); the parquet sink overwrites per ``summary_date``
   partition (re-running a day replaces it, byte-identical), and the JDBC
   sink does staging-overwrite + ``INSERT … ON CONFLICT DO UPDATE``
   (sources/jdbc.py).
4. **Exact durations** — cycle time is integer-µs difference / 1e6 (not a
   double-epoch subtraction), then rounded to 3dp like the reference.

Two further OUTPUT-SCHEMA deviations, also deliberate:

5. **``total_error_count`` is kept** in the hourly summary — the
   reference computes it (:256) and then drops it from the final select
   (:256-265); keeping it costs nothing (same aggregation pass) and the
   serving layer uses it.
6. **``value`` is rounded to 2dp** in the enriched-event output — the
   reference writes the raw float and lets Postgres ``NUMERIC(7,2)``
   round on insert (:173-188 + init_db.sql); the parquet sink has no
   column type to do that, so the rounding is applied in the plan to
   keep both sinks byte-equivalent.

Scale: the only shuffles are the per-machine window sort and the one
hourly aggregation. The per-cycle window is keyed by (machine_id,
cycle_seq), which the machine_id hash partitioning already satisfies, so
it adds a local sort and no exchange. One machine-day is ~1.15 M rows;
the machine_id key domain is what parallelizes a fleet.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from projekt_data_engineering_iubh_spark.operators.rules import with_error_flag
from projekt_data_engineering_iubh_spark.operators.sessionize import with_session_seq
from projekt_data_engineering_iubh_spark.pipeline.config import (
    CYCLE_END_EVENT,
    CYCLE_START_EVENT,
    PARAMETER_EVENT_MAPPING,
    TIMESTAMP_FORMAT_INPUT,
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("machine_id", T.StringType(), True),
        T.StructField("event_name", T.StringType(), True),
        T.StructField("parameter_name", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: schema'd CSV scan — no inference, bad rows surface as NULLs."""
    return spark.read.csv(path, header=True, schema=INPUT_SCHEMA)


def cleanse(raw: DataFrame) -> DataFrame:
    """P1-P6: parse timestamp, numeric cast (invalid → NULL), NULL policy.

    Under ANSI mode (Spark 4 default) plain to_timestamp/cast THROW on bad
    input; the reference ran Spark 3.5 non-ANSI where they yield NULL. The
    ``try_`` variants restore the reference's bad-row-tolerant semantics
    without disabling ANSI for everything else.
    """
    return (
        raw.withColumn(
            "event_timestamp",
            F.try_to_timestamp("timestamp", F.lit(TIMESTAMP_FORMAT_INPUT)),
        )
        .withColumn("value_num", F.col("value").try_cast("double"))
        .fillna("", subset=["parameter_name"])
        .dropna(subset=["event_timestamp", "machine_id", "event_name"])
        .drop("timestamp", "value")
        .withColumnRenamed("value_num", "value")
    )


def _marker_rank() -> F.Column:
    """Total-order rank for same-millisecond events: a Cycle_End that shares
    its timestamp with the following Cycle_Start must sort first so the
    running count assigns it to the *previous* cycle (file-order parity)."""
    return (
        F.when(F.col("event_name") == CYCLE_END_EVENT, 0)
        .when(F.col("event_name") == CYCLE_START_EVENT, 2)
        .otherwise(1)
    )


_CYCLE_ORDER = ["event_timestamp", "marker_rank", "parameter_name"]


def compute_cycles(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """W1 + A1 + P11: assign cycle_seq by running count of Cycle_Start per
    machine, then put each cycle's start timestamp and duration on every
    row of it. Returns (events_with_cycle_seq, cycle_times).

    The events frame gains ``cycle_start_ts`` and ``cycle_time_seconds``
    (NULL on the pre-cycle rows, cycle_seq 0) and ``cycle_head``, true on
    exactly one row per cycle. Start and end are the min/max marker
    timestamps over a window on (machine_id, cycle_seq) in the running
    count's order: that key refines the machine_id partitioning, so the
    second window costs a local sort and no exchange. ``cycle_times`` is
    the projection of the head rows, one row per cycle.
    """
    with_seq = with_session_seq(
        events.withColumn("marker_rank", _marker_rank()),
        partition_by=["machine_id"],
        order_by=_CYCLE_ORDER,
        is_marker=F.col("event_name") == CYCLE_START_EVENT,
        session_col="cycle_seq",
    )
    in_cycle = F.col("cycle_seq") > 0
    cycle = Window.partitionBy("machine_id", "cycle_seq").orderBy(*_CYCLE_ORDER)
    whole = cycle.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    marker_ts = F.when(
        in_cycle & F.col("event_name").isin(CYCLE_START_EVENT, CYCLE_END_EVENT),
        F.col("event_timestamp"),
    )
    bounds = with_seq.select(
        *events.columns,
        "cycle_seq",
        F.min(marker_ts).over(whole).alias("cycle_start_ts"),
        F.max(marker_ts).over(whole).alias("cycle_end_ts"),
        (in_cycle & (F.row_number().over(cycle) == 1)).alias("cycle_head"),
    )
    with_seq = bounds.select(
        *events.columns,
        "cycle_seq",
        "cycle_start_ts",
        F.round(
            (
                F.unix_micros("cycle_end_ts") - F.unix_micros("cycle_start_ts")
            )
            / F.lit(1000000.0),
            3,
        ).alias("cycle_time_seconds"),
        "cycle_head",
    )
    cycle_times = with_seq.filter("cycle_head").select(
        "machine_id", "cycle_seq", "cycle_start_ts", "cycle_time_seconds"
    )
    return with_seq, cycle_times


def flag_errors(events: DataFrame, rules: dict[str, Any]) -> DataFrame:
    """P12: compile the threshold config to one Column predicate."""
    return with_error_flag(events, rules, PARAMETER_EVENT_MAPPING)


def enriched_events(events_err: DataFrame) -> DataFrame:
    """J1 + P13 + P5: every event row with its cycle's duration."""
    return events_err.select(
        "event_timestamp",
        "machine_id",
        "event_name",
        "parameter_name",
        F.round("value", 2).alias("value"),
        "is_error",
        "cycle_seq",
        "cycle_time_seconds",
    )


def _force(name: str, param: str) -> F.Column:
    return F.when(
        (F.col("event_name") == name) & (F.col("parameter_name") == param),
        F.col("value"),
    )


def _or_zero(agg: F.Column) -> F.Column:
    """``fillna(0)`` of a count aggregate, as ``fillna`` builds it: the
    column is nullable in the schema, and the optimizer folds the cast, so
    the written parquet column is required."""
    return F.coalesce(agg, F.lit(0.0).cast("long"))


def _rounded(agg: F.Column, scale: int) -> F.Column:
    """``fillna(0)`` of a double aggregate (NULL and NaN become 0), then
    rounded to ``scale`` places."""
    return F.round(F.coalesce(F.nanvl(agg, F.lit(None)), F.lit(0.0)), scale)


def _err_count(param: str, event: str) -> F.Column:
    return _or_zero(
        F.sum(
            F.when(
                (F.col("parameter_name") == param)
                & (F.col("event_name") == event)
                & (F.col("is_error") == 1),
                1,
            ).otherwise(0)
        )
    )


def hourly_summary(events_err: DataFrame, cycle_times: DataFrame) -> DataFrame:
    """A2 + A3 + J2 + J3 + P14/P15/P13: the 19-column wide hourly rollup.

    Events bucket into the hour their *cycle started* (reference joins
    cycle_start_ts back before extracting date/hour, :207-214).
    ``events_err`` carries ``compute_cycles``' cycle columns, so one
    aggregate over the in-cycle rows yields both halves of the rollup; the
    cycle figures read only the one head row per cycle. The reference's
    full outer join of the two halves is exact as one aggregate: a cycle's
    head row lies in its own hour, so both halves have the same keys. The
    zero-fill and rounding that followed the join are kept, expression for
    expression, so schema and written files stay as they were.
    ``cycle_times`` is not read: the head rows carry the same values.
    """
    start = F.col("cycle_start_ts")
    head_time = F.when(F.col("cycle_head"), F.col("cycle_time_seconds"))
    return (
        events_err.filter(F.col("cycle_seq") > 0)
        .groupBy(
            F.to_date(start).alias("summary_date"),
            F.hour(start).alias("hour_of_day"),
            "machine_id",
        )
        .agg(
            _rounded(F.avg(_force("Pick_Check", "PP_Force")), 2).alias(
                "avg_pick_force"
            ),
            _rounded(F.max(_force("Pick_Check", "PP_Force")), 2).alias(
                "max_pick_force"
            ),
            _rounded(F.min(_force("Pick_Check", "PP_Force")), 2).alias(
                "min_pick_force"
            ),
            _rounded(F.avg(_force("Place_Check", "PP_Force")), 2).alias(
                "avg_place_force"
            ),
            _rounded(F.max(_force("Place_Check", "PP_Force")), 2).alias(
                "max_place_force"
            ),
            _rounded(F.min(_force("Place_Check", "PP_Force")), 2).alias(
                "min_place_force"
            ),
            _err_count("AS_VacuumUnits", "AS_Check").alias("as_vacuum_error_count"),
            _err_count("PP_VacuumUnits", "Pick_Check").alias(
                "pp_vacuum_error_count"
            ),
            _err_count("AS_VacuumUnits", "AS_Blowoff_Check").alias(
                "as_release_error_count"
            ),
            _err_count("PP_VacuumUnits", "Place_Check").alias(
                "pp_release_error_count"
            ),
            _err_count("PP_Force", "Pick_Check").alias("pick_force_error_count"),
            _err_count("PP_Force", "Place_Check").alias("place_force_error_count"),
            _or_zero(F.sum(F.when(F.col("cycle_head"), 1).otherwise(0))).alias(
                "cycle_count"
            ),
            _rounded(F.min(head_time), 3).alias("min_cycle_time_seconds"),
            _rounded(F.max(head_time), 3).alias("max_cycle_time_seconds"),
            _rounded(F.avg(head_time), 3).alias("avg_cycle_time_seconds"),
            _or_zero(F.sum("is_error")).alias("total_error_count"),
        )
    )


def transform(
    raw: DataFrame, rules: dict[str, Any]
) -> tuple[DataFrame, DataFrame]:
    """Full logical pipeline: raw CSV rows → (enriched events, hourly summary)."""
    events = cleanse(raw)
    with_seq, cycle_times = compute_cycles(events)
    events_err = flag_errors(with_seq, rules)
    return enriched_events(events_err), hourly_summary(events_err, cycle_times)


def run(
    spark: SparkSession,
    input_csv: str,
    output_dir: str,
    rules: dict[str, Any],
) -> dict[str, int]:
    """Execute the job against parquet sinks.

    * enriched events → append, partitioned by event date (a daily rerun
      appends duplicates, like the reference DB table — see note in D4);
    * hourly summary → **dynamic partition overwrite** on
      (summary_date, machine_id): re-running a machine-day replaces exactly
      that pair — the idempotent merge the reference documents but never
      implemented (D1), at the granularity its per-machine daily files
      actually arrive in. The mode is set on the writer, so the caller's
      session conf is left as it was.
    """
    events_path = f"{output_dir}/processed_machine_events"
    summary_path = f"{output_dir}/hourly_machine_summary"
    with_seq, cycle_times = compute_cycles(cleanse(read_events_csv(spark, input_csv)))
    events_err = flag_errors(with_seq, rules).persist()
    try:
        enriched = enriched_events(events_err).withColumn(
            "event_date", F.to_date("event_timestamp")
        )
        summary = hourly_summary(events_err, cycle_times)
        enriched.write.mode("append").partitionBy("event_date").parquet(events_path)
        # partition by (date, machine): a rerun of one machine-day replaces
        # exactly that pair — partitioning by date alone would clobber other
        # machines' rows for the same day when jobs run per machine-file
        (
            summary.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("summary_date", "machine_id")
            .parquet(summary_path)
        )
        # the written schemas are known: reading with them skips the
        # footer-inference job of each count
        n_events = spark.read.schema(enriched.schema).parquet(events_path).count()
        n_summary = spark.read.schema(summary.schema).parquet(summary_path).count()
        return {"events": n_events, "summary_rows": n_summary}
    finally:
        events_err.unpersist()


def validate_input_filename(name: str) -> str | None:
    """CLI arg validation (reference P19, daily_aggregator.py:292-301):
    bare ``*.csv`` filename — returns an error string or None."""
    if not name or "/" in name or "\\" in name or not name.lower().endswith(".csv"):
        return f"invalid file name {name!r}: expected a bare *.csv filename"
    return None


def main(argv: list[str]) -> int:
    """``python -m …pipeline.daily_aggregator <file.csv> [data_dir] [out_dir]``

    The reference's spark-submit entry point (§3 entry 1), against parquet
    sinks: file lives under ``data_dir`` (default ./raw_data), outputs
    under ``out_dir`` (default ./warehouse), rules from
    ``SCHWELLWERTE_PATH`` env or built-in defaults.
    """
    import os

    from projekt_data_engineering_iubh_spark.pipeline.config import load_rules
    from projekt_data_engineering_iubh_spark.session import get_spark

    if len(argv) < 2:
        print("usage: daily_aggregator.py <file.csv> [data_dir] [out_dir]")
        return 1
    err = validate_input_filename(argv[1])
    if err:
        print(err)
        return 1
    data_dir = argv[2] if len(argv) > 2 else "./raw_data"
    out_dir = argv[3] if len(argv) > 3 else "./warehouse"
    rules_path = os.environ.get("SCHWELLWERTE_PATH")
    rules = load_rules(rules_path) if rules_path else load_rules(None)
    spark = get_spark(f"daily_aggregator_{argv[1]}")
    try:
        counts = run(spark, os.path.join(data_dir, argv[1]), out_dir, rules)
        print(counts)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    import sys

    raise SystemExit(main(sys.argv))
