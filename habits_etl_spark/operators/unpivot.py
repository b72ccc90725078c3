"""Wide -> long normalization: the engine's core operator.

The reference does this row-at-a-time in Python (``unpivot_row``,
reference etl/transform.py:71-113): one wide form-response row with N habit
columns becomes <=N tidy events ``(ts, user_email, habit, value, notes)``.

Here the whole thing is compiled from the config into a single narrow
DataFrame program — build an array of per-habit structs, ``explode`` it,
filter — so it runs inside whole-stage codegen with *zero* Python on the
hot path and no shuffle. At 100 TB this is a pure map stage: it scales
linearly with input splits and preserves the upstream partitioning.

Semantics mirrored exactly:
- rows missing the date or email cell are dropped (etl/transform.py:77-78)
- blank/whitespace habit cells produce no event (etl/transform.py:92-94)
- bool habits coerce via the truthy set, with optional invert
  (etl/transform.py:96-99)
- number habits that fail float() produce no event (etl/transform.py:100-104)
- email lowercased/trimmed (etl/transform.py:81)
- notes columns concatenated as 'Col: val' joined by ' | ' (etl/transform.py:83-87)

One intentional strengthening: the reference crashes on a whitespace-only
or unparseable date cell (uncaught ValueError); the engine drops the row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from habits_etl_spark.config import PipelineConfig
from habits_etl_spark.functions.coerce import (
    blank_cell_filter_expr,
    bool_coerce_expr,
    email_normalize_expr,
    notes_concat_expr,
    number_coerce_expr,
)
from habits_etl_spark.functions.datetime_ops import parse_report_date_expr


def normalize_wide_rows(wide: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Compile the config into the wide->long normalization plan."""
    date_c = F.col(cfg.date_column)
    email_c = F.col(cfg.email_column)

    # Required-field gate (reference etl/transform.py:77-78). Python falsy
    # check: None or empty string.
    gated = wide.filter(
        date_c.isNotNull()
        & (date_c.cast("string") != "")
        & email_c.isNotNull()
        & (email_c.cast("string") != "")
    )

    ts = parse_report_date_expr(date_c, cfg.timezone)
    user_email = email_normalize_expr(email_c)
    notes = notes_concat_expr(
        {n: F.col(n) for n in cfg.notes_columns if n in wide.columns}
    )

    # One struct per configured habit: (habit, value, keep). The array is
    # built column-wise, exploded once — the Spark-native unpivot shape for
    # heterogeneous per-column coercion (plain df.unpivot can't vary the
    # coercion rule per value column).
    habit_structs = []
    for col_name, spec in cfg.habits.items():
        if col_name not in wide.columns:
            continue  # config may mention columns this tab doesn't have
        raw = F.col(col_name)
        non_blank = blank_cell_filter_expr(raw)
        if spec.type == "bool":
            value = bool_coerce_expr(raw, invert=spec.invert)
            keep = non_blank
        else:
            value = number_coerce_expr(raw)
            keep = non_blank & value.isNotNull()
        habit_structs.append(
            F.struct(
                F.lit(spec.id).alias("habit"),
                value.alias("value"),
                keep.alias("keep"),
            )
        )
    if not habit_structs:
        raise ValueError("config matched no habit columns in the input")

    exploded = (
        gated.select(
            ts.alias("ts"),
            user_email.alias("user_email"),
            notes.alias("notes"),
            F.explode(F.array(*habit_structs)).alias("h"),
        )
        .filter(F.col("h.keep") & F.col("ts").isNotNull())
        .select(
            "ts",
            "user_email",
            F.col("h.habit").alias("habit"),
            F.col("h.value").alias("value"),
            "notes",
            F.lit(cfg.source).alias("source"),
        )
    )
    return exploded
