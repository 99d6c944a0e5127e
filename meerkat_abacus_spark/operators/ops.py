"""Ops mirroring: dead-letter capture (reference step_failures table).

Reference: step_failures (model.py:47-54, per-record error capture —
pipeline.py:91-109).  Its sibling ops table, step_monitoring
(model.py:87-94), is mirrored by ``plans.monitoring.StepMonitor``.

Spark disposition: per-record try/except disappears (plans either compile or
don't); what remains meaningful is a dead-letter DataFrame for rows failing
semantic validation.  Deep metrics (shuffle bytes, spill) belong to the
Spark UI / SparkListener — this mirror covers the reference's analytical
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def make_step_failures(
    bad: DataFrame, step_name: str, error_col: str | None = None
) -> DataFrame:
    """Dead-letter rows → step_failures shape (model.py:47-54):
    (data JSON, form, step_name, error)."""
    form = F.col("form") if "form" in bad.columns else F.lit(None).cast("string")
    err = (
        F.col(error_col)
        if error_col and error_col in bad.columns
        else F.lit(None).cast("string")
    )
    payload = F.to_json(
        F.struct(*[F.col(c) for c in bad.columns if c not in ("form",)])
    )
    return bad.select(
        payload.alias("data"),
        form.alias("form"),
        F.lit(step_name).alias("step_name"),
        err.alias("error"),
        F.current_timestamp().alias("captured_at"),
    )
