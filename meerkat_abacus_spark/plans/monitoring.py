"""Step monitoring via Spark's native Observation API.

Reference parity: the pipeline worker writes one ``step_monitoring`` row
per step per chunk — ``(step, n, start_time, end_time, duration)``
(reference ``pipeline_worker/process_steps/__init__.py:39-57``, table
``model.py:87-94``) — its only always-on instrumentation.

The Spark-native translation is ``df.observe(Observation, ...)``:
aggregates computed ON THE SAME PASS as the consuming action, so counting
rows through each pipeline stage costs zero extra jobs and zero extra
scans (a naive ``df.count()`` per step would re-run the lineage — the
exact anti-pattern the reference's per-step Postgres round-trips embody).

Usage::

    mon = StepMonitor()
    df = mon.observe(df, "quality_control")
    ...more stages, each wrapped...
    result.write...                      # one action drives the whole plan
    mon.rows()                           # [(step, n_rows, wall_s), ...]

Per-step DURATION does not exist in a fused plan (stages pipeline inside
one whole-stage-codegen pass; that fusion is the point), so the per-step
ROW counts are the load-bearing parity metric.  What IS recorded per step
is ``available_at_s`` — seconds from monitor creation until that step's
metrics became available (i.e. the driving action completed it) — plus the
fleet-wide ``elapsed_total_s``; neither is labeled as a per-step duration
(the reference's per-step duration column has no fused-plan equivalent,
and mislabeling a shared constant as one would misrepresent parity).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


class StepMonitor:
    """Collects per-step row counts through a composed plan via
    ``Observation`` — readable after the first action touches the plan."""

    def __init__(self) -> None:
        self._obs: list[tuple[str, Observation]] = []
        self._t0 = time.time()

    def observe(self, df: DataFrame, step: str) -> DataFrame:
        ob = Observation(step)
        self._obs.append((step, ob))
        return df.observe(ob, F.count(F.lit(1)).alias("n"))

    def rows(self) -> list[tuple[str, int, float]]:
        """``(step, n_rows, available_at_s)`` per observed step;
        ``available_at_s`` is seconds from monitor creation until the
        step's metrics resolved (blocks on the driving action)."""
        out = []
        for step, ob in self._obs:
            n = ob.get["n"]  # blocks until the action completes this step
            out.append((step, n, round(time.time() - self._t0, 3)))
        return out

    def to_df(self, spark) -> DataFrame:
        """The reference's step_monitoring table shape, appendable to any
        sink (model.py:87-94).  ``elapsed_total_s`` is the SHARED
        monitor-lifetime wall (identical on every row by construction),
        kept separate from the per-step availability timestamp."""
        rows = self.rows()
        total = round(time.time() - self._t0, 3)
        return spark.createDataFrame(
            [(*r, total) for r in rows],
            schema=(
                "step string, n long, available_at_s double, "
                "elapsed_total_s double"
            ),
        )
