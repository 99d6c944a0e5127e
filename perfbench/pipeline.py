"""The ingest pipeline as a user composes it from the program's public layers.

QC → initial visit → data types → links → coding → epi-week → locations →
``data`` write → threshold alerts and individual alert publishing → the
day's corrections through the stream path into an upsert.  Each step is
one call into the program; :class:`Layers` lets the traced run wrap every
call in a job group and time it on a materialized input.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from meerkat_abacus_spark.config import loaders
from meerkat_abacus_spark.functions.epi_week import epi_week_columns
from meerkat_abacus_spark.functions.dates import day_truncated, timestamp_of
from meerkat_abacus_spark.operators import (
    alerts,
    coding,
    initial_visit,
    links,
    locations,
    quality_control,
    send_alerts,
    to_data_type,
)
from meerkat_abacus_spark.plans.pipeline import surveillance_pipeline
from meerkat_abacus_spark.sinks import writers
from meerkat_abacus_spark.sources import batch
from meerkat_abacus_spark.streaming import foreach_batch

from perfbench import gen

EPI_CONFIG = "international"
PARTITION_BY = ["type", "epi_year"]
OUTPUT_COLUMNS = [
    "uuid", "type", "type_name", "date", "epi_year", "epi_week", "deviceid",
    "clinic", "district", "region", "zone", "clinic_type", "variables",
    "categories", "alert", "alert_reason", "disregard",
]
THRESHOLD_VARS = ["cmd_2", "cmd_3"]

LOCATION_SCHEMA = StructType([
    StructField("id", IntegerType()),
    StructField("name", StringType()),
    StructField("parent_location", IntegerType()),
    StructField("level", StringType()),
    StructField("deviceid", StringType()),
    StructField("clinic_type", StringType()),
])


@dataclass
class Config:
    rules: list
    import_rules: list
    links: list
    data_types: list


def load_config(inp: Path) -> Config:
    rules = loaders.load_rules_csv(inp / "codes.csv")
    return Config(
        rules=[r for r in rules if r.type != "import"],
        import_rules=[r for r in rules if r.type == "import"],
        links=loaders.load_links_csv(inp / "links.csv"),
        data_types=loaders.load_data_types_csv(inp / "data_types.csv"),
    )


def load_dims(spark: SparkSession, inp: Path) -> tuple[DataFrame, DataFrame]:
    """(clinic dimension keyed by deviceid, registered device list)."""
    locs = spark.read.csv(str(inp / "locations.csv"), header=True,
                          schema=LOCATION_SCHEMA)
    flat = locations.flatten_location_hierarchy(locs)
    clinics = locations.explode_deviceids(flat.filter("level = 'clinic'"))
    dim = clinics.selectExpr(
        "deviceid", "clinic_id AS clinic", "district_id AS district",
        "region_id AS region", "zone_id AS zone", "clinic_type",
    )
    devices = batch.read_form_csv(spark, str(inp / "devices.csv"))
    return dim.localCheckpoint(), devices.localCheckpoint()


class Layers:
    """Calls each layer; subclassed by the tracer to wrap every call."""

    request: str | None = None   # id of the unit of work being traced

    @contextlib.contextmanager
    def layer(self, name: str, request: str | None = None):
        yield None

    def step(self, name: str, df: DataFrame) -> DataFrame:
        """Hook between layers: the traced run materializes here."""
        return df


def quality_control_step(forms: dict[str, DataFrame], devices: DataFrame,
                         cfg: Config) -> dict[str, DataFrame]:
    out = {}
    for name, df in forms.items():
        df = quality_control.device_allowlist(df, devices)
        df = quality_control.submission_date_filter(
            df, "SubmissionDate", gen.SUBMISSION_CUTOFF)
        if name == "demo_case":
            df = quality_control.apply_import_rules(df, cfg.import_rules, EPI_CONFIG)
        out[name] = df
    return out


def initial_visit_step(case: DataFrame) -> DataFrame:
    return initial_visit.initial_visit_control(
        case, ["pt./pid"], "intro./visit", "pt./visit_date",
        module_column="intro./module", module_value="cd",
    )


def epi_week_step(df: DataFrame, date_column: str) -> DataFrame:
    date_col = day_truncated(timestamp_of(df, date_column))
    df = df.withColumn("date", date_col)
    epi_year, epi_week = epi_week_columns("date", EPI_CONFIG)
    return df.withColumns({"epi_year": epi_year, "epi_week": epi_week})


def record_steps(forms: dict[str, DataFrame], cfg: Config, dim: DataFrame,
                 layers: Layers, with_links: bool = True) -> DataFrame:
    """data types → links → coding → epi-week → locations, per data type.

    Mirrors ``plans.pipeline.surveillance_pipeline`` call for call, with a
    layer boundary between calls.
    """
    per_type = []
    for spec in cfg.data_types:
        if spec.form not in forms:
            continue
        with layers.layer("to_data_type"):
            df = layers.step("to_data_type",
                             to_data_type.fan_out_data_types(forms, [spec]))
        attached = []
        applicable = [l for l in cfg.links if l.type.lower() == spec.type.lower()]
        if with_links and applicable:
            with layers.layer("links"):
                df = layers.step("links", links.add_links(df, forms, applicable))
            attached = [l.name for l in applicable]
        type_rules = [
            r for r in cfg.rules
            if (not r.type or r.type.lower() == spec.type.lower())
            and (not r.multiple_link or r.form in attached)
        ]
        extra = {spec.var: "1", "data_entry": "1"} if spec.var else {"data_entry": "1"}
        with layers.layer("coding"):
            df = layers.step("coding", coding.code_dataframe(
                df, type_rules, EPI_CONFIG, extra_variables=extra))
        with layers.layer("epi_week"):
            df = layers.step("epi_week", epi_week_step(df, spec.date))
        per_type.append(df)
    out = per_type[0]
    for t in per_type[1:]:
        out = out.unionByName(t, allowMissingColumns=True)
    with layers.layer("locations"):
        out = locations.enrich_with_location(out, dim)
        out = layers.step("locations", out.withColumnRenamed("meta/instanceID", "uuid")
                          .select(*OUTPUT_COLUMNS))
    return out


def read_forms(spark: SparkSession, inp: Path) -> dict[str, DataFrame]:
    return {name: batch.read_form_csv(spark, str(inp / name))
            for name in ("demo_case", "demo_alert", "demo_register")}


def code_forms(forms: dict[str, DataFrame], cfg: Config, dim: DataFrame,
               layers: Layers | None, with_links: bool = True) -> DataFrame:
    """Typed, linked, coded, located ``data`` rows.

    Untraced runs call the program's own composition
    (``plans.pipeline.surveillance_pipeline``); the traced run calls the
    same layers one by one through :func:`record_steps`.
    """
    if layers is not None:
        return record_steps(forms, cfg, dim, layers, with_links)
    specs = [s for s in cfg.data_types if s.form in forms]
    data = surveillance_pipeline(forms, specs, cfg.rules,
                                 cfg.links if with_links else None, EPI_CONFIG)
    data = locations.enrich_with_location(data, dim)
    return data.withColumnRenamed("meta/instanceID", "uuid").select(*OUTPUT_COLUMNS)


def apply_corrections(spark: SparkSession, inp: Path, out: Path, cfg: Config,
                      dim: DataFrame, devices: DataFrame,
                      layers: Layers | None) -> None:
    """Drive the corrected re-submissions through the streaming path
    (file drop → ``foreach_batch.stream_pipeline`` → ``upsert_by_key``)
    into the ``data`` table just written."""
    lay = layers or Layers()
    lay.request = "corrections"

    def transform(envelopes: DataFrame) -> DataFrame:
        case = envelopes.select(*[F.col("data")[c].alias(c) for c in gen.CASE_FIELDS])
        forms = quality_control_step({"demo_case": case}, devices, cfg)
        return code_forms(forms, cfg, dim, layers, with_links=False)

    def sink(df: DataFrame, batch_id: int) -> None:
        with lay.layer("upsert"):
            writers.upsert_by_key(spark, df, str(out / "data"), ["uuid", "type"],
                                  partition_by=PARTITION_BY)

    with lay.layer("foreach_batch"):
        query = foreach_batch.stream_pipeline(
            spark, str(inp / "envelopes"), transform, sink, str(out / "checkpoint"))
        query.awaitTermination()


def ingest(spark: SparkSession, inp: Path, out: Path, cfg: Config,
           dim: DataFrame, devices: DataFrame, layers: Layers | None = None) -> dict:
    """Full re-code of the backlog under ``inp`` into ``out``, then the
    day's corrections through the stream path; returns counts."""
    lay = layers or Layers()
    with lay.layer("sources"):
        forms = {k: lay.step("sources", v) for k, v in read_forms(spark, inp).items()}
    with lay.layer("quality_control"):
        forms = {k: lay.step("quality_control", v)
                 for k, v in quality_control_step(forms, devices, cfg).items()}
    with lay.layer("initial_visit"):
        forms["demo_case"] = lay.step("initial_visit",
                                      initial_visit_step(forms["demo_case"]))
    data = code_forms(forms, cfg, dim, layers)
    with lay.layer("writers"):
        writers.append_sink(data, str(out / "data"), partition_by=PARTITION_BY)
    written = spark.read.parquet(str(out / "data"))
    with lay.layer("alerts"):
        pred = F.expr(" OR ".join(f"map_contains_key(variables, '{v}')"
                                  for v in THRESHOLD_VARS))
        threshold = alerts.threshold_alerts(
            written, pred, clinic_col="clinic", date_col="date", uuid_col="uuid",
            daily_limit=2, weekly_limit=3)
        threshold.write.mode("overwrite").parquet(str(out / "alerts"))
        rendered = send_alerts.render_alert_messages(
            written.withColumn("sub_alert", F.lit(0)), uuid_col="uuid",
            clinic_col="clinic", date_col="date")
        published = send_alerts.publish_alerts(rendered, silent=True)
    apply_corrections(spark, inp, out, cfg, dim, devices, layers)
    return {"published": published}
