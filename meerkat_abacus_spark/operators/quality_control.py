"""Quality-control step as declarative filters/projections.

Reference: meerkat_abacus/pipeline_worker/process_steps/quality_control.py
(248 LoC, row-at-a-time).  Every sub-operator here is a pushdown-friendly
DataFrame transform: the sample/date filters reach the parquet scan as
PushedFilters, the exclusion list is a (broadcastable) anti-join, the device
allowlist a semi-join — all shuffle-free when the dimension side broadcasts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meerkat_abacus_spark.functions.cols import qcol
from meerkat_abacus_spark.functions.dates import timestamp_of
from meerkat_abacus_spark.operators.coding import Rule, compile_rule_test


def submission_date_filter(
    df: DataFrame, submission_col: str, only_import_after: str
) -> DataFrame:
    """F2 — drop rows submitted before the cutoff (quality_control.py:110-114).

    The parse goes through :func:`timestamp_of`: an already-typed
    timestamp/date column costs one cast, only string columns pay the
    11-arm multiformat parse (r9: the string-render-then-reparse of a
    typed column was 1.5 s of qc_filters' 1.7 s at sf0.1)."""
    ts = timestamp_of(df, submission_col)
    return df.filter(ts >= F.to_timestamp(F.lit(only_import_after)))


def exclusion_anti_join(
    df: DataFrame, exclusion: DataFrame, key: str = "uuid"
) -> DataFrame:
    """F3 — drop rows whose uuid is on the exclusion list
    (quality_control.py:89-90).  LEFT ANTI + broadcast: exclusion lists are
    tiny config artifacts, so no shuffle of the fact side.

    No ``distinct()`` on the build side (r16, guide §2.4): anti-join
    semantics are unchanged by build-side duplicates (the hash relation
    is a key lookup), and the distinct cost a full Exchange + two
    HashAggregates of the exclusion table before every broadcast."""
    return df.join(F.broadcast(exclusion.select(key)), on=key, how="left_anti")


def device_allowlist(
    df: DataFrame,
    devices: DataFrame,
    device_col: str = "deviceid",
    allow_enketo_urls: list[str] | None = None,
) -> DataFrame:
    """F4 — keep registered devices (quality_control.py:151-187).

    ``allow_enketo`` fallback: a row passes if its deviceid contains any of
    the configured substrings (quality_control.py:166-172).

    The semi-join branch broadcasts the RAW device list (r16, guide §2.4):
    semi-join semantics ignore build-side duplicates, so the former
    ``distinct()`` only added an Exchange + two HashAggregates per call.
    The left-outer enketo branch keeps the distinct — there a duplicated
    device row would duplicate fact rows.
    """
    dev_keys = devices.select(qcol(device_col).alias("__dev"))
    if allow_enketo_urls:
        dev = F.broadcast(dev_keys.distinct())
        enketo = reduce(
            lambda a, b: a | b,
            [qcol(device_col).contains(F.lit(u)) for u in allow_enketo_urls],
        )
        matched = df.join(dev, df[device_col] == dev["__dev"], "left")
        return matched.filter(F.col("__dev").isNotNull() | enketo).drop("__dev")
    dev = F.broadcast(dev_keys)
    return df.join(dev, df[device_col] == dev["__dev"], "left_semi")


def clinic_start_date_filter(
    df: DataFrame,
    clinics: DataFrame,
    device_col: str = "deviceid",
    submission_col: str = "SubmissionDate",
    start_date_col: str = "start_date",
) -> DataFrame:
    """F5 — drop rows submitted before their clinic's start date
    (quality_control.py:179-183)."""
    dim = F.broadcast(
        clinics.select(
            qcol(device_col).alias("__dev"), qcol(start_date_col).alias("__start")
        )
    )
    ts = timestamp_of(df, submission_col)
    return (
        df.join(dim, df[device_col] == dim["__dev"], "left")
        .filter(F.col("__start").isNull() | (ts >= F.col("__start")))
        .drop("__dev", "__start")
    )


def date_validity_filter(
    df: DataFrame, date_col: str, epi_config: str | dict = "international"
) -> DataFrame:
    """F6 — the per-data-type date column must parse AND convert to an epi
    week (quality_control.py:190-245, ``_validate_date_to_epi_week_convertion``).

    Under a per-year dict epi config a date before the earliest configured
    start has no epi year — the reference logs and DROPS the row (reference
    test ``test_bypass_if_date_out_of_custom_epi_config``); string configs
    convert every parseable date, so only the parse check applies.
    """
    ts = timestamp_of(df, date_col)
    ok = ts.isNotNull()
    if isinstance(epi_config, dict):
        from meerkat_abacus_spark.functions.epi_week import epi_week_columns

        epi_year, _ = epi_week_columns(ts, epi_config)
        ok = ok & epi_year.isNotNull()
    return df.filter(ok)


def validate_datetype_dates(
    df: DataFrame,
    data_types,
    epi_config: str | dict = "international",
) -> DataFrame:
    """F6 form-level date gate (quality_control.py:190-245,
    ``_validate_date_to_epi_week_convertion``): a form row is DROPPED when
    any data type whose condition it fulfills has a date cell that is empty,
    unparseable, or outside the epi config's convertible range.

    Mirrors the reference's per-filter loop as one OR of per-spec violation
    predicates — same verdicts, one projection.  ``$``-group date columns
    validate the first group's column (the reference intends ``$``→``1``;
    its ``str.replace`` result is discarded at quality_control.py:229 — a
    no-op bug — we implement the intent).  A date column absent from the
    form counts as empty, like the reference's empty-cell branch.
    """
    violated: Column = F.lit(False)
    for spec in data_types:
        if not spec.date:
            continue
        date_col = spec.date.replace("$", "1")
        if spec.condition and spec.db_column:
            applicable = qcol(spec.db_column).cast("string") == spec.condition
        else:
            applicable = F.lit(True)
        if date_col not in df.columns:
            bad: Column = F.lit(True)
        else:
            ts = timestamp_of(df, date_col)
            bad = ts.isNull()
            if isinstance(epi_config, dict):
                from meerkat_abacus_spark.functions.epi_week import (
                    epi_week_columns,
                )

                epi_year, _ = epi_week_columns(ts, epi_config)
                bad = bad | epi_year.isNull()
        violated = violated | (F.coalesce(applicable, F.lit(False)) & bad)
    return df.filter(~violated)


def apply_import_rules(
    df: DataFrame, rules: list[Rule], epi_config: str | dict = "international"
) -> DataFrame:
    """F7 — type="import" QC rules (quality_control.py:116-139).

    A failing rule — the reference fires on ``not test(...)['value']``
    (quality_control.py:122-136), which is ALSO true for empty cells, so
    empty cells are discarded/replaced/nulled exactly like failing values:
    - ``category == ["discard"]``      → drop the whole row
    - ``category == ["replace:<col>"]`` → replace the cell from another column
    - otherwise                        → null out the cell
    """
    out = df
    for rule in rules:
        passed, _ = compile_rule_test(rule, epi_config)
        col = rule.columns_per_test()[0][0]
        violated = ~F.coalesce(passed, F.lit(False))
        if rule.category == ["discard"]:
            out = out.filter(~violated)
        elif rule.category and rule.category[0].startswith("replace:"):
            source = rule.category[0].split(":", 1)[1]
            out = out.withColumn(
                col, F.when(violated, qcol(source)).otherwise(qcol(col))
            )
        else:
            out = out.withColumn(
                col, F.when(violated, F.lit(None)).otherwise(qcol(col))
            )
    return out


def flatten_list_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """F8 — array-valued cells → comma-joined strings (quality_control.py:142-148)."""
    return df.withColumns(
        {c: F.concat_ws(",", qcol(c)) for c in columns if c in df.columns}
    )


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "smp"
) -> DataFrame:
    """F1 variant — content-keyed deterministic sampling.

    ``rand()``-based sampling (the reference's IMPORT_FRACTION) is not
    reproducible across runs/engines; hashing a stable key is: keep rows
    where the first 4 hex chars of ``md5(salt || key)`` (a uniform 16-bit
    value) fall under ``fraction``.  Any SQL engine reproduces the exact
    sample — which also makes train/test splits and A/B cohorts stable at
    100 TB.
    """
    threshold = int(fraction * 65536)
    hex4 = F.substring(F.md5(F.concat(F.lit(salt + ":"), qcol(key_col).cast("string"))), 1, 4)
    bucket = F.conv(hex4, 16, 10).cast("int")
    return df.filter(bucket < F.lit(threshold))


def stratified_deterministic_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "smp",
) -> DataFrame:
    """Per-stratum deterministic sampling — the dataset-mixing primitive.

    A training-data pipeline rarely samples uniformly: it up-weights scarce
    languages/domains and down-weights boilerplate-heavy sources.  Same
    md5-keyed mechanism as :func:`deterministic_sample`, but the 16-bit
    threshold is a CASE over the stratum column — still a pure filter
    projection (pushed to the scan, zero shuffles), still bit-reproducible
    in any engine, and rows keep/drop CONSISTENTLY across strata reweights
    because the hash never changes, only the threshold.
    """
    hex4 = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), qcol(key_col).cast("string"))), 1, 4
    )
    bucket = F.conv(hex4, 16, 10).cast("int")
    threshold: Column = F.lit(int(default_fraction * 65536))
    for stratum, fraction in sorted(fractions.items()):
        threshold = F.when(
            qcol(strata_col).cast("string") == stratum,
            F.lit(int(fraction * 65536)),
        ).otherwise(threshold)
    return df.filter(bucket < threshold)
