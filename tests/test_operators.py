"""Operator unit tests ported from the reference's fixtures
(SURVEY.md §5: test_to_data_type.py, test_add_links.py,
test_initial_visit_control.py, test_add_multiple_alerts.py,
test_quality_control.py)."""

import datetime

from pyspark.sql import functions as F

from meerkat_abacus_spark.operators import alerts as al
from meerkat_abacus_spark.operators import quality_control as qc
from meerkat_abacus_spark.operators.coding import Rule
from meerkat_abacus_spark.operators.initial_visit import initial_visit_control
from meerkat_abacus_spark.operators.links import LinkDef, add_links, link_aggregate
from meerkat_abacus_spark.operators.locations import (
    explode_deviceids,
    flatten_location_hierarchy,
)
from meerkat_abacus_spark.operators.to_data_type import (
    DataTypeSpec,
    fan_out_data_types,
)


def test_fan_out_exact_envelopes(spark):
    """Reference tests/test_to_data_type.py:22-59 — a 'new' case row emits
    {Case, Visit}; a 'return' row emits only {Visit}."""
    form = spark.createDataFrame(
        [("u1", "new"), ("u2", "return")], ["uuid", "intro./visit"]
    )
    specs = [
        DataTypeSpec(name="Case", type="case", form="demo_case",
                     db_column="intro./visit", condition="new", uuid="uuid"),
        DataTypeSpec(name="Visit", type="visit", form="demo_case", uuid="uuid"),
    ]
    out = fan_out_data_types({"demo_case": form}, specs)
    got = {(r["uuid"], r["type"]) for r in out.collect()}
    assert got == {("u1", "case"), ("u1", "visit"), ("u2", "visit")}


def test_add_links_ordering_and_condition(spark):
    """Reference tests/test_add_links.py — to_condition filters the linked
    side; results are date-ordered."""
    base = spark.createDataFrame([("b1", "p1")], ["uuid", "pid"])
    to_form = spark.createDataFrame(
        [
            ("t1", "p1", "return", "2017-01-05"),
            ("t2", "p1", "return", "2017-01-02"),
            ("t3", "p1", "new", "2017-01-03"),      # filtered by to_condition
            ("t4", "p2", "return", "2017-01-04"),   # other key
        ],
        ["uuid", "pid", "visit", "date"],
    )
    link = LinkDef(
        name="return_visit", type="case", to_form="fu", from_form="base",
        from_column="pid", to_column="pid", method="match",
        order_by="date;date", uuid="uuid", to_condition="visit:return",
    )
    out = add_links(base, {"fu": to_form}, [link])
    arr = out.collect()[0]["link_return_visit"]
    assert [x["__uuid"] for x in arr] == ["t2", "t1"]


def test_add_links_alert_match_suffix(spark):
    """alert_match joins the last-6-char suffix of the base uuid
    (reference add_links.py:79-83; FIXTURES.md §3 send-alerts)."""
    base = spark.createDataFrame([("abcdefghijk",)], ["uuid"])
    alerts_form = spark.createDataFrame(
        [("a1", "fghijk"), ("a2", "zzzzzz")], ["uuid", "pt./alert_id"]
    )
    link = LinkDef(
        name="alert_investigation", type="case", to_form="demo_alert",
        from_form="demo_case", from_column="uuid", to_column="pt./alert_id",
        method="alert_match", order_by="uuid;uuid", uuid="uuid",
    )
    out = add_links(base, {"demo_alert": alerts_form}, [link])
    arr = out.collect()[0]["link_alert_investigation"]
    assert [x["__uuid"] for x in arr] == ["a1"]


def test_link_aggregate_methods(spark):
    base = spark.createDataFrame([("b1", "k")], ["uuid", "key"])
    to_form = spark.createDataFrame(
        [("t1", "k", "2017-01-01", "A"), ("t2", "k", "2017-01-09", "B")],
        ["uuid", "key", "date", "flag"],
    )
    link = LinkDef(
        name="l", type="case", to_form="f", from_form="b",
        from_column="key", to_column="key", order_by="date;date", uuid="uuid",
    )
    out = add_links(base, {"f": to_form}, [link])
    row = out.select(
        link_aggregate(out, "l", "count").alias("n"),
        link_aggregate(out, "l", "first")["flag"].alias("first_flag"),
        link_aggregate(out, "l", "last")["flag"].alias("last_flag"),
        link_aggregate(out, "l", "any", test=lambda r: r["flag"] == "B").alias("any_b"),
        link_aggregate(out, "l", "all", test=lambda r: r["flag"] == "A").alias("all_a"),
    ).collect()[0]
    assert (row["n"], row["first_flag"], row["last_flag"]) == (2, "A", "B")
    assert row["any_b"] is True and row["all_a"] is False


def test_initial_visit_rewrite(spark):
    """Reference tests/test_initial_visit_control.py:26-80 — two 'new' ncd
    visits with the same (patientid, icd_code): the later becomes 'return';
    different icd_code stays 'new'; rows missing identifiers untouched."""
    rows = [
        ("u1", "new", "ncd", "p1", "A01", "2017-01-01"),
        ("u2", "new", "ncd", "p1", "A01", "2017-02-01"),  # → return
        ("u3", "new", "ncd", "p1", "B02", "2017-03-01"),  # different icd
        ("u4", "new", "cd", "p1", "A01", "2017-04-01"),   # module gate
        ("u5", "new", "ncd", "", "A01", "2017-05-01"),    # empty identifier
    ]
    df = spark.createDataFrame(
        rows, ["uuid", "visit", "module", "patientid", "icd_code", "date"]
    )
    out = initial_visit_control(
        df,
        identifier_columns=["patientid", "icd_code"],
        visit_type_column="visit",
        visit_date_column="date",
        uuid_column="uuid",
        module_column="module",
        module_value="ncd",
    )
    got = {r["uuid"]: r["visit"] for r in out.collect()}
    assert got == {"u1": "new", "u2": "return", "u3": "new",
                   "u4": "new", "u5": "new"}


def test_threshold_alert_master_and_subs(spark):
    """Reference tests/test_add_multiple_alerts.py:26-120 — 3 same-clinic
    same-day hits with limit 3 → one master (min uuid 'a') + two subs."""
    d = datetime.datetime(2017, 5, 1, 10, 0)
    df = spark.createDataFrame(
        [
            ("a", 6, d), ("b", 6, d + datetime.timedelta(hours=1)),
            ("c", 6, d + datetime.timedelta(hours=2)),
            ("x", 7, d),  # under the limit at clinic 7
        ],
        ["uuid", "clinic", "date"],
    )
    found = al.threshold_alerts(
        df, var_predicate=F.lit(True), clinic_col="clinic",
        date_col="date", uuid_col="uuid", daily_limit=3,
    )
    rep = al.assign_representatives(found).collect()
    assert len(rep) == 3
    by_uuid = {r["uuid"]: r for r in rep}
    assert by_uuid["a"]["sub_alert"] == 0 and by_uuid["a"]["master_alert"] == "a"
    assert by_uuid["b"]["sub_alert"] == 1 and by_uuid["c"]["sub_alert"] == 1
    # alert_id = last 6 chars of master uuid ('a' → 'a')
    assert by_uuid["a"]["alert_id"] == "a"


def test_double_double_exact_factor(spark):
    """2,4,8 weekly counts with factor=2 and 5-week total >= 14 fires once."""
    rows = []
    uid = 0
    for week, n in [(10, 2), (11, 4), (12, 8)]:
        for _ in range(n):
            rows.append((f"u{uid}", 1, 2017, week))
            uid += 1
    df = spark.createDataFrame(rows, ["uuid", "clinic", "epi_year", "epi_week"])
    out = al.double_double_alerts(
        df, var_predicate=F.lit(True), clinic_col="clinic",
        uuid_col="uuid", min_total=14, factor=2.0,
    ).collect()
    assert len(out) == 1
    assert (out[0]["epi_week"], out[0]["count"]) == (12, 8)


def test_double_double_across_year_boundary(spark):
    """Weeks 51,52 of year Y and week 1 of Y+1 are CONSECUTIVE (reference
    add_multiple_alerts.py:288-316 wraps assuming 52-week years); a doubling
    trend spanning New Year must fire."""
    rows = []
    uid = 0
    for year, week, n in [(2017, 51, 2), (2017, 52, 4), (2018, 1, 8)]:
        for _ in range(n):
            rows.append((f"u{uid}", 1, year, week))
            uid += 1
    df = spark.createDataFrame(rows, ["uuid", "clinic", "epi_year", "epi_week"])
    out = al.double_double_alerts(
        df, var_predicate=F.lit(True), clinic_col="clinic",
        uuid_col="uuid", min_total=14, factor=2.0,
    ).collect()
    assert len(out) == 1
    assert (out[0]["epi_year"], out[0]["epi_week"], out[0]["count"]) == (2018, 1, 8)


def test_double_double_week53_chain(spark):
    """(Y,52) -> (Y,53) -> (Y+1,1) are three DISTINCT consecutive slots:
    the leave_as_is strategy emits genuine week-53 buckets (epi_week.py),
    which must neither collide with (Y+1,1) on the axis (nondeterministic
    LAG, double-counted 5-week sum) nor break the adjacency chain."""
    rows = []
    uid = 0
    for year, week, n in [(2017, 52, 2), (2017, 53, 4), (2018, 1, 8)]:
        for _ in range(n):
            rows.append((f"u{uid}", 1, year, week))
            uid += 1
    df = spark.createDataFrame(rows, ["uuid", "clinic", "epi_year", "epi_week"])
    out = al.double_double_alerts(
        df, var_predicate=F.lit(True), clinic_col="clinic",
        uuid_col="uuid", min_total=14, factor=2.0,
    ).collect()
    assert len(out) == 1
    assert (out[0]["epi_year"], out[0]["epi_week"], out[0]["count"]) == (2018, 1, 8)
    # a week-53 half-slot must NOT create a phantom gap for ordinary years
    # ((Y,52) -> (Y+1,1) with no week-53 row stays adjacent):
    rows2 = [(f"v{i}", 2, 2017, 52) for i in range(2)]
    rows2 += [(f"w{i}", 2, 2017, 53) for i in range(1)]  # week 53 present but low
    df2 = spark.createDataFrame(rows2, ["uuid", "clinic", "epi_year", "epi_week"])
    out2 = al.double_double_alerts(
        df2, var_predicate=F.lit(True), clinic_col="clinic",
        uuid_col="uuid", min_total=14, factor=2.0,
    ).collect()
    assert out2 == []


def test_qc_import_rules(spark):
    """Reference tests/test_quality_control.py:26-56 — failing between rule
    nulls the cell; category=['discard'] drops the row; replace:<col>
    substitutes."""
    df = spark.createDataFrame(
        [("u1", "170", "2017-01-01", "bad-date"),
         ("u2", "999", "2017-01-02", "2017-01-02")],
        ["uuid", "height", "SubmissionDate", "visit_date"],
    )
    null_rule = Rule(id="qc_1", method="between", db_column="height",
                     condition="50,220", calculation="height", type="import")
    out = qc.apply_import_rules(df, [null_rule])
    got = {r["uuid"]: r["height"] for r in out.collect()}
    assert got == {"u1": "170", "u2": None}

    discard_rule = Rule(id="qc_2", method="between", db_column="height",
                        condition="50,220", calculation="height",
                        category=["discard"], type="import")
    out2 = qc.apply_import_rules(df, [discard_rule])
    assert [r["uuid"] for r in out2.collect()] == ["u1"]

    replace_rule = Rule(id="qc_3", method="match", db_column="visit_date",
                        condition="2017-01-02",
                        category=["replace:SubmissionDate"], type="import")
    out3 = qc.apply_import_rules(df, [replace_rule])
    got3 = {r["uuid"]: r["visit_date"] for r in out3.collect()}
    assert got3 == {"u1": "2017-01-01", "u2": "2017-01-02"}


def test_qc_import_rules_fire_on_empty_cells(spark):
    """Reference quality_control.py:122-136 fires on ``not test(...)['value']``
    — true for EMPTY cells too: discard rules drop empty-celled rows and
    replace: rules fill empty cells from the source column."""
    df = spark.createDataFrame(
        [("u1", "170", "2017-01-01"),
         ("u2", "", "2017-01-02"),
         ("u3", None, "2017-01-03")],
        ["uuid", "height", "SubmissionDate"],
    )
    discard_rule = Rule(id="qc_d", method="between", db_column="height",
                        condition="50,220", calculation="height",
                        category=["discard"], type="import")
    kept = [r["uuid"] for r in qc.apply_import_rules(df, [discard_rule]).collect()]
    assert kept == ["u1"]

    replace_rule = Rule(id="qc_r", method="not_null", db_column="height",
                        category=["replace:SubmissionDate"], type="import")
    got = {r["uuid"]: r["height"]
           for r in qc.apply_import_rules(df, [replace_rule]).collect()}
    assert got == {"u1": "170", "u2": "2017-01-02", "u3": "2017-01-03"}


def test_add_links_blank_keys_never_match(spark):
    """Reference add_links.py:69,129 guards every link key with != '' —
    blank-keyed rows must not cross-link to each other."""
    base = spark.createDataFrame(
        [("b1", "pid-1"), ("b2", ""), ("b3", None)], ["uuid", "pid"]
    )
    to_form = spark.createDataFrame(
        [("t1", "pid-1", "2017-01-01"),
         ("t2", "", "2017-01-02"),
         ("t3", "", "2017-01-03")],
        ["meta/instanceID", "pid", "SubmissionDate"],
    )
    link = LinkDef(name="visits", type="case", to_form="visit",
                   from_form="case", from_column="pid", to_column="pid",
                   method="match", order_by="SubmissionDate;date")
    out = add_links(base, {"visit": to_form}, [link])
    sizes = {r["uuid"]: len(r["link_visits"]) for r in out.collect()}
    assert sizes == {"b1": 1, "b2": 0, "b3": 0}


def test_add_links_native_and_string_keys_agree(spark):
    """Same-typed atomic ``match`` keys take the native-key fast path (an
    8-byte shuffle/join key instead of a string cast).  Equality must be
    IDENTICAL to the string normalization — including NULL exclusion —
    so the fast path (bigint both sides) and the fallback (to-side
    pre-cast to string forces the mixed-type string route) must produce
    the same link arrays."""
    base = spark.createDataFrame(
        [("b1", 10), ("b2", 20), ("b3", None)],
        "uuid string, pid bigint",
    )
    to_form = spark.createDataFrame(
        [("t1", 10, "2017-01-02"), ("t2", 10, "2017-01-01"),
         ("t3", 30, "2017-01-03"), ("t4", None, "2017-01-04")],
        "`meta/instanceID` string, pid bigint, SubmissionDate string",
    )
    link = LinkDef(name="visits", type="case", to_form="visit",
                   from_form="case", from_column="pid", to_column="pid",
                   method="match", order_by="SubmissionDate;date")

    def arrays(to_df):
        out = add_links(base, {"visit": to_df}, [link])
        return {
            r["uuid"]: [e["__uuid"] for e in r["link_visits"]]
            for r in out.collect()
        }

    fast = arrays(to_form)
    slow = arrays(to_form.withColumn("pid", F.col("pid").cast("string")))
    assert fast == slow == {"b1": ["t2", "t1"], "b2": [], "b3": []}


def test_location_flatten_null_district(spark):
    """A clinic hanging directly off a region leaves district NULL
    (reference codes/to_codes.py:138-146)."""
    rows = [
        (1, None, "country"),
        (2, 1, "region"),
        (4, 2, "district"),
        (6, 4, "clinic"),
        (7, 2, "clinic"),  # directly under region
    ]
    adj = spark.createDataFrame(rows, ["id", "parent_location", "level"])
    flat = flatten_location_hierarchy(
        adj, levels=("clinic", "district", "region", "country")
    ).filter(F.col("level") == "clinic")
    got = {
        r["id"]: (r["district_id"], r["region_id"], r["country_id"])
        for r in flat.collect()
    }
    assert got[6] == (4, 2, 1)
    assert got[7] == (None, 2, 1)


def test_location_flatten_rejects_leaf_parents(spark):
    """ADVICE r9 #5: the interior-only hop skeleton assumes no node is
    parented under a leaf-level row; a table violating it (clinic under
    clinic) must raise loudly instead of silently resolving NULL
    ancestors."""
    import pytest as _pytest

    rows = [
        (1, None, "country"),
        (2, 1, "region"),
        (6, 2, "clinic"),
        (7, 6, "clinic"),  # parented under a LEAF — unsupported
    ]
    adj = spark.createDataFrame(rows, ["id", "parent_location", "level"])
    with _pytest.raises(ValueError, match="leaf"):
        flatten_location_hierarchy(
            adj, levels=("clinic", "district", "region", "country")
        )


def test_explode_deviceids(spark):
    clinics = spark.createDataFrame([(6, "1,2, 3")], ["id", "deviceid"])
    out = explode_deviceids(clinics)
    assert sorted(r["deviceid"] for r in out.collect()) == ["1", "2", "3"]


def test_connected_components_transitive(spark):
    """A—B—C chains and disjoint pairs resolve to min-id components."""
    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3)], ["id_a", "id_b"]
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage pinning from localCheckpoint
    (executor memory) to reliable checkpoint() files that survive executor
    loss — the cluster-scale path is a config flip, not a code edit."""
    import os

    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    ckpt = str(tmp_path / "ckpt")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3)], ["id_a", "id_b"]
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components_star(
            edges, checkpoint_dir=ckpt
        ).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10}
    # checkpoint files actually landed in the requested directory
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no reliable checkpoint files written"


def test_salted_aggregation_equals_plain(spark):
    """Two-phase salted count/sum == plain groupBy on a hot-key fixture."""
    from meerkat_abacus_spark.functions.skew import salted_count, salted_sum

    rows = [("hot", float(i)) for i in range(500)] + [("cold", 1.0)] * 3
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        (r["k"]): (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted_n = {r["k"]: r["count"] for r in salted_count(df, ["k"]).collect()}
    salted_s = {r["k"]: r["sum"] for r in salted_sum(df, ["k"], "v").collect()}
    assert salted_n == {k: v[0] for k, v in plain.items()}
    assert salted_s == {k: v[1] for k, v in plain.items()}


def test_minhash_bucket_cap_star_edges(spark):
    """Buckets over max_bucket_size degrade to star edges around the bucket
    min — O(bucket) pairs, connectivity preserved.  8 identical docs with
    cap=3: every band bucket holds all 8, so only doc-min star pairs
    (7 of them) survive instead of the 28 all-pairs."""
    from meerkat_abacus_spark.datapipe.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)],
        ["doc_id", "text"],
    )
    capped = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, max_bucket_size=3
    ).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in capped) == [
        (0, j) for j in range(1, 8)
    ]
    assert all(r["jaccard"] == 1.0 for r in capped)
    # uncapped: the full quadratic pair set
    full = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, max_bucket_size=None
    ).count()
    assert full == 28


def test_block_cap_rejects_unknown_policy(spark):
    """ADVICE r12 #1: a mistyped cap_policy must raise, not silently fall
    through to skip (dropping over-cap blocks whole)."""
    import pytest

    from meerkat_abacus_spark.datapipe import dedup as dd

    df = spark.createDataFrame(
        [(1, 10, [1.0, 2.0])], ["blk", "vid", "v"]
    )
    with pytest.raises(ValueError, match="cap_policy"):
        dd.embedding_near_dup_pairs(
            df, id_col="vid", vec_col="v", block_col="blk",
            max_block=1, cap_policy="samples",  # typo
        )
    # max_block=None short-circuits before validation — unchanged
    dd.embedding_near_dup_pairs(
        df, id_col="vid", vec_col="v", block_col="blk", max_block=None
    ).count()


def test_banded_antithetic_cap_covers_all_members(spark):
    """Two antithetic bands over the SAME hot block: with n ≤ 2·cap the
    ascending and descending md5-kept subsets cover every member, so the
    only lost pairs straddle the two exclusive tails — here n = 2·cap
    exactly, and every member must appear in at least one emitted pair
    (all vectors identical: every candidate verifies at cosine 1)."""
    from meerkat_abacus_spark.datapipe import dedup as dd

    n, cap = 40, 20
    df = spark.createDataFrame(
        [(i, "b", "b", [1.0, 2.0, 3.0]) for i in range(n)],
        ["vid", "b1", "b2", "v"],
    )
    pairs = dd.embedding_near_dup_pairs_banded(
        df, id_col="vid", vec_col="v", band_cols=["b1", "b2"],
        min_cosine=0.99, max_block=cap, cap_policy="sample",
    ).collect()
    import hashlib

    asc = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    kept1, kept2 = set(asc[:cap]), set(asc[::-1][:cap])
    assert kept1 | kept2 == set(range(n))  # antithetic coverage
    expect = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if (a in kept1 and b in kept1) or (a in kept2 and b in kept2)
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs} == expect
    # strictly more than one band's cap²-bounded pair set, fewer than all
    assert len(expect) > cap * (cap - 1) // 2
    assert len(expect) < n * (n - 1) // 2


def test_minhash_small_buckets_unaffected_by_cap(spark):
    """Below the cap, the guarded plan emits exactly the all-pairs set."""
    from meerkat_abacus_spark.datapipe.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words about spark partitions here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=16, bands=8, max_bucket_size=50
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=16, bands=8, max_bucket_size=None
        ).collect()
    }
    assert got == uncapped
    assert (1, 2) in got  # near-dups collide in some band


def test_minhash_slot_reductions_are_independent(spark):
    """ADVICE r9 #1 regression: two distinct 60-bit digests that collide
    under ANY single shared 30-bit reduction must NOT collapse across
    slots.  h1=0 and h2=(1<<30)|1 have identical xor-folds (lo^hi = 0 for
    both — the r9 scheme made every slot agree); with per-slot
    (a_i, b_i, c_i) coefficients the slots are independent, so all 64
    must differ here (a_i + b_i ≢ 0 mod 2^61-1 for odd 31-bit pairs)."""
    import pyspark.sql.functions as F

    from meerkat_abacus_spark.datapipe.dedup import (
        _MERSENNE61,
        _affine_consts,
        minhash_signature,
    )

    h1, h2 = 0, (1 << 30) | 1
    # sanity: the old shared fold (h ^ h>>30) % 2^30 cannot tell them apart
    assert (h1 ^ (h1 >> 30)) % (1 << 30) == (h2 ^ (h2 >> 30)) % (1 << 30)
    df = spark.createDataFrame([([h1],), ([h2],)], "hs array<long>")
    sigs = [
        r["sig"]
        for r in df.select(minhash_signature(F.col("hs")).alias("sig")).collect()
    ]
    diff = sum(1 for x, y in zip(*sigs) if x != y)
    assert diff == 64, f"only {diff}/64 slots distinguish the digests"
    # pinned arithmetic: slot i of a single-hash doc is
    # (a*lo + b*hi + c) % P % 2^32 (the 32-bit truncation keeps band-key
    # strings short; see minhash_signature)
    for i, (a, b, c) in enumerate(_affine_consts(64)):
        assert sigs[1][i] == (a * 1 + b * 1 + c) % _MERSENNE61 % 2**32
        assert sigs[0][i] == c % _MERSENNE61 % 2**32


def test_minhash_rows_per_band_validation(spark):
    from meerkat_abacus_spark.datapipe.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_lsh_candidates(docs, num_hashes=16, bands=3)  # 3 ∤ 16


def test_simhash_slices_width_and_distance(spark):
    """Width-parameterized SimHash: bits/16 slices; identical text → 0
    distance, near-identical → small, unrelated → large."""
    from meerkat_abacus_spark.datapipe.dedup import (
        hamming_slices,
        simhash_slices,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("same text about distributed query engines and columnar scans",
             "same text about distributed query engines and columnar scans"),
            ("same text about distributed query engines and columnar scans",
             "same text about distributed query engines and columnar scan"),
            ("same text about distributed query engines and columnar scans",
             "unrelated poem regarding mountains rivers meadows and snowfall"),
        ],
        ["a", "b"],
    )
    out = df.select(
        F.size(simhash_slices(F.col("a"), bits=64)).alias("w"),
        hamming_slices(
            simhash_slices(F.col("a"), bits=64),
            simhash_slices(F.col("b"), bits=64),
        ).alias("d"),
    ).collect()
    assert [r["w"] for r in out] == [4, 4, 4]
    d_same, d_near, d_far = (r["d"] for r in out)
    assert d_same == 0
    assert 0 < d_near < d_far
    assert d_far > 10


def test_simhash_slices_slice0_matches_simhash16(spark):
    """Slice 0 of the widened fingerprint IS the portable 16-bit SimHash —
    the oracle-checked variant is unchanged by the widening."""
    from pyspark.sql import functions as F

    from meerkat_abacus_spark.datapipe.dedup import simhash16, simhash_slices

    df = spark.createDataFrame(
        [("one two three four five six seven",)], ["t"]
    )
    row = df.select(
        simhash16(F.col("t")).alias("fp16"),
        F.element_at(simhash_slices(F.col("t"), bits=64), 1).alias("s0"),
    ).collect()[0]
    assert row["fp16"] == row["s0"]


def test_simhash_wide_pairs_blocking_and_verify(spark):
    """Near-identical docs collide in at least one 16-bit slice and pass the
    Hamming verify; unrelated docs are filtered out."""
    from meerkat_abacus_spark.datapipe.dedup import simhash_wide_pairs

    words = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, words),
            (2, words + " extra"),  # one appended token on 60
            (3, " ".join(f"other{i}" for i in range(60))),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_wide_pairs(docs, bits=64, max_hamming=16).collect()
    }
    assert (1, 2) in got and got[(1, 2)] <= 16
    assert all(3 not in pair for pair in got)


def test_repeated_span_stats(spark):
    """Spans shared across >=2 docs are flagged; unique docs report 0."""
    from meerkat_abacus_spark.datapipe.text import repeated_span_stats

    docs = spark.createDataFrame(
        [
            (1, "one two three four five"),
            (2, "zz one two three qq ww"),  # shares the 'one two three' span
            (3, "unique words only here nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["id"]: (r["n_kgrams"], r["n_repeated"])
        for r in repeated_span_stats(docs, k=3).collect()
    }
    assert rows[1][1] >= 1 and rows[2][1] >= 1  # the shared 3-gram
    assert rows[3][1] == 0
    assert rows[1][0] == 3 and rows[3][0] == 6


def test_simhash_wide_bucket_cap_star_edges(spark):
    """Identical docs collapse to one fingerprint; with a cap the bucket
    degrades to star edges around the min id (connectivity preserved,
    O(bucket) pairs), without it the full quadratic pair set appears."""
    from meerkat_abacus_spark.datapipe.dedup import simhash_wide_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(40))) for i in range(8)],
        ["doc_id", "text"],
    )
    capped = simhash_wide_pairs(
        docs, bits=64, max_hamming=4, max_bucket_size=3
    ).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in capped) == [
        (0, j) for j in range(1, 8)
    ]
    assert all(r["hamming"] == 0 for r in capped)
    full = simhash_wide_pairs(
        docs, bits=64, max_hamming=4, max_bucket_size=None
    ).count()
    assert full == 28


def test_embed_media_shape_and_short_payloads(spark):
    """Feature extractor: fixed dim, double type, short payloads pad with
    zero contribution, deterministic across runs."""
    from meerkat_abacus_spark.datapipe.multimodal import (
        attach_binary_payload,
        embed_media,
    )

    docs = spark.createDataFrame(
        [(1, "a" * 100), (2, "xyz"), (3, "")],
        ["doc_id", "text"],
    )
    out = embed_media(attach_binary_payload(docs, text_col="text"))
    rows = {r["doc_id"]: list(r["embedding"]) for r in out.collect()}
    assert all(len(v) == 8 for v in rows.values())
    # 'a'*100 -> every sampled byte is ord('a')=97, 8 terms per dim
    assert rows[1] == [(97 - 105) * 8.0] * 8
    # 'xyz' -> dims 0..2 get one byte each, dims 3..7 are empty -> 0
    assert rows[2][:3] == [ord("x") - 105.0, ord("y") - 105.0, ord("z") - 105.0]
    assert rows[2][3:] == [0.0] * 5
    assert rows[3] == [0.0] * 8
    again = {r["doc_id"]: list(r["embedding"]) for r in out.collect()}
    assert again == rows


def test_datapipe_operators_accept_empty_input(spark):
    """Every text/dedup/similarity operator must return an EMPTY frame (not
    raise) on an empty corpus — day-one incremental runs and filtered-out
    partitions feed empty frames all the time at scale."""
    from meerkat_abacus_spark.datapipe import dedup as dd
    from meerkat_abacus_spark.datapipe import similarity as sim

    docs = spark.createDataFrame([], schema="doc_id long, text string")
    embs = spark.createDataFrame(
        [], schema="vec_id long, embedding array<double>"
    )

    assert dd.minhash_lsh_candidates(docs).count() == 0
    assert dd.exact_dedup(docs, "doc_id", "text").count() == 0
    assert dd.simhash_wide_pairs(docs).count() == 0
    assert dd.connected_components_star(
        spark.createDataFrame([], schema="id_a long, id_b long")
    ).count() == 0
    assert sim.brute_force_topk(embs, embs).count() == 0
    assert sim.lsh_topk(embs, embs, dim=4).count() == 0
    q = embs.select("vec_id", sim.quantize_int8(F.col("embedding")).alias("q"))
    assert q.count() == 0


def test_star_contraction_matches_label_propagation(spark, min_id_components):
    """Alternating large/small-star must produce the (node → min reachable
    id) labelling that label propagation converges to, checked against a
    pure-Python union-find on graphs with long chains, cliques, isolated
    edges and merged clusters."""
    import random

    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    rng = random.Random(7)
    edges = []
    # long path (worst case for propagation), a clique, random noise
    edges += [(i, i + 1) for i in range(100, 140)]
    edges += [(a, b) for a in range(200, 210) for b in range(a + 1, 210)]
    edges += [(rng.randrange(0, 80), rng.randrange(0, 80)) for _ in range(60)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, schema="id_a long, id_b long")

    star = {
        (r.node, r.component)
        for r in connected_components_star(df).collect()
    }
    assert star == min_id_components(edges)


def test_star_contraction_raises_on_non_convergence(spark):
    """VERDICT r13 'what's wrong' #1: connected_components_star must FAIL
    CLOSED when max_iterations is exhausted before the star-forest fixed
    point — the leaf/root projection would otherwise emit duplicate or
    non-minimal labels that keep-best survivor selection acts on,
    deleting the wrong documents.  strict=False keeps the warn-and-return
    for callers who opt in to partial labels."""
    import warnings

    import pytest

    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], schema="id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="star-forest fixed point"):
        connected_components_star(path, max_iterations=1)
    # explicit opt-out: warn and return the partial labels
    with pytest.warns(RuntimeWarning, match="star-forest fixed point"):
        connected_components_star(path, max_iterations=1, strict=False)
    # A converged run must stay silent and is unaffected by strict.
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {
            (r.node, r.component)
            for r in connected_components_star(path).collect()
        }
    assert got == {(i, 0) for i in range(61)}
    with pytest.raises(ValueError):
        connected_components_star(path, max_iterations=0)


def test_star_contraction_empty_and_single_edge(spark):
    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    empty = spark.createDataFrame([], schema="id_a long, id_b long")
    assert connected_components_star(empty).count() == 0
    one = spark.createDataFrame([(5, 2)], schema="id_a long, id_b long")
    got = {
        (r.node, r.component) for r in connected_components_star(one).collect()
    }
    assert got == {(2, 2), (5, 2)}


def test_star_contraction_stats_hook(spark):
    """The profiling hook (VERDICT r11 ask #4) must report iterations and
    per-round wall/edges without changing the labelling, and a
    deep-path graph must converge in O(log n) rounds."""
    import math

    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    n = 200  # diameter-200 path: label propagation would need ~200 hops
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], schema="id_a long, id_b long"
    )
    stats: dict = {}
    got = {
        (r.node, r.component)
        for r in connected_components_star(path, stats=stats).collect()
    }
    assert got == {(i, 0) for i in range(n + 1)}
    assert stats["initial_edges"] == n
    assert stats["iterations"] == len(stats["rounds"])
    # O(log n) alternation rounds, NOT O(diameter)
    assert 1 <= stats["iterations"] <= 2 * int(math.log2(n)) + 2
    for r in stats["rounds"]:
        assert set(r) == {"sec", "probe_sec", "edges", "jobs"}
        assert r["edges"] >= 0 and r["sec"] >= 0
        # the round's Spark jobs: ids and per-stage task counts
        for job in r["jobs"]:
            assert isinstance(job["job"], int) and job["job"] >= 0
            for st in job["stages"]:
                assert isinstance(st["stage"], int) and st["stage"] >= 0
                assert isinstance(st["tasks"], int) and st["tasks"] >= 0
    # stats=None (the production path) is unaffected
    plain = {
        (r.node, r.component)
        for r in connected_components_star(path).collect()
    }
    assert plain == got


def test_span_dedup_removal_semantics(spark):
    """Cross-document span removal (r9): keep-first ownership, overlapping
    windows merging into one maximal span, intra-doc repeats kept, short
    docs untouched, full duplicates emptied."""
    from meerkat_abacus_spark.datapipe.dedup import span_dedup_removal

    rows = [
        # doc 0 owns the span "a b c d"; its own repeat of it is KEPT
        (0, "a b c d x a b c d"),
        # doc 1 repeats the owned span once -> 4 tokens removed, 1 span
        (1, "p q a b c d r s"),
        # doc 2 contains it twice, adjacent -> overlapping coverage merges
        (2, "a b c d a b c d tail"),
        # doc 3: shorter than k -> no grams, untouched
        (3, "a b c"),
        # doc 4: exact duplicate of doc 3 -> still untouched (n < k)
        (4, "a b c"),
        # doc 5: exact duplicate of doc 1 -> fully covered, emptied
        (5, "p q a b c d r s"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in span_dedup_removal(df, k=4).collect()
    }
    assert got[0]["clean_text"] == "a b c d x a b c d"
    assert got[0]["n_removed_tokens"] == 0
    # doc 1: the window "a b c d" is owned by doc 0, so its occurrence in
    # doc 1 is excised; windows unique to docs 1+5 (e.g. "p q a b") are
    # owned by doc 1 and stay there, but cost doc 5 everything
    assert got[1]["clean_text"] == "p q r s"
    assert got[1]["n_removed_tokens"] == 4
    assert got[1]["n_spans_removed"] == 1
    assert got[5]["clean_text"] == ""
    assert got[5]["n_removed_tokens"] == 8
    assert got[5]["n_spans_removed"] == 1
    # doc 2: every 4-window of "a b c d a b c d" includes tokens of the
    # repeated span; windows like "c d a b" are unique to doc 2 (owned by
    # it), but "a b c d" at positions 0 and 4 is owned by doc 0 -> both
    # occurrences covered, coverage 0..7 merges into ONE maximal span
    assert got[2]["clean_text"] == "tail"
    assert got[2]["n_removed_tokens"] == 8
    assert got[2]["n_spans_removed"] == 1
    assert got[3]["clean_text"] == "a b c"
    assert got[4]["clean_text"] == "a b c"
    assert all(got[i]["n_tokens"] == len(rows[i][1].split()) for i in got)


def test_span_dedup_removal_rejects_k1(spark):
    import pytest

    from meerkat_abacus_spark.datapipe.dedup import span_dedup_removal

    df = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        span_dedup_removal(df, k=1)


def test_span_dedup_removal_bookkeeping_consistent(spark):
    """Offset bookkeeping invariants over a real corpus slice: kept + removed
    = total tokens, span count bounded by ceil(removed / 1) and >= 1 when
    anything was removed, and no clean_text is longer than its source."""
    import os

    import pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    from meerkat_abacus_spark.datapipe.dedup import span_dedup_removal

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = span_dedup_removal(docs, k=8).collect()
    assert len(rows) == docs.count()
    removed_any = 0
    for r in rows:
        kept = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert kept + r["n_removed_tokens"] == r["n_tokens"], r["doc_id"]
        if r["n_removed_tokens"]:
            removed_any += 1
            assert 1 <= r["n_spans_removed"] <= r["n_removed_tokens"]
            # a span is at least k tokens (it covers >= one full window)
            assert r["n_removed_tokens"] >= 8 * 1
        else:
            assert r["n_spans_removed"] == 0
    assert removed_any > 0  # the corpus genuinely contains cross-doc spans


def test_location_leaf_assert_survives_same_path_overwrite(spark, tmp_path):
    """ADVICE r10 #3: the leaf-parent validation memo used to key on
    (appId, plan semanticHash) only — overwriting the files behind the
    SAME source path yields an identical plan hash, so a rewrite that
    introduces a leaf-parented row skipped validation and silently
    resolved NULL ancestors.  The memo key now folds in a data fingerprint
    (file listing + mtime/size), so the rewritten table re-validates and
    raises."""
    import pytest as _pytest

    path = str(tmp_path / "locs")
    good = spark.createDataFrame(
        [(1, None, "country"), (2, 1, "region"), (6, 2, "clinic")],
        ["id", "parent_location", "level"],
    )
    good.write.mode("overwrite").parquet(path)
    flat = flatten_location_hierarchy(
        spark.read.parquet(path),
        levels=("clinic", "district", "region", "country"),
    )
    assert flat.count() == 3  # validated + memoized

    bad = spark.createDataFrame(
        [
            (1, None, "country"),
            (2, 1, "region"),
            (6, 2, "clinic"),
            (7, 6, "clinic"),  # parented under a LEAF
        ],
        ["id", "parent_location", "level"],
    )
    bad.write.mode("overwrite").parquet(path)
    with _pytest.raises(ValueError, match="leaf"):
        flatten_location_hierarchy(
            spark.read.parquet(path),
            levels=("clinic", "district", "region", "country"),
        ).count()


def test_fuzzy_cap_cross_engine_when_hot_block_fires(spark, tmp_path):
    """The certified cap semantics are never exercised by the driver's
    certification data (no natural block approaches the ≤1000 guard at
    sf0.01), so a silent Spark/oracle divergence INSIDE the sample-cap
    branch would stay green.  Plant an 1,100-member hot block and run the
    SHIPPED query against its own REGISTERED oracle SQL: the md5-ordered
    row_number guard must agree across engines bit-for-bit — row count,
    columns, and value hash — while the cap is actually firing."""
    import os

    import duckdb

    import tools.compare as cmp
    from meerkat_abacus_spark.queries import ORACLES, QUERIES

    src = "/root/testdata/sf0.001"
    if not os.path.isdir(src):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")

    natural = spark.read.parquet(src + "/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    hot = spark.createDataFrame(
        [
            (9_000_000 + i, f"Customer#HOTBLOCKnm{i // 2:05d}{'x' if i % 2 else 'y'}", 0)
            for i in range(1100)
        ],
        "c_custkey long, c_name string, c_nationkey int",
    )
    d = str(tmp_path / "hotsf")
    os.makedirs(d)
    natural.unionByName(hot).write.parquet(d + "/customer.parquet")

    sdf = QUERIES["fuzzy_name_linkage"](spark, d).toPandas()
    # the hot block must actually be in play AND capped
    hot_rows = sdf[sdf["block_key"] == "HOTBLOC"]
    assert len(hot_rows) == 1 and int(hot_rows.iloc[0]["n_pairs"]) > 0

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{d}/customer.parquet/*.parquet')"
    )
    odf = con.sql(ORACLES["fuzzy_name_linkage"]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert cmp.value_hash(sdf) == cmp.value_hash(odf)


def test_embedding_cap_cross_engine_when_hot_bucket_fires(spark, tmp_path):
    """Same certification gap as the fuzzy hot-block test, for the
    sign-LSH embedding path: plant a 5,100-vector hot orthant (hot in
    BOTH bands) so the 5000 sample cap FIRES, then run the shipped
    two-band dedup_embedding_lsh against its registered oracle SQL.
    Beyond whole-result equality, the pure-Python md5 model computes the
    per-band kept sets over the FULL member set (originals plus their
    corpus ×2 copies — 10,200 members, past 2·cap): every emitted
    planted pair must be co-kept in band 1 (ascending md5 ranks) or
    band 2 (descending — antithetic), members dropped from band 1 must
    still appear via band 2, and the 200 md5-middle members outside
    BOTH bands may appear in no pair — the r13 second-chance recovery
    working cross-engine, not just in Spark."""
    import hashlib
    import os

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import tools.compare as cmp
    from meerkat_abacus_spark.queries import ORACLES, QUERIES

    src = "/root/testdata/sf0.001"
    if not os.path.isdir(src):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")

    nat = pq.read_table(src + "/embeddings.parquet")
    sch = pa.schema(
        [nat.schema.field(i).remove_metadata() for i in range(len(nat.schema))]
    )
    nat = nat.cast(sch).replace_schema_metadata(None)
    rng = np.random.RandomState(3)
    # Paired hi/lo base: coordinate 2i ≥ 1.0, coordinate 2i+1 ≤ 0.2, so
    # EVERY per-coordinate scaling in [1, 2.5] keeps v[2i] > v[2i+1] —
    # all planted vectors share band 2's paired-diff bucket ('1'*8) as
    # well as band 1's all-positive orthant: both bands go hot at once.
    base = np.empty(64)
    base[0::2] = np.abs(rng.standard_normal(32)) + 1.0
    base[1::2] = 0.2 * rng.rand(32) + 0.01
    plant, n_dup = 5100, 600
    ids, vecs = [], []
    for i in range(plant):
        if i < n_dup:  # near-identical: pairwise cosine >= 0.99
            v = base * (1.0 + 0.002 * rng.standard_normal(64))
        else:  # same signs & diff-signs, magnitude-spread: cosine < 0.99
            v = base * (1.0 + 1.5 * rng.rand(64))
        ids.append(5_000_000 + i)
        vecs.append([float(x) for x in v])
    hot = pa.table(
        {
            "vec_id": pa.array(ids, sch.field("vec_id").type),
            "embedding": pa.array(vecs, sch.field("embedding").type),
            "label": pa.array([-1] * plant, sch.field("label").type),
        },
        schema=sch,
    )
    d = str(tmp_path / "embhot")
    os.makedirs(d)
    pq.write_table(pa.concat_tables([nat, hot]), d + "/embeddings.parquet")

    sdf = QUERIES["dedup_embedding_lsh"](spark, d).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    odf = con.sql(ORACLES["dedup_embedding_lsh"]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert cmp.value_hash(sdf) == cmp.value_hash(odf)

    # Both engines sampled the SAME members per band.  The corpus unions
    # a x2 copy of every vector at vec_id + 1_000_000 (same direction —
    # the copies share BOTH hot buckets), so the model's member set is
    # planted originals PLUS their copies: 10,200 members, beyond 2*cap,
    # which exercises antithetic sampling past full coverage.  Naturals
    # sharing a bucket compete for slots, but they can only push planted
    # members OUT of a band's md5-top-5000, never pull lower-ranked ones
    # in — so the planted-only top-5000 per band order is a certain
    # SUPERSET of that band's kept planted members.
    members = ids + [i + 1_000_000 for i in ids]
    asc = sorted(
        members, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    band1_sup = set(asc[:5000])          # ascending md5 ranks
    band2_sup = set(asc[::-1][:5000])    # antithetic: descending
    pp = [
        (a, b)
        for a, b in zip(sdf["id_a"], sdf["id_b"])
        if a >= 5_000_000 and b >= 5_000_000
    ]
    assert pp, "hot bucket produced no pairs"
    # every emitted planted pair must be co-kept in SOME band
    bad = [
        (a, b)
        for a, b in pp
        if not (
            (a in band1_sup and b in band1_sup)
            or (a in band2_sup and b in band2_sup)
        )
    ]
    assert not bad, bad[:5]
    emitted_planted = {i for p in pp for i in p}
    # the second-chance recovery must actually fire: members certainly
    # dropped from band 1 (outside its planted-only superset) appear in
    # emitted pairs via band 2's antithetic sample
    dropped_band1 = set(members) - band1_sup
    assert len(dropped_band1) >= 5000
    recovered = emitted_planted & dropped_band1
    assert recovered, "band 2 recovered none of band 1's dropped members"
    # 10,200 members > 2*cap: the 200 md5-middle members fall outside
    # BOTH bands' supersets — certainly dropped by both engines, so they
    # may appear in no emitted pair (the old single-band drop assertion,
    # generalized to the banded union)
    never_kept = set(members) - band1_sup - band2_sup
    assert len(never_kept) == 200
    assert not (emitted_planted & never_kept), sorted(
        emitted_planted & never_kept
    )[:5]


def test_multimodal_cap_cross_engine_when_hot_bucket_fires(spark, tmp_path):
    """The r13 two-band cap semantics of multimodal_embed_neardup are
    never exercised by certification data (no natural extractor bucket
    approaches 5000 docs), so a Spark/oracle divergence inside the cap
    branch — e.g. the DESC md5 keep-order of the rotated band — would
    stay green.  Plant 5,100 documents sharing one 64-byte prefix (the
    extractor embeds only the first 64 payload bytes, so they are exact
    embedding duplicates, hot in BOTH bands at cosine 1.0) and run the
    shipped query against its registered oracle while the cap fires;
    then check the pure-Python antithetic model: every emitted planted
    pair co-kept in some band, band 1's dropped members recovered via
    band 2, and — since n ≤ 2·cap — every planted member emitted."""
    import hashlib
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import tools.compare as cmp
    from meerkat_abacus_spark.queries import ORACLES, QUERIES

    src = "/root/testdata/sf0.001"
    if not os.path.isdir(src):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")

    nat = pq.read_table(src + "/documents.parquet")
    sch = pa.schema(
        [nat.schema.field(i).remove_metadata() for i in range(len(nat.schema))]
    )
    nat = nat.cast(sch).replace_schema_metadata(None)
    # 8 repeats of an 8-char block: emb[d] = 8*(ord(B[d]) - 105), every
    # coordinate and every stride-1/stride-2 difference sign has a
    # nonzero margin, so both band keys are stable and shared
    prefix = "zqpmwcak" * 8
    plant = 5100
    ids = [5_000_000 + i for i in range(plant)]
    hot = pa.table(
        {
            "doc_id": pa.array(ids, sch.field("doc_id").type),
            "text": pa.array(
                [f"{prefix} planted doc {i}" for i in range(plant)],
                sch.field("text").type,
            ),
            "lang": pa.array(["en"] * plant, sch.field("lang").type),
            "source": pa.array(["hot"] * plant, sch.field("source").type),
            "n_chars": pa.array(
                [len(prefix) + 14] * plant, sch.field("n_chars").type
            ),
        },
        schema=sch,
    )
    d = str(tmp_path / "mmhot")
    os.makedirs(d)
    pq.write_table(pa.concat_tables([nat, hot]), d + "/documents.parquet")

    sdf = QUERIES["multimodal_embed_neardup"](spark, d).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    odf = con.sql(ORACLES["multimodal_embed_neardup"]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert cmp.value_hash(sdf) == cmp.value_hash(odf)

    asc = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    band1_sup = set(asc[:5000])
    band2_sup = set(asc[::-1][:5000])
    pp = [
        (a, b)
        for a, b in zip(sdf["id_a"], sdf["id_b"])
        if a >= 5_000_000 and b >= 5_000_000
    ]
    assert pp, "hot bucket produced no pairs"
    bad = [
        (a, b)
        for a, b in pp
        if not (
            (a in band1_sup and b in band1_sup)
            or (a in band2_sup and b in band2_sup)
        )
    ]
    assert not bad, bad[:5]
    emitted = {i for p in pp for i in p}
    dropped_band1 = set(ids) - band1_sup
    assert len(dropped_band1) == 100
    assert dropped_band1 <= emitted  # band-2 recovery fired, cross-engine
    # n = 5100 ≤ 2*cap: the antithetic union covers every member, and all
    # planted docs are exact duplicates — so NO planted doc may vanish
    assert emitted == set(ids)


def test_multimodal_embed_cache_lifecycle(spark):
    """VERDICT r13 ask #7: the embedded-corpus persist is TRACKED, BOUNDED,
    and RELEASABLE — previously multimodal_embed_neardup persisted with no
    release path, so a long-lived session sweeping many sf_dirs pinned one
    cache entry per dataset forever.  After clear_embed_cache() no entry
    (dict or executor storage) may linger; stuffing past the bound must
    evict-and-unpersist the oldest entry."""
    import os

    import pytest

    from meerkat_abacus_spark.queries import QUERIES
    from meerkat_abacus_spark.queries import multimodal as mm

    src = "/root/testdata/sf0.001"
    if not os.path.isdir(src):
        pytest.skip("driver testdata not present")

    mm.clear_embed_cache()
    QUERIES["multimodal_embed_neardup"](spark, src).count()
    assert len(mm._EMB_CACHE) == 1
    [frame] = list(mm._EMB_CACHE.values())
    assert frame.storageLevel.useMemory or frame.storageLevel.useDisk
    mm.clear_embed_cache()
    assert mm._EMB_CACHE == {}
    assert not (frame.storageLevel.useMemory or frame.storageLevel.useDisk)

    # bounded: a 5th dataset evicts (and unpersists) the oldest entry
    dummies = [spark.range(i + 1).persist() for i in range(4)]
    for i, f in enumerate(dummies):
        mm._EMB_CACHE[("dummy-app", f"tag{i}")] = f
    QUERIES["multimodal_embed_neardup"](spark, src).count()
    assert len(mm._EMB_CACHE) <= 4
    assert not (
        dummies[0].storageLevel.useMemory or dummies[0].storageLevel.useDisk
    )
    mm.clear_embed_cache()
    assert mm._EMB_CACHE == {}


def test_embed_cache_is_lru_and_skips_pathonly_tags(spark, tmp_path):
    """VERDICT r14 ask #6 + ADVICE r14 #1: the embed-corpus cache evicts
    least-recently-USED (a hot dataset alternating with three cold ones
    survives the pressure), and a dataset whose fingerprint degraded to
    path-only (listing failure) is never cached — the frame comes back
    unpinned instead of risking a stale pinned frame after regeneration."""
    from meerkat_abacus_spark.queries import multimodal as mm
    from meerkat_abacus_spark.queries._shared import _scratch_tag

    mm.clear_embed_cache()
    dirs = []
    for i in range(5):
        d = tmp_path / f"ds{i}"
        d.mkdir()
        (d / "marker").write_text(str(i))
        dirs.append(str(d))
    frames = [spark.range(i + 1) for i in range(5)]
    try:
        hot = mm._embedded_corpus_cached(spark, dirs[0], frames[0])
        for i in (1, 2, 3):
            mm._embedded_corpus_cached(spark, dirs[i], frames[i])
        assert len(mm._EMB_CACHE) == 4  # at capacity
        # HIT on the hot dataset: served from cache, moved to MRU
        assert mm._embedded_corpus_cached(spark, dirs[0], spark.range(99)) is hot
        # a 5th dataset evicts the least-recently-used (ds1), NOT ds0
        mm._embedded_corpus_cached(spark, dirs[4], frames[4])
        tags = {k[1] for k in mm._EMB_CACHE}
        assert _scratch_tag(dirs[0]) in tags
        assert _scratch_tag(dirs[1]) not in tags
    finally:
        mm.clear_embed_cache()

    # path-only fingerprint (listing fails): cache must not serve or store
    missing = str(tmp_path / "never-created")
    out = mm._embedded_corpus_cached(spark, missing, frames[0])
    assert out is frames[0]  # returned as-is, unpinned
    assert mm._EMB_CACHE == {}


def test_candidate_cache_is_lru_and_skips_pathonly_tags(spark, tmp_path):
    """The dedup candidate cache mirrors the embed cache's r15 fixes:
    LRU eviction (hit re-inserts at MRU) and no caching under a path-only
    dataset fingerprint."""
    from pyspark.sql import Row

    from meerkat_abacus_spark.queries import MINHASH_CFG
    from meerkat_abacus_spark.queries import dedup as qd
    from meerkat_abacus_spark.queries._shared import _scratch_tag

    qd.clear_candidate_cache()
    d = tmp_path / "ds"
    d.mkdir()
    (d / "marker").write_text("x")
    sf = str(d)
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i}") for i in range(4)]
    )
    hot_key = (
        spark.sparkContext.applicationId,
        _scratch_tag(sf),
        "corpus2",
        tuple(sorted(MINHASH_CFG.items())),
    )
    sentinel = spark.range(3)
    try:
        qd._CAND_CACHE[hot_key] = sentinel
        for i in range(5):  # fill to capacity (6) behind the sentinel
            qd._CAND_CACHE[("dummy-app", f"t{i}")] = spark.range(i + 1)
        # HIT: served from cache and moved to MRU
        assert qd._verified_candidates(spark, sf, corpus, "corpus2") is sentinel
        assert next(iter(qd._CAND_CACHE)) == ("dummy-app", "t0")
        # MISS (new kind) evicts the front dummy, never the hot entry
        qd._verified_candidates(spark, sf, corpus, "corpusX")
        assert hot_key in qd._CAND_CACHE
        assert ("dummy-app", "t0") not in qd._CAND_CACHE
    finally:
        qd.clear_candidate_cache()

    # path-only fingerprint: computed fresh, unpinned, not cached
    missing = str(tmp_path / "never-created")
    out = qd._verified_candidates(spark, missing, corpus, "corpus2")
    assert qd._CAND_CACHE == {}
    assert not (out.storageLevel.useMemory or out.storageLevel.useDisk)
