"""Coding-engine truth tables, ported from the reference's
pipeline_worker/tests/variable_test.py (323 LoC) and to_codes_test.py."""

import pytest
from pyspark.sql import functions as F

from meerkat_abacus_spark.operators.coding import (
    Rule,
    code_dataframe,
    compile_rule_test,
)


def _test_rows(spark, rule, rows, schema):
    df = spark.createDataFrame(rows, schema)
    passed, value = compile_rule_test(rule)
    out = df.select(passed.alias("p"), value.cast("string").alias("v")).collect()
    return [(r["p"], r["v"]) for r in out]


def test_match(spark):
    rule = Rule(id="gen_1", method="match", db_column="c", condition="male")
    res = _test_rows(spark, rule, [("male",), ("female",), (None,)], ["c"])
    assert [p for p, _ in res] == [True, False, False]


def test_match_list(spark):
    rule = Rule(id="nat_1", method="match", db_column="c", condition="demo,null_island")
    res = _test_rows(spark, rule, [("demo",), ("null_island",), ("x",)], ["c"])
    assert [p for p, _ in res] == [True, True, False]


def test_sub_match(spark):
    rule = Rule(id="sym_1", method="sub_match", db_column="c", condition="A03")
    res = _test_rows(
        spark, rule, [("A03",), ("B15-17_2, A03_2",), ("B99",), (None,)], ["c"]
    )
    assert [p for p, _ in res] == [True, True, False, False]


def test_not_null(spark):
    rule = Rule(id="pip_1", method="not_null", db_column="c", condition="")
    res = _test_rows(spark, rule, [("7",), ("",), (None,)], ["c"])
    assert [p for p, _ in res] == [True, False, False]


def test_between_simple(spark):
    # age_1: between 0,5 over pt1./age (FIXTURES.md §2.2)
    rule = Rule(
        id="age_1",
        method="between",
        db_column="age",
        condition="0,5",
        calculation="age",
    )
    res = _test_rows(
        spark, rule, [("0",), ("4",), ("5",), ("120",), ("",), (None,)], ["age"]
    )
    assert [p for p, _ in res] == [True, True, False, False, False, False]


def test_between_bmi_calculation(spark):
    # lab_3 BMI: weight / ((height/100)^2) between 15,25
    rule = Rule(
        id="lab_3",
        method="between",
        db_column="w,h",
        condition="15,25",
        calculation="w / ((h/100) * (h/100))",
    )
    res = _test_rows(
        spark,
        rule,
        [("70", "180"), ("200", "150"), ("70", ""), ("70", "0")],
        ["w", "h"],
    )
    # 70/1.8² = 21.6 in range; 200/1.5² = 88.9 out; empty col → not applicable;
    # height 0 → div-by-zero → fail (reference variable.py:277-279)
    assert [p for p, _ in res] == [True, False, False, False]


def test_match_and_between(spark):
    # age_7: female AND age in [0,5) (FIXTURES.md §2.2)
    rule = Rule(
        id="age_7",
        method="match and between",
        db_column="gender;age",
        condition="female;0,5",
        calculation=";age",
    )
    res = _test_rows(
        spark,
        rule,
        [("female", "3"), ("male", "3"), ("female", "9")],
        ["gender", "age"],
    )
    assert [p for p, _ in res] == [True, False, False]


def test_or_combinator(spark):
    rule = Rule(
        id="x", method="match or match", db_column="a;b", condition="yes;yes"
    )
    res = _test_rows(
        spark,
        rule,
        [("yes", "no"), ("no", "yes"), ("no", "no")],
        ["a", "b"],
    )
    assert [p for p, _ in res] == [True, True, False]


def test_calc(spark):
    # reg_2: consultations + ncd consultations (FIXTURES.md §2.2)
    rule = Rule(
        id="reg_2",
        method="calc",
        db_column="a,b",
        condition="",
        calculation="a + b",
    )
    res = _test_rows(spark, rule, [("10", "15"), ("", "5"), ("3", None)], ["a", "b"])
    assert res == [(True, "25.0"), (True, "5.0"), (True, "3.0")]


def test_value_date(spark):
    rule = Rule(
        id="submission_date",
        method="value",
        db_column="c",
        condition="",
        calculation="date",
    )
    res = _test_rows(spark, rule, [("2017-01-14",), ("garbage",), ("",)], ["c"])
    assert res[0] == (True, "2017-01-14T00:00:00")
    assert res[1][0] is False
    assert res[2][0] is False


def test_unknown_method_raises(spark):
    with pytest.raises(NameError):
        compile_rule_test(Rule(id="x", method="bogus", db_column="c", condition="y"))


def test_group_mutual_exclusion_and_categories(spark):
    # C2 + C5: gender group — first hit wins, category records winner
    rules = [
        Rule(id="gen_1", method="match", db_column="g", condition="male",
             category=["gender"], calculation_group="gender"),
        Rule(id="gen_2", method="match", db_column="g", condition="female",
             category=["gender"], calculation_group="gender"),
    ]
    df = code_dataframe(
        spark.createDataFrame([("male",), ("female",), ("x",)], ["g"]), rules
    )
    rows = {r["g"]: r for r in df.collect()}
    assert rows["male"]["variables"] == {"gen_1": "1"}
    assert rows["male"]["categories"] == {"gender": "gen_1"}
    assert rows["female"]["variables"] == {"gen_2": "1"}
    assert rows["x"]["variables"] == {}
    assert rows["x"]["categories"] == {}


def test_priority_overwrites(spark):
    # C3: lowest calculation_priority wins even when listed later
    rules = [
        Rule(id="low", method="match", db_column="c", condition="hit",
             calculation_group="grp", calculation_priority=2),
        Rule(id="high", method="match", db_column="c", condition="hit",
             calculation_group="grp", calculation_priority=1),
    ]
    df = code_dataframe(spark.createDataFrame([("hit",)], ["c"]), rules)
    assert df.collect()[0]["variables"] == {"high": "1"}


def test_priority_group_side_effects_fire_for_losers(spark):
    """Reference to_codes.py:287-303: in a calculation_priority group there
    is no break — EVERY applicable member updates categories, raises
    individual alerts and sets disregard, even when it loses the
    variable_json priority contest; shared categories resolve to the LAST
    applicable member in codes-file order."""
    rules = [
        Rule(id="loser", method="match", db_column="c", condition="hit",
             calculation_group="grp", calculation_priority=2,
             category=["flag_a", "shared"], disregard=True),
        Rule(id="winner", method="match", db_column="c", condition="hit",
             calculation_group="grp", calculation_priority=1,
             category=["flag_b", "shared"], alert=True,
             alert_type="individual"),
    ]
    df = code_dataframe(spark.createDataFrame([("hit",)], ["c"]), rules)
    row = df.collect()[0]
    # winner takes the variables slot...
    assert row["variables"] == {"winner": "1"}
    # ...but the loser's category/disregard side effects still fire
    assert row["categories"] == {
        "flag_a": "loser",
        "flag_b": "winner",
        "shared": "winner",  # last write in file order wins
    }
    assert row["alert"] is True
    assert row["disregard"] is True  # loser's disregard + winner's indiv alert

    # when only the low-priority member passes, it owns everything
    rules2 = [
        Rule(id="loser", method="match", db_column="c", condition="hit",
             calculation_group="grp", calculation_priority=2,
             category=["shared"]),
        Rule(id="winner", method="match", db_column="c", condition="other",
             calculation_group="grp", calculation_priority=1,
             category=["shared"]),
    ]
    row2 = code_dataframe(
        spark.createDataFrame([("hit",)], ["c"]), rules2
    ).collect()[0]
    assert row2["variables"] == {"loser": "1"}
    assert row2["categories"] == {"shared": "loser"}


def test_calc_division_by_zero_is_zero(spark):
    """Reference variable.py:315-319 catches ZeroDivisionError and stores 0
    with applicable=True; between's div-by-zero fails the test (:279-281)."""
    calc_rule = Rule(id="ratio", method="calc", db_column="a,b",
                     calculation="a/b")
    res = _test_rows(
        spark, calc_rule, [("10", "4"), ("10", "0"), ("10", "")], ["a", "b"]
    )
    assert res[0] == (True, "2.5")
    assert res[1] == (True, "0.0")   # ZeroDivisionError → 0, applicable
    assert res[2] == (True, "0.0")   # empty → 0 denominator → same path

    between_rule = Rule(id="band", method="between", db_column="a,b",
                        condition="0,100", calculation="a/b")
    res2 = _test_rows(spark, between_rule, [("10", "4"), ("10", "0")], ["a", "b"])
    assert [p for p, _ in res2] == [True, False]


def test_alert_and_disregard(spark):
    # C6/C7: disregard only survives together with an individual alert
    rules_alert = [
        Rule(id="cmd_1", method="match", db_column="c", condition="hit",
             alert=True, alert_type="individual"),
        Rule(id="dis_1", method="match", db_column="c", condition="hit",
             disregard=True),
    ]
    df = code_dataframe(spark.createDataFrame([("hit",), ("miss",)], ["c"]), rules_alert)
    rows = {r["c"]: r for r in df.collect()}
    assert rows["hit"]["alert"] is True
    assert rows["hit"]["alert_reason"] == "cmd_1"
    assert rows["hit"]["disregard"] is True
    assert rows["miss"]["alert"] is False

    # disregard without an individual alert is cancelled (to_codes.py:302-309)
    rules_no_alert = [
        Rule(id="dis_1", method="match", db_column="c", condition="hit",
             disregard=True),
    ]
    df2 = code_dataframe(spark.createDataFrame([("hit",)], ["c"]), rules_no_alert)
    assert df2.collect()[0]["disregard"] is False


def test_extra_variables(spark):
    # C8: data-type var + data_entry literals
    rules = [Rule(id="gen_1", method="match", db_column="g", condition="male")]
    df = code_dataframe(
        spark.createDataFrame([("male",)], ["g"]),
        rules,
        extra_variables={"tot_1": "1", "data_entry": "1"},
    )
    assert df.collect()[0]["variables"] == {
        "gen_1": "1",
        "tot_1": "1",
        "data_entry": "1",
    }


def test_multiple_link_rules(spark):
    """C4 via the coding engine: last/first/count/any/all over a link array
    (reference codes/to_codes.py:213-242)."""
    from meerkat_abacus_spark.operators.links import LinkDef, add_links

    base = spark.createDataFrame([("b1", "k"), ("b2", "nomatch")], ["uuid", "key"])
    to_form = spark.createDataFrame(
        [("t1", "k", "2017-01-01", "yes", "40"),
         ("t2", "k", "2017-01-09", "no", "90")],
        ["uuid", "key", "date", "returned", "score"],
    )
    link = LinkDef(name="fu", type="case", to_form="f", from_form="b",
                   from_column="key", to_column="key",
                   order_by="date;date", uuid="uuid")
    linked = add_links(base, {"f": to_form}, [link])

    rules = [
        Rule(id="n_fu", method="value", db_column="uuid", condition="",
             multiple_link="count", form="fu"),
        Rule(id="last_no", method="match", db_column="returned",
             condition="no", multiple_link="last", form="fu"),
        Rule(id="first_low", method="between", db_column="score",
             condition="0,50", calculation="score",
             multiple_link="first", form="fu"),
        Rule(id="any_yes", method="match", db_column="returned",
             condition="yes", multiple_link="any", form="fu"),
        Rule(id="all_yes", method="match", db_column="returned",
             condition="yes", multiple_link="all", form="fu"),
    ]
    out = code_dataframe(linked, rules)
    rows = {r["uuid"]: r["variables"] for r in out.collect()}
    assert rows["b1"] == {
        "n_fu": "2", "last_no": "1", "first_low": "1", "any_yes": "1",
    }
    assert rows["b2"] == {}  # empty link array → no link rule applicable


def test_alert_data_columns(spark):
    """C6: individual alert copies alert_data columns as alert_<name>
    (reference to_codes.py:292-301; FIXTURES.md §3 coding golden case)."""
    rules = [
        Rule(id="cmd_1", method="match", db_column="icd", condition="A00",
             alert=True, alert_type="individual"),
    ]
    df = spark.createDataFrame(
        [("A00", "34", "female"), ("B99", "7", "male")],
        ["icd", "pt./age", "pt./gender"],
    )
    out = code_dataframe(
        df, rules, alert_data={"age": "pt./age", "gender": "pt./gender"}
    )
    rows = {r["icd"]: r["variables"] for r in out.collect()}
    assert rows["A00"]["alert_age"] == "34"
    assert rows["A00"]["alert_gender"] == "female"
    assert "alert_age" not in rows["B99"]


def test_link_uuid_projection(spark):
    """C11: links map {name: [uuid,...]} (process_steps/to_codes.py:99-104)."""
    from meerkat_abacus_spark.operators.links import (
        LinkDef, add_links, link_uuid_projection,
    )

    base = spark.createDataFrame([("b1", "k")], ["uuid", "key"])
    to_form = spark.createDataFrame(
        [("t1", "k", "2017-01-02"), ("t2", "k", "2017-01-01")],
        ["uuid", "key", "date"],
    )
    link = LinkDef(name="fu", type="case", to_form="f", from_form="b",
                   from_column="key", to_column="key",
                   order_by="date;date", uuid="uuid")
    linked = link_uuid_projection(
        add_links(base, {"f": to_form}, [link]), ["fu"]
    )
    assert linked.collect()[0]["links"] == {"fu": ["t2", "t1"]}


def test_between_on_dates(spark):
    """between with Variable.to_date calculation (variable_test.py date
    cases): a date-window rule passes only inside the window."""
    # window: dates within ~1 week of 2017-06-01 measured in epi-epoch weeks
    rule = Rule(
        id="recent_1",
        method="between",
        db_column="d1,d2",
        condition="0,2",
        calculation=(
            "abs(int(Variable.to_date(d1)/604800)"
            " - int(Variable.to_date(d2)/604800))"
        ),
    )
    res = _test_rows(
        spark,
        rule,
        [
            ("2017-06-01", "2017-06-03"),   # same week-ish → diff 0/1
            ("2017-06-01", "2017-09-20"),   # months apart → fail
            ("", "2017-06-01"),             # empty → not applicable
        ],
        ["d1", "d2"],
    )
    assert [p for p, _ in res] == [True, False, False]


# --- whole-stage compile at codes-file size, and the output contract -------

_ICD = [f"{c}{n:02d}" for c in "ABEIJ" for n in range(24)]


def _linked_cases(spark):
    """Case rows with the columns the perfbench codes mix reads, plus a
    ``link_fu`` array (one row has two follow-ups, one has none)."""
    from meerkat_abacus_spark.operators.links import LinkDef, add_links

    rows = [
        ("u1", "A01", "fever cough", "3", "female", "p1", "2017-01-14", "k1"),
        ("u2", "B02", "rash", "34", "male", "p2", "2017-02-01", "k2"),
        ("u3", "J23", "", "70", "male", "", "garbage", "nomatch"),
        ("u4", None, "cough", "", None, "p4", "", "k1"),
    ]
    base = spark.createDataFrame(
        rows, ["uuid", "icd", "symptoms", "age", "gender", "pid", "sub", "key"]
    )
    fu = spark.createDataFrame(
        [("f1", "k1", "2017-01-20"), ("f2", "k1", "2017-01-27"),
         ("f3", "k2", "2017-02-03")],
        ["uuid", "key", "date"],
    )
    link = LinkDef(name="fu", type="case", to_form="fu", from_form="case",
                   from_column="key", to_column="key", order_by="date;date",
                   uuid="uuid")
    return add_links(base, {"fu": fu}, [link])


def _perfbench_mix(n: int) -> list:
    """``n`` case rules in the perfbench codes file's method mix: ICD match
    rules (two raise individual alerts), sub_match, between with a
    calculation, value (raw and date), a calculation group and one link
    rule."""
    rules = [
        Rule(id="ret_1", method="value", db_column="uuid",
             multiple_link="count", form="fu", category=["links"]),
        Rule(id="val_pid", method="value", db_column="pid"),
        Rule(id="val_sub", method="value", db_column="sub", calculation="date"),
    ]
    for k, (lo, hi) in enumerate([(0, 1), (1, 5), (5, 15), (15, 25),
                                  (25, 50), (50, 200)]):
        rules.append(Rule(id=f"age_{k}", method="between", db_column="age",
                          condition=f"{lo},{hi}", calculation="age",
                          category=["age"], calculation_group="age"))
    for k, (g, lo, hi) in enumerate([("female", 0, 5), ("male", 15, 50)]):
        rules.append(Rule(id=f"agegen_{k}", method="match and between",
                          db_column="gender;age", condition=f"{g};{lo},{hi}",
                          calculation=";age", category=["demo"]))
    for k, s in enumerate(["fever", "cough", "rash", "vomit", "ache"]):
        rules.append(Rule(id=f"sym_{k}", method="sub_match",
                          db_column="symptoms", condition=s,
                          category=["symptoms"]))
    k = 0
    while len(rules) < n:
        codes = [_ICD[k % len(_ICD)]] + ([_ICD[(k * 7 + 3) % len(_ICD)]]
                                         if k % 3 == 2 else [])
        rules.append(Rule(id=f"cmd_{k}", method="match", db_column="icd",
                          condition=",".join(codes), category=["cd_tab"],
                          alert=k in (1, 2), alert_type="individual"))
        k += 1
    return rules


@pytest.mark.parametrize("n_rules", [90, 110, 130])
def test_codes_file_sized_projection_compiles(spark, n_rules):
    """A codes file of 90-130 case rules codes with whole-stage codegen and
    no fallback: a projection past Janino's 64 KB method limit fails here
    instead of being logged and re-run interpreted.  The compiled answers
    equal the answers with whole-stage codegen off."""
    rules = _perfbench_mix(n_rules)
    assert len(rules) == n_rules
    linked = _linked_cases(spark)
    extra = {"tot_1": "1", "data_entry": "1"}

    def coded():
        out = code_dataframe(linked, rules, extra_variables=extra)
        return sorted(
            out.selectExpr(
                "uuid", "map_entries(variables) AS v",
                "map_entries(categories) AS c", "alert", "alert_reason",
                "disregard",
            ).collect()
        )

    keys = ("spark.sql.codegen.fallback", "spark.sql.codegen.wholeStage")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.codegen.fallback", "false")
        compiled = coded()
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.fallback", "true")
        assert compiled == coded()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    by_uuid = {r["uuid"]: r for r in compiled}
    u1 = dict((e["key"], e["value"]) for e in by_uuid["u1"]["v"])
    assert u1["ret_1"] == "2" and u1["age_1"] == "1" and u1["agegen_0"] == "1"
    assert u1["val_sub"] == "2017-01-14T00:00:00" and u1["cmd_1"] == "1"
    assert by_uuid["u1"]["alert"] is True
    assert by_uuid["u1"]["alert_reason"] == "cmd_1"
    assert "ret_1" not in dict((e["key"], e["value"]) for e in by_uuid["u3"]["v"])


def test_coding_output_contract(spark):
    """variables/categories are NOT NULL MAP<STRING,STRING>; their keys come
    out in codes-file group order (extra variables last); no helper column
    of the two projections survives."""
    from pyspark.sql.types import MapType, StringType

    rules = [
        Rule(id="z_last", method="match", db_column="c", condition="hit",
             multiple_link="last", form="fu", category=["zeta"]),
        Rule(id="m_2", method="match", db_column="c", condition="hit",
             calculation_group="m", category=["alpha"]),
        Rule(id="b_1", method="match", db_column="c", condition="hit",
             category=["zeta", "beta"]),
        Rule(id="m_1", method="match", db_column="c", condition="hit",
             calculation_group="m", category=["alpha"]),
        Rule(id="a_0", method="not_null", db_column="c"),
    ]
    base = spark.createDataFrame([("u1", "hit")], ["uuid", "c"]).selectExpr(
        "*",
        "array(named_struct('__sort', 1, '__uuid', 'f1',"
        " 'row', named_struct('c', 'hit'))) AS link_fu",
    )
    out = code_dataframe(base, rules, extra_variables={"tot_1": "1"})
    fields = {f.name: f for f in out.schema.fields}
    for name in ("variables", "categories"):
        assert not fields[name].nullable
        assert isinstance(fields[name].dataType, MapType)
        assert fields[name].dataType.keyType == StringType()
        assert fields[name].dataType.valueType == StringType()
    assert [c for c in out.columns if c.startswith(("__t", "__lr_"))] == []
    assert out.columns == base.columns + [
        "variables", "categories", "alert", "alert_reason", "disregard",
    ]
    row = out.selectExpr(
        "map_keys(variables) AS vk", "map_keys(categories) AS ck",
        "categories['zeta'] AS zeta",
    ).first()
    assert row["vk"] == ["z_last", "m_2", "b_1", "a_0", "tot_1"]
    assert row["ck"] == ["zeta", "alpha", "beta"]
    assert row["zeta"] == "b_1"   # last write in file order wins
