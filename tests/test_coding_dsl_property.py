"""Property test: the coding-rule compiler agrees with a direct Python
port of the reference DSL on random rule tables × random rows (VERDICT
r10 ask #8).

The model below ports ``meerkat_abacus/codes/variable.py`` (test_match
:201-206, test_sub_match :208-224, test_not_null :226-231, test_calc_
between :251-285, test_calc :287-319, test_value :233-249, test_many
:175-199 with Python bitwise &/| precedence) and the group/priority loop
of ``codes/to_codes.py:250-306`` — on all-string CSV rows, the
reference's production regime (S1).

Cleaned-semantics divergences (SURVEY §7c), deliberately NOT generated or
modeled quirk-for-quirk:
- ``value is not 0`` / ``is not ""`` identity tests (variable.py:231,238)
  are modeled as equality — identical behavior for interned CPython
  literals, which is what the reference actually relied on;
- a non-numeric string reaching the arithmetic RAISES in the reference
  (between re-raises ValueError at variable.py:283-285; calc hits an
  uncaught TypeError mixing str and float); the engine and the model
  treat it as test-failed (between, empty_as_zero=False → NULL) or as
  0.0 like an empty cell (calc, empty_as_zero=True) — a crash is not a
  semantics;
- priority values are generated >= 1: to_codes.py:263 uses
  ``intragroup_priority == 0`` as the "no winner yet" sentinel, so a
  literal priority 0 corrupts the reference's own bookkeeping;
- sub_match condition entries are generated non-empty: the reference
  matches an empty-string condition against ANY truthy value
  (``"" in x`` is always True), which no production codes file uses.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from meerkat_abacus_spark.operators.coding import (
    Resolver,
    Rule,
    code_dataframe,
    compile_rule_test,
)

COLS = ["c0", "c1", "c2", "c3"]
# value pool exercises the quirk surface: None, empty, "0" (truthy for
# not_null in string world), ints, floats, substring-related strings
VALUES = [None, "", "0", "1", "2", "7", "13", "0.5", "a", "ab", "ba", "abc"]
CONDITION_POOL = ["1", "2", "a", "ab", "b", "7"]
ABSENT = "zz"  # a column no row carries — the not-in-row paths


def _rows(rng: random.Random, n: int = 14) -> list[dict]:
    rows = [
        dict(zip(COLS, ["1", "a", "0", ""])),
        dict(zip(COLS, [None, "ab", "7", "0.5"])),
        dict(zip(COLS, ["", "", None, "13"])),
    ]
    while len(rows) < n:
        rows.append({c: rng.choice(VALUES) for c in COLS})
    return rows


# --- the reference model (variable.py port, string-typed rows) ----------


def _m_match(col, cond, row):
    if col not in row:
        return 0  # KeyError -> except -> 0 (variable.py:201-206)
    return 1 if row[col] in cond else 0


def _m_sub_match(col, cond, row):
    if col not in row:
        return 0
    v = row[col]
    if v in cond:
        return 1
    for c in cond:
        if v and c in v:
            return 1
    return 0


def _m_not_null(col, row):
    if col not in row:
        return 0
    v = row[col]
    return 1 if (v != "" and v is not None) else 0


def _m_between(cols, cond, calc, row):
    env = {}
    for c in cols:
        if c not in row or row[c] == "" or row[c] is None:
            return 0  # variable.py:265-268
        try:
            env[c] = float(row[c])
        except ValueError:
            env[c] = row[c]
    try:
        result = float(eval(calc, {"int": int, "__builtins__": {}}, env))
        return 1 if float(cond[0]) <= result < float(cond[1]) else 0
    except ZeroDivisionError:
        return 0
    except (ValueError, TypeError):
        return 0  # cleaned: reference raises (see module docstring)


def _m_calc(cols, calc, row):
    """-> (applicable, value) per variable.py:287-319 + test():163-171.

    Cleaned semantics for non-numeric strings: the engine's
    empty_as_zero path coerces them to 0.0 exactly like empty cells; the
    reference would leave the raw string in the eval environment and
    crash with an uncaught TypeError on the first arithmetic op
    (test_calc catches only ZeroDivisionError, variable.py:315-319)."""
    env = {}
    for c in cols:
        if c not in row:
            return False, None  # "not_applicable"
        if row[c] == "" or row[c] is None:
            env[c] = 0.0
        else:
            try:
                env[c] = float(row[c])
            except ValueError:
                env[c] = 0.0  # cleaned: reference crashes here
    try:
        value = float(eval(calc, {"int": int, "__builtins__": {}}, env))
    except ZeroDivisionError:
        return True, 0.0
    return True, value  # applicable even when 0 (test():163-165)


def _m_value(col, row):
    if col not in row:
        return False, None
    v = row[col]
    if v != "" and v is not None:
        return True, v
    return False, None


def ref_applicable(rule: Rule, row: dict):
    """bool(test(row)['applicable']) for boolean-combination rules
    (variable.py test_many + the compiled bitwise expression)."""
    tests, ops = rule.tests()
    columns = rule.columns_per_test()
    conditions = rule.conditions_per_test()
    calcs = (rule.calculation or "").split(";")
    res = []
    for i, tt in enumerate(tests):
        if tt == "match":
            res.append(_m_match(columns[i][0], conditions[i], row))
        elif tt == "sub_match":
            res.append(_m_sub_match(columns[i][0], conditions[i], row))
        elif tt == "not_null":
            res.append(_m_not_null(columns[i][0], row))
        elif tt == "between":
            calc = calcs[i] if i < len(calcs) else calcs[0]
            res.append(_m_between(columns[i], conditions[i], calc, row))
        else:
            raise AssertionError(tt)
    # Python bitwise precedence: & binds tighter than | (variable.py:44-53)
    acc = [res[0]]
    for op, r in zip(ops, res[1:]):
        if op == "and":
            acc[-1] = acc[-1] & r
        else:
            acc.append(r)
    return bool(sum(1 for a in acc if a))


# --- random rule generation ---------------------------------------------


def _gen_bool_rule(rng: random.Random, rid: str) -> Rule:
    n = rng.randint(1, 3)
    tests, cols, conds, calcs = [], [], [], []
    for _ in range(n):
        tt = rng.choice(["match", "sub_match", "not_null", "between"])
        tests.append(tt)
        col = rng.choice(COLS + [ABSENT])
        if tt in ("match", "sub_match"):
            cols.append(col)
            conds.append(
                ",".join(
                    rng.sample(CONDITION_POOL, rng.randint(1, 3))
                )
            )
            calcs.append("")
        elif tt == "not_null":
            cols.append(col)
            conds.append("none")
            calcs.append("")
        else:  # between
            c2 = rng.choice(COLS)
            two = rng.random() < 0.5 and col != c2 and col != ABSENT
            cols.append(f"{col},{c2}" if two else col)
            lo = rng.choice([0, 1, 0.5, 5])
            hi = lo + rng.choice([1, 5, 20])
            conds.append(f"{lo},{hi}")
            calcs.append(
                f"{col}+{c2}" if two else rng.choice([col, f"{col}*2"])
            )
    ops = [rng.choice(["and", "or"]) for _ in range(n - 1)]
    method = tests[0] + "".join(
        f" {o} {t}" for o, t in zip(ops, tests[1:])
    )
    return Rule(
        id=rid,
        method=method,
        db_column=";".join(cols),
        condition=";".join(conds),
        calculation=";".join(calcs) if any(calcs) else None,
    )


def test_rule_tests_match_reference_model(spark):
    """Every randomly generated boolean-combination rule agrees with the
    variable.py port on every row — one Spark projection for the sweep."""
    rng = random.Random(20260815)
    rows = _rows(rng)
    rules = [_gen_bool_rule(rng, f"v{i}") for i in range(80)]

    df = spark.createDataFrame(
        [tuple(r[c] for c in COLS) for r in rows], f"{': string, '.join(COLS)}: string"
    )
    resolver = Resolver(available=set(COLS))
    proj = []
    for i, rule in enumerate(rules):
        passed, _val = compile_rule_test(rule, "international", resolver)
        proj.append(passed.alias(f"r{i}"))
    got = df.select(*proj).collect()

    for ri, row in enumerate(rows):
        for i, rule in enumerate(rules):
            expected = ref_applicable(rule, row)
            actual = bool(got[ri][f"r{i}"])
            assert actual == expected, (
                rule.method, rule.db_column, rule.condition,
                rule.calculation, row, actual, expected,
            )


def test_calc_and_value_rules_match_reference_model(spark):
    """Single-test calc/value rules: applicable AND the stored value agree
    with the reference port (test_calc's 0-is-applicable /
    not_applicable quirks, test_value's non-empty passthrough)."""
    rng = random.Random(20260816)
    rows = _rows(rng)
    df = spark.createDataFrame(
        [tuple(r[c] for c in COLS) for r in rows], f"{': string, '.join(COLS)}: string"
    )
    resolver = Resolver(available=set(COLS))

    calc_rules = []
    for i in range(25):
        a, b = rng.sample(COLS, 2)
        expr = rng.choice([a, f"{a}+{b}", f"{a}*2", f"{a}-{b}", f"{a}/{b}"])
        calc_rules.append(
            Rule(id=f"k{i}", method="calc", db_column=f"{a},{b}",
                 condition="none", calculation=expr)
        )
    value_rules = [
        Rule(id=f"w{i}", method="value", db_column=rng.choice(COLS),
             condition="none")
        for i in range(8)
    ]

    proj = []
    for i, rule in enumerate(calc_rules + value_rules):
        passed, val = compile_rule_test(rule, "international", resolver)
        proj.append(passed.alias(f"p{i}"))
        proj.append(val.alias(f"v{i}"))
    got = df.select(*proj).collect()

    for ri, row in enumerate(rows):
        for i, rule in enumerate(calc_rules):
            cols = rule.columns_per_test()[0]
            exp_app, exp_val = _m_calc(cols, rule.calculation, row)
            act_app = bool(got[ri][f"p{i}"])
            assert act_app == exp_app, (rule.calculation, row, act_app)
            if exp_app:
                assert abs(got[ri][f"v{i}"] - exp_val) < 1e-9, (
                    rule.calculation, row, got[ri][f"v{i}"], exp_val
                )
        for j, rule in enumerate(value_rules):
            i = len(calc_rules) + j
            col = rule.columns_per_test()[0][0]
            exp_app, exp_val = _m_value(col, row)
            act_app = bool(got[ri][f"p{i}"])
            assert act_app == exp_app, (col, row, act_app)
            if exp_app:
                assert got[ri][f"v{i}"] == exp_val, (col, row)


# --- group / priority structures (to_codes.py:250-306) -------------------


def ref_group_outcome(rules: list[Rule], row: dict):
    """(variable_json, categories) per the reference group loop: non-
    priority groups break on the first applicable member; priority groups
    test EVERY member, a strictly lower priority number overwrites, and
    side effects (categories) fire for every applicable member."""
    groups: dict[str, list[Rule]] = {}
    for r in rules:
        groups.setdefault(r.calculation_group or r.id, []).append(r)
    variable_json: dict = {}
    categories: dict = {}
    for members in groups.values():
        priority_flag = any(
            m.calculation_priority not in ("", None) for m in members
        )
        intragroup, current = 0, None
        for m in members:
            if not ref_applicable(m, row):
                continue
            if priority_flag:
                p = int(m.calculation_priority)
                if intragroup == 0:
                    variable_json[m.id] = 1
                    intragroup, current = p, m.id
                elif intragroup > p:
                    del variable_json[current]
                    variable_json[m.id] = 1
                    intragroup, current = p, m.id
            else:
                variable_json[m.id] = 1
            for cat in m.category:
                categories[cat] = m.id
            if not priority_flag:
                break
    return variable_json, categories


def test_group_priority_structures_match_reference_model(spark):
    """Random group/priority tables: the compiled CASE-WHEN winner per
    group and the last-write-wins categories map agree with the to_codes
    loop on every row."""
    rng = random.Random(20260817)
    rows = _rows(rng)
    df = spark.createDataFrame(
        [tuple(r[c] for c in COLS) for r in rows], f"{': string, '.join(COLS)}: string"
    )

    for trial in range(6):
        rules: list[Rule] = []
        rid = 0
        for g in range(rng.randint(2, 4)):
            size = rng.randint(1, 4)
            with_priority = rng.random() < 0.5 and size > 1
            # reference cleaned semantics: priorities >= 1 (0 is the
            # loop's own sentinel), unique not required
            prios = [rng.randint(1, 5) for _ in range(size)]
            for k in range(size):
                r = _gen_bool_rule(rng, f"g{trial}_{rid}")
                r.calculation_group = f"grp{trial}_{g}" if size > 1 else None
                r.calculation_priority = prios[k] if with_priority else None
                if rng.random() < 0.4:
                    r.category = [rng.choice(["cat_x", "cat_y"])]
                rules.append(r)
                rid += 1

        got = code_dataframe(df, rules).select(
            F.col("variables").alias("vars"), F.col("categories").alias("cats")
        ).collect()
        for ri, row in enumerate(rows):
            exp_vars, exp_cats = ref_group_outcome(rules, row)
            act_vars = dict(got[ri]["vars"] or {})
            act_cats = dict(got[ri]["cats"] or {})
            assert act_vars == {k: str(v) for k, v in exp_vars.items()}, (
                trial, row, act_vars, exp_vars,
            )
            assert act_cats == exp_cats, (trial, row, act_cats, exp_cats)
