"""The coding engine: config rules → two compiled projections.

Reference: meerkat_abacus/codes/variable.py (the 6-primitive boolean DSL) and
meerkat_abacus/codes/to_codes.py (group/priority/category/alert semantics).
The reference interprets each rule per row in Python; here the whole rule
table compiles once into Catalyst expressions, in two stacked projections:

- lower: each rule's test → one boolean helper column ``__t<i>``, so every
  test is evaluated exactly once per row
- upper, from those booleans:
  - calculation_group → one ``CASE WHEN t1 THEN (id1, v1) WHEN t2 …`` entry:
    first match wins (to_codes.py:197-213, 305-306); with
    calculation_priority the arms are ordered by priority (:260-281)
  - variables / categories → one map each, built from a NULL-filtered
    entry array (to_codes.py:250-290)
  - alert / alert_reason / disregard → boolean/string columns (:292-309)
- the helper columns are dropped.

No shuffle, no Python, no per-rule pass over the data.  A test is never
re-inlined into the winner, value, category and alert expressions.  At a
codes-file size (100+ rules) both projections run outside the whole-stage
codegen span: the lower one has more output columns than
``spark.sql.codegen.maxFields`` and the upper one holds the ``filter``
lambda.  Spark compiles each as its own projection, split into methods, so
no generated method reaches Janino's 64 KB limit and no failed compile is
retried per execution (``tests/test_coding.py`` codes such a file with
``spark.sql.codegen.fallback=false``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meerkat_abacus_spark.functions.calculation import (
    _multiformat_parse_sql,
    translate_calculation,
)

_PRIMITIVES = ("match", "sub_match", "between", "value", "not_null", "calc")


# --- SQL-string expression builders (r16, guide §7.3 driver time) ----------
#
# The compiler used to assemble its CASE-WHEN projection from PySpark
# Column objects; every Column construction is a py4j round-trip, and a
# coding query paid ~1000-1600 of them PER PLAN BUILD (measured: 0.3-0.7 s
# of pure driver latency on pipeline_composed / coding_variables /
# alert-family builds).  The compiler now assembles ONE SQL string per
# test and output column — pure Python string work — and Spark parses the
# tests in one selectExpr and each output with a single F.expr.  Every
# helper mirrors its former Column construction expression-for-expression
# (same casts, same NULL handling, same operator precedence); the
# reference-port property suite (tests/test_coding_dsl_property.py) and
# the 12 coding oracle queries pin the behavior.


def _qid(name: str) -> str:
    """Backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sq(s: str) -> str:
    """Single-quoted SQL string literal (backslash-safe: the default
    parser processes backslash escapes inside literals)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


@dataclass
class Rule:
    """One aggregation_variables row (reference model.py:175-228)."""

    id: str
    method: str
    db_column: str = ""
    condition: str = ""
    calculation: str | None = None
    category: list[str] = field(default_factory=list)
    calculation_group: str | None = None
    calculation_priority: int | None = None
    multiple_link: str | None = None
    alert: bool = False
    alert_type: str | None = None
    disregard: bool = False
    type: str = "case"
    form: str | None = None

    def tests(self) -> tuple[list[str], list[str]]:
        """Split ``method`` into alternating test tokens and and/or operators
        (reference variable.py:34-53)."""
        tokens = self.method.split(" ")
        tests, ops = tokens[0::2], tokens[1::2]
        for t in tests:
            if t not in _PRIMITIVES:
                raise NameError(f"{self.id} has wrong test type {t!r}")
        for o in ops:
            if o not in ("and", "or"):
                raise NameError(f"{self.id} has wrong logic type {o!r}")
        return tests, ops

    def columns_per_test(self) -> list[list[str]]:
        return [
            [c.strip() for c in part.split(",")] if "," in part else [part]
            for part in self.db_column.split(";")
        ]

    def conditions_per_test(self) -> list[list[str]]:
        out = []
        for part in self.condition.split(";"):
            if "," in part:
                out.append([c.strip() for c in part.split(",")])
            else:
                out.append([part])
        return out


class Resolver:
    """Maps a config column name to a SQL expression string — top-level by
    default, a field of a (materialized) linked-row struct for
    multiple_link last/first rules, or a field of a HOF lambda variable's
    ``row`` struct for any/all rules (C4, reference
    codes/to_codes.py:213-242).

    ``available``: the form's column set; a rule referencing an absent
    column is *not applicable* rather than an analysis error (reference
    variable.py:226-231, 251-268, 288-302 all return 0/not_applicable for
    ``column not in row`` — production codes files routinely carry rules
    for fields a given deployment's forms don't collect).

    ``types``: the form's ``dict(df.dtypes)`` when known (r16) — lets the
    calc/value date paths skip the multiformat parse for columns the scan
    already typed (see ``translate_calculation``'s ``column_types``).
    Top-level resolvers only; struct/lambda resolvers leave it None.
    """

    def __init__(self, struct_col: str | None = None,
                 lambda_var: str | None = None,
                 available: set[str] | None = None,
                 types: "dict[str, str] | None" = None):
        self.struct_col = struct_col
        self.lambda_var = lambda_var
        self.available = available
        self.types = types if struct_col is None and lambda_var is None else None

    def is_missing(self, name: str) -> bool:
        return self.available is not None and name not in self.available

    def sql(self, name: str) -> str:
        if self.lambda_var is not None:
            return f"{self.lambda_var}.row.{_qid(name)}"
        if self.struct_col is not None:
            return f"{_qid(self.struct_col)}.{_qid(name)}"
        if self.is_missing(name):
            return "CAST(NULL AS STRING)"
        return _qid(name)

    def __call__(self, name: str) -> Column:
        return F.expr(self.sql(name))

    def sql_prefix(self) -> str | None:
        """Prefix for translate_calculation (between/calc SQL paths)."""
        return self.struct_col


_DEFAULT = Resolver()


def _non_empty(name: str, r: Resolver = _DEFAULT) -> str:
    c = r.sql(name)
    return f"(({c}) IS NOT NULL AND CAST({c} AS STRING) <> '')"


def _test_match(cols: list[str], cond: list[str], r: Resolver = _DEFAULT) -> str:
    vals = ", ".join(_sq(c) for c in cond if c is not None)
    return f"(CAST({r.sql(cols[0])} AS STRING) IN ({vals}))"


def _test_sub_match(
    cols: list[str], cond: list[str], r: Resolver = _DEFAULT
) -> str:
    c = f"CAST({r.sql(cols[0])} AS STRING)"
    exact = f"({c} IN ({', '.join(_sq(v) for v in cond)}))"
    subs = [f"contains({c}, {_sq(v)})" for v in cond if v]
    return reduce(lambda a, b: f"({a} OR {b})", subs, exact)


def _test_not_null(cols: list[str], r: Resolver = _DEFAULT) -> str:
    # Reference variable.py:226-231: value not in ("", None, 0) — with CSV
    # string semantics the numeric-0 arm only fires for genuinely numeric
    # columns, handled by the cast-compare.
    return _non_empty(cols[0], r)


def _dlit(v: float) -> str:
    """Double literal (the D suffix pins DoubleType like F.lit(float))."""
    return f"{v!r}D"


def _between(
    cols: list[str],
    cond: list[str],
    calculation: str,
    epi_config: str | dict,
    r: Resolver = _DEFAULT,
) -> tuple[str, str]:
    """(applicable, passed) for a between test (variable.py:251-285)."""
    lo, hi = float(cond[0]), float(cond[1])
    if any(r.is_missing(c) for c in cols):
        # column absent from the form → test fails (variable.py:265-268)
        return "false", "false"
    applicable = reduce(
        lambda a, b: f"({a} AND {b})", [_non_empty(c, r) for c in cols]
    )
    if r.sql_prefix() is None and r.lambda_var is not None:
        raise NameError("between is not supported inside any/all link rules")
    value = "({})".format(
        translate_calculation(
            calculation, cols, epi_config, empty_as_zero=False,
            col_prefix=r.sql_prefix(), column_types=r.types,
        )
    )
    return applicable, (
        f"(({applicable} AND ({value} >= {_dlit(lo)}))"
        f" AND ({value} < {_dlit(hi)}))"
    )


def _rule_test_sql(
    rule: Rule,
    epi_config: str | dict = "international",
    resolver: Resolver = _DEFAULT,
) -> tuple[str, str]:
    """Compile one rule into ``(passed BOOLEAN, value)`` SQL expressions.

    Mirrors Variable.test (reference variable.py:147-173): ``value`` is the
    stored payload when the test passes — 1 for boolean tests, the computed
    number for ``calc``, the raw/ISO value for ``value``.
    """
    r = resolver
    tests, ops = rule.tests()
    columns = rule.columns_per_test()
    conditions = rule.conditions_per_test()
    if len(conditions) != len(tests) and rule.condition:
        raise TypeError(f"need same number of conditions as test types: {rule.id}")

    if "value" in tests:
        if len(tests) > 1:
            raise NameError("value must be only test type")
        col = r.sql(columns[0][0])
        applicable = _non_empty(columns[0][0], r)
        if rule.calculation == "date":
            # Typed timestamp/date columns skip the multiformat parse
            # (r16, same identity argument as translate_calculation's
            # column_types — the string render of a typed column always
            # round-trips through the parse to the same instant).
            typed = (r.types or {}).get(columns[0][0], "").startswith(
                ("timestamp", "date")
            )
            ts = (
                f"CAST({col} AS TIMESTAMP)"
                if typed
                else _multiformat_parse_sql(f"CAST({col} AS STRING)")
            )
            fmt = _sq("yyyy-MM-dd'T'HH:mm:ss")
            value = f"date_format({ts}, {fmt})"
            return f"({applicable} AND ({value}) IS NOT NULL)", value
        return applicable, f"CAST({col} AS STRING)"

    if "calc" in tests:
        if len(tests) > 1:
            raise NameError("calc must be only test type")
        if r.sql_prefix() is None and r.lambda_var is not None:
            raise NameError("calc is not supported inside any/all link rules")
        if any(r.is_missing(c) for c in columns[0]):
            # column not in row → not applicable (variable.py:288-302)
            return "false", "CAST(NULL AS DOUBLE)"
        value = "CAST(({}) AS DOUBLE)".format(
            translate_calculation(
                rule.calculation or "", columns[0], epi_config,
                empty_as_zero=True, col_prefix=r.sql_prefix(),
                column_types=r.types,
            )
        )
        # Reference variable.py:163-171: calc is applicable whenever the
        # columns exist (they always do in a DataFrame); 0 is a real value.
        return f"(({value}) IS NOT NULL)", value

    calcs = (rule.calculation or "").split(";")
    results: list[str] = []
    for i, tt in enumerate(tests):
        if tt == "match":
            results.append(_test_match(columns[i], conditions[i], r))
        elif tt == "sub_match":
            results.append(_test_sub_match(columns[i], conditions[i], r))
        elif tt == "not_null":
            results.append(_test_not_null(columns[i], r))
        elif tt == "between":
            calc = calcs[i] if i < len(calcs) else calcs[0]
            _, passed = _between(columns[i], conditions[i], calc, epi_config, r)
            results.append(passed)
        else:
            raise NameError(f"unsupported test {tt} in combination")

    # Python operator precedence (& over |) — the reference evals the
    # compiled boolean expression with the same precedence (variable.py:44-53).
    combined: list[str] = [results[0]]
    for op, res in zip(ops, results[1:]):
        if op == "and":
            combined[-1] = f"({combined[-1]} AND {res})"
        else:
            combined.extend(["or", res])
    passed = reduce(lambda a, b: f"({a} OR {b})", combined[2::2], combined[0])
    return f"coalesce({passed}, false)", "1"


def compile_rule_test(
    rule: Rule,
    epi_config: str | dict = "international",
    resolver: Resolver = _DEFAULT,
) -> tuple[Column, Column]:
    """Column-API wrapper over :func:`_rule_test_sql` (the public surface
    quality_control and the property suite compile single rules through)."""
    passed, value = _rule_test_sql(rule, epi_config, resolver)
    return F.expr(passed), F.expr(value)


def _compile_entry(
    m: Rule,
    epi_config: str | dict,
    link_structs: dict[str, str] | None,
    available: set[str] | None = None,
    types: dict[str, str] | None = None,
) -> tuple[str, str]:
    """(passed, value) SQL for one rule, dispatching C4 multiple_link
    methods over the rule's link array (reference codes/to_codes.py:213-242):

    - ``last``/``first``: the rule test runs against the newest/oldest linked
      row (materialized as a struct column so between/calc SQL paths work);
    - ``count``: value = number of linked rows;
    - ``any``/``all``: the test runs across the array via exists/forall.

    An empty link array means "datum absent" — the rule is not applicable
    (to_codes.py ``if datum:`` gate).
    """
    if not m.multiple_link:
        return _rule_test_sql(
            m, epi_config, Resolver(available=available, types=types)
        )
    arr = _qid("link_" + (m.form or ""))
    non_empty = f"(size({arr}) > 0)"
    ml = m.multiple_link
    if ml == "count":
        return non_empty, f"size({arr})"
    if ml in ("last", "first"):
        if not link_structs or m.id not in link_structs:
            raise ValueError(
                f"rule {m.id}: last/first link rules need code_dataframe "
                "to materialize the linked-row struct"
            )
        r = Resolver(struct_col=link_structs[m.id])
        passed, value = _rule_test_sql(m, epi_config, r)
        return f"({non_empty} AND {passed})", value
    if ml in ("any", "all"):
        r = Resolver(lambda_var="__x")
        test = f"coalesce({_rule_test_sql(m, epi_config, r)[0]}, false)"
        fn = "exists" if ml == "any" else "forall"
        hof = f"{fn}({arr}, __x -> {test})"
        return f"({non_empty} AND coalesce({hof}, false))", "1"
    raise ValueError(f"unknown multiple_link method {ml!r} on rule {m.id}")


_EMPTY_MAP = "CAST(map() AS MAP<STRING,STRING>)"


def _entry(key: str, value: str) -> str:
    """One map entry: a (k, v) struct of SQL expressions."""
    return f"named_struct('k', {key}, 'v', CAST({value} AS STRING))"


def _case(arms: "list[tuple[str, str]]") -> str:
    """``CASE WHEN c1 THEN r1 WHEN c2 THEN r2 … END``: first TRUE arm wins,
    NULL when none does."""
    return "CASE {} END".format(" ".join(f"WHEN {c} THEN {r}" for c, r in arms))


def _sparse_map(entries: "list[str]") -> str:
    """NOT NULL MAP<STRING,STRING> SQL from entry expressions, each an
    :func:`_entry` struct or NULL (dropped).

    One ``map_from_entries`` over the NULL-filtered entry array per row,
    not one conditional singleton map per entry inside a ``map_concat``.
    The filter is a lambda that Spark interprets per element, yet it
    measured faster: coding perfbench's Visit forms (37 rules, 47k rows,
    warm, 4 local cores) took 1.9 CPU-s this way and 3.0 CPU-s with the
    same entries in one ``map_concat``.  Entries keep their order, and
    duplicate keys follow ``spark.sql.mapKeyDedupPolicy`` exactly as in
    ``map_concat``.  The coalesce keeps the column NOT NULL, as the written
    parquet schema expects."""
    if not entries:
        return _EMPTY_MAP
    return (
        "coalesce(map_from_entries(filter(array({}), e -> e IS NOT NULL)), {})"
    ).format(", ".join(entries), _EMPTY_MAP)


def compile_rules_sql(
    rules: list[Rule],
    epi_config: str | dict = "international",
    link_structs: dict[str, str] | None = None,
    alert_data: dict[str, str] | None = None,
    extra_variables: dict[str, str] | None = None,
    available: set[str] | None = None,
    types: dict[str, str] | None = None,
) -> tuple[dict[str, str], dict[str, str]]:
    """Compile a rule table into the coding step's two projections.

    Returns ``(tests, outputs)``.  ``tests`` is the lower projection: helper
    column ``__t<i>`` → rule i's boolean test.  ``outputs`` is the upper
    projection, SQL over those helper columns and the form's own:

    variables  MAP<STRING,STRING>: var_id → stored value (to_codes.py:250-285),
               then the alert_data and ``extra_variables`` entries
    categories MAP<STRING,STRING>: category → winning var_id (:287-290)
    alert/alert_reason/disregard: to_codes.py:292-309.
    """
    tests: dict[str, str] = {}
    # Group rules; None group = the rule's own id (every ungrouped rule is its
    # own group — to_codes.py builds groups the same way).
    groups: dict[str, list[tuple[Rule, str, str]]] = {}
    for i, r in enumerate(rules):
        passed, value = _compile_entry(
            r, epi_config, link_structs, available, types
        )
        tests[f"__t{i}"] = passed
        groups.setdefault(r.calculation_group or r.id, []).append(
            (r, _qid(f"__t{i}"), value)
        )

    var_entries: list[str] = []
    cat_arms: dict[str, list[tuple[str, str]]] = {}
    alert_arms: list[str] = []
    alert_reason_arms: list[tuple[str, str]] = []
    disregard_arms: list[str] = []

    for members in groups.values():
        has_priority = any(
            m.calculation_priority not in ("", None) for m, _t, _v in members
        )
        # Winner selection orders the CASE arms by priority (stable: ties
        # keep file order — reference to_codes.py:269-281 only overwrites on
        # a strictly lower priority number); otherwise file order.
        win_order = sorted(
            members,
            key=lambda e: int(e[0].calculation_priority)
            if e[0].calculation_priority not in ("", None)
            else 1 << 30,
        ) if has_priority else members
        # First-match-wins within the group: one CASE WHEN yields the
        # winner's (id, value) entry; Catalyst short-circuits like the
        # reference's break.  A passing test always has a non-NULL value.
        var_entries.append(
            _case([(t, _entry(_sq(m.id), v)) for m, t, v in win_order])
        )
        winner_id = _case([(t, _sq(m.id)) for m, t, _v in win_order])

        for m, t, _v in members:
            # Side effects (categories/alert/disregard): in NON-priority
            # groups the reference breaks after the first applicable member,
            # so only the winner fires.  In priority groups there is no break
            # (to_codes.py:287-303): EVERY applicable member fires, in file
            # order, even if it loses the variable_json priority contest.
            hit = t if has_priority else f"({t} AND ({winner_id} = {_sq(m.id)}))"
            for cat in m.category:
                cat_arms.setdefault(cat, []).append((hit, m.id))
            if m.alert and m.alert_type == "individual":
                alert_arms.append(hit)
                alert_reason_arms.append((hit, _sq(m.id)))
            if m.disregard:
                disregard_arms.append(hit)

    alert = reduce(lambda a, b: f"({a} OR {b})", alert_arms, "false")
    # C6 alert_data: when an individual alert fires, copy the configured
    # form columns into variables as alert_<name>, plus the alert marker
    # entries themselves (to_codes.py:292-301; demo_config.py:148-155).
    for name, src in (alert_data or {}).items():
        entry = _entry(_sq("alert_" + name), _qid(src))
        var_entries.append(f"CASE WHEN {alert} THEN {entry} END")
    # C8 literal entries (data_type var + data_entry) come last.
    var_entries += [
        _entry(_sq(k), _sq(v)) for k, v in (extra_variables or {}).items()
    ]

    # Reference categories semantics is dict-update per firing member over
    # the file-ordered iteration (to_codes.py:287-290): the LAST write wins,
    # hence the arms reversed.
    categories = _sparse_map([
        _case([(h, _entry(_sq(cat), _sq(rid))) for h, rid in reversed(arms)])
        for cat, arms in cat_arms.items()
    ])

    # alert_reason is likewise overwritten by every firing individual-alert
    # rule (to_codes.py:295-301) — last write wins.
    alert_reason = (
        _case(list(reversed(alert_reason_arms)))
        if alert_reason_arms
        else "CAST(NULL AS STRING)"
    )
    disregard_raw = reduce(lambda a, b: f"({a} OR {b})", disregard_arms, "false")
    # to_codes.py:302-309 — disregard is cancelled unless an individual alert
    # also fired... reference keeps disregard only when alert_type is NOT
    # individual cancelled: `if disregard and alert_type != "individual":
    # disregard = False` — i.e. disregard survives only WITH an individual
    # alert.
    disregard = f"({disregard_raw} AND {alert})"

    return tests, {
        "variables": _sparse_map(var_entries),
        "categories": categories,
        "alert": alert,
        "alert_reason": alert_reason,
        "disregard": disregard,
    }


def code_dataframe(
    df: DataFrame,
    rules: list[Rule],
    epi_config: str | dict = "international",
    extra_variables: dict[str, str] | None = None,
    alert_data: dict[str, str] | None = None,
) -> DataFrame:
    """Apply the two compiled coding projections to a form DataFrame.

    Adds ``variables``, ``categories``, ``alert``, ``alert_reason``,
    ``disregard`` columns; ``extra_variables`` are the C8 literal entries
    (data_type var + data_entry, reference process_steps/to_codes.py:106-108).
    Rules with ``multiple_link`` read their ``link_<form>`` array column
    (attach it first with operators.links.add_links).
    """
    # Materialize the newest/oldest linked row once per last/first rule so
    # rule tests (incl. between/calc SQL) bind to a named struct column.
    link_structs: dict[str, str] = {}
    struct_exprs: list[str] = []
    for i, rule in enumerate(rules):
        if rule.multiple_link in ("last", "first"):
            cname = f"__lr_{i}"
            idx = -1 if rule.multiple_link == "last" else 1
            # try_element_at: an empty link array must yield NULL (rule not
            # applicable), not an ANSI INVALID_ARRAY_INDEX error
            struct_exprs.append(
                f"try_element_at({_qid('link_' + (rule.form or ''))}, "
                f"{idx}).row AS {_qid(cname)}"
            )
            link_structs[rule.id] = cname
    if struct_exprs:
        df = df.selectExpr("*", *struct_exprs)
    tests, out = compile_rules_sql(
        rules, epi_config, link_structs, alert_data, extra_variables,
        available=set(df.columns), types=dict(df.dtypes),
    )
    # Lower projection: every rule test once per row; upper: the outputs
    # from those booleans.  CollapseProject does not merge the two while a
    # test column is referenced more than once.
    if tests:
        df = df.selectExpr(
            "*", *(f"{sql} AS {_qid(n)}" for n, sql in tests.items())
        )
    return df.withColumns(
        {name: F.expr(sql) for name, sql in out.items()}
    ).drop(*link_structs.values(), *tests)
