"""Record linkage (J1/J3/J4): link definitions → ordered array-of-struct columns.

Reference: meerkat_abacus/pipeline_worker/process_steps/add_links.py:99-157.
For each link def, rows of ``to_form`` whose key matches the base row's key
are collected *ordered by* the link's order_by column and stored on the base
row.  Key normalizations (add_links.py:65-83, 113-129):

- ``match``        exact equality
- ``lower_match``  lower() + '-'→'_' on both sides
- ``alert_match``  base uuid *suffix* equals the to-row's key (the alert-id
                   is the last 6 chars of the case uuid)

All three are plain equi-joins after key derivation, so Catalyst picks
broadcast-hash vs sort-merge; the collect_list aggregation shuffles on the
base uuid once per link def.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meerkat_abacus_spark.functions.cols import qcol
from meerkat_abacus_spark.functions.dates import timestamp_of


@dataclass
class LinkDef:
    """One demo_links.csv row (reference country_config/demo_links.csv:1-4)."""

    name: str
    type: str              # data type the link applies to, e.g. "case"
    to_form: str
    from_form: str
    from_column: str       # ';'-separated multi-keys
    to_column: str
    method: str = "match"  # ';'-separated per key: match|lower_match|alert_match
    order_by: str = ""     # "<column>;date" → parse order key as a date
    uuid: str = "meta/instanceID"
    to_condition: str = ""  # "column:value" filter on the to-side


def _normalize(col: Column, method: str) -> Column:
    if method == "lower_match":
        return F.regexp_replace(F.lower(col.cast("string")), "-", "_")
    return col.cast("string")


# cast-to-string is injective for these, so same-typed native equality is
# EXACTLY string-normalized equality — and an 8-byte shuffle/join key beats
# a string one at any scale
_NATIVE_KEY_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "date"}
)


def _native_match_type(
    base: DataFrame, to_df: DataFrame, fc: str, tc: str, method: str
) -> bool:
    """True when this key pair can join on its NATIVE type: plain ``match``
    (no lowercasing / suffixing), both columns resolvable as top-level
    fields, and the SAME atomic type whose string cast is injective.
    Struct-path keys (ODK dotted names) and mixed-type pairs fall back to
    the string normalization."""
    if method != "match":
        return False
    ft = dict(base.dtypes).get(fc)
    tt = dict(to_df.dtypes).get(tc)
    return ft is not None and ft == tt and ft in _NATIVE_KEY_TYPES


def add_links(
    base: DataFrame,
    to_forms: dict[str, DataFrame],
    links: list[LinkDef],
    alert_id_len: int = 6,
    payload_columns: dict[str, list[str]] | None = None,
    collect: str = "array",
) -> DataFrame:
    """Attach one ``link_<name>`` ARRAY<STRUCT<__sort,__uuid,row>> column per
    link def, ordered by the link's order_by key (dates parsed with the
    multi-format parser — add_links.py:143-152).

    Plan shape (scale-critical): the to-form is aggregated into per-key
    arrays FIRST (one shuffle of the smaller linked form on its join key),
    then joined onto the base.  The naive alternative — join then group the
    joined rows by every base column — would shuffle the full fact table
    with wide grouping keys per link def.  Unmatched base rows get an empty
    array.

    ``payload_columns`` ({link name: [cols]}) prunes the collected row struct
    to the fields downstream rules actually read — at 100 TB the collected
    payload IS the shuffle, so never collect columns nobody reads.

    ``collect="extrema"`` (r16, guide §2.3): when downstream rules only read
    first/last/count of a link (the common multiple_link triple), skip
    materializing the array entirely — aggregate ``min(struct)``,
    ``max(struct)``, ``count(*)`` per key instead of
    ``array_sort(collect_list(struct))``.  Spark's struct min/max use the
    same lexicographic field ordering as array_sort's default comparator
    ((__sort, __uuid, row…)), so ``min`` IS element 1 of the sorted array
    and ``max`` IS element -1 — pinned by a test against the array path.
    The win is structural: min/max/count admit partial (map-side)
    aggregation, so the one link shuffle carries ≤3 values per key per map
    partition instead of EVERY linked row's struct, and the aggregation is
    a codegen HashAggregate instead of an ObjectHashAggregate buffering
    arrays.  Emits ``link_<name>_first``/``_last`` (the full link struct,
    NULL when unmatched) and ``link_<name>_count`` (0 when unmatched)
    instead of ``link_<name>``; incompatible with the J4 prior-array
    self-union (those callers need the real array).
    """
    if collect not in ("array", "extrema"):
        raise ValueError(f"unknown collect mode {collect!r}")
    out = base
    for link in links:
        to_df = to_forms[link.to_form]
        if link.to_condition:
            col, value = link.to_condition.split(":", 1)
            to_df = to_df.filter(qcol(col).cast("string") == value)

        from_cols = link.from_column.split(";")
        to_cols = link.to_column.split(";")
        methods = link.method.split(";")

        order_col = link.order_by.split(";")[0] if link.order_by else link.uuid
        order_is_date = not (
            link.order_by and ";" in link.order_by
            and link.order_by.split(";")[1] != "date"
        )
        # Date order keys stay NATIVE timestamps (r16, guide §2.3): the
        # former .cast("string") paid a per-row datetime format and made
        # the struct's sort field ~19 bytes instead of 8 across the
        # collect_list shuffle.  Ordering is unchanged — the
        # "yyyy-MM-dd HH:mm:ss[.SSSSSS]" rendering is strictly monotonic
        # in the timestamp value (measured: -0.55 s on links_ordered's
        # 1.7 s aggregation at sf0.1).  Non-date keys keep the string
        # normalization.
        sort_key = (
            timestamp_of(to_df, order_col)
            if order_is_date
            else qcol(order_col).cast("string")
        )

        native = [
            _native_match_type(out, to_df, fc, tc, m)
            for fc, tc, m in zip(from_cols, to_cols, methods)
        ]
        key_exprs = [
            (qcol(tc) if native[i] else _normalize(qcol(tc), m)).alias(
                f"__k{i}"
            )
            for i, (tc, m) in enumerate(zip(to_cols, methods))
        ]
        wanted = (payload_columns or {}).get(link.name)
        keep_cols = [c for c in to_df.columns if wanted is None or c in wanted]
        payload = F.struct(*[qcol(c).alias(c) for c in keep_cols])
        # one shuffle: group the linked form by its (normalized) key into
        # ordered arrays.  Blank keys are excluded on BOTH sides (reference
        # add_links.py:69,129 appends `key != ''` for every link key):
        # without the guard, every blank-keyed row cross-links to every other
        # blank-keyed row — spurious link arrays AND a badly skewed join key.
        key_guard = reduce(
            lambda a, b: a & b,
            [
                # native keys can't be blank strings — NULL is the only
                # non-key value, so the guard stays a cheap null check
                F.col(f"__k{i}").isNotNull()
                if native[i]
                else (
                    F.col(f"__k{i}").isNotNull() & (F.col(f"__k{i}") != "")
                )
                for i in range(len(to_cols))
            ],
        )
        keyed = to_df.select(
            *key_exprs,
            F.struct(
                sort_key.alias("__sort"),
                qcol(link.uuid).cast("string").alias("__uuid"),
                payload.alias("row"),
            ).alias("__linked"),
        ).filter(key_guard)
        group_keys = [f"__k{i}" for i in range(len(to_cols))]
        if collect == "extrema":
            grouped = keyed.groupBy(*group_keys).agg(
                F.min("__linked").alias("__first"),
                F.max("__linked").alias("__last"),
                F.count(F.lit(1)).alias("__n"),
            )
        else:
            grouped = keyed.groupBy(*group_keys).agg(
                F.array_sort(F.collect_list("__linked")).alias("__arr")
            )

        conds: list[Column] = []
        for i, (fc, m) in enumerate(zip(from_cols, methods)):
            # qcol, not out[fc]: bracket access parses dots as struct paths
            # for ODK-style names; the to-side carries only __k*/__arr so the
            # unbound reference is unambiguous.
            if m == "alert_match":
                # add_links.py:79-83 — join the *suffix* of the base uuid
                # against the to-row's key column.
                base_key = F.substring(
                    qcol(fc).cast("string"), -alert_id_len, alert_id_len
                )
            elif native[i]:
                # same-typed atomic key: join on the NATIVE value — equality
                # is identical to the string-normalized form (injective
                # cast), the shuffle/join key is 8 fixed bytes, and NULLs
                # already fail equi-joins so no blank guard is needed.
                conds.append(qcol(fc) == grouped[f"__k{i}"])
                continue
            else:
                base_key = _normalize(qcol(fc), m)
            # Blank base keys never match (NULLs fail equi-joins); mirrors
            # the reference's from-side `!= ''` guard (add_links.py:69).
            conds.append(F.nullif(base_key, F.lit("")) == grouped[f"__k{i}"])
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c

        if collect == "extrema":
            if f"link_{link.name}" in out.columns:
                raise ValueError(
                    "collect='extrema' cannot self-union a prior "
                    f"link_{link.name} array; use collect='array'"
                )
            out = (
                out.join(grouped, cond, "left")
                .withColumn(f"link_{link.name}_first", F.col("__first"))
                .withColumn(f"link_{link.name}_last", F.col("__last"))
                .withColumn(
                    f"link_{link.name}_count",
                    F.coalesce(F.col("__n"), F.lit(0).cast("long")),
                )
                .drop("__first", "__last", "__n", *group_keys)
            )
            continue
        empty = F.array().cast(grouped.schema["__arr"].dataType)
        # J4 self-union (reference add_links.py:143-152): when the base row
        # already carries a link_<name> array — a re-emitted record bringing
        # its prior link_data envelope, or an earlier incremental pass — the
        # prior entries are unioned with the newly collected ones BEFORE the
        # ordering, so first/last/count rules see the complete list.  The
        # prior array must have the same (payload-pruned) struct shape.
        prior_col = f"link_{link.name}" if f"link_{link.name}" in out.columns else None
        if prior_col is not None:
            out = out.withColumnRenamed(prior_col, "__prior")
        joined = out.join(grouped, cond, "left")
        fresh = F.coalesce(F.col("__arr"), empty)
        if prior_col is not None:
            arr = F.array_sort(
                F.concat(F.coalesce(F.col("__prior"), empty), fresh)
            )
        else:
            arr = fresh
        out = joined.withColumn(f"link_{link.name}", arr).drop(
            "__arr", "__prior", *[f"__k{i}" for i in range(len(to_cols))]
        )
    return out


def link_uuid_projection(df: DataFrame, link_names: list[str]) -> DataFrame:
    """C11 — ``links = {name: [uuid, …]}`` (process_steps/to_codes.py:99-104)."""
    entries = [
        F.struct(
            F.lit(name).alias("key"),
            F.transform(F.col(f"link_{name}"), lambda x: x["__uuid"]).alias("value"),
        )
        for name in link_names
    ]
    return df.withColumn("links", F.map_from_entries(F.array(*entries)))


def link_aggregate(df: DataFrame, link_name: str, method: str, test=None) -> Column:
    """C4 — multiple_link evaluation over a collected link array
    (reference codes/to_codes.py:213-242).

    ``last``/``first`` expose the newest/oldest linked row for a rule test;
    ``count`` is the array size; ``any``/``all`` apply ``test`` (a lambda
    Column-builder over a linked row struct) across the array.

    When ``df`` was linked with ``collect="extrema"`` (no ``link_<name>``
    array column), first/last/count are served from the pre-aggregated
    ``link_<name>_{first,last,count}`` columns — identical values (struct
    min/max = sorted-array ends, NULL row / 0 count when unmatched);
    any/all still require the array.
    """
    extrema = f"link_{link_name}" not in df.columns and (
        f"link_{link_name}_count" in df.columns
    )
    arr = F.col(f"link_{link_name}")
    if method == "count":
        return F.col(f"link_{link_name}_count") if extrema else F.size(arr)
    if method == "last":
        if extrema:
            return F.col(f"link_{link_name}_last")["row"]
        return F.try_element_at(arr, F.lit(-1))["row"]
    if method == "first":
        if extrema:
            return F.col(f"link_{link_name}_first")["row"]
        return F.try_element_at(arr, F.lit(1))["row"]
    if method == "any":
        return F.exists(arr, lambda x: test(x["row"]))
    if method == "all":
        return F.forall(arr, lambda x: test(x["row"]))
    raise ValueError(f"unknown multiple_link method {method!r}")
