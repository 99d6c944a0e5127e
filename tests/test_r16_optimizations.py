"""Focused pins for the r16 optimization-round internals changes.

Each test pins the NEW mechanism of an optimization that restructured an
operator's internals (round rule: optimizations that change internals get
a focused test):

- integer band keys (datapipe.dedup.lsh_band_keys): the 60-bit BIGINT
  parse of the first 15 md5 hex chars must equal the portable reference
  computation digit-for-digit, so the DuckDB oracle reproduces bucket
  membership exactly;
- scale-derived stream shuffle partitions (streaming.tuning): the
  derivation, its clamps, and the env override.
"""

import hashlib
import os

from pyspark.sql import functions as F

import meerkat_abacus_spark.datapipe.dedup as dd
from meerkat_abacus_spark.streaming.tuning import (
    derive_stream_partitions,
    stream_shuffle_partitions,
)


def _ref_band_keys(slots, bands, rows_per_band):
    keys = []
    for b in range(bands):
        payload = "|".join(
            [str(b)] + [str(s) for s in slots[b * rows_per_band : (b + 1) * rows_per_band]]
        )
        hx = hashlib.md5(payload.encode()).hexdigest()
        keys.append(int(hx[:15], 16))
    return keys


def test_lsh_band_keys_are_60bit_md5_integers(spark):
    """Pins the r17 RE-ADOPTION of the integer band keys: key_b is the
    60-bit integer parse of the first 15 hex chars of the band md5
    (dd.lsh_band_keys representation history — the r16 'cliff' that
    forced the revert was root-caused to lazy heap-commit page faulting
    of fresh large heaps, not to the representation), matching the
    portable payload digit-for-digit so the DuckDB oracle reproduces
    bucket membership exactly."""
    bands, rpb = 4, 3
    slots_a = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47]
    slots_b = list(slots_a)
    slots_b[-1] = 999  # differs only in the last band
    df = spark.createDataFrame(
        [(1, slots_a), (2, slots_b)], "doc_id int, sig array<bigint>"
    ).select(
        "doc_id", dd.lsh_band_keys(F.col("sig"), bands, rpb).alias("keys")
    )
    # narrowed type: BIGINT array, not string array (the whole point)
    assert dict(df.dtypes)["keys"] == "array<bigint>"
    rows = {r["doc_id"]: r["keys"] for r in df.collect()}
    assert rows[1] == _ref_band_keys(slots_a, bands, rpb)
    assert rows[2] == _ref_band_keys(slots_b, bands, rpb)
    # S-curve semantics preserved: equal bands collide, unequal don't
    assert rows[1][:3] == rows[2][:3]
    assert rows[1][3] != rows[2][3]
    # every key fits in 60 bits (first 15 hex chars)
    assert all(0 <= k < 2**60 for k in rows[1] + rows[2])


def test_simhash_single_pass_matches_reference(spark):
    # the r16 single-pass array-accumulator must equal the textbook
    # per-bit definition: bit b set iff sum over tokens of ±1 >= 0
    hs = [
        [0xFFFF, 0x0000, 0xAAAA],
        [0x1234, 0x1234, 0x4321],
        [0x8000],
        [],
    ]

    def ref(tokens):
        fp = 0
        for b in range(16):
            s = sum(1 if (h >> b) & 1 else -1 for h in tokens)
            if s >= 0:
                fp |= 1 << b
        return fp

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(hs)], "i int, hs array<int>"
    ).select("i", dd.simhash_from_hashes(F.col("hs")).alias("fp"))
    got = {r["i"]: r["fp"] for r in df.collect()}
    assert got == {i: ref(v) for i, v in enumerate(hs)}


def test_hamming16_is_popcount(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0x0000, 0xFFFF), (0x1234, 0x1234), (0x8001, 0x0001)], "a int, b int"
    ).select(dd.hamming16(F.col("a"), F.col("b")).alias("d"))
    assert [r["d"] for r in df.collect()] == [16, 0, 1]


def test_link_extrema_matches_array_path(spark):
    # collect="extrema" must serve first/last/count identical to the
    # array path on tie-heavy data: duplicate sort keys, duplicate
    # (sort, uuid) pairs differing only in payload, unmatched base rows,
    # and NULL sort values.
    from meerkat_abacus_spark.operators.links import (
        LinkDef,
        add_links,
        link_aggregate,
    )

    base = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "k bigint"
    )
    to_rows = [
        (1, "2021-01-02", "b", "x"),
        (1, "2021-01-01", "a", "y"),
        (1, "2021-01-01", "a", "w"),  # full (sort, uuid) tie → payload breaks
        (2, "2021-01-03", "c", "z"),
        (2, None, "d", "q"),          # NULL sort
        (9, "2021-01-04", "e", "r"),  # key not in base
    ]
    to_df = spark.createDataFrame(
        to_rows, "fk bigint, ship string, ln string, flag string"
    ).select("fk", F.col("ship").cast("timestamp").alias("ship"), "ln", "flag")
    link = LinkDef(
        name="lines", type="case", to_form="t", from_form="b",
        from_column="k", to_column="fk", method="match",
        order_by="ship;date", uuid="ln",
    )

    def cols(df, extrema):
        first = link_aggregate(df, "lines", "first")
        last = link_aggregate(df, "lines", "last")
        return df.select(
            "k",
            link_aggregate(df, "lines", "count").cast("long").alias("n"),
            first["ship"].alias("f_ship"),
            first["flag"].alias("f_flag"),
            last["ship"].alias("l_ship"),
            last["flag"].alias("l_flag"),
        ).orderBy("k")

    arr = cols(add_links(base, {"t": to_df}, [link]), False).collect()
    ext = cols(
        add_links(base, {"t": to_df}, [link], collect="extrema"), True
    ).collect()
    assert [tuple(r) for r in arr] == [tuple(r) for r in ext]
    # and the unmatched row really is (0, NULLs) in both
    km = {r["k"]: r for r in ext}
    assert km[3]["n"] == 0 and km[3]["f_ship"] is None
    assert km[4]["n"] == 0


def test_epi_week_sql_matches_columns(spark):
    # the r16 SQL twin must equal the Column builder value-for-value over
    # every config shape × week-53 strategy on a boundary-heavy date sweep
    import datetime as dt

    from pyspark.sql import functions as F

    from meerkat_abacus_spark.functions.epi_week import (
        WEEK_53_STRATEGIES,
        epi_week_columns,
        epi_week_sql,
    )

    days = [
        dt.datetime(2022, 12, 25) + dt.timedelta(days=i, hours=7)
        for i in range(420)
    ]
    df = spark.createDataFrame([(d,) for d in days], "ts timestamp")
    configs = [
        "international",
        "day:0",
        "day:2",
        {2022: dt.date(2022, 1, 6), 2023: dt.date(2023, 1, 5),
         2024: dt.date(2024, 1, 4)},
    ]
    for cfg in configs:
        for strat in WEEK_53_STRATEGIES:
            cy, cw = epi_week_columns(F.col("ts"), cfg, strat)
            sy, sw = epi_week_sql("ts", cfg, strat)
            mism = df.select(
                cy.alias("cy"), cw.alias("cw"),
                F.expr(sy).alias("sy"), F.expr(sw).alias("sw"),
            ).filter(
                "NOT (cy <=> sy) OR NOT (cw <=> sw)"
            ).count()
            assert mism == 0, (cfg, strat)


def _write_bytes(path, n):
    with open(path, "wb") as f:
        f.write(b"\0" * n)


def test_derive_stream_partitions_scales_with_bytes(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        # tiny backlog -> 1 partition
        _write_bytes(str(src / "a.json"), 1024)
        assert derive_stream_partitions(spark, str(src)) == 1
        # ~3 advisory units -> 3 partitions
        _write_bytes(str(src / "b.json"), 3 * (32 << 20) - 2048)
        assert derive_stream_partitions(spark, str(src)) == 3
        # session count is the CAP: a huge backlog never exceeds it
        assert (
            derive_stream_partitions(spark, str(src), advisory_bytes=1)
            == 64
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_stream_shuffle_partitions_restores_conf(spark, tmp_path):
    src = tmp_path / "src3"
    src.mkdir()
    _write_bytes(str(src / "a.json"), 10)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_shuffle_partitions(spark, str(src)) as parts:
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
        assert parts == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
