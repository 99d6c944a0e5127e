"""Pins for the round-17 optimizations: each test asserts BOTH the
behavioral equivalence (outputs identical to the pre-optimization shape)
and, where cheap, the structural claim (the removed plan node is gone)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _edges():
    import random

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(100, 120)]
    edges += [(a, b) for a in range(200, 206) for b in range(a + 1, 206)]
    edges += [(rng.randrange(0, 50), rng.randrange(0, 50)) for _ in range(40)]
    return [(min(a, b), max(a, b)) for a, b in edges if a != b]


def _graph(spark):
    return spark.createDataFrame(_edges(), schema="id_a long, id_b long")


def test_star_roots_skip_antijoin_at_fixed_point(spark, min_id_components):
    """r17: once the convergence probe has verified chained == 0 (no node
    is both an edge's small end and another's big end), every distinct v
    IS a root, so the root projection's left-anti join is provably the
    identity and is dropped.  Pin (a) the labels still equal a union-find
    reference's and (b) the converged plan carries no LeftAnti."""
    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    comps = connected_components_star(_graph(spark))
    star = {(r.node, r.component) for r in comps.collect()}
    assert star == min_id_components(_edges())
    plan = comps._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan, plan
    # the strict=False partial-labels path keeps the anti-join (a
    # non-converged e CAN hold v's that are also u's)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], schema="id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning):
        partial = connected_components_star(
            path, max_iterations=1, strict=False
        )
    assert "LeftAnti" in partial._jdf.queryExecution().executedPlan().toString()


def test_star_skips_initial_pin_for_persisted_edges(spark):
    """r17: an already-persisted edge input is not re-materialized by the
    initial pin (guide §5) — labels must be identical either way."""
    from meerkat_abacus_spark.datapipe.dedup import connected_components_star

    df = _graph(spark)
    expected = {
        (r.node, r.component) for r in connected_components_star(df).collect()
    }
    cached = _graph(spark).persist()
    try:
        got = {
            (r.node, r.component)
            for r in connected_components_star(cached).collect()
        }
    finally:
        cached.unpersist()
    assert got == expected


def test_by_id_probe_dedupes_duplicate_ids_driver_side(spark, tmp_path):
    """r17: the by-id probe's duplicate-id defense (ADVICE r8 #2 — an id
    appended twice in violation of the append contract) moved from a
    dropDuplicates shuffle to driver-side keep-first over the collected
    query rows.  A corrupted index must still yield unique, dense ranks
    per query, and a clean index must serve identically to before."""
    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    rows = [
        (i, [float(i % 7) + 1.0, float(i % 5), 1.0, 0.5]) for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "lshdup")
    write_lsh_index(corpus, path, dim=4, nbits=4)
    # violate the contract: append vec_id 3 again
    dup = corpus.filter(F.col("vec_id") == 3)
    write_lsh_index(dup, path, dim=4, nbits=4, mode="append")

    out = lsh_topk_from_index_by_id(
        spark, path, [3, 10], k=3, nbits=4, radius=2
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)
