"""train_centroids: the scalable k-means that feeds ivf_topk.

Reference scope: the reference engine has no vector-index training; these
cover the ANN additions the training-data pipeline layers on top
(SURVEY.md §2 LLM-pipeline block).
"""

import pytest
from pyspark.sql import functions as F

from meerkat_abacus_spark.datapipe.similarity import (
    brute_force_topk,
    ivf_topk,
    train_centroids,
)


def _clustered_corpus(spark, per_cluster=40):
    """Three well-separated direction clusters in 4-D (cosine k-means
    separates by direction, not offset)."""
    dirs = [
        [1.0, 0.05, 0.0, 0.0],
        [0.0, 1.0, 0.05, 0.0],
        [0.0, 0.0, 0.05, 1.0],
    ]
    rows = []
    vid = 0
    for ci, d in enumerate(dirs):
        for j in range(per_cluster):
            # deterministic small perturbation, never flips the dominant axis
            noise = [((vid * 7 + i * 3) % 5 - 2) * 0.02 for i in range(4)]
            rows.append((vid, [d[i] + noise[i] for i in range(4)]))
            vid += 1
    return spark.createDataFrame(
        rows, schema="vec_id int, embedding array<double>"
    )


def _cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
    return num / den


def test_train_centroids_recovers_cluster_directions(spark):
    corpus = _clustered_corpus(spark)
    cents = train_centroids(corpus, k=3, iters=5).collect()
    assert len(cents) == 3
    got = [list(r["embedding"]) for r in cents]
    for d in (
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ):
        assert max(_cos(d, g) for g in got) > 0.98


def test_train_centroids_deterministic(spark):
    corpus = _clustered_corpus(spark)
    a = sorted(map(repr, train_centroids(corpus, k=3, iters=3).collect()))
    b = sorted(map(repr, train_centroids(corpus, k=3, iters=3).collect()))
    assert a == b


def test_train_centroids_early_stop_and_empty_cluster(spark):
    # two identical points + k=2: one cluster goes empty after the first
    # assignment; its centroid must survive (no NaNs, no row loss)
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        schema="vec_id int, embedding array<double>",
    )
    cents = train_centroids(corpus, k=2, iters=10).collect()
    assert len(cents) == 2
    for r in cents:
        assert all(x == x for x in r["embedding"])  # no NaN


def test_train_centroids_empty_corpus_raises(spark):
    empty = spark.createDataFrame([], schema="vec_id int, embedding array<double>")
    with pytest.raises(ValueError):
        train_centroids(empty, k=2)


def test_ivf_with_trained_centroids_matches_brute_force(spark):
    """End-to-end: trained index, n_probe=1, on cleanly clustered data the
    IVF answer equals the exact answer (neighbors live in the same list)."""
    corpus = _clustered_corpus(spark)
    queries = corpus.filter(F.col("vec_id").isin([0, 45, 90]))
    cents = train_centroids(corpus, k=3, iters=5)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(corpus, queries, cents, k=3, n_probe=1).collect()
    }
    assert exact == approx


def test_split_assignment_validates_fractions(spark):
    from meerkat_abacus_spark.datapipe.curation import split_assignment

    with pytest.raises(ValueError):
        split_assignment(F.lit("x"), {"train": 0.8, "val": 0.1})


def test_split_assignment_stable_under_corpus_growth(spark):
    """A document's split must not change when the corpus grows — the
    anti-contamination property the md5-bucket construction guarantees."""
    from meerkat_abacus_spark.datapipe.curation import split_assignment

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.range(0, 50).select(
        F.col("id"), split_assignment(F.col("id"), fr).alias("split")
    )
    big = spark.range(0, 5000).select(
        F.col("id"), split_assignment(F.col("id"), fr).alias("split")
    )
    a = {r["id"]: r["split"] for r in small.collect()}
    b = {r["id"]: r["split"] for r in big.collect()}
    assert all(b[i] == s for i, s in a.items())


def test_persisted_ivf_index_prunes_partitions_and_matches_memory(spark, tmp_path):
    """write_ivf_index partitions by list id; probing must (a) reach the
    scan as a runtime partition filter through dynamic partition pruning
    — only the probed list directories are read, with no driver collect
    of probe ids — and (b) return exactly what the in-memory ivf_topk
    returns."""
    from meerkat_abacus_spark.datapipe.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        train_centroids,
        write_ivf_index,
    )

    corpus = _clustered_corpus(spark)
    queries = corpus.filter(F.col("vec_id").isin([0, 45, 90]))
    cents = train_centroids(corpus, k=3, iters=5)
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)

    probed = ivf_topk_from_index(spark, path, queries, cents, k=3, n_probe=1)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    assert "dynamicpruning" in plan, plan

    mem = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(corpus, queries, cents, k=3, n_probe=1).collect()
    }
    idx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in probed.collect()
    }
    assert mem == idx


def test_join_assignment_matches_ranker(spark):
    """assign_lists_by_join (large-k path) must agree with the inlined
    centroid_ranker projection on every vector, ties included."""
    from meerkat_abacus_spark.datapipe.similarity import (
        assign_lists_by_join,
        centroid_ranker,
        train_centroids,
    )

    corpus = _clustered_corpus(spark)
    cents = train_centroids(corpus, k=3, iters=3)
    ranked = centroid_ranker(cents)
    via_ranker = {
        r["vec_id"]: r["lid"]
        for r in corpus.select(
            "vec_id", ranked(F.col("embedding"))[0]["cid"].alias("lid")
        ).collect()
    }
    via_join = {
        r["id"]: r["list_id"]
        for r in assign_lists_by_join(corpus, cents).collect()
    }
    assert via_ranker == via_join

    # exact tie: two identical centroids -> both paths pick the smaller id
    dup = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0])],
        schema="centroid_id int, embedding array<double>",
    )
    one = spark.createDataFrame(
        [(7, [1.0, 0.0])], schema="vec_id int, embedding array<double>"
    )
    assert assign_lists_by_join(one, dup).collect()[0]["list_id"] == 0
    r2 = centroid_ranker(dup)
    assert one.select(
        r2(F.col("embedding"))[0]["cid"].alias("c")
    ).collect()[0]["c"] == 0


# ---------------------------------------------------------------------------
# int8 quantization (quantize_int8 + the ann_recall int8 row's contract)
# ---------------------------------------------------------------------------


def test_quantize_int8_bounds_type_and_scale_invariance(spark):
    from meerkat_abacus_spark.datapipe.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (0, [0.5, -1.0, 0.25, 0.0]),
            (1, [100.0, -200.0, 50.0, 0.0]),   # same direction ×200
            (2, [0.0, 0.0, 0.0, 0.0]),          # zero vector must not divide by 0
            (3, [1e-20, -1e-20, 0.0, 0.0]),
        ],
        schema="vec_id int, embedding array<double>",
    )
    q = df.select(
        "vec_id", quantize_int8(F.col("embedding")).alias("q")
    )
    assert dict(q.dtypes)["q"] == "array<tinyint>"
    rows = {r.vec_id: r.q for r in q.collect()}
    # bounds: every component in [-127, 127], max-magnitude hits ±127
    for vid, vec in rows.items():
        assert all(-127 <= x <= 127 for x in vec), (vid, vec)
    assert max(abs(x) for x in rows[0]) == 127
    # cosine is scale-invariant -> same direction quantizes the same up to
    # one FP-division rounding step (100/(200/127) = 63.4999…, not 63.5)
    assert rows[0] == [64, -127, 32, 0]
    assert all(abs(a - b) <= 1 for a, b in zip(rows[0], rows[1]))
    assert rows[2] == [0, 0, 0, 0]


def test_quantized_brute_force_recall_is_high(spark):
    """Quantized ranking over the clustered corpus must agree with float
    ranking almost everywhere — int8 loses only rounding noise."""
    from meerkat_abacus_spark.datapipe.similarity import quantize_int8

    corpus = _clustered_corpus(spark)
    truth = brute_force_topk(
        corpus, corpus.filter(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id")
    qcorpus = corpus.select(
        "vec_id",
        quantize_int8(F.col("embedding")).cast("array<double>").alias("embedding"),
    )
    approx = brute_force_topk(
        qcorpus, qcorpus.filter(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
    total = joined.count()
    hits = joined.filter(F.col("hit").isNotNull()).count()
    assert total == 50
    assert hits / total >= 0.9, f"quantized recall {hits}/{total}"


def test_quantize_int8_property_bounds_and_cosine(spark):
    """Randomized property: for any vector batch, quantized components stay
    in [-127, 127], the max-magnitude component saturates, and quantized
    cosine stays within the rounding-noise envelope of float cosine."""
    import random

    rng = random.Random(20260814)
    rows = []
    for i in range(200):
        dim = rng.choice([4, 8, 16])
        scale = 10 ** rng.randint(-6, 6)
        rows.append(
            (i, [rng.uniform(-1, 1) * scale for _ in range(dim)])
        )
    from meerkat_abacus_spark.datapipe.similarity import quantize_int8

    df = spark.createDataFrame(rows, schema="vec_id int, embedding array<double>")
    out = df.select(
        "vec_id",
        "embedding",
        quantize_int8(F.col("embedding")).alias("q"),
    ).collect()
    by_id = {r.vec_id: r for r in out}
    for r in out:
        assert all(-127 <= x <= 127 for x in r.q), r.vec_id
        assert max(abs(x) for x in r.q) in (126, 127), r.vec_id

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = sum(x * x for x in a) ** 0.5
        db = sum(y * y for y in b) ** 0.5
        return num / (da * db) if da and db else 0.0

    # same-dim pairs: |cos_float - cos_int8| small (rounding noise only)
    ids = sorted(by_id)
    checked = 0
    for i, j in zip(ids, ids[1:]):
        a, b = by_id[i], by_id[j]
        if len(a.embedding) != len(b.embedding):
            continue
        err = abs(
            cos(a.embedding, b.embedding) - cos(list(a.q), list(b.q))
        )
        assert err < 0.02, (i, j, err)
        checked += 1
    assert checked > 20


def test_train_centroids_high_dimensional(spark):
    """dim=256 (r6 verdict ask #6): the vector-valued aggregation buffer
    must keep the update to one column regardless of dimensionality —
    the old one-avg-per-dimension form produced 256 agg columns here.
    Three orthogonal-direction clusters in 256-D must be recovered."""
    per_cluster, dim = 30, 256
    rows = []
    vid = 0
    for ci in range(3):
        for _ in range(per_cluster):
            v = [0.0] * dim
            # dominant axis per cluster + small deterministic noise
            v[ci * 80] = 1.0
            for i in range(dim):
                v[i] += ((vid * 13 + i * 7) % 5 - 2) * 0.01
            rows.append((vid, v))
            vid += 1
    corpus = spark.createDataFrame(
        rows, schema="vec_id int, embedding array<double>"
    )
    cents = train_centroids(corpus, k=3, iters=5).collect()
    assert len(cents) == 3
    got = [list(r["embedding"]) for r in cents]
    for ci in range(3):
        d = [0.0] * dim
        d[ci * 80] = 1.0
        assert max(_cos(d, g) for g in got) > 0.95


def test_pq_trained_codebooks_beat_fixture(spark):
    """PQ quality knob: per-subspace codebooks TRAINED with the repo's
    k-means in L2 mode (train_centroids(metric='l2') over each subspace
    slice) must reduce total quantization DISTORTION (mean min squared
    distance to the codebook — the objective Lloyd minimizes and the
    quantity that bounds ADC error) versus the fixture codebooks the
    oracle-checked ann_pq_adc / ann_recall pq_adc-row queries pin (SQL cannot
    re-train, so the certified queries lower-bound quality with fixtures
    and this test pins the training win)."""
    from meerkat_abacus_spark.datapipe.similarity import train_centroids

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    m, dsub, ncodes = 8, 8, 8

    def distortion(codebooks) -> float:
        total = 0.0
        for s in range(m):
            cb = F.array(
                *[
                    F.array(*[F.lit(x) for x in cv])
                    for cv in codebooks[s]
                ]
            )
            sub = F.slice("embedding", s * dsub + 1, dsub)
            dmin = F.array_min(
                F.transform(
                    cb,
                    lambda c: F.aggregate(
                        F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    ),
                )
            )
            total += emb.agg(F.avg(dmin)).first()[0]
        return total

    fix_rows = emb.filter(F.col("vec_id") < ncodes).orderBy("vec_id").collect()
    fixture = [
        [
            [float(r["embedding"][s * dsub + d]) for d in range(dsub)]
            for r in fix_rows
        ]
        for s in range(m)
    ]
    trained = []
    for s in range(m):
        sub = emb.select(
            "vec_id", F.slice("embedding", s * dsub + 1, dsub).alias("embedding")
        )
        cents = train_centroids(
            sub, k=ncodes, iters=4, metric="l2"
        ).orderBy("centroid_id")
        trained.append(
            [[float(x) for x in r["embedding"]] for r in cents.collect()]
        )

    d_fix = distortion(fixture)
    d_tr = distortion(trained)
    # L2-trained codebooks cut distortion decisively (measured ~30% on
    # this corpus); assert a conservative 10% margin
    assert d_tr < 0.9 * d_fix, (d_tr, d_fix)


def _probe_rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in df.collect()
    )


def test_persisted_lsh_index_by_id_matches_memory(spark, tmp_path):
    """write_lsh_index + both index probes (r7 verdict ask #4): each must
    (a) reach the bucket table scan as a partition filter and (b) return
    exactly what the in-memory lsh_topk returns at the same radius — the
    same neighbours and ranks, and bit-identical cosines."""
    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk,
        lsh_topk_from_index,
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ids = [0, 7, 45, 61, 90, 119]
    queries = corpus.filter(F.col("vec_id").isin(ids))
    path = str(tmp_path / "lsh")
    write_lsh_index(corpus, path, dim=4, nbits=4)

    for radius in (0, 1, 2):
        mem = _probe_rows(
            lsh_topk(corpus, queries, dim=4, k=3, nbits=4, radius=radius)
        )
        assert mem, radius
        for probed in (
            lsh_topk_from_index_by_id(
                spark, path, ids, k=3, nbits=4, radius=radius
            ),
            lsh_topk_from_index(
                spark, path, queries, dim=4, k=3, nbits=4, radius=radius
            ),
        ):
            plan = probed._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in plan and "pbucket" in plan, plan
            assert _probe_rows(probed) == mem, f"radius={radius}"
        # the whole 120-row corpus as one batch: the vector probe stages
        # every query on the driver, whatever the batch size
        full = lsh_topk_from_index(
            spark, path, corpus, dim=4, k=3, nbits=4, radius=radius
        )
        assert _probe_rows(full) == _probe_rows(
            lsh_topk(corpus, corpus, dim=4, k=3, nbits=4, radius=radius)
        ), f"full corpus, radius={radius}"


def test_lsh_index_rewrite_invalidates_reader_cache(spark, tmp_path):
    """Overwriting an index path must not serve stale cached readers."""
    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    corpus = _clustered_corpus(spark)
    path = str(tmp_path / "lsh2")
    write_lsh_index(corpus.filter(F.col("vec_id") < 50), path, dim=4, nbits=4)
    first = lsh_topk_from_index_by_id(spark, path, [0], k=3, nbits=4, radius=2)
    assert all(r["neighbor_id"] < 50 for r in first.collect())
    write_lsh_index(corpus, path, dim=4, nbits=4)
    second = lsh_topk_from_index_by_id(
        spark, path, [90], k=3, nbits=4, radius=2
    )
    assert second.count() > 0  # 90 only exists in the rewritten index


def test_ivf_append_equals_rebuild(spark, tmp_path):
    """Appending a delta batch into the inverted-list partitions (same
    centroids, no retraining) must probe identically to an index rebuilt
    from the full corpus (r7 verdict ask #7)."""
    from meerkat_abacus_spark.datapipe.similarity import (
        ivf_topk_from_index,
        train_centroids,
        write_ivf_index,
    )

    corpus = _clustered_corpus(spark)
    cents = train_centroids(corpus, k=3, iters=5)
    queries = corpus.filter(F.col("vec_id").isin([0, 45, 90]))
    old = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)

    inc_path = str(tmp_path / "inc")
    write_ivf_index(old, cents, inc_path)
    write_ivf_index(delta, cents, inc_path, mode="append")
    full_path = str(tmp_path / "full")
    write_ivf_index(corpus, cents, full_path)

    def probe(p):
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
            for r in ivf_topk_from_index(
                spark, p, queries, cents, k=3, n_probe=2
            ).collect()
        }

    assert probe(inc_path) == probe(full_path)


def test_lsh_append_equals_rebuild(spark, tmp_path):
    """Appending a delta batch into the bucket partitions + id sidecar
    (seed-fixed hyperplanes, no retraining) must probe identically to an
    index rebuilt from the full corpus (VERDICT r8 ask #8), on both the
    by-id and the vector-probe serving paths."""
    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk_from_index,
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    old = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)

    inc = str(tmp_path / "inc")
    write_lsh_index(old, inc, dim=4, nbits=4)
    write_lsh_index(delta, inc, dim=4, nbits=4, mode="append")
    full = str(tmp_path / "full")
    write_lsh_index(corpus, full, dim=4, nbits=4)

    def probe_by_id(p):
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
            for r in lsh_topk_from_index_by_id(
                spark, p, [0, 45, 90], k=3, nbits=4, radius=2
            ).collect()
        }

    assert probe_by_id(inc) == probe_by_id(full)

    queries = corpus.filter(F.col("vec_id").isin([0, 45, 90]))

    def probe_by_vec(p):
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
            for r in lsh_topk_from_index(
                spark, p, queries, dim=4, k=3, nbits=4, radius=2
            ).collect()
        }

    assert probe_by_vec(inc) == probe_by_vec(full)


def test_driver_home_bits_equal_spark_sign_bucket(spark):
    """The vector probe projects its queries on the driver; every bit
    must match sign_lsh_bucket's Spark fold, including rounding-sensitive
    sums, exact zeros, NaN, infinities, NULLs and wrong-length vectors."""
    import random

    from meerkat_abacus_spark.datapipe.similarity import (
        _py_home_bits,
        lsh_hyperplanes,
        sign_lsh_bucket,
    )

    dim, nbits = 8, 6
    planes = lsh_hyperplanes(dim, nbits)
    rng = random.Random(7)
    vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(100)]
    # magnitudes 1e-8..1e16 side by side: the sum depends on fold order
    vecs += [
        [rng.choice((-1, 1)) * 10.0 ** rng.randint(-8, 16) for _ in range(dim)]
        for _ in range(100)
    ]
    w = planes[0]
    vecs += [
        [w[1], -w[0]] + [0.0] * (dim - 2),  # dot with plane 0 is exactly 0
        [0.0] * dim,
        [-0.0] * dim,
        [float("nan")] + [1.0] * (dim - 1),
        [float("inf")] + [0.0] * (dim - 1),
        [1.0, None] + [0.0] * (dim - 2),
        [1.0] * (dim - 1),
        [1.0] * (dim + 1),
        None,
    ]
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "id int, v array<double>")
    spark_bits = {
        r["id"]: r["b"]
        for r in df.select(
            "id", sign_lsh_bucket(F.col("v"), dim, nbits).alias("b")
        ).collect()
    }
    assert {i: _py_home_bits(v, planes) for i, v in rows} == spark_bits


def test_lsh_index_probe_edge_cases_pinned(spark, tmp_path):
    """What the index probes returned before they staged their queries
    on the driver, pinned: an empty batch, a duplicated query id, a query
    whose vector is NULL or holds a NULL element, and ids the index does
    not hold."""
    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk_from_index,
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    corpus = _clustered_corpus(spark)
    path = str(tmp_path / "lsh")
    write_lsh_index(corpus, path, dim=4, nbits=4)
    vec = {r["vec_id"]: r["embedding"] for r in corpus.collect()}

    def probe(rows, radius):
        q = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        return [
            (qid, rank, nid, None if cos is None else round(cos, 9))
            for qid, rank, nid, cos in _probe_rows(
                lsh_topk_from_index(
                    spark, path, q, dim=4, k=3, nbits=4, radius=radius
                )
            )
        ]

    q45 = [(45, 1, 40, 1.0), (45, 2, 50, 1.0), (45, 3, 55, 1.0)]
    for radius in (0, 2):
        assert probe([], radius) == []
        # a repeated query row probes once per row, so each of its
        # candidates appears twice in its ranking
        assert probe([(0, vec[0]), (0, vec[0]), (45, vec[45])], radius) == [
            (0, 1, 5, 1.0), (0, 2, 5, 1.0), (0, 3, 10, 1.0),
        ] + q45
    for bad in (None, [1.0, None, 0.0, 0.0]):
        # NULL projections give home bucket 0000, which is empty here;
        # its neighbours score a NULL cosine and rank by neighbour id
        assert probe([(7, bad), (45, vec[45])], 0) == q45
        assert probe([(7, bad), (45, vec[45])], 2) == [
            (7, 1, 0, None), (7, 2, 2, None), (7, 3, 4, None),
        ] + q45

    def by_id(ids):
        return [
            (qid, rank, nid, round(cos, 9))
            for qid, rank, nid, cos in _probe_rows(
                lsh_topk_from_index_by_id(spark, path, ids, k=3, nbits=4)
            )
        ]

    q0 = [(0, 1, 5, 1.0), (0, 2, 10, 1.0), (0, 3, 15, 1.0)]
    assert by_id([]) == []
    assert by_id([0, 0, 45]) == q0 + q45
    assert by_id([0, 10_000]) == q0


def test_lsh_index_probes_run_four_jobs_without_python(spark, tmp_path):
    """One probe batch is at most four Spark jobs (query collect,
    broadcast of the staged queries, the scoring stage, the ranking
    stage), and its plan stages the queries as a LocalTableScan: no
    Python RDD or Python-evaluated operator, so no Python worker."""
    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk_from_index,
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    corpus = _clustered_corpus(spark)
    path = str(tmp_path / "lsh")
    write_lsh_index(corpus, path, dim=4, nbits=4)
    queries = corpus.filter(F.col("vec_id").isin([0, 45, 90]))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    probes = {
        "vector": lambda: lsh_topk_from_index(
            spark, path, queries, dim=4, k=3, nbits=4
        ),
        "by_id": lambda: lsh_topk_from_index_by_id(
            spark, path, [0, 45, 90], k=3, nbits=4
        ),
    }
    for name, probe in probes.items():
        job0 = int(dag.nextJobId())
        df = probe()
        assert len(df.collect()) == 9, name
        assert int(dag.nextJobId()) - job0 <= 4, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        for python_node in ("ExistingRDD", "Python", "Pandas", "InArrow"):
            assert python_node not in plan, (name, python_node, plan)


def test_lsh_index_rejects_unknown_mode(spark, tmp_path):
    import pytest

    from meerkat_abacus_spark.datapipe.similarity import write_lsh_index

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    with pytest.raises(ValueError, match="overwrite"):
        write_lsh_index(
            corpus, str(tmp_path / "x"), dim=4, nbits=4, mode="ignore"
        )


def test_precomputed_norm_cosine_is_bit_identical(spark):
    """The per-row norm precompute (l2_norm/dot_product factored out of
    cosine_similarity) must be BIT-identical to the inline form — the ANN
    top-k tie-breaks and the oracle hashes both depend on exact doubles,
    so any re-association in the fold would silently reorder ranks."""
    from meerkat_abacus_spark.datapipe.dedup import (
        cosine_similarity,
        dot_product,
        l2_norm,
    )

    # awkward magnitudes on purpose: denormal-adjacent small values and
    # large ones whose squares stress the fold's rounding
    rows = [
        (i, [((i * 31 + j * 17) % 19 - 9) * (10.0 ** ((i + j) % 7 - 3))
             for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, schema="id int, v array<double>")
    a = df.alias("a")
    b = df.alias("b")
    pairs = a.crossJoin(b).filter(F.col("a.id") < F.col("b.id"))
    inline = cosine_similarity(F.col("a.v"), F.col("b.v"))
    factored = dot_product(F.col("a.v"), F.col("b.v")) / (
        l2_norm(F.col("a.v")) * l2_norm(F.col("b.v"))
    )
    mismatches = pairs.filter(inline != factored).count()
    assert mismatches == 0


def test_py_l2_norm_literal_is_bit_identical(spark):
    """centroid_ranker/train_centroids now bake centroid norms as
    DRIVER-computed literals (``_py_l2_norm``): Python's left-assoc
    ``acc += x*x`` + ``math.sqrt`` and Spark's fold + SQRT are both
    correctly-rounded IEEE-754 double sequences over the same values, so
    the literal must equal the evaluated fold bit-for-bit — otherwise the
    nearest-centroid sort keys drift from the oracle's."""
    from meerkat_abacus_spark.datapipe.dedup import l2_norm
    from meerkat_abacus_spark.datapipe.similarity import _py_l2_norm

    vecs = [
        [((i * 31 + j * 17) % 19 - 9) * (10.0 ** ((i + j) % 7 - 3))
         for j in range(8)]
        for i in range(40)
    ]
    df = spark.range(1).select(
        *[
            (
                l2_norm(F.array(*[F.lit(x) for x in v]))
                == F.lit(_py_l2_norm(v))
            ).alias(f"eq{i}")
            for i, v in enumerate(vecs)
        ]
    )
    row = df.first()
    assert all(row[i] for i in range(len(vecs)))


def test_lsh_index_v1_layout_falls_back_to_computed_norms(spark, tmp_path):
    """Indexes written before norms were stored have no ``cn`` column and
    no ``_NORMS_STORED`` marker; the pinned-schema reader must fall back
    to the v1 schema and the probe must recompute norms — same answers
    either way.  (Reading ``cn`` against v1 files would yield NULL, not
    an error, so this is the regression that would silently corrupt
    cosines.)"""
    import os

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.limit(3)
    path = str(tmp_path / "lshv1")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)

    def probe():
        out = sim.lsh_topk_from_index(
            spark, path, queries, dim=4, id_col="vec_id",
            vec_col="embedding", k=3, nbits=4, radius=1,
        )
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in out.collect()
        )

    with_marker = probe()
    # simulate a v1 index: drop the marker (the stored cn column is then
    # invisible to the pinned v1 schema) and invalidate the reader cache
    os.remove(os.path.join(path, sim._NORMS_MARKER))
    sim._INDEX_READERS.clear()
    idx, _ = sim._lsh_index_frames(spark, path)
    assert "cn" not in idx.columns
    assert probe() == with_marker


def test_ivf_index_v1_layout_falls_back_to_computed_norms(spark, tmp_path):
    """ADVICE r9 #2 (the IVF mirror of the LSH guard): the IVF reader now
    pins an explicit schema gated on the ``_NORMS_STORED`` marker.  A
    pre-cn index (no marker) must read under the v1 schema and recompute
    norms — identical ranks either way; reading ``cn`` against v1 files
    under schema inference was the silent NULL-cosine corruption."""
    import os

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = corpus.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = corpus.limit(3)
    path = str(tmp_path / "ivfv1")
    sim.write_ivf_index(corpus, cents, path)
    assert os.path.exists(os.path.join(path, sim._NORMS_MARKER))

    def probe():
        out = sim.ivf_topk_from_index(
            spark, path, queries, cents, k=3, n_probe=2
        )
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in out.collect()
        )

    with_marker = probe()
    # simulate a v1 index: drop the marker — the pinned v1 schema hides
    # the stored cn column, the probe recomputes the fold
    os.remove(os.path.join(path, sim._NORMS_MARKER))
    sim._INDEX_READERS.clear()
    assert "cn" not in sim._ivf_index_frame(spark, path).columns
    assert probe() == with_marker


def test_ivf_append_onto_pre_cn_base_never_nulls_cosines(spark, tmp_path):
    """ADVICE r9 #2, the exact corruption scenario: a cn-bearing delta
    appended onto a base whose files predate stored norms.  No marker is
    (re)written on append, so the reader stays on the v1 schema; and even
    under a cn-bearing schema, _stored_or_computed_cn coalesces NULL cn
    to the computed fold — either way every candidate keeps a non-NULL
    cosine and the ranks equal a from-scratch rebuild."""
    import os
    import shutil

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = corpus.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    delta = corpus.filter(F.col("vec_id") % 2 == 1)
    queries = corpus.limit(3)

    path = str(tmp_path / "ivfmixed")
    sim.write_ivf_index(base, cents, path)
    # age the base to pre-cn: strip the marker AND the cn column's files
    # are still cn-bearing, so rewrite the base without cn to be faithful
    os.remove(os.path.join(path, sim._NORMS_MARKER))
    sim._INDEX_READERS.clear()
    v1_rows = spark.read.parquet(path).drop("cn")
    tmp_v1 = str(tmp_path / "ivfv1rewrite")
    v1_rows.write.partitionBy("list_id").parquet(tmp_v1)
    shutil.rmtree(path)
    os.rename(tmp_v1, path)

    sim.write_ivf_index(delta, cents, path, mode="append")
    assert not os.path.exists(os.path.join(path, sim._NORMS_MARKER))
    sim._INDEX_READERS.clear()

    mixed = sim.ivf_topk_from_index(spark, path, queries, cents, k=3, n_probe=2)
    assert mixed.filter(F.col("cosine").isNull()).count() == 0

    rebuilt_path = str(tmp_path / "ivfrebuilt")
    sim.write_ivf_index(corpus, cents, rebuilt_path)
    rebuilt = sim.ivf_topk_from_index(
        spark, rebuilt_path, queries, cents, k=3, n_probe=2
    )
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cosine"], 12))
        for r in df.collect()
    )
    assert key(mixed) == key(rebuilt)


def test_compact_index_preserves_ranks_and_merges_files(spark, tmp_path):
    """VERDICT r9 ask #4: after delta appends fragment the bucket
    partitions, compact_index rewrites the tree (and the LSH _byid
    sidecar) to one file per partition, keeps the _NORMS_STORED marker,
    and the probe answers are bit-identical before/after."""
    import os

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    delta = corpus.filter(F.col("vec_id") % 2 == 1)
    queries = corpus.limit(3)

    # --- LSH ---
    lpath = str(tmp_path / "lshcomp")
    sim.write_lsh_index(base, lpath, dim=4, nbits=4)
    sim.write_lsh_index(delta, lpath, dim=4, nbits=4, mode="append")

    def lsh_probe():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in sim.lsh_topk_from_index(
                spark, lpath, queries, dim=4, id_col="vec_id",
                vec_col="embedding", k=3, nbits=4, radius=1,
            ).collect()
        )

    before_rows = lsh_probe()
    stats = sim.compact_index(spark, lpath)
    assert stats["kind"] == "lsh"
    assert stats["files_after"] < stats["files_before"]
    assert os.path.exists(os.path.join(lpath, sim._NORMS_MARKER))
    assert lsh_probe() == before_rows
    # by-id serving path also intact post-swap
    byid = sim.lsh_topk_from_index_by_id(
        spark, lpath, [int(r["vec_id"]) for r in queries.collect()],
        k=3, nbits=4, radius=1,
    )
    assert byid.count() > 0

    # --- IVF ---
    cents = corpus.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    ipath = str(tmp_path / "ivfcomp")
    sim.write_ivf_index(base, cents, ipath)
    sim.write_ivf_index(delta, cents, ipath, mode="append")

    def ivf_probe():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in sim.ivf_topk_from_index(
                spark, ipath, queries, cents, k=3, n_probe=2
            ).collect()
        )

    before_rows = ivf_probe()
    stats = sim.compact_index(spark, ipath)
    assert stats["kind"] == "ivf"
    assert stats["files_after"] < stats["files_before"]
    assert os.path.exists(os.path.join(ipath, sim._NORMS_MARKER))
    assert ivf_probe() == before_rows


def test_compact_index_upgrades_v1_layout_to_stored_norms(spark, tmp_path):
    """Compaction doubles as the v1→v2 upgrade path: a pre-norms index
    (no marker) comes out cn-bearing + marked, with identical ranks."""
    import os

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = corpus.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = corpus.limit(3)
    path = str(tmp_path / "ivfv1up")
    sim.write_ivf_index(corpus, cents, path)
    os.remove(os.path.join(path, sim._NORMS_MARKER))
    sim._INDEX_READERS.clear()

    def probe():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in sim.ivf_topk_from_index(
                spark, path, queries, cents, k=3, n_probe=2
            ).collect()
        )

    v1_rows = probe()
    sim.compact_index(spark, path)
    assert os.path.exists(os.path.join(path, sim._NORMS_MARKER))
    assert "cn" in sim._ivf_index_frame(spark, path).columns
    assert probe() == v1_rows


def test_maybe_compact_index_threshold_policy(spark, tmp_path):
    """maybe_compact_index is the scheduled-maintenance trigger: below the
    files-per-partition threshold it is a no-op (appends stay cheap),
    above it it compacts and returns stats."""
    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = corpus.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivfpolicy")
    sim.write_ivf_index(corpus, cents, path)
    # freshly-written tree: one file per partition, below any threshold
    assert sim.maybe_compact_index(spark, path, 2.0) is None
    # fragment it past the threshold with appends (new ids per contract)
    for i in range(3):
        sim.write_ivf_index(
            corpus.selectExpr(
                f"vec_id + {100 * (i + 1)} AS vec_id", "embedding"
            ),
            cents, path, mode="append",
        )
    stats = sim.maybe_compact_index(spark, path, 2.0)
    assert stats is not None and stats["files_per_partition"] > 2.0
    assert stats["files_after"] < stats["files_before"]
    # compacted back to one file per partition: no-op again
    assert sim.maybe_compact_index(spark, path, 2.0) is None


def test_maybe_compact_index_triggers_on_sidecar_fragmentation(
    spark, tmp_path
):
    """ADVICE r10 #2: small deltas clustered into a FEW LSH buckets add
    at most a couple of files per append to the main tree but up to
    _BYID_PARTITIONS files per append to the _byid sidecar — the sidecar
    can fragment indefinitely while the main ratio never trips.  The
    trigger must count the sidecar too."""
    import os

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "lshside")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)
    # same-direction deltas with WIDE-spread ids: every delta lands in one
    # (or very few) main buckets but spans all _BYID_PARTITIONS id ranges,
    # so the main tree gains ~1 file per append while the sidecar gains up
    # to 8 — the asymmetry the main-only trigger was blind to
    one_dir = corpus.limit(1).select("embedding").collect()[0]["embedding"]
    for i in range(4):
        delta = spark.createDataFrame(
            [(1000 + 97 * j + i, list(one_dir)) for j in range(16)],
            schema="vec_id int, embedding array<double>",
        )
        sim.write_lsh_index(delta, path, dim=4, nbits=4, mode="append")

    parts = sim._partition_dirs(path)
    main_files = sum(
        1
        for d in parts
        for f in os.listdir(os.path.join(path, d))
        if f.endswith(".parquet")
    )
    main_ratio = main_files / len(parts)
    byid_files = sum(
        1 for f in os.listdir(path + "_byid") if f.endswith(".parquet")
    )
    byid_ratio = byid_files / sim._BYID_PARTITIONS
    # the planted asymmetry actually holds on this fixture
    assert main_ratio <= 3.0 < byid_ratio, (main_ratio, byid_ratio)

    stats = sim.maybe_compact_index(spark, path, 3.0)
    assert stats is not None
    assert stats["byid_files_per_partition"] > 3.0
    assert stats["files_per_partition"] <= 3.0
    # sidecar rewritten to one file per range partition
    after = sum(
        1 for f in os.listdir(path + "_byid") if f.endswith(".parquet")
    )
    assert after <= sim._BYID_PARTITIONS
    assert sim.maybe_compact_index(spark, path, 3.0) is None


def test_compact_index_swap_crash_windows_recover(spark, tmp_path):
    """ADVICE r10 #1: every crash window of compact_index's rename swap
    must be recoverable at the next entry — a missing serving path with a
    leftover .precompact rolls back (row-identical), spent leftovers and
    half-written .compacting staging trees are dropped."""
    import os
    import shutil

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.limit(3)
    path = str(tmp_path / "lshcrash")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)
    delta = corpus.selectExpr("vec_id + 500 AS vec_id", "embedding")
    sim.write_lsh_index(delta, path, dim=4, nbits=4, mode="append")

    def probe():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in sim.lsh_topk_from_index(
                spark, path, queries, dim=4, id_col="vec_id",
                vec_col="embedding", k=3, nbits=4, radius=1,
            ).collect()
        )

    baseline = probe()

    # crash window 1: serving tree moved aside, compacted tree not yet in
    # place (worst case — NOTHING at the serving path)
    os.rename(path, path + ".precompact")
    os.rename(path + "_byid", path + "_byid.precompact")
    os.makedirs(path + ".compacting")  # half-written staging leftover
    assert sim._recover_precompact(path) is True
    assert not os.path.exists(path + ".compacting")
    assert not os.path.exists(path + ".precompact")
    sim._INDEX_READERS.clear()
    assert probe() == baseline

    # crash window 2: main swap done, sidecar mid-swap (sidecar missing,
    # its .precompact left behind) — entry restores the sidecar
    os.rename(path + "_byid", path + "_byid.precompact")
    sim._recover_precompact(path)
    assert os.path.isdir(path + "_byid")
    byid = sim.lsh_topk_from_index_by_id(
        spark, path, [0, 1, 2], k=3, nbits=4, radius=1
    )
    assert byid.count() > 0

    # crash window 3: both swaps done, cleanup interrupted — spent
    # .precompact leftovers next to live serving paths are dropped
    shutil.copytree(path, path + ".precompact")
    sim._recover_precompact(path)
    assert not os.path.exists(path + ".precompact")
    assert os.path.isdir(path)

    # and compaction itself still runs end-to-end after all that
    stats = sim.compact_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    sim._INDEX_READERS.clear()
    assert probe() == baseline


def test_compaction_lock_excludes_second_writer(spark, tmp_path):
    """ADVICE r11 #2: a second maintenance process entering while another
    holds a FRESH compaction lock must not touch the live staging tree —
    compact_index raises, maybe_compact_index no-ops, and
    _recover_precompact leaves the holder's working state alone.  A STALE
    lock (holder crashed) is broken and compaction proceeds."""
    import os
    import time

    import pytest

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = corpus.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivflock")
    sim.write_ivf_index(corpus, cents, path)
    sim.write_ivf_index(
        corpus.selectExpr("vec_id + 100 AS vec_id", "embedding"),
        cents, path, mode="append",
    )

    # simulate another process mid-compaction: fresh lock + live staging
    lock = sim._lock_path(path)
    with open(lock, "w") as f:
        f.write("99999 0")
    os.makedirs(path + ".compacting", exist_ok=True)
    open(os.path.join(path + ".compacting", "part-live.parquet"), "w").close()

    with pytest.raises(sim.CompactionInProgress):
        sim.compact_index(spark, path)
    assert sim.maybe_compact_index(spark, path, 0.0) is None
    assert sim._recover_precompact(path) is False
    # the holder's staging tree survived both entries untouched
    assert os.path.exists(
        os.path.join(path + ".compacting", "part-live.parquet")
    )

    # stale lock: holder crashed — next compaction breaks it and runs
    old = time.time() - sim._COMPACT_LOCK_STALE_SEC - 10
    os.utime(lock, (old, old))
    stats = sim.compact_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    assert not os.path.exists(lock)  # released on exit
    assert not os.path.exists(path + ".compacting")  # stale staging swept


def test_block_cap_boundary_semantics(spark):
    """The over-cap guard must fire exactly at the boundary (review
    finding r11: the fixture blocks all sit far under cap, so the 136/136
    compare never exercises the predicate): a block of exactly
    ``max_block`` rows keeps its pairs, ``max_block + 1`` contributes
    NOTHING — and the same boundary holds for the shingle variant, whose
    guard is computed on the cheap pre-shingle projection."""
    from meerkat_abacus_spark.datapipe import dedup as dd

    cap = 3
    rows = []
    # block "ok": exactly cap near-identical vectors -> C(3,2)=3 pairs
    for i in range(cap):
        rows.append((i, "ok", [1.0, 0.0, 0.0, float(i) * 1e-4]))
    # block "hot": cap+1 identical vectors -> skipped entirely
    for i in range(cap + 1):
        rows.append((100 + i, "hot", [0.0, 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(
        rows, "vec_id int, blk string, embedding array<double>"
    )
    pairs = dd.embedding_near_dup_pairs(
        df, id_col="vec_id", vec_col="embedding", block_col="blk",
        min_cosine=0.9, max_block=cap,
    ).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert len(pairs) == 3, pairs          # the at-cap block's C(3,2)
    assert ids == {0, 1, 2}, ids           # nothing from the over-cap block
    # uncapped control: the hot block's C(4,2)=6 pairs come back
    allp = dd.embedding_near_dup_pairs(
        df, id_col="vec_id", vec_col="embedding", block_col="blk",
        min_cosine=0.9,
    ).collect()
    assert len(allp) == 3 + 6

    # shingle variant, same boundary
    trows = [(i, "ok", "a b c d e") for i in range(cap)]
    trows += [(100 + i, "hot", "x y z w v") for i in range(cap + 1)]
    tdf = spark.createDataFrame(trows, "doc_id int, blk string, text string")
    tp = dd.ngram_jaccard_pairs(
        tdf, id_col="doc_id", text_col="text", block_col="blk",
        shingle_k=2, min_jaccard=0.5, max_block=cap,
    ).collect()
    tids = {r["id_a"] for r in tp} | {r["id_b"] for r in tp}
    assert len(tp) == 3 and tids == {0, 1, 2}, tp


def test_block_cap_sample_policy_deterministic_subset(spark):
    """cap_policy="sample" (r12): an over-cap block contributes exactly
    the pairs among its md5-ordered top-``cap`` members — the SAME
    members a pure-Python md5 model (and hence the DuckDB oracle's
    ``ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id)``)
    selects — and the choice is invariant to physical partitioning.
    Under-cap blocks are untouched."""
    import hashlib

    from meerkat_abacus_spark.datapipe import dedup as dd

    cap = 3
    hot_ids = list(range(100, 108))  # 8 identical vectors, cap 3
    rows = [(i, "ok", [1.0, 0.0, 0.0, float(i) * 1e-4]) for i in range(cap)]
    rows += [(i, "hot", [0.0, 1.0, 0.0, 0.0]) for i in hot_ids]
    df = spark.createDataFrame(
        rows, "vec_id int, blk string, embedding array<double>"
    )

    expected_kept = sorted(
        hot_ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:cap]

    def run(frame):
        got = dd.embedding_near_dup_pairs(
            frame, id_col="vec_id", vec_col="embedding", block_col="blk",
            min_cosine=0.9, max_block=cap, cap_policy="sample",
        ).collect()
        return sorted((r["id_a"], r["id_b"]) for r in got)

    pairs = run(df)
    hot_pairs = [p for p in pairs if p[0] >= 100]
    ok_pairs = [p for p in pairs if p[0] < 100]
    assert len(ok_pairs) == 3, pairs  # under-cap block untouched
    # over-cap block: exactly C(cap,2) pairs, all among the md5-top-cap
    assert len(hot_pairs) == cap * (cap - 1) // 2, pairs
    hot_members = {i for p in hot_pairs for i in p}
    assert hot_members == set(expected_kept), (hot_members, expected_kept)
    # physical partitioning must not change the kept subset
    assert run(df.repartition(7)) == pairs
    assert run(df.coalesce(1)) == pairs


def test_probe_keys_from_home_equals_from_dots(spark):
    """The substring-surgery probe-key form (_probe_keys_from_home — the
    one lsh_topk and the join probe stage, because the per-key sign-test form
    blows Janino's 64 KB method limit under ANSI and drops the Generate
    node to interpreted execution) must emit EXACTLY the keys of the
    original _probe_keys_from_dots, in the same order, for every radius
    in use — same keys means same buckets probed means certified results
    unchanged by construction."""
    from meerkat_abacus_spark.datapipe.similarity import (
        _home_from_dots,
        _probe_keys_from_dots,
        _probe_keys_from_home,
        projection_dots,
    )

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    for nbits, radius in ((4, 0), (4, 1), (4, 2), (8, 2), (8, 3)):
        staged = corpus.withColumn(
            "_dots", projection_dots(F.col("v"), 4, nbits)
        ).withColumn("_home", _home_from_dots(F.col("_dots"), nbits))
        both = staged.select(
            "vec_id",
            _probe_keys_from_dots(F.col("_dots"), nbits, radius).alias("a"),
            _probe_keys_from_home(F.col("_home"), nbits, radius).alias("b"),
        ).collect()
        assert both, "empty corpus"
        for r in both:
            assert r["a"] == r["b"], (nbits, radius, r["vec_id"], r["a"], r["b"])
        # radius-r ball size: sum of C(nbits, i) for i <= r
        import math

        expect = sum(math.comb(nbits, i) for i in range(radius + 1))
        assert len(both[0]["a"]) == expect


def test_index_rowcount_memo_is_lru(spark, tmp_path):
    """VERDICT r14 ask #6: the index reader memo is LRU, not FIFO — a hot
    index that keeps getting probed must survive eviction pressure from a
    parade of cold indexes.  The cold miss is an IVF index, so the shared
    memo helper is exercised under both the LSH and the IVF key."""
    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    hot = str(tmp_path / "hot")
    cold = str(tmp_path / "cold_ivf")
    sim.write_lsh_index(corpus, hot, dim=4, nbits=4)
    cents = corpus.filter(F.col("vec_id").isin([0, 45, 90])).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    sim.write_ivf_index(corpus, cents, cold)
    app = spark.sparkContext.applicationId
    saved = dict(sim._INDEX_READERS)
    try:
        sim._INDEX_READERS.clear()
        frames = sim._lsh_index_frames(spark, hot)
        hot_key = (app, hot, "lsh")
        for i in range(15):  # fill to capacity behind the hot entry
            sim._INDEX_READERS[("dummy-app", f"p{i}")] = ((i, i), ())
        # a HIT serves the cached handles and re-inserts at the back
        assert sim._lsh_index_frames(spark, hot) is frames
        assert next(iter(sim._INDEX_READERS)) == ("dummy-app", "p0")
        # the next MISS evicts the front dummy, never the hot entry
        ivf = sim._ivf_index_frame(spark, cold)
        assert len(sim._INDEX_READERS) == 16
        assert hot_key in sim._INDEX_READERS
        assert (app, cold, "ivf") in sim._INDEX_READERS
        assert ("dummy-app", "p0") not in sim._INDEX_READERS
        assert sim._ivf_index_frame(spark, cold) is ivf
        assert ivf.count() == corpus.count()
    finally:
        sim._INDEX_READERS.clear()
        sim._INDEX_READERS.update(saved)


def test_index_memos_detect_cross_process_rewrite(spark, tmp_path):
    """ADVICE r14 #4: the reader memo is fingerprinted on the index's
    _SUCCESS marker, so a rewrite by ANOTHER process — which cannot run
    this process's eager invalidation — is caught on the next hit.  A
    memo entry with a matching fingerprint is trusted; a stale
    fingerprint forces a fresh reader."""
    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "idx")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)
    n = corpus.count()
    fp = sim._index_success_fp(path)
    assert fp is not None
    # the fingerprint is (st_mtime_ns, st_ino) — ADVICE r15 #4: the
    # inode term catches mtime-preserving rewrites of the recreated
    # _SUCCESS marker that mtime alone would miss
    mtime_ns, ino = fp
    key = (spark.sparkContext.applicationId, path, "lsh")
    sentinel = (spark.range(1), spark.range(2))

    # matching fingerprint: the memo is trusted verbatim
    sim._INDEX_READERS[key] = (fp, sentinel)
    assert sim._lsh_index_frames(spark, path) is sentinel
    # stale fingerprint (external rewrite): rebuilt, not served
    sim._INDEX_READERS[key] = ((mtime_ns - 1, ino), sentinel)
    rebuilt = sim._lsh_index_frames(spark, path)
    assert rebuilt is not sentinel
    assert rebuilt[0].count() == n
    # inode-only mismatch (mtime-preserving rewrite): also rebuilt
    sim._INDEX_READERS[key] = ((mtime_ns, ino + 1), sentinel)
    assert sim._lsh_index_frames(spark, path) is not sentinel
    sim._INDEX_READERS.pop(key, None)


def test_index_fp_inode_catches_mtime_preserving_rewrite(spark, tmp_path):
    """ADVICE r15 #4: a rewrite that PRESERVES the marker's mtime
    (``rsync -t`` / ``cp -p`` restore of a different index, or a
    coarse-mtime filesystem landing two commits in one tick) must still
    change the fingerprint.  The marker file is recreated on every
    commit, so the inode term catches what mtime alone cannot.  Simulated
    exactly: a NEW _SUCCESS file (created while the old one still exists,
    so the inode cannot be reused) replaces the old one and its mtime is
    restored to the nanosecond."""
    import os

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "idx")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)
    fp1 = sim._index_success_fp(path)
    assert fp1 is not None

    marker = os.path.join(path, "_SUCCESS")
    st = os.stat(marker)
    replacement = os.path.join(path, "_SUCCESS.tmp")
    open(replacement, "w").close()  # distinct inode: old marker still exists
    os.replace(replacement, marker)
    os.utime(marker, ns=(st.st_atime_ns, st.st_mtime_ns))

    fp2 = sim._index_success_fp(path)
    assert fp2 is not None
    assert fp2[0] == fp1[0]  # the mtime term really is preserved...
    assert fp2 != fp1  # ...and the inode term still flips the fingerprint


def test_index_memos_skip_unfingerprintable_entries(spark, tmp_path, monkeypatch):
    """ADVICE r15 #3: when ``_SUCCESS`` is unreadable (fp is None — e.g.
    ``marksuccessfuljobs=false`` or an object-store committer that omits
    the marker), the reader memo must NOT insert: a None fingerprint
    never matches, so the entry could never be served — it would only
    occupy a 16-slot LRU slot and evict live entries.  The lookup still
    returns a correct (fresh) reader."""
    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "idx")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)
    n_true = corpus.count()
    key = (spark.sparkContext.applicationId, path, "lsh")
    sim._INDEX_READERS.pop(key, None)

    monkeypatch.setattr(sim, "_index_success_fp", lambda p: None)
    frames = sim._lsh_index_frames(spark, path)
    assert frames[0].count() == n_true
    assert key not in sim._INDEX_READERS  # correct answer, no residency

    # with the marker readable again, memoization resumes normally
    monkeypatch.undo()
    assert sim._lsh_index_frames(spark, path)[0].count() == n_true
    assert key in sim._INDEX_READERS


def test_cross_process_rewrite_detected_by_second_process(spark, tmp_path):
    """VERDICT r15 ask #4: the r15 unit test simulates an external
    rewrite in-process; this one performs it for real.  Process A (this
    session) warms its row-count and reader memos, then a SUBPROCESS with
    its own SparkSession runs the real delta-append path
    (``write_lsh_index(mode='append')``) against the same index tree —
    its _SUCCESS recommit is invisible to A's eager in-process
    invalidation, so only the stat-based fingerprint (mtime_ns, st_ino)
    can catch it.  A's next read must see the appended rows through the
    still-warm memo (a stale handle keeps its old file listing), exactly
    the cross-process scenario (same-second rewrites included — the
    inode term does not depend on clock granularity)."""
    import os
    import subprocess
    import sys
    import textwrap

    from meerkat_abacus_spark.datapipe import similarity as sim

    corpus = _clustered_corpus(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "idx")
    sim.write_lsh_index(corpus, path, dim=4, nbits=4)
    n_base = corpus.count()

    # warm process A's reader memo
    key = (spark.sparkContext.applicationId, path, "lsh")
    idx, _ = sim._lsh_index_frames(spark, path)
    assert idx.count() == n_base
    assert key in sim._INDEX_READERS

    script = textwrap.dedent(
        f"""
        from meerkat_abacus_spark.session import get_spark
        from meerkat_abacus_spark.datapipe import similarity as sim
        from pyspark.sql import functions as F

        spark = get_spark(
            app_name="rewrite-proc-b", master="local[2]",
            shuffle_partitions=4,
        )
        delta = spark.range(200, 210).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("double"),
                (F.col("id") % 5).cast("double"),
                (F.col("id") % 3).cast("double"),
                (F.col("id") % 2).cast("double"),
            ).alias("embedding"),
        )
        sim.write_lsh_index(
            delta, {path!r}, dim=4, nbits=4, mode="append"
        )
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        + os.pathsep
        + env.get("PYTHONPATH", "")
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=480,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # A's memo is still warm (process B could not invalidate it) — the
    # fingerprint mismatch alone must surface the appended rows
    assert key in sim._INDEX_READERS
    idx, _ = sim._lsh_index_frames(spark, path)
    assert idx.count() == n_base + 10
