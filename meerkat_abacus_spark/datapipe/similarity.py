"""Similarity search over embedding columns.

Two tiers:

- brute-force cosine top-k — the correctness baseline.  Queries broadcast
  (they're the small side); the corpus is scanned once, partition-parallel,
  and the per-query top-k is a groupBy window.  Fine for ≤ millions of
  corpus rows × few queries.
- sign-LSH bucketed ANN — the scale path.  Each vector gets a bucket key
  from the sign pattern of md5-derived Gaussian random hyperplane
  projections (engine-portable: the hyperplanes are compile-time literals
  and the dot products fold in the same order in Spark and the SQL
  oracle); search probes the query's Hamming-radius ball of buckets
  (multiprobe), recovering recall a single 2^nbits-bucket table cannot
  give.  On a 1000-executor cluster the corpus is hash-partitioned by its
  single home bucket, so a query probe touches per-key partitions instead
  of 100 TB.

Plus the compression tier: per-vector int8 quantization (8× smaller) and
product quantization with ADC scoring (64× smaller at the default
geometry), both with MEASURED quality (recall vs brute-force truth), not
asserted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import math

from meerkat_abacus_spark.datapipe.dedup import (
    cosine_similarity,
    dot_product,
    l2_norm,
)


def _stored_or_computed_cn(df: DataFrame) -> DataFrame:
    """Candidate-side norm for index probes: prefer the ``cn`` column the
    index writer now persists (bit-identical to the fold, costs a column
    read instead of a dim-wide aggregate per candidate); fall back to
    computing it for indexes written before norms were stored.

    A present-but-NULL ``cn`` (a cn-bearing delta appended onto a pre-cn
    base, read under an inferred or v2 schema) COALESCES to the computed
    fold per row instead of poisoning the cosine with NULL — ADVICE r9
    #2: a NULL norm would silently drop that candidate from every top-k
    rank rather than erroring."""
    if "cn" in df.columns:
        return df.withColumn(
            "__cn", F.coalesce(F.col("cn"), l2_norm(F.col("cv")))
        )
    return df.withColumn("__cn", l2_norm(F.col("cv")))


def _py_l2_norm(arr) -> float | None:
    """Driver-side mirror of :func:`l2_norm` for literal vectors: the same
    left-assoc accumulate over IEEE doubles + correctly-rounded sqrt, so
    ``F.lit(_py_l2_norm(v))`` is bit-identical to evaluating the Spark
    fold over ``F.array(*[F.lit(x) for x in v])``.  A NULL vector or
    element gives ``None``, as the fold gives NULL."""
    if arr is None or None in arr:
        return None
    acc = 0.0
    for x in arr:
        xd = float(x)
        acc += xd * xd
    return math.sqrt(acc)


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round(v_i / s) with
    s = max|v_i| / 127, rounding half-up via floor(x + 0.5) so Spark and
    SQL oracles agree bit-for-bit (banker's rounding differs per engine).

    This is the embedding-storage lever at 100 TB: an ``array<tinyint>``
    column is 8× smaller than ``array<double>`` on the wire and in the
    shuffle, and cosine is invariant to the per-vector scale s, so ranking
    quality degrades only by the ±0.5-step rounding noise (measured by the
    ann_recall query's int8 row, not asserted).  Pure Column expressions —
    stays in whole-stage codegen, no UDF.
    """
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.greatest(maxabs / F.lit(127.0), F.lit(1e-30))
    return F.transform(
        vec, lambda x: F.floor(x / scale + F.lit(0.5)).cast("tinyint")
    )


def coordinate_sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """BLOCKING key for near-identical vectors: concatenated sign bits of
    the first ``nbits`` coordinates.

    This is deliberately NOT the ANN index (see :func:`sign_lsh_bucket`):
    at the dedup operating point (cosine ≥ 0.99) candidate pairs are
    near-identical, so their raw coordinate signs agree with probability
    ~1 per bit and the block almost never splits a true pair — whereas at
    ANN operating points (cosine ~0.3) coordinate signs are no better
    than random hyperplanes and recall needs multiprobe.  Used by
    dedup_embedding_lsh and multimodal_embed_neardup as the pairwise-term
    bound."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(nbits)
    ]
    return F.concat(*bits)


def paired_diff_sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """SECOND blocking band for near-identical vectors (VERDICT r12 ask
    #4): sign bits of the pairwise coordinate DIFFERENCES v[2i]-v[2i+1]
    — each bit is the 45°-rotated hyperplane in one coordinate plane, so
    the band is a genuinely different hash from
    :func:`coordinate_sign_bucket`'s axis-aligned signs (a vector near a
    coordinate-sign boundary is generically FAR from the rotated
    boundary and vice versa).  Near-identical pairs (cosine ≥ 0.99)
    still agree per-bit with probability ~1, so the band re-collides
    true pairs that band 1 split — and gives a capped hot bucket a
    second, antithetically-sampled chance (see
    ``embedding_near_dup_pairs_banded``).  Uses coordinates 1..2·nbits;
    IEEE double subtraction is bit-deterministic, so the identical
    ``CASE WHEN v[2i+1]-v[2i+2] >= 0`` renders in ANSI SQL oracles."""
    return diff_sign_bucket(
        vec, [(2 * i + 1, 2 * i + 2) for i in range(nbits)]
    )


def diff_sign_bucket(vec: Column, pairs: list[tuple[int, int]]) -> Column:
    """Generalized rotated-sign band: one bit per ``(i, j)`` coordinate
    pair (1-indexed), the sign of ``v[i] - v[j]``.  For LOW-dimensional
    embeddings (e.g. the 8-D multimodal extractor) the fixed stride-1
    pairing of :func:`paired_diff_sign_bucket` yields too few planes —
    here the caller names the pairings (e.g. stride-1 plus stride-2) so a
    second band keeps full bucket-count parity with the coordinate-sign
    band.  Same portability contract: IEEE double subtraction renders
    identically as ``CASE WHEN v[i] - v[j] >= 0`` in ANSI SQL."""
    bits = [
        F.when(
            F.element_at(vec, i) - F.element_at(vec, j) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for i, j in pairs
    ]
    return F.concat(*bits)


LSH_SEED = "msa-signlsh"


def lsh_hyperplanes(
    dim: int, nbits: int = 8, seed: str = LSH_SEED
) -> list[list[float]]:
    """md5-derived pseudo-random Gaussian hyperplanes (r6 verdict ask #4).

    Component (j, d) is a Box-Muller normal draw from two uniforms carved
    out of ``md5(f"{seed}:{j}:{d}")`` — deterministic across runs, engines
    and machines, with no RNG state to ship.  Rounded to 6dp so the
    literals are short; the rounded decimal parses to the IDENTICAL double
    in Spark and DuckDB (both are correctly-rounded decimal→binary), so
    the sign of each projection is engine-portable by construction.
    Gaussian (not ±1) components make the projection directions
    spherically symmetric — the standard SimHash/sign-LSH construction."""
    import hashlib
    import math

    planes: list[list[float]] = []
    for j in range(nbits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
            u1 = (int(h[:8], 16) + 0.5) / 2**32
            u2 = (int(h[8:16], 16) + 0.5) / 2**32
            row.append(
                round(
                    math.sqrt(-2.0 * math.log(u1))
                    * math.cos(2.0 * math.pi * u2),
                    6,
                )
            )
        planes.append(row)
    return planes


def _plane_dot(vec: Column, plane: list[float]) -> Column:
    """``aggregate(zip_with(v, w, *), 0.0, +)`` — folds strictly left to
    right, which is the SAME evaluation order as the oracle SQL's
    left-associated chain ``v[1]*w1 + v[2]*w2 + ...`` (the initial
    ``0.0 + t1`` is exact in IEEE754), so both engines produce the
    bit-identical double and the projection SIGN can never flip across
    engines at the bucket boundary.  One compact expression per bit
    (the hyperplane rides as a single array literal) instead of a
    ``dim``-term add chain — keeps Catalyst analysis time flat in dim."""
    w = F.array(*[F.lit(x) for x in plane])
    prods = F.zip_with(vec, w, lambda a, b: a.cast("double") * b)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def projection_dots(
    vec: Column, dim: int, nbits: int = 8, seed: str = LSH_SEED
) -> Column:
    """``array<double>`` of the ``nbits`` hyperplane projections — project
    this ONCE per DataFrame (``withColumn``) and derive bucket/probe keys
    from it, so the dot products are computed once however many probe
    keys consume them."""
    return F.array(
        *[_plane_dot(vec, p) for p in lsh_hyperplanes(dim, nbits, seed)]
    )


def _bits_from_dots(dots: Column, nbits: int) -> list[Column]:
    return [
        F.when(F.element_at(dots, j + 1) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for j in range(nbits)
    ]


def sign_lsh_bucket(
    vec: Column, dim: int, nbits: int = 8, seed: str = LSH_SEED
) -> Column:
    """ANN bucket key: concatenated sign bits of ``nbits`` md5-derived
    random hyperplane projections over all ``dim`` coordinates.

    Pure Column expressions — stays in whole-stage codegen; the
    hyperplane constants are compile-time array literals, so the corpus
    is never joined against a hyperplane table.
    """
    return F.concat(
        *_bits_from_dots(projection_dots(vec, dim, nbits, seed), nbits)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches are excluded; ties break on neighbor id so results are
    fully deterministic across engines.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).withColumn("__qn", l2_norm(F.col("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("__cn", l2_norm(F.col("cv")))
    # norms folded once per ROW on each side, dot once per pair —
    # bit-identical to cosine_similarity (same left-assoc folds), but the
    # interpreted higher-order aggregates run |rows| times, not |pairs|
    sim = dot_product(F.col("qv"), F.col("cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def multiprobe_buckets(
    vec: Column,
    dim: int,
    nbits: int = 8,
    radius: int = 2,
    seed: str = LSH_SEED,
) -> Column:
    """Array of probe bucket keys: every bucket within Hamming distance
    ``radius`` of the home bucket (home + single flips + double flips at
    the default radius 2).

    Single-expression convenience form — fine for ad-hoc composition, but
    :func:`lsh_topk` instead stages the projection dots and home string
    as their own columns and expands the ball with
    :func:`_probe_keys_from_home`: building every key
    straight from the vector repeats the projection subtree per key
    reference, and the per-key sign-test form exceeds Janino's 64 KB
    codegen method limit under ANSI (r14).  The index probes
    (:func:`lsh_topk_from_index`, ``_by_id``) build no key expressions at
    all: the driver expands the ball with :func:`_hamming_ball`.

    Multi-probe is what makes a SINGLE sign-LSH table usable as an index:
    a true neighbour at cosine ~0.35 agrees with the query on each
    hyperplane with p ≈ 0.61, so the all-bits home bucket alone captures
    p^8 ≈ 2% of them, while the Hamming-≤2 ball captures ~35% (measured by
    the ann_recall query: recall@3 ≥ 0.3 on the demo corpus, r6 verdict
    ask #4) at a candidate cost of ~37/256 of the bucket space — still a
    ~7× scan reduction, growing with nbits.  The plan stays a bucket
    equi-join: only the (small) query side fans out into its probe keys;
    the corpus keeps exactly one home bucket per vector.
    """
    return _probe_keys_from_dots(
        projection_dots(vec, dim, nbits, seed), nbits, radius
    )


def _probe_keys_from_dots(dots: Column, nbits: int, radius: int) -> Column:
    import itertools

    bits = _bits_from_dots(dots, nbits)

    def flip(b: Column) -> Column:
        return F.when(b == "1", F.lit("0")).otherwise(F.lit("1"))

    masks: list[tuple[int, ...]] = [()]
    for r in range(1, radius + 1):
        masks += list(itertools.combinations(range(nbits), r))
    keys = [
        F.concat(*[flip(bits[j]) if j in m else bits[j] for j in range(nbits)])
        for m in masks
    ]
    return F.array(*keys)


def _home_from_dots(dots: Column, nbits: int) -> Column:
    """The home bucket BIT STRING from a staged projection-dots array —
    one concat of ``nbits`` sign tests, computed once per row."""
    return F.concat(*_bits_from_dots(dots, nbits))


def _probe_keys_from_home(home: Column, nbits: int, radius: int) -> Column:
    """The Hamming-``radius`` probe-key array derived from a STAGED home
    bucket string by substring surgery — same keys in the same order as
    :func:`_probe_keys_from_dots` (home first, then flips in mask order).

    Why the second form exists: building every key directly from the
    dots array costs ``keys × nbits`` sign-test CASE expressions (296 at
    nbits=8/radius=2), which under ANSI's added checks blows Janino's
    64 KB method limit in the Generate node's codegen — Spark falls back
    to interpreted projection (correct, ~10× slower per row, and an
    ERROR line in the driver log every run).  Flipping characters of the
    once-computed home string needs only ~4 substring/concat ops per
    key, keeping the whole probe fan-out inside whole-stage codegen.
    The caller must stage ``home`` as its own projection (a withColumn
    before the explode) — it is non-cheap, so CollapseProject will not
    re-inline it into every key.  Its caller is :func:`lsh_topk`; the
    index probes expand the ball on the driver (:func:`_hamming_ball`)."""
    import itertools

    def flip_at(i: int) -> Column:  # 1-indexed char position
        return F.when(
            F.substring(home, i, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))

    masks: list[tuple[int, ...]] = [()]
    for r in range(1, radius + 1):
        masks += list(itertools.combinations(range(nbits), r))
    keys: list[Column] = []
    for m in masks:
        if not m:
            keys.append(home)
            continue
        parts: list[Column] = []
        prev = 0  # number of leading chars already emitted
        for j in sorted(m):
            if j > prev:
                parts.append(F.substring(home, prev + 1, j - prev))
            parts.append(flip_at(j + 1))
            prev = j + 1
        if prev < nbits:
            parts.append(F.substring(home, prev + 1, nbits - prev))
        keys.append(F.concat(*parts) if len(parts) > 1 else parts[0])
    return F.array(*keys)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nbits: int = 8,
    radius: int = 2,
) -> DataFrame:
    """ANN top-k: candidates limited to the query's sign-LSH bucket(s),
    hyperplane-hashed (:func:`sign_lsh_bucket`) with Hamming-``radius``
    multiprobe (:func:`multiprobe_buckets`; default radius 2 is the
    measured recall ≥ 0.3 operating point on the demo corpus).

    ``radius=0`` probes only the home bucket — the raw index, kept for
    recall measurement.  The corpus side never fans out — at 100 TB the
    corpus stays hash-partitioned by its single home bucket and each
    query probe touches one partition per probe key.
    """
    # Stage the nbits hyperplane projections as ONE array column per side,
    # then derive bucket/probe keys from it: the dot products are computed
    # once per row regardless of how many probe keys consume them (the
    # staged projection is non-cheap, so CollapseProject keeps it separate
    # rather than re-inlining it into every key expression).
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        .withColumn("_dots", projection_dots(F.col("cv"), dim, nbits))
        .select(
            "neighbor_id",
            "cv",
            l2_norm(F.col("cv")).alias("__cn"),
            F.concat(*_bits_from_dots(F.col("_dots"), nbits)).alias("bucket"),
        )
    )
    staged = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        .withColumn("_dots", projection_dots(F.col("qv"), dim, nbits))
        .withColumn("_home", _home_from_dots(F.col("_dots"), nbits))
    )
    if radius <= 0:
        # fast path: the home bucket is a plain column — no probe array,
        # no Generate node on the broadcast side
        bucket = F.col("_home").alias("bucket")
    else:
        bucket = F.explode(
            _probe_keys_from_home(F.col("_home"), nbits, radius)
        ).alias("bucket")
    q = F.broadcast(
        staged.select(
            "query_id", "qv", l2_norm(F.col("qv")).alias("__qn"), bucket
        )
    )
    sim = dot_product(F.col("qv"), F.col("cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def centroid_ranker(centroids: DataFrame, vec_col: str = "embedding"):
    """Build the shared centroid-assignment projection: returns a function
    ``vec_column -> array<struct(neg, cid)>`` sorted nearest-first with a
    deterministic centroid-id tie-break.

    The centroid table is inlined as an array-of-structs literal (it is
    dimension-sized by construction — few lists over many vectors is the
    thing IVF buys), so nearest-centroid assignment is a pure projection
    inside whole-stage codegen: no join, no Exchange over the corpus.
    Shared by :func:`ivf_topk`, :func:`write_ivf_index` and the probe path
    so the index build and the query use the SAME assignment by
    construction.
    """
    rows = centroids.select("centroid_id", vec_col).collect()
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(r["centroid_id"]).alias("cid"),
                F.array(*[F.lit(float(x)) for x in r[vec_col]]).alias("cv_cent"),
                # centroid norm as a DRIVER-COMPUTED literal: the Python
                # left-assoc loop + math.sqrt reproduce Spark's fold +
                # SQRT bit-for-bit over the same doubles, so the ranking
                # key is unchanged while the per-element fold over the
                # literal array disappears from the hot projection.
                F.lit(_py_l2_norm(r[vec_col])).alias("cn"),
            )
            for r in rows
        ]
    )

    def _ranked(vec: Column, norm: Column | None = None) -> Column:
        # struct sort order = (-cosine asc, centroid_id asc) → element [0]
        # is the nearest centroid with deterministic tie-break.  ``norm``
        # is an optional pre-staged l2_norm(vec) column — same fold, so
        # the key is bit-identical; pass it where the caller can stage it
        # once per row instead of once per centroid.
        n = l2_norm(vec) if norm is None else norm
        return F.array_sort(
            F.transform(
                cent_arr,
                lambda c: F.struct(
                    (
                        -(dot_product(vec, c["cv_cent"]) / (n * c["cn"]))
                    ).alias("neg"),
                    c["cid"].alias("cid"),
                ),
            )
        )

    return _ranked


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 8,
    seed: str = LSH_SEED,
    mode: str = "overwrite",
) -> None:
    """Persist the sign-LSH bucket table, PARTITIONED BY home bucket —
    the amortization the hyperplane projections need (r7 verdict ask #4):
    the 8×dim fused-multiply-add projection pass runs ONCE at index-build
    time instead of once per query batch, and every later probe reads only
    the ``~(1 + nbits + C(nbits,2))`` probed bucket directories out of
    ``2^nbits`` — partition pruning at file-listing level, the
    :func:`write_ivf_index` layout applied to sign-LSH.

    The partition value is the bit string prefixed with ``b``
    (``b01101001``): a bare ``00101100`` would round-trip through Spark's
    partition-column type inference as the INTEGER 101100 and silently
    drop its leading zeros, corrupting the bucket keyspace.

    ``mode="append"`` is DELTA MAINTENANCE (VERDICT r8 ask #8): the delta
    batch's rows land inside their existing ``pbucket=`` directories (the
    hyperplanes are seed-fixed, so old and new vectors bucket under the
    same function with no retraining) and a sidecar file is added per
    range partition — append-not-rebuild, the
    ``incremental_ann_equals_batch`` pattern applied to sign-LSH.
    Contract: delta ids must be NEW (an id present in both base and delta
    would appear twice in the bucket table — same as appending a
    duplicate key to any log-structured index); the id-probe reader
    additionally de-duplicates its query rows so a violated contract
    degrades recall for that id instead of corrupting top-k ranks
    (ADVICE r8 #2).  Any other mode raises.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"write_lsh_index supports mode 'overwrite' or 'append', got "
            f"{mode!r}"
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    # Stored row norm (see write_ivf_index): probes read 8 bytes instead
    # of folding a dim-wide aggregate per candidate; bit-identical by the
    # l2_norm contract.  Delta appends carry it identically.
    c = c.withColumn("cn", l2_norm(F.col("cv"))).withColumn(
        "pbucket",
        F.concat(
            F.lit("b"), sign_lsh_bucket(F.col("cv"), dim, nbits, seed)
        ),
    )
    # The projected frame feeds TWO writes (bucket tree + id sidecar);
    # persist it for the duration of the build so the corpus scan and the
    # 8×dim projection pass run ONCE per build instead of once per write
    # (r16, guide §5 — an intermediate reused twice within one operation,
    # released before return; at corpus scale the projection pass IS the
    # build cost, so this halves it).
    c = c.persist()
    try:
        # One shuffle by bucket before the write → ONE file per bucket
        # directory instead of one per (task × bucket): with 2^nbits = 256
        # directories, an unclustered write leaves thousands of tiny files
        # whose listing+footer reads dominate every later probe.  At cluster
        # scale the same clustering call takes a partition count
        # (repartition(n, pbucket)) so a hot bucket can span files while
        # staying contiguous per directory.
        c.repartition("pbucket").write.mode(mode).partitionBy(
            "pbucket"
        ).parquet(path)
        # Sidecar keyed BY ID: the member-query serving path
        # (:func:`lsh_topk_from_index_by_id`) reads its query rows here
        # instead of scanning all 2^nbits bucket directories (layout shared
        # with compact_index via _write_byid_sidecar).
        _write_byid_sidecar(c, path + "_byid", mode)
    finally:
        c.unpersist()
    if mode == "overwrite":
        # v2 marker: tells the pinned-schema reader the ``cn`` column is
        # present in EVERY file.  Only an overwrite may set it — an append
        # onto a v1 base yields mixed files, and the v1 schema correctly
        # ignores the extra column there.  (Local-FS touch mirrors the
        # existing marker convention; a cluster deployment would go
        # through the Hadoop FS API.)
        import os

        open(os.path.join(path, _NORMS_MARKER), "w").close()
    # A rewrite invalidates any cached reader handle.
    for key in [k for k in _INDEX_READERS if k[1] == path]:
        _INDEX_READERS.pop(key, None)


def lsh_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nbits: int = 8,
    radius: int = 2,
    seed: str = LSH_SEED,
) -> DataFrame:
    """Probe a persisted sign-LSH index (:func:`write_lsh_index`).

    Identical results to the in-memory :func:`lsh_topk` at the same
    ``radius`` (the ann_lsh_indexed driver row certifies it by sharing the
    oracle).  One collect brings the whole query batch to the driver, so
    the batch must fit in driver memory: the largest any caller sends is
    the 2,000-row sf0.1 corpus (``ann_lsh_auto``).  The driver projects
    each row onto the hyperplanes with the same left fold as
    :func:`_plane_dot`, so every sign bit matches the Spark expression,
    and :func:`_score_staged` serves the batch.  The probe keys reach the
    index scan as a literal partition filter, bounded by ``2^nbits``
    whatever the batch size.
    """
    qf = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    planes = lsh_hyperplanes(dim, nbits, seed)
    qrows = [
        (r["query_id"], r["qv"], _py_home_bits(r["qv"], planes))
        for r in qf.collect()
    ]
    return _score_staged(
        spark, index_path, qrows, qf.schema["query_id"].dataType, k, radius
    )


def _py_home_bits(vec, planes: list[list[float]]) -> str:
    """Driver-side mirror of ``_home_from_dots(projection_dots(vec))``:
    each dot folds left to right from ``0.0`` like :func:`_plane_dot`, a
    NULL vector, a NULL element or a length mismatch (``zip_with`` pads
    with NULL) gives a NULL dot and so a ``0`` bit, and ``NaN >= 0`` holds
    because Spark orders NaN above every double."""
    bits = []
    for plane in planes:
        if vec is None or None in vec or len(vec) != len(plane):
            bits.append("0")
            continue
        dot = 0.0
        for x, w in zip(vec, plane):
            dot += float(x) * w
        bits.append("0" if dot < 0 else "1")
    return "".join(bits)


# Scores staged query rows against the pruned index: one plan, analyzed
# once.  The cosine is the dot_product / (l2_norm * l2_norm) fold of
# cosine_similarity written as SQL, so it is bit-identical to lsh_topk.
# ``str.format`` fills the literals; the doubled braces survive it as the
# ``{q}``/``{idx}`` frame references that ``spark.sql`` binds.
_PROBE_SQL = """
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM (
    SELECT /*+ BROADCAST(q) */ q.query_id, i.neighbor_id,
      aggregate(zip_with(q.qv, i.cv, (x, y) -> x * y), 0D, (a, t) -> a + t)
        / (q.qn * {cn}) AS cosine
    FROM (SELECT query_id, qv, qn, explode(pbuckets) AS pbucket FROM {{q}}) q
    JOIN {{idx}} i ON q.pbucket = i.pbucket
    WHERE i.pbucket IN ({keys}) AND q.query_id <> i.neighbor_id))
WHERE rank <= {k}
"""
_L2_NORM_SQL = "sqrt(aggregate(i.cv, 0D, (a, x) -> a + x * x))"


def _score_staged(
    spark, index_path: str, qrows: list, id_type, k: int, radius: int
) -> DataFrame:
    """The scoring core of both index probes.  ``qrows`` holds one
    ``(query_id, vector, home_bits)`` tuple per query row; the driver
    expands each home bucket into its Hamming-``radius`` ball
    (:func:`_hamming_ball`) and folds the query norm (:func:`_py_l2_norm`),
    and the rows go back to Spark as an Arrow table, which plans as a
    ``LocalRelation``: no Python worker and no job to stage them.  Rows
    are kept as given, so a duplicated query id probes once per row, as a
    join over the query frame would."""
    import pyarrow as pa

    balls = []
    for _, _, home in qrows:
        if home.strip("01"):
            raise ValueError(f"malformed LSH bucket {home!r} in {index_path}")
        balls.append(["b" + key for key in _hamming_ball(home, radius)])
    schema = StructType([
        StructField("query_id", id_type),
        StructField("qv", ArrayType(DoubleType())),
        StructField("qn", DoubleType()),
        StructField("pbuckets", ArrayType(StringType())),
    ])
    staged = spark.createDataFrame(
        pa.table({
            "query_id": [r[0] for r in qrows],
            "qv": pa.array([r[1] for r in qrows], pa.list_(pa.float64())),
            "qn": pa.array([_py_l2_norm(r[1]) for r in qrows], pa.float64()),
            "pbuckets": balls,
        }),
        schema,
    )
    idx, _ = _lsh_index_frames(spark, index_path)
    keys = sorted({key for ball in balls for key in ball})
    text = _PROBE_SQL.format(
        # a NULL stored norm (pre-cn base under a v2 schema) falls back to
        # the fold instead of poisoning the cosine (_stored_or_computed_cn)
        cn=f"coalesce(i.cn, {_L2_NORM_SQL})" if "cn" in idx.columns
        else _L2_NORM_SQL,
        keys=", ".join(f"'{key}'" for key in keys) or "NULL",
        k=int(k),
    )
    return spark.sql(text, q=staged, idx=idx)


def _hamming_ball(bits: str, radius: int) -> list[str]:
    """All bit strings within Hamming distance ``radius`` of ``bits`` —
    home first, then flips in mask order (driver-side mirror of
    :func:`_probe_keys_from_dots`)."""
    import itertools

    flip = {"0": "1", "1": "0"}
    return [
        "".join(flip[c] if j in m else c for j, c in enumerate(bits))
        for r in range(max(radius, 0) + 1)
        for m in itertools.combinations(range(len(bits)), r)
    ]


# Reader handles for persisted indexes, keyed by (appId, path, layout):
# a fresh spark.read.parquet() per probe re-lists every partition directory
# and re-infers the schema from footers (~0.5 s/call measured).  Caching
# the DataFrame handle reuses the FileIndex; the explicit schema skips
# footer inference and pins the partition column's type.
_LSH_INDEX_SCHEMA = "neighbor_id long, cv array<double>, pbucket string"
# v2 layout additionally stores the row norm; gated by the _NORMS_STORED
# marker because the reader pins an explicit schema (no inference pass) —
# reading ``cn`` against a v1 index would yield NULLs, not an error.
_LSH_INDEX_SCHEMA_V2 = (
    "neighbor_id long, cv array<double>, cn double, pbucket string"
)
_NORMS_MARKER = "_NORMS_STORED"
# IVF layout, same v1/v2 split gated on the marker (ADVICE r9 #2: the
# reader must not select ``cn`` unless every file carries it).
_IVF_INDEX_SCHEMA = "neighbor_id long, cv array<double>, list_id int"
_IVF_INDEX_SCHEMA_V2 = (
    "neighbor_id long, cv array<double>, cn double, list_id int"
)
_INDEX_READERS: "dict[tuple, tuple]" = {}


def _index_success_fp(index_path: str):
    """Content fingerprint of a persisted index: the ``_SUCCESS``
    marker's ``(st_mtime_ns, st_ino)``.  Every write path that mutates
    the tree — base write, delta append, compaction swap — recommits the
    marker, so a rewrite by ANOTHER process changes the fingerprint and
    invalidates this process's cached readers on the next hit
    (in-process writers already invalidate eagerly).  The marker file is
    RECREATED on every commit, so the inode term catches mtime-preserving
    rewrites (``rsync -t`` / ``cp -p`` restores of a different index, or
    a coarse-mtime filesystem landing two commits in one tick) that mtime
    alone would miss; ``_SUCCESS`` is zero bytes, so size would add
    nothing.  ``None`` (marker unreadable) is never memoized, so a
    mid-rewrite window falls back to a fresh reader rather than serving a
    stale one."""
    import os

    try:
        st = os.stat(os.path.join(index_path, "_SUCCESS"))
        return (st.st_mtime_ns, st.st_ino)
    except OSError:
        return None


def _index_readers(
    spark, index_path: str, layout: str, schemas: tuple, paths: tuple
) -> tuple:
    """Pinned-schema readers over ``paths`` for the ``layout`` index at
    ``index_path``, memoized in ``_INDEX_READERS`` under
    ``(appId, index_path, layout)``.  ``schemas`` is the
    (v1, v2) pair; v2 (stored ``cn`` norms) applies only when the
    ``_NORMS_STORED`` marker certifies every file carries the column, so
    a pre-cn index (or a mixed base+delta tree whose overwrite predates
    norms) reads under v1 and recomputes norms.

    The memo holds 16 entries and is LRU, not FIFO: pop+reinsert on a hit
    moves the key to the end of the dict's insertion order, so eviction
    (which pops the FRONT) always drops the least-recently-USED entry.
    An entry is rebuilt when its ``_SUCCESS`` fingerprint no longer
    matches (a rewrite by another process), and a ``None`` fingerprint
    (no readable ``_SUCCESS`` — e.g. marksuccessfuljobs=false or an
    object-store committer that omits the marker) is never inserted: it
    could never be served, so it would only evict live entries."""
    import os

    key = (spark.sparkContext.applicationId, index_path, layout)
    fp = _index_success_fp(index_path)
    got = _INDEX_READERS.pop(key, None)
    if got is None or got[0] != fp or fp is None:
        v2 = os.path.exists(os.path.join(index_path, _NORMS_MARKER))
        schema = schemas[v2]
        got = (fp, tuple(spark.read.schema(schema).parquet(p) for p in paths))
        while len(_INDEX_READERS) >= 16:
            _INDEX_READERS.pop(next(iter(_INDEX_READERS)))
    if fp is not None:
        _INDEX_READERS[key] = got
    return got[1]


def _ivf_index_frame(spark, index_path: str) -> DataFrame:
    """Cached reader for a persisted IVF index (:func:`_index_readers`)."""
    return _index_readers(
        spark, index_path, "ivf", (_IVF_INDEX_SCHEMA, _IVF_INDEX_SCHEMA_V2),
        (index_path,),
    )[0]


def _lsh_index_frames(spark, index_path: str):
    """Cached ``(bucket table, id sidecar)`` readers for a persisted
    sign-LSH index (:func:`_index_readers`)."""
    return _index_readers(
        spark, index_path, "lsh", (_LSH_INDEX_SCHEMA, _LSH_INDEX_SCHEMA_V2),
        (index_path, index_path + "_byid"),
    )


def lsh_topk_from_index_by_id(
    spark,
    index_path: str,
    query_ids: list,
    k: int = 3,
    nbits: int = 8,
    radius: int = 2,
) -> DataFrame:
    """Probe a persisted sign-LSH index for IN-CORPUS queries, addressed
    by id: the query's home bucket is READ BACK from the index instead of
    re-projected, so the serving path never touches the hyperplanes at
    all — this is what makes the persisted index an amortization rather
    than a cache (a stored-hash lookup is how a real vector store serves
    members).

    One pruned collect over the id sidecar fetches the query rows (ids,
    vectors, home buckets) and :func:`_score_staged` serves them, the
    same core as :func:`lsh_topk_from_index`.  Out-of-corpus query
    vectors take :func:`lsh_topk_from_index`, which projects them.
    """
    _, byid = _lsh_index_frames(spark, index_path)
    # An id appended twice violates the append contract (write_lsh_index)
    # and would duplicate its probe rows; keep the first collected row so
    # such an id still gets unique, dense ranks.  Under the contract this
    # is the identity.
    qrows, seen = [], set()
    for r in byid.filter(F.col("neighbor_id").isin(list(query_ids))).select(
        "neighbor_id", "cv", "pbucket"
    ).collect():
        if r[0] not in seen:
            seen.add(r[0])
            qrows.append((r[0], r[1], r[2][1:]))
    return _score_staged(spark, index_path, qrows, LongType(), k, radius)


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the IVF inverted lists, PARTITIONED BY list id.

    The serving layout: each inverted list is its own partition directory,
    so a probe reads ``n_probe`` directories out of thousands — partition
    PRUNING at the file-listing level, before a single byte of vector data
    is scanned.  At 100 TB this is the difference between an index probe
    and a table scan; locally the pruned scan is visible as a
    ``dynamicpruning`` subquery in the scan's ``PartitionFilters``
    (:func:`ivf_topk_from_index`).
    """
    ranked = centroid_ranker(centroids, vec_col)
    # The row norm is staged once, reused for list assignment, AND STORED
    # (``cn``): probes divide by it instead of re-folding a dim-wide
    # aggregate per candidate at read time — 8 bytes/row buys back a fold
    # on every future probe.  Keeping it in the output also stops
    # CollapseProject inlining the fold into the ranking lambda (a
    # once-referenced non-cheap producer gets inlined; twice-referenced
    # survives).  Appended delta batches carry it identically.
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"write_ivf_index supports mode 'overwrite' or 'append', got "
            f"{mode!r}"
        )
    lists = (
        corpus.withColumn("cn", l2_norm(F.col(vec_col)))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col("cn"),
            ranked(F.col(vec_col), F.col("cn"))[0]["cid"].alias("list_id"),
        )
    )
    # One shuffle by list before the write → ONE file per list directory
    # per batch instead of one per (task × list) — the write_lsh_index
    # clustering applied to IVF (an unclustered 32-task local write was
    # measured leaving 22 files per list on a fresh build; at cluster
    # scale the listing + footer reads of those fragments tax every
    # probe).  At scale pass a partition count (repartition(n, list_id))
    # so a hot list can span files while staying contiguous per directory.
    lists.repartition("list_id").write.mode(mode).partitionBy(
        "list_id"
    ).parquet(path)
    if mode == "overwrite":
        # Norms marker, mirrored from the LSH layout (ADVICE r9 #2): the
        # pinned-schema reader may select ``cn`` only when EVERY file
        # carries it.  Only an overwrite may set it — an append onto a
        # pre-cn base yields mixed files, which the v1 schema reads
        # correctly by ignoring the extra column (and the coalesce in
        # _stored_or_computed_cn defends the remaining inference paths).
        import os

        open(os.path.join(path, _NORMS_MARKER), "w").close()
    for key in [k for k in _INDEX_READERS if k[1] == path]:
        _INDEX_READERS.pop(key, None)


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`write_ivf_index`).

    The probed ``(query_id, qv, list_id)`` rows equi-join the partitioned
    index scan on ``list_id``, and Spark's dynamic partition pruning turns
    the probe side into a runtime partition filter on the scan (a
    ``dynamicpruning`` subquery in ``PartitionFilters``), so only the
    probed list directories are read and no probe id reaches the driver.
    The probe side is unhinted: a small batch plans as a broadcast join
    whose exchange DPP reuses as the pruning subquery; a cluster-sized
    batch degrades to a shuffle on ``list_id``, where most lists are
    touched anyway.

    Why a join and not a literal filter: collecting the distinct probed
    list ids and filtering the scan on them as literals costs one more
    job per probe and measured slower on a 4-vCPU host
    (``tools/compare.py``, three warm runs each): join 1.8/1.6/1.5 s
    against literal filter 2.2/2.3/1.6 s at sf0.01, and 1.5/1.4/1.1 s
    against 2.3/1.6/1.5 s at sf0.1.  Results are identical to the
    in-memory :func:`ivf_topk` under the same centroids; the unit test
    asserts it.
    """
    ranked = centroid_ranker(centroids, vec_col)
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.slice(ranked(F.col(vec_col)), 1, n_probe)["cid"]
        ).alias("list_id"),
    )
    lists = _stored_or_computed_cn(_ivf_index_frame(spark, index_path))
    probed = probed.withColumn("__qn", l2_norm(F.col("qv")))
    sim = dot_product(F.col("qv"), F.col("cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    scored = (
        lists.join(probed, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _partition_dirs(index_path: str) -> list[str]:
    """Hive-style partition directories of a persisted index tree; raises
    when the path is not a partitioned index (shared by the compaction
    entry points so the not-an-index error and the dir filter cannot
    drift apart)."""
    import os

    parts = [
        d for d in os.listdir(index_path)
        if "=" in d and os.path.isdir(os.path.join(index_path, d))
    ]
    if not parts:
        raise ValueError(f"{index_path!r} is not a partitioned index tree")
    return parts


# A compaction lock older than this is presumed crashed and taken over /
# recovered past.  Local compactions run in seconds; a cluster rewrite of
# a huge index should refresh the lock (re-create it) if it ever
# approaches this bound.
_COMPACT_LOCK_STALE_SEC = 3600.0


def _lock_path(index_path: str) -> str:
    return index_path + ".compact.lock"


def _lock_is_fresh(
    index_path: str, stale_sec: float = _COMPACT_LOCK_STALE_SEC
) -> bool:
    """True while another process's compaction lock exists and is younger
    than ``stale_sec`` (mtime-based: O_EXCL creation stamps it)."""
    import os
    import time

    try:
        return (time.time() - os.path.getmtime(_lock_path(index_path))) < (
            stale_sec
        )
    except OSError:
        return False


class CompactionInProgress(RuntimeError):
    """Another process holds a fresh compaction lock on this index."""


class _CompactLock:
    """O_EXCL lock around compact_index's build+swap (ADVICE r11 #2):
    without it, a second process entering :func:`maybe_compact_index`
    mid-compaction would rmtree the live ``.compacting`` staging tree and
    interleave with the rename swap.  Creation is atomic (O_CREAT|O_EXCL);
    a FRESH foreign lock raises :class:`CompactionInProgress`; a stale one
    (holder crashed — see ``_COMPACT_LOCK_STALE_SEC``) is broken and
    re-acquired.  The lock file records pid + timestamp for debugging."""

    def __init__(self, index_path: str, stale_sec: float = _COMPACT_LOCK_STALE_SEC):
        self.path = _lock_path(index_path)
        self.stale_sec = stale_sec

    def __enter__(self):
        import os
        import time

        for attempt in range(2):
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{os.getpid()} {time.time()}".encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.path)
                except OSError:
                    continue  # holder just released; retry the O_EXCL
                if age < self.stale_sec:
                    raise CompactionInProgress(
                        f"fresh compaction lock at {self.path} "
                        f"({age:.0f}s old); retry after it completes"
                    )
                # stale: holder crashed — break it (small race window
                # between unlink and re-open is closed by the retry loop's
                # O_EXCL, so two breakers cannot both win)
                try:
                    os.unlink(self.path)
                except OSError:
                    pass
        raise CompactionInProgress(
            f"could not acquire compaction lock at {self.path}"
        )

    def __exit__(self, *exc):
        import os

        try:
            os.unlink(self.path)
        except OSError:
            pass
        return False


def _recover_precompact(index_path: str, under_lock: bool = False) -> bool:
    """Crash recovery for :func:`compact_index`'s swap (ADVICE r10 #1):
    the swap is four renames, and a crash between "move serving aside" and
    "move compacted in" would leave NO tree at the serving path.  The
    ``.precompact`` copies are kept until BOTH the main tree and the
    ``_byid`` sidecar swaps complete, so this entry hook can always
    restore: a missing serving path with a leftover ``.precompact`` rolls
    back to the pre-compaction tree (row-identical, just fragmented —
    compaction simply re-runs later); a present serving path drops the
    leftover.  Half-written ``.compacting`` staging trees are always safe
    to delete.  Returns True when a rollback happened.

    While ANOTHER process holds a fresh compaction lock (ADVICE r11 #2),
    recovery is skipped entirely — the "leftovers" are that compaction's
    live working state, not a crash to clean up.  A stale lock means the
    holder died; recovery proceeds (and the next :class:`_CompactLock`
    acquisition breaks the lock).  ``under_lock=True`` is the internal
    form for callers already holding THIS index's lock (their own fresh
    lock must not suppress their own recovery)."""
    import os
    import shutil

    if not under_lock and _lock_is_fresh(index_path):
        return False
    recovered = False
    for serving in (index_path, index_path + "_byid"):
        pre = serving + ".precompact"
        if os.path.isdir(pre):
            if os.path.isdir(serving):
                shutil.rmtree(pre, ignore_errors=True)
            else:
                os.rename(pre, serving)
                recovered = True
        shutil.rmtree(serving + ".compacting", ignore_errors=True)
    return recovered


# The _byid sidecar's fixed range-partition count — shared by the writer
# layout and maybe_compact_index's sidecar fragmentation ratio.
_BYID_PARTITIONS = 8


def _write_byid_sidecar(df: DataFrame, target: str, mode: str) -> None:
    """The LSH id sidecar layout, in ONE place (writer + compactor):
    range-partitioned + sorted by id, so an id-bounded probe prunes to one
    file via row-group stats — the id→bucket map every real vector store
    keeps beside the bucket-ordered postings.  ``target`` is the full
    sidecar path (the writer passes ``path + "_byid"``, the compactor its
    staging sibling)."""
    df.repartitionByRange(_BYID_PARTITIONS, "neighbor_id").sortWithinPartitions(
        "neighbor_id"
    ).write.mode(mode).parquet(target)


def maybe_compact_index(
    spark, index_path: str, max_files_per_partition: float = 4.0
) -> dict | None:
    """Policy wrapper for :func:`compact_index`: compact only when append
    maintenance has actually fragmented the tree (mean parquet files per
    partition directory above ``max_files_per_partition``), else no-op and
    return None.

    This is the call a scheduled maintenance job makes after each delta
    batch: appends stay cheap (write only the delta), and the rewrite
    amortizes across however many appends it took to cross the threshold —
    the compaction analogue of a RocksDB level trigger.  Returns
    :func:`compact_index`'s stats dict (plus ``files_per_partition``) when
    it ran.

    The ``_byid`` sidecar counts too (ADVICE r10 #2): each LSH append
    also adds up to ``_BYID_PARTITIONS`` files to the id-serving sidecar,
    which would otherwise fragment indefinitely without tripping a
    main-tree-only threshold — its own files-per-range-partition ratio
    triggers the same compaction (compact_index rewrites both trees).

    Single-writer discipline (ADVICE r11 #2): the recover → measure →
    compact sequence runs under the index's exclusive compaction lock;
    a concurrent maintenance job sees the fresh lock and no-ops (returns
    None) instead of tearing down the live staging tree mid-swap.
    """
    import os

    if _lock_is_fresh(index_path):
        return None  # another maintenance job owns this index right now
    try:
        with _CompactLock(index_path):
            _recover_precompact(index_path, under_lock=True)
            parts = _partition_dirs(index_path)
            n_files = sum(
                1
                for d in parts
                for f in os.listdir(os.path.join(index_path, d))
                if f.endswith(".parquet")
            )
            ratio = n_files / len(parts)
            byid = index_path + "_byid"
            byid_ratio = 0.0
            if os.path.isdir(byid):
                n_byid = sum(
                    1 for f in os.listdir(byid) if f.endswith(".parquet")
                )
                byid_ratio = n_byid / _BYID_PARTITIONS
            if max(ratio, byid_ratio) <= max_files_per_partition:
                return None
            stats = _compact_index_locked(spark, index_path)
    except CompactionInProgress:
        return None
    stats["files_per_partition"] = round(ratio, 2)
    stats["byid_files_per_partition"] = round(byid_ratio, 2)
    return stats


def compact_index(spark, index_path: str) -> dict:
    """Index-side small-file compaction (VERDICT r9 ask #4): rewrite the
    bucket/list partitions of a persisted LSH or IVF index — and, for LSH,
    the ``_byid`` sidecar — so each partition directory holds ONE
    contiguous file again after rounds of delta-append maintenance
    (:func:`write_lsh_index` / :func:`write_ivf_index` with
    ``mode="append"`` add a sidecar file per touched partition per batch;
    the listing + footer reads of those fragments are what probe latency
    pays, measured at 100× corpus in round 10: after 8 delta appends the
    member probe recovered once compaction rewrote one file per
    partition, with identical rows).

    Row-preserving and rank-preserving: the rewrite re-clusters the SAME
    rows by the partition key (the writers' own layout), recomputing
    nothing rank-relevant — stored ``cn`` norms are carried (or, for a
    pre-norms v1 index, computed by the identical :func:`l2_norm` fold,
    upgrading the layout to v2) and the ``_NORMS_STORED`` marker is
    (re)written so the pinned-schema readers serve the compacted tree
    exactly as before.  The swap is write-to-sibling + rename — the local
    mirror of the FileSystem-level commit a cluster deployment would do
    (or a metastore location swap).

    Returns ``{"kind", "rows", "files_before", "files_after"}``.

    Takes the index's exclusive compaction lock for the whole
    build+swap (ADVICE r11 #2) and raises :class:`CompactionInProgress`
    when another process holds a fresh one — two concurrent compactions
    would rmtree each other's ``.compacting`` staging and interleave the
    rename swap.
    """
    with _CompactLock(index_path):
        return _compact_index_locked(spark, index_path)


def _compact_index_locked(spark, index_path: str) -> dict:
    """:func:`compact_index`'s body; caller holds the compaction lock."""
    import os
    import shutil

    def _files(p: str) -> int:
        n = 0
        for root, _dirs, fs in os.walk(p):
            n += sum(1 for f in fs if f.endswith(".parquet"))
        return n

    _recover_precompact(index_path, under_lock=True)
    parts = _partition_dirs(index_path)
    part_col = parts[0].split("=", 1)[0]
    if part_col == "pbucket":
        kind, v1, v2 = "lsh", _LSH_INDEX_SCHEMA, _LSH_INDEX_SCHEMA_V2
    elif part_col == "list_id":
        kind, v1, v2 = "ivf", _IVF_INDEX_SCHEMA, _IVF_INDEX_SCHEMA_V2
    else:
        raise ValueError(f"unrecognized index partition column {part_col!r}")

    had_marker = os.path.exists(os.path.join(index_path, _NORMS_MARKER))
    byid_path = index_path + "_byid"
    has_byid = kind == "lsh" and os.path.isdir(byid_path)
    sidecars = _files(byid_path) if has_byid else 0
    before = _files(index_path) + sidecars

    rows = spark.read.schema(v2 if had_marker else v1).parquet(index_path)
    if "cn" not in rows.columns:
        # v1 → v2 upgrade: same fold the writers persist, bit-identical
        rows = rows.withColumn("cn", l2_norm(F.col("cv")))
    # Pin the (possibly norm-recomputing) scan across the count + the main
    # rewrite + the sidecar rewrite: without it compaction reads the whole
    # fragmented tree three times — the exact I/O this maintenance path
    # exists to amortize.
    from pyspark import StorageLevel

    rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = rows.count()

    tmp = index_path + ".compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    # one shuffle by partition key → one file per partition directory
    # (each key lives in exactly one task) — the writers' own clustering
    rows.repartition(part_col).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(tmp)
    open(os.path.join(tmp, _NORMS_MARKER), "w").close()

    tmp_byid = byid_path + ".compacting"
    if has_byid:
        shutil.rmtree(tmp_byid, ignore_errors=True)
        # same layout as the writer, via the shared helper
        _write_byid_sidecar(rows, tmp_byid, "overwrite")

    # Swap discipline (ADVICE r10 #1): the .precompact copies stay on disk
    # until BOTH the main tree and the sidecar are swapped, so every crash
    # window is recoverable — _recover_precompact() at the next entry
    # either restores a missing serving path from its .precompact (full
    # rollback; compaction re-runs later) or drops a spent leftover.
    old_main = index_path + ".precompact"
    old_byid = byid_path + ".precompact"
    shutil.rmtree(old_main, ignore_errors=True)
    shutil.rmtree(old_byid, ignore_errors=True)
    os.rename(index_path, old_main)
    os.rename(tmp, index_path)
    if has_byid:
        os.rename(byid_path, old_byid)
        os.rename(tmp_byid, byid_path)
    shutil.rmtree(old_main)
    shutil.rmtree(old_byid, ignore_errors=True)

    rows.unpersist()
    for key in [k for k in _INDEX_READERS if k[1] == index_path]:
        _INDEX_READERS.pop(key, None)
    after = _files(index_path) + (_files(byid_path) if has_byid else 0)
    return {
        "kind": kind,
        "rows": n_rows,
        "files_before": before,
        "files_after": after,
    }


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid (the
    inverted list), probe only the query's ``n_probe`` nearest lists.

    ``centroids`` is (centroid_id, vector) — train however you like (k-means
    upstream, or any deterministic subset for reproducible tests).  At scale
    the corpus is hash-partitioned by ``centroid_id``, so a query touches
    ``n_probe`` partitions instead of the full corpus.

    Plan: centroid assignment is a pure PROJECTION — the centroid table is
    inlined as an array-of-structs literal (it is dimension-sized by
    construction: the thing IVF buys is few lists over many vectors), and
    each vector's nearest centroid is an ``array_sort(transform(...))[0]``
    argmax evaluated inside whole-stage codegen.  No Exchange touches the
    corpus until the single centroid_id equi-join with the probed queries.
    A ``row_number`` window here (the previous form) forced a full-corpus
    shuffle on vec_id just to rank centroids per vector — at 100 TB the
    index build is the dominant cost, and this removes its shuffle entirely.
    """
    _ranked = centroid_ranker(centroids, vec_col)

    # ONE staged norm serves both the list assignment and the pair scoring
    lists = corpus.withColumn("__cn", l2_norm(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _ranked(F.col(vec_col), F.col("__cn"))[0]["cid"].alias("list_id"),
        "__cn",
    )
    probed = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.slice(_ranked(F.col(vec_col)), 1, n_probe).alias("__probes"),
        )
        .select(
            "query_id",
            "qv",
            F.explode(F.col("__probes")["cid"]).alias("list_id"),
        )
        .withColumn("__qn", l2_norm(F.col("qv")))
    )
    sim = dot_product(F.col("qv"), F.col("cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    scored = (
        probed.join(lists, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def train_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-4,
    metric: str = "cosine",
) -> DataFrame:
    """Scalable Lloyd-style k-means for the IVF index: returns a
    ``(centroid_id, <vec_col>)`` DataFrame consumable by :func:`ivf_topk`.

    Spark-shaped by construction — per iteration the corpus is touched
    exactly once and never shuffled at corpus width:

    - **assignment is a projection**: the current k centroids are inlined as
      an array-of-structs literal (k × dim floats — driver-sized by the same
      argument as :func:`ivf_topk`'s probe step), so each vector's nearest
      centroid is an ``array_sort(transform(...))[0]`` argmax inside
      whole-stage codegen.  No join, no Exchange over the corpus.
    - **the update is one hash aggregation with a VECTOR-valued buffer**
      (r6 verdict ask #6): ``Summarizer.mean`` over ``array_to_vector(v)``
      keeps one running (sum-vector, count) per cluster — the agg row is a
      single vector column however large ``dim`` is, instead of the
      previous one-``avg``-column-per-dimension row that stopped scaling
      past ~1k dims.  Map-side partial aggregation still reduces every
      partition to ≤ k buffers before the shuffle, so per-iteration
      shuffle volume stays O(k × dim × partitions) regardless of corpus
      size.
    - **driver traffic is k vectors per iteration** (the re-inlined
      centroids), never corpus rows.

    Initialization takes the k hash-smallest ids (``md5(id)`` order):
    deterministic across runs and engines, one corpus pass, and unbiased by
    insertion order — the classic random-subset init with a reproducible
    PRNG.  Empty clusters keep their previous centroid (standard Lloyd
    degenerate-case handling).  Iteration stops early when no centroid
    moved more than ``tol`` (squared L2), checked driver-side on the k
    collected vectors — at most ``iters`` corpus passes either way.

    The remaining dimensional ceiling is the k × dim literal the driver
    re-inlines per iteration for assignment; if that outgrows what the
    driver should re-broadcast, delegate to
    ``pyspark.ml.clustering.KMeans`` — the plan shape is the same
    (assign-as-join + tree-aggregated update), traded for MLlib's
    sample-based init.  Reference scope: the reference engine has no
    vector-index training; this exists for the ANN operators the
    training-data pipeline adds on top (SURVEY.md §2's LLM-pipeline block).
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    if k < 1:
        raise ValueError("k must be >= 1")
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot train centroids on an empty corpus")

    # Persisted for the duration of training: every iteration re-scans the
    # working set (classic Lloyd), so the cache turns ``iters`` source
    # scans into one — and materializing ``__vn`` (the staged row norm the
    # cosine affinity divides by) through the cache keeps the fold at
    # once-per-row; without a materialization boundary CollapseProject
    # would inline the once-referenced fold back into the per-centroid
    # ranking lambda.  MEMORY_AND_DISK default: spills, never OOMs.
    base = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("__vn", l2_norm(F.col("v")))
        .persist()
    )
    init = (
        base.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .select("v")
        .collect()
    )
    centroids: list[list[float]] = [[float(x) for x in r["v"]] for r in init]

    def _cent_arr(cents: list[list[float]]) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("cid"),
                    F.array(*[F.lit(x) for x in c]).alias("cv_cent"),
                    # bit-identical driver-side norm literal (see
                    # centroid_ranker) — removes one dim-wide fold per
                    # centroid per vector per iteration
                    F.lit(_py_l2_norm(c)).alias("cn"),
                )
                for i, c in enumerate(cents)
            ]
        )

    if metric not in ("cosine", "l2"):
        raise ValueError("metric must be 'cosine' or 'l2'")

    def _affinity(c):
        # sort key: smaller = nearer.  cosine clusters by DIRECTION (the
        # IVF recall metric); l2 clusters by POSITION — the quantizer a
        # PQ codebook needs (ADC approximates squared-L2, so a
        # direction-only codebook ignores the magnitudes ADC scores).
        # The cosine branch divides by the STAGED row norm (``__vn``,
        # same fold as the inline form) and the centroid-norm literal —
        # bit-identical sort keys, two fewer dim-wide folds per element.
        if metric == "cosine":
            return -(
                dot_product(F.col("v"), c["cv_cent"])
                / (F.col("__vn") * c["cn"])
            )
        return F.aggregate(
            F.zip_with(
                F.col("v"), c["cv_cent"], lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    for _ in range(iters):
        ranked = F.array_sort(
            F.transform(
                _cent_arr(centroids),
                lambda c: F.struct(
                    _affinity(c).alias("neg"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        assigned = base.select(ranked[0]["cid"].alias("cid"), "v")
        means = (
            assigned.select("cid", array_to_vector("v").alias("vv"))
            .groupBy("cid")
            .agg(Summarizer.mean(F.col("vv")).alias("m"))
            .select("cid", vector_to_array(F.col("m")).alias("m"))
            .collect()
        )
        new_centroids = list(centroids)  # empty clusters keep their vector
        shift = 0.0
        for r in means:
            vec = [float(x) for x in r["m"]]
            old = centroids[r["cid"]]
            shift = max(shift, sum((a - b) ** 2 for a, b in zip(vec, old)))
            new_centroids[r["cid"]] = vec
        centroids = new_centroids
        if shift <= tol:
            break

    base.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        schema=f"centroid_id int, {vec_col} array<double>",
    )


def assign_lists_by_join(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment for LARGE k: broadcast-join + ``max_by``.

    The inlined-literal projection (:func:`centroid_ranker`) is ideal while
    k × dim stays expression-sized; once k grows with the corpus (constant
    inverted-list sizes — the regime flat probes need) the literal array
    would blow up codegen.  This form broadcasts the centroid TABLE,
    scores the k candidates per vector through the join, and reduces with
    one hash aggregation: ``max_by(centroid_id, (cosine, -centroid_id))``
    keeps the nearest centroid with the same deterministic tie-break as
    the ranker (ties → smaller id), map-side combine shrinks every
    partition to its distinct vectors before the only Exchange, and no
    window/sort ever touches the corpus.

    Returns ``(id, list_id)`` — the same contract the index writer needs.
    """
    c = F.broadcast(
        centroids.select(
            F.col("centroid_id").alias("__cid"),
            F.col(vec_col).alias("__cv"),
        ).withColumn("__cn", l2_norm(F.col("__cv")))
    )
    scored = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    ).withColumn("__vn", l2_norm(F.col("__v"))).crossJoin(c)
    # max_by on a (cosine, -cid) struct: struct comparison is lexicographic,
    # so equal cosines fall back to the LARGER -cid == smaller cid.
    # Norms folded per ROW (corpus: once per vector, not once per
    # centroid) — bit-identical to cosine_similarity, same discipline as
    # the top-k paths.
    pref = F.struct(
        (
            dot_product(F.col("__v"), F.col("__cv"))
            / (F.col("__vn") * F.col("__cn"))
        ).alias("s"),
        (-F.col("__cid")).alias("t"),
    )
    return (
        scored.groupBy("id")
        .agg(F.max_by(F.col("__cid"), pref).alias("list_id"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC):
# the embedding-compression scale path.  dim-D vectors become m small codes
# (here 8 codes over 64 dims = 8 bytes/vector vs 512 for float64 — a 64×
# smaller scan/shuffle footprint); queries stay full-precision and score
# against per-subspace codebook entries (ADC), so ranking quality degrades
# only by per-subspace quantization error.
# ---------------------------------------------------------------------------


def _pq_chain_sql(vec_sql: str, offset: int, code_vec: list[float]) -> str:
    """Squared L2 between ``element_at(vec, offset+1..offset+len)`` and a
    literal codeword, as a LEFT-ASSOCIATED add chain — the same evaluation
    order the generated oracle SQL uses, so both engines produce
    bit-identical doubles and every argmin / rank comparison is
    deterministic cross-engine (no rounding guard needed).  Generated as a
    SQL STRING (one ``F.expr`` per subspace) rather than py4j Column
    algebra: building thousands of Column nodes costs seconds of driver
    round-trips; parsing one string does not."""
    terms = []
    for d, w in enumerate(code_vec):
        e = f"(element_at({vec_sql}, {offset + d + 1}) - ({w!r}))"
        terms.append(f"{e} * {e}")
    return "(" + " + ".join(terms) + ")"


def pq_encode(
    vec_sql: str, codebooks: list[list[list[float]]]
) -> list[Column]:
    """Per-subspace code columns: ``code_s = argmin_c L2²(sub_s, cb[s][c])``
    with ties to the smaller code id (array_sort over (dist, cid) structs).
    The codebooks ride as literals, so encoding is a pure projection in
    whole-stage codegen — the corpus is never joined to train or encode."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = []
    for s in range(m):
        structs = ", ".join(
            f"named_struct('d', {_pq_chain_sql(vec_sql, s * dsub, cv)}, "
            f"'cid', {c})"
            for c, cv in enumerate(codebooks[s])
        )
        codes.append(
            F.expr(f"element_at(array_sort(array({structs})), 1).cid").alias(
                f"code{s}"
            )
        )
    return codes


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """ADC top-k: encode the corpus to PQ codes (pure projection), then
    score each (query, code-row) pair as the sum of per-subspace squared
    distances between the full-precision query slice and the corpus row's
    SELECTED codeword — codebook lookups are ``element_at`` into a nested
    literal, so scoring is also projection-only; the only join is the
    broadcast of the (small) query side against the encoded corpus.

    At 100 TB the encoded corpus is the thing that lives in memory/disk
    (m small codes per vector); re-ranking survivors against full vectors
    is a follow-up join by id over just k×|queries| rows."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        *pq_encode(vec_col, codebooks),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    paired = q.crossJoin(enc).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _adc_rank(paired, codebooks, k)


def _adc_rank(
    paired: DataFrame, codebooks: list[list[list[float]]], k: int
) -> DataFrame:
    """Shared ADC scorer: stage each subspace's SELECTED codeword as a
    column (element_at into the nested codebook literal, indexed by the
    code id), then one left-assoc difference chain per subspace — same
    order as the encode and oracle chains — and rank per query."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    for s in range(m):
        cb_sql = "array(" + ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in cv) + ")"
            for cv in codebooks[s]
        ) + ")"
        paired = paired.withColumn(
            f"__sel{s}", F.expr(f"element_at({cb_sql}, code{s} + 1)")
        )
    sub_chains = []
    for s in range(m):
        terms = []
        for d in range(dsub):
            e = (
                f"(element_at(qv, {s * dsub + d + 1}) - "
                f"element_at(__sel{s}, {d + 1}))"
            )
            terms.append(f"{e} * {e}")
        sub_chains.append("(" + " + ".join(terms) + ")")
    total = F.expr(" + ".join(sub_chains))
    scored = paired.select(
        "query_id", "neighbor_id", total.alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """The FAISS-shaped composite index: IVF inverted lists bound WHICH
    candidates a query touches (n_probe nearest lists), PQ codes bound
    WHAT each candidate costs to score (m bytes + an ADC table lookup
    instead of a dim-wide float vector).

    Plan shape: list assignment and PQ encoding are both pure projections
    over literal tables (one corpus scan, no training join); the probe is
    a broadcast equi-join on list_id (at scale: the encoded corpus is
    partitioned by list_id, so the probe partition-prunes exactly like
    ivf_topk_from_index — except each pruned partition holds m-byte codes
    rather than full vectors, multiplying how much index fits per
    executor).  ADC scoring and ranking are shared with pq_adc_topk."""
    ranked = centroid_ranker(centroids, vec_col)
    # no staged norm here: the output keeps only PQ codes, so a staged
    # fold would be inlined right back by CollapseProject (once-referenced
    # producer); the centroid-norm literals still apply
    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        ranked(F.col(vec_col))[0]["cid"].alias("list_id"),
        *pq_encode(vec_col, codebooks),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.slice(ranked(F.col(vec_col)), 1, n_probe)["cid"]
        ).alias("list_id"),
    )
    paired = (
        F.broadcast(probed)
        .join(enc, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _adc_rank(paired, codebooks, k)
