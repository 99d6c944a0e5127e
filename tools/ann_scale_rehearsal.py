"""Scale rehearsal for the ANN family: fixed query set, 100× corpus.

Builds a 100× embeddings table (every copy gets a deterministic
per-dimension jitter so copies are angle-perturbed, NOT exact duplicates —
an exact-duplicate corpus would be flattering to bucketed indexes), then
times the three index strategies at sf0.1 (2k vectors) and 100× (200k
vectors).  10× proved too small to measure — sub-second walls, JIT noise
dominated, ratios came out below 1.  Timings are WARM (each query runs
once for codegen/JIT warmup, the second run is measured) so the ratios
measure data volume, not compilation.  The thing being demonstrated:
brute force scales with the query×corpus product (ratio ≈ data ratio),
while the LSH-bucketed and IVF-list variants only touch the probed slice,
so their ratios sit below the data ratio.

Run: ``python tools/ann_scale_rehearsal.py`` → one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REHEARSED = ("ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk",
             "ann_recall", "ann_pq_adc", "ann_ivfpq_topk")


def build_sf1(spark, src_dir: str, dest_dir: str, n_copies=None) -> None:
    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")

    def _jitter(k: int):
        # two-parameter HOF lambda receives (element, index) — the index IS
        # the dimension, giving each copy a deterministic angle perturbation
        return lambda x, i: x + F.lit(0.05) * (
            ((F.lit(k * 31) + i) % 7) - F.lit(3)
        ).cast("float")

    if n_copies is None:
        n_copies = int(os.environ.get("ANN_SCALE_COPIES", "100"))
    copies = [
        emb.select(
            (F.col("vec_id") + 10_000_000 * k).alias("vec_id"),
            (
                F.col("embedding")
                if k == 0
                else F.transform(F.col("embedding"), _jitter(k))
            ).alias("embedding"),
            "label",
        )
        for k in range(n_copies)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{dest_dir}/embeddings.parquet")


def time_queries(spark, sf_dir: str) -> dict:
    from meerkat_abacus_spark.queries import QUERIES

    out = {}
    for name in REHEARSED:
        QUERIES[name](spark, sf_dir).count()  # warmup: codegen + JIT
        t0 = time.time()
        n = QUERIES[name](spark, sf_dir).count()
        out[name] = {"sec": round(time.time() - t0, 2), "rows": n}
    out["ivf_train"] = time_index_build(spark, sf_dir)
    out["ivf_probe_indexed"] = time_indexed_probe(spark, sf_dir)
    out["ivf_delta_append"] = time_ivf_delta_append(spark, sf_dir)
    out["lsh_index"] = time_lsh_index(spark, sf_dir)
    out["lsh_delta_append"] = time_lsh_delta_append(spark, sf_dir)
    out["lsh_compaction"] = time_compaction(spark, sf_dir)
    return out


def time_lsh_delta_append(spark, sf_dir: str) -> dict:
    """Incremental sign-LSH maintenance (r8 verdict ask #8): appending a
    20% delta into the bucket partitions + id sidecar (hyperplanes are
    seed-fixed — no retraining) vs rebuilding the whole index.  The
    append projects and writes ONLY the delta, so append/rebuild should
    sit near the 0.2 delta fraction and fall as the corpus grows."""
    import tempfile

    from meerkat_abacus_spark.datapipe.similarity import write_lsh_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    old = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    base = tempfile.gettempdir() + "/msa_lsh_inc"
    for p in (base, base + "_byid", base + "_full", base + "_full_byid"):
        shutil.rmtree(p, ignore_errors=True)
    write_lsh_index(old, base, dim=64, nbits=8)
    t0 = time.time()
    write_lsh_index(delta, base, dim=64, nbits=8, mode="append")
    append_sec = round(time.time() - t0, 2)
    t0 = time.time()
    write_lsh_index(emb, base + "_full", dim=64, nbits=8)
    rebuild_sec = round(time.time() - t0, 2)
    for p in (base, base + "_byid", base + "_full", base + "_full_byid"):
        shutil.rmtree(p, ignore_errors=True)
    return {
        "append_sec": append_sec,
        "rebuild_sec": rebuild_sec,
        "append_over_rebuild": round(append_sec / rebuild_sec, 2)
        if rebuild_sec
        else None,
    }


def time_ivf_delta_append(spark, sf_dir: str) -> dict:
    """Incremental index maintenance cost (r7 verdict ask #7): appending a
    20% delta into the inverted-list partitions (same centroids, no
    retraining) vs rebuilding the whole index.  The append assigns and
    writes ONLY the delta — its cost should track delta size, so
    append/rebuild should sit near the 0.2 delta fraction and stay there
    as the corpus grows."""
    import tempfile

    from meerkat_abacus_spark.datapipe.similarity import (
        train_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    cents = train_centroids(emb, k=16, iters=2)
    base = tempfile.gettempdir() + "/msa_ivf_inc"
    shutil.rmtree(base, ignore_errors=True)
    write_ivf_index(old, cents, base)
    t0 = time.time()
    write_ivf_index(delta, cents, base, mode="append")
    append_sec = round(time.time() - t0, 2)
    t0 = time.time()
    write_ivf_index(emb, cents, base + "_full")
    rebuild_sec = round(time.time() - t0, 2)
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base + "_full", ignore_errors=True)
    return {
        "append_sec": append_sec,
        "rebuild_sec": rebuild_sec,
        "append_over_rebuild": round(append_sec / rebuild_sec, 2)
        if rebuild_sec
        else None,
    }


def time_lsh_index(spark, sf_dir: str) -> dict:
    """Persisted sign-LSH index (r7 verdict ask #4): one-time bucket-table
    build cost, then the warm stored-bucket probe (radius-2 multiprobe for
    20 member queries).  Probe cost should track the probed-bucket slice,
    not the corpus."""
    import tempfile

    from meerkat_abacus_spark.datapipe.similarity import (
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = tempfile.gettempdir() + "/msa_lsh_scale_idx"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "_byid", ignore_errors=True)
    t0 = time.time()
    write_lsh_index(emb, path, dim=64, nbits=8)
    build_sec = round(time.time() - t0, 2)
    ids = [r["vec_id"] for r in emb.select("vec_id").limit(20).collect()]
    lsh_topk_from_index_by_id(spark, path, ids, k=3, radius=2).count()
    t0 = time.time()
    n = lsh_topk_from_index_by_id(spark, path, ids, k=3, radius=2).count()
    probe_sec = round(time.time() - t0, 2)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "_byid", ignore_errors=True)
    return {"build_sec": build_sec, "probe_sec": probe_sec, "rows": n}


def time_indexed_probe(spark, sf_dir: str) -> dict:
    """Probe cost against the PERSISTED index (write_ivf_index layout:
    inverted lists partitioned by list_id).  The probe reads n_probe of k
    partition directories, so its cost is ~ n_probe x N/k: with k FIXED at
    16 the ratio tracks data growth but beats the brute scan by the k/n_probe
    pruning factor (measured: probe ~2.5-3.4x vs brute ~5.8x at 100x).
    Truly flat probes need k grown with the corpus (constant-size lists) —
    at which point centroid ASSIGNMENT moves from the inlined-literal
    projection to a broadcast join against the centroid table; the
    partitioned-list serving layout and the pruned scan are unchanged.
    Index write cost is reported separately (ivf_train + one partitioned
    write, amortized over every probe)."""
    import tempfile

    from meerkat_abacus_spark.datapipe.similarity import (
        ivf_topk_from_index,
        train_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    cents = train_centroids(emb, k=16, iters=2)
    path = tempfile.gettempdir() + "/msa_ivf_idx"
    shutil.rmtree(path, ignore_errors=True)
    write_ivf_index(emb, cents, path)
    ivf_topk_from_index(spark, path, queries, cents, k=3, n_probe=2).count()
    t0 = time.time()
    n = ivf_topk_from_index(spark, path, queries, cents, k=3, n_probe=2).count()
    out = {"sec": round(time.time() - t0, 2), "rows": n}
    shutil.rmtree(path, ignore_errors=True)
    return out


def time_compaction(spark, sf_dir: str) -> dict:
    """Index compaction leg (VERDICT r9 ask #4): fragment a persisted LSH
    index with 8 delta appends (each append adds a sidecar file per
    touched bucket partition — file count grows ~9x), measure the warm
    member-probe against the fragmented tree, compact_index(), and
    re-measure.  The probe pays listing + footer reads per file in the
    probed partitions, so latency should fall back toward the one-file
    baseline; results must be row-identical before/after (compaction is
    a layout rewrite, asserted bit-level in pytest)."""
    import tempfile

    from meerkat_abacus_spark.datapipe.similarity import (
        compact_index,
        lsh_topk_from_index_by_id,
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = tempfile.gettempdir() + "/msa_lsh_compact"
    for p in (path, path + "_byid"):
        shutil.rmtree(p, ignore_errors=True)
    n_deltas = 8
    write_lsh_index(
        emb.filter(F.col("vec_id") % (n_deltas + 2) >= 2),
        path, dim=64, nbits=8,
    )
    for i in range(2):  # only vec_id % 10 in {0,1} remain as deltas
        write_lsh_index(
            emb.filter(F.col("vec_id") % (n_deltas + 2) == i),
            path, dim=64, nbits=8, mode="append",
        )
    # further fragmentation: re-append tiny slices as separate batches
    for i in range(n_deltas - 2):
        write_lsh_index(
            emb.filter(F.col("vec_id") % 1000 == 990 + i).selectExpr(
                "vec_id + 100000000 AS vec_id", "embedding"
            ),
            path, dim=64, nbits=8, mode="append",
        )
    ids = [r["vec_id"] for r in emb.select("vec_id").limit(20).collect()]

    # Min-of-reps, not single-sample (VERDICT r14 ask #2b): the r14
    # artifact drew probe_fragmented 1.77 s -> probe_compacted 2.53 s at
    # sf0.1 from ONE sample each on a host whose A/B discipline documents
    # ~2x single-sample swings; five reps per phase with the min reported
    # (and the raw samples kept) makes the before/after comparable.
    def probe(reps: int = 5) -> tuple[float, list, int]:
        lsh_topk_from_index_by_id(spark, path, ids, k=3, radius=2).count()
        samples = []
        n = 0
        for _ in range(reps):
            t0 = time.time()
            n = lsh_topk_from_index_by_id(
                spark, path, ids, k=3, radius=2
            ).count()
            samples.append(round(time.time() - t0, 3))
        return min(samples), samples, n

    frag_sec, frag_samples, frag_rows = probe()
    t0 = time.time()
    stats = compact_index(spark, path)
    compact_sec = round(time.time() - t0, 2)
    comp_sec, comp_samples, comp_rows = probe()
    for p in (path, path + "_byid"):
        shutil.rmtree(p, ignore_errors=True)
    return {
        "appends": n_deltas,
        "files_fragmented": stats["files_before"],
        "files_compacted": stats["files_after"],
        "probe_fragmented_sec": frag_sec,
        "probe_fragmented_samples": frag_samples,
        "probe_compacted_sec": comp_sec,
        "probe_compacted_samples": comp_samples,
        "compaction_sec": compact_sec,
        "rows_equal": frag_rows == comp_rows,
    }


def time_index_build(spark, sf_dir: str) -> dict:
    """Index-BUILD cost (train_centroids, k=16, 2 Lloyd iterations): the
    dominant cost of IVF at 100 TB is building the lists, not probing them.
    Expected shape: linear-ish in corpus size (per iteration: one
    projection-only assignment pass + one map-side-combined groupBy whose
    shuffle is O(k x dim x partitions), never corpus-sized)."""
    from meerkat_abacus_spark.datapipe.similarity import train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    train_centroids(emb, k=16, iters=1).count()  # warmup
    t0 = time.time()
    n = train_centroids(emb, k=16, iters=2).count()
    return {"sec": round(time.time() - t0, 2), "rows": n}


def main() -> None:
    from meerkat_abacus_spark.session import get_spark

    # Pre-touch the heap at startup (r17): keeps lazy heap-commit page
    # faulting (~165 MB/s on this VM) out of the first timed leg — see
    # tools/scale_rehearsal.py and OPTIMIZATION_r17.md.
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    spark = get_spark(app_name="ann_scale_rehearsal", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Xss64m -Xms{mem} -XX:+AlwaysPreTouch",
    })
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dest = tempfile.gettempdir() + "/msa_ann_scale_big"
    shutil.rmtree(dest, ignore_errors=True)
    build_sf1(spark, src, dest)
    # the ANN queries only read embeddings; link the rest of the tables so
    # any _t() access still resolves
    for name in ("documents",):
        s = f"{src}/{name}.parquet"
        d = f"{dest}/{name}.parquet"
        if os.path.exists(s) and not os.path.exists(d):
            shutil.copytree(s, d) if os.path.isdir(s) else shutil.copy(s, d)

    report = {
        "data_ratio": 100,
        "sf0.1": time_queries(spark, src),
        "100x": time_queries(spark, dest),
    }
    for name in REHEARSED + ("ivf_train", "ivf_probe_indexed"):
        a = report["sf0.1"][name]["sec"]
        b = report["100x"][name]["sec"]
        report[f"{name}_scale_ratio_100x_data"] = round(b / a, 2) if a else None
    for leg, key in (("ivf_delta_append", "append_sec"),
                     ("lsh_delta_append", "append_sec"),
                     ("lsh_index", "probe_sec")):
        a = report["sf0.1"][leg][key]
        b = report["100x"][leg][key]
        report[f"{leg}_{key}_ratio_100x_data"] = (
            round(b / a, 2) if a else None
        )
    from _stamp import artifact_stamp  # noqa: E402

    report["artifact_commit"] = artifact_stamp()
    print(json.dumps(report))
    shutil.rmtree(dest, ignore_errors=True)


if __name__ == "__main__":
    main()
