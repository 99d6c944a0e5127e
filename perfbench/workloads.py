"""The benchmark's workloads.

Each workload generates its inputs (part of set-up), sets up, warms up,
measures for a fixed window and checks its outputs.  See README.md for
why each one was chosen and what its metrics mean.
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import threading
import time
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from perfbench import gen, oracle, pipeline
from perfbench.harness import Context, Measure, cpu_s


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    """Base: the window runs whole units of work until ``seconds`` have
    passed.  Batch workloads are started by their users in a fresh
    process, so they take no warm-up: the first unit is measured cold."""

    name = ""

    def generate(self, ctx: Context, rep: int) -> None:
        raise NotImplementedError

    def setup(self, ctx: Context, rep: int):
        raise NotImplementedError

    def unit(self, ctx: Context, state, i: int, m: Measure) -> None:
        """One unit of work; appends its samples to ``m``."""
        raise NotImplementedError

    def warm(self, ctx: Context, state) -> None:
        """Work run and discarded before the window."""

    def measure(self, ctx: Context, state, seconds: float) -> Measure:
        m = Measure()
        start = time.perf_counter()
        i = 0
        while True:
            self.unit(ctx, state, i, m)
            i += 1
            if time.perf_counter() - start >= seconds:
                break
        m.window_s = time.perf_counter() - start
        return m

    def check(self, ctx: Context, state, m: Measure) -> list[str]:
        raise NotImplementedError

    def trace_layers(self, ctx: Context, state, tracer, traced: Measure) -> dict:
        """Per-layer values the traced session computes after its window
        (counts over the materialized layer outputs, plan timings)."""
        raise NotImplementedError

    def layer_metrics(self, pending: dict, groups: dict, tracer) -> dict:
        """Per-layer metrics this workload exercises, from the
        :meth:`trace_layers` values, the spans and the parsed event log."""
        raise NotImplementedError


def _files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if p.is_file()]


# --- ingest_batch ------------------------------------------------------------------

class IngestBatch(Workload):
    """The nightly job and the reads that follow it: a full re-code of a
    generated multi-form backlog, the day's corrections through the stream
    path, then dashboard pages over the fresh ``data`` view."""

    name = "ingest_batch"
    # ~57k forms (cases, a tenth as many registers, the alerts): nearly four
    # of the reference's 15,000-row ingest chunks.  Per-row operator work is
    # then a measured share of the unit, and a traced run, which runs the
    # unit twice, stays well inside three minutes (README.md, "Sizes").
    n_case = 50000
    n_corrections = 200
    pages = 4   # per client

    def generate(self, ctx, rep):
        gen.write_inputs(ctx.inp, ctx.seed, self.n_case,
                         n_corrections=self.n_corrections)

    def setup(self, ctx, rep):
        cfg = pipeline.load_config(ctx.inp)
        dim, devices = pipeline.load_dims(ctx.spark, ctx.inp)
        n_records = 0
        for form in ("demo_case", "demo_alert", "demo_register"):
            with open(ctx.inp / form / "part-0.csv", encoding="utf-8") as fh:
                n_records += sum(1 for _ in fh) - 1   # minus the header
        # dashboard parameters, most popular first (Zipf-drawn)
        variables = [r.id for r in cfg.rules if r.type == "case" and not r.multiple_link]
        clinics = sorted(r["id"] for r in gen.locations(ctx.seed, gen.N_CLINICS)
                         if r["level"] == "clinic")
        return {"cfg": cfg, "dim": dim, "devices": devices, "records": n_records,
                "variables": variables, "clinics": clinics, "results": {},
                "lock": threading.Lock()}

    def unit(self, ctx, state, i, m):
        out = _fresh(ctx.work / f"ingest_{i % 2}")
        t = time.perf_counter()
        m.attempted += 1
        if ctx.layers is not None:
            ctx.layers.request = f"unit-{i}"
        res = pipeline.ingest(ctx.spark, ctx.inp, out, state["cfg"], state["dim"],
                              state["devices"], ctx.layers)
        ctx.spark.read.parquet(str(out / "data")).createOrReplaceTempView("data")
        cpu0, queries0 = cpu_s(ctx.spark), len(m.latency_ms)
        self.read(ctx, state, i, m)
        m.op_cpu_ms.append((cpu_s(ctx.spark) - cpu0) * 1000.0
                           / max(len(m.latency_ms) - queries0, 1))
        m.unit_s.append(time.perf_counter() - t)
        m.items += state["records"]
        m.outputs.update(out=out, **res)

    @staticmethod
    def page(rng: random.Random, state) -> list[str]:
        """The four API-shaped queries one dashboard page sends (§3.3 path):
        recent weeks, popular variables and busy clinics are hot."""
        year = 2024 if rng.random() < 0.7 else 2023
        variables = state["variables"]
        var = rng.choices(variables, gen.zipf_weights(len(variables)))[0]
        level = rng.choice(["clinic", "district", "region"])
        week = 53 - min(int(rng.paretovariate(1.2)), 52)
        clinics = state["clinics"]
        clinic = rng.choice(clinics[:60] if rng.random() < 0.8 else clinics)
        return [
            oracle.q_var_counts(level, var, year),
            oracle.q_crosstab(year, max(week - 3, 1), week),
            oracle.q_alert_list(clinic),
            oracle.q_top_vars(year, week),
        ]

    def read(self, ctx, state, i: int, m: Measure) -> None:
        """Closed loop of ``nproc`` clients, each loading ``pages`` pages
        back to back; every query is a latency sample and a failed query a
        failed operation."""
        lock = state["lock"]

        def client(c):
            rng = random.Random(f"{ctx.seed}:client:{i}:{c}")
            for n in range(self.pages):
                for k, q in enumerate(self.page(rng, state)):
                    t = time.perf_counter()
                    try:
                        if ctx.layers is None:
                            rows = ctx.spark.sql(q).collect()
                        else:
                            with ctx.layers.layer("sql", request=f"query-{i}-{c}-{n}-{k}"):
                                rows = ctx.spark.sql(q).collect()
                    except Exception:  # noqa: BLE001 — a failed query is counted
                        with lock:
                            m.attempted += 1
                            m.failed += 1
                        continue
                    lat = (time.perf_counter() - t) * 1000.0
                    with lock:
                        m.attempted += 1
                        m.latency_ms.append(lat)
                        m.outputs["rows_out"] = m.outputs.get("rows_out", 0) + len(rows)
                        state["results"].setdefault(q, rows)

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(ctx.nproc)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def check(self, ctx, state, m):
        data = m.outputs["out"] / "data"
        return (oracle.check_ingest(ctx.inp, data)
                + oracle.check_dashboard(data, state["results"]))

    def trace_layers(self, ctx, state, tracer, traced):
        from meerkat_abacus_spark.operators import coding

        spark, cfg = ctx.spark, state["cfg"]
        out = traced.outputs["out"]

        def frames(name):  # the backlog's frames, not the corrections'
            return [df for req, df in tracer.frames[name] if req != "corrections"]

        def rows(name):
            return sum(df.count() for df in frames(name))

        links = frames("links")
        link_cols = [c for c in links[0].columns if c.startswith("link_")]
        matched = sum(df.filter(" OR ".join(f"size(`{c}`) > 0" for c in link_cols)).count()
                      for df in links)
        coded_vars = sum(df.selectExpr("sum(size(variables))").first()[0]
                         for df in frames("coding"))
        located = frames("locations")[0]
        t = time.perf_counter()
        case_rules = [r for r in cfg.rules if r.type == "case"]
        coded = coding.code_dataframe(links[0], case_rules, pipeline.EPI_CONFIG,
                                      extra_variables={"tot_1": "1", "data_entry": "1"})
        coded._jdf.queryExecution().executedPlan()
        coding_plan_s = time.perf_counter() - t
        t = time.perf_counter()
        forms = pipeline.quality_control_step(pipeline.read_forms(spark, ctx.inp),
                                              state["devices"], cfg)
        forms["demo_case"] = pipeline.initial_visit_step(forms["demo_case"])
        data = pipeline.code_forms(forms, cfg, state["dim"], None)
        data._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t
        # plan vs execution time of the read path, one query at a time
        rng = random.Random(f"{ctx.seed}:trace")
        plan_ms, exec_ms = [], []
        for _ in range(2):
            for q in self.page(rng, state):
                with tracer.layer("sql_split"):
                    t = time.perf_counter()
                    df = spark.sql(q)
                    df._jdf.queryExecution().executedPlan()
                    t1 = time.perf_counter()
                    df.collect()
                    exec_ms.append((time.perf_counter() - t1) * 1000.0)
                    plan_ms.append((t1 - t) * 1000.0)
        return {
            "sql.plan_ms": statistics.median(plan_ms),
            "sql.exec_ms": statistics.median(exec_ms),
            "quality_control.kept_ratio": rows("quality_control") / rows("sources"),
            "to_data_type.fanout": rows("to_data_type") / rows("quality_control"),
            "links.matched_ratio": matched / sum(df.count() for df in links),
            "coding.vars_per_record": coded_vars / rows("coding"),
            "coding.plan_s": coding_plan_s,
            "locations.unmatched_ratio": located.filter("clinic IS NULL").count()
            / located.count(),
            "alerts.alerts_out": spark.read.parquet(str(out / "alerts")).count()
            + traced.outputs["published"],
            "pipeline.plan_s": plan_s,
            "writers.files_written": len(_files(out / "data")),
        }

    def layer_metrics(self, pending, groups, tracer):
        from perfbench.trace import totals

        v = dict(pending["values"])
        st = tracer.self_s()

        def g(layer, key):
            return totals(groups, layer).get(key, 0.0)

        for layer in ("quality_control", "initial_visit", "to_data_type", "links",
                      "coding", "epi_week", "locations", "alerts"):
            v[f"{layer}.self_s"] = st.get(layer, 0.0)
        batch = tracer.durations("foreach_batch")
        upsert_start = min(s["start"] for s in tracer.spans if s["name"] == "upsert")
        batch_start = min(s["start"] for s in tracer.spans if s["name"] == "foreach_batch")
        units = totals(groups)
        traced, plain = pending["traced"], pending["plain"]
        n = len(traced.unit_s)
        # bytes the untraced session's JVM wrote per unit over the final table
        unit_bytes = sum(p.stat().st_size for p in _files(plain.outputs["out"] / "data"))
        queries = len(traced.latency_ms)
        sql = totals(groups, "sql")
        v.update({
            "sources.scan_s": st.get("sources", 0.0),
            "sources.bytes_read": g("sources", "bytes_read"),
            "initial_visit.shuffle_bytes": g("initial_visit", "shuffle_write_bytes"),
            "links.shuffle_bytes": g("links", "shuffle_write_bytes"),
            "alerts.shuffle_bytes": g("alerts", "shuffle_write_bytes"),
            "pipeline.jobs": units.get("jobs", 0.0) / n,
            "pipeline.stages": units.get("stages", 0.0) / n,
            "pipeline.tasks": units.get("tasks", 0.0) / n,
            "writers.write_s": st.get("writers", 0.0),
            "writers.bytes_written": g("writers", "bytes_written"),
            "writers.write_amp": pending["write_bytes"] / (unit_bytes * len(plain.unit_s))
            if unit_bytes else 0.0,
            "writers.upsert_s": st.get("upsert", 0.0),
            "writers.upsert_jobs": g("upsert", "jobs"),
            "writers.upsert_rewrite_bytes": g("upsert", "bytes_written"),
            "foreach_batch.start_s": upsert_start - batch_start,
            "foreach_batch.batch_s": statistics.median(batch),
            "sql.files_scanned": sql.get("files_scanned", 0.0) / queries,
            "sql.bytes_scanned": sql.get("bytes_scanned", 0.0) / queries,
            "sql.rows_scanned_per_row_out": sql.get("scan_rows", 0.0)
            / max(traced.outputs.get("rows_out", 0), 1),
        })
        return v


# --- corpus_curation -------------------------------------------------------------

CORPUS_SCHEMA = StructType([
    StructField("doc_id", LongType()), StructField("text", StringType()),
    StructField("family", IntegerType()),
    StructField("embedding", ArrayType(DoubleType())),
])


class CorpusCuration(Workload):
    """Exact dedup → MinHash-LSH → Jaccard verify → components, then an LSH
    index build and top-k probe batches."""

    name = "corpus_curation"
    families, background, dim = 150, 500, 16
    jaccard = 0.5
    k = 5
    probes, probe_size = 9, 4
    nbits = 4  # 16 index buckets: about 45 vectors each at this corpus size

    def generate(self, ctx, rep):
        gen.write_inputs(ctx.inp, ctx.seed, 0, corpus_families=self.families,
                         corpus_background=self.background, dim=self.dim)

    def setup(self, ctx, rep):
        corpus = ctx.spark.read.schema(CORPUS_SCHEMA).json(str(ctx.inp / "corpus.jsonl"))
        corpus = corpus.localCheckpoint(eager=True)
        with open(ctx.inp / "corpus.jsonl", encoding="utf-8") as fh:
            docs = [json.loads(line) for line in fh]
        return {"corpus": corpus, "docs": docs}

    def curate(self, ctx, state, index_path: Path, m: Measure) -> dict:
        from meerkat_abacus_spark.datapipe import dedup, similarity

        spark = ctx.spark
        lay = ctx.layers or pipeline.Layers()
        # round statistics cost extra jobs: only the traced run collects them
        cc_stats = {} if ctx.layers is not None else None
        with lay.layer("exact"):
            hashed = dedup.exact_dedup(state["corpus"], "doc_id", "text")
            kept = hashed.filter("is_kept").select("doc_id", "text", "embedding")
            kept = kept.localCheckpoint(eager=True)
        with lay.layer("candidates"):
            pairs = lay.step("candidates", dedup.minhash_lsh_candidates(kept, "doc_id", "text"))
            edges = pairs.filter(F.col("jaccard") >= self.jaccard).localCheckpoint(eager=True)
        with lay.layer("components"):
            comps = dedup.connected_components_star(edges.select("id_a", "id_b"),
                                                    stats=cc_stats)
            components = sorted((r[0], r[1]) for r in comps.collect())
        with lay.layer("index_build"):
            similarity.write_lsh_index(kept, str(index_path), self.dim, id_col="doc_id",
                                       nbits=self.nbits)
        ids = sorted(r[0] for r in kept.select("doc_id").collect())
        rng = random.Random(f"{ctx.seed}:probes")
        sample = rng.sample(ids, (1 + self.probes) * self.probe_size)
        topk = []
        # batch 0 warms the probe path and is not a latency sample: the
        # latency metrics describe serving from a built index
        for b in range(1 + self.probes):
            qids = sample[b * self.probe_size:(b + 1) * self.probe_size]
            queries = kept.filter(F.col("doc_id").isin(qids))
            t, cpu0 = time.perf_counter(), cpu_s(spark)
            with lay.layer("probe"):
                rows = similarity.lsh_topk_from_index(
                    spark, str(index_path), queries, self.dim, id_col="doc_id",
                    k=self.k, nbits=self.nbits).collect()
            if b:
                m.latency_ms.append((time.perf_counter() - t) * 1000.0)
                m.op_cpu_ms.append((cpu_s(spark) - cpu0) * 1000.0)
            topk.extend(sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
                               for r in rows))
        return {"components": components, "topk": topk, "kept": ids, "kept_df": kept,
                "cc_stats": cc_stats,
                "edges": sorted((r["id_a"], r["id_b"], r["jaccard"])
                                for r in edges.collect())}

    def unit(self, ctx, state, i, m):
        if ctx.layers is not None:
            ctx.layers.request = f"unit-{i}"
        t = time.perf_counter()
        m.attempted += 1
        out = self.curate(ctx, state, _fresh(ctx.work / f"index_{i % 2}"), m)
        m.unit_s.append(time.perf_counter() - t)
        m.items += len(state["docs"])
        out["digests"] = m.outputs.get("digests", []) + [oracle.output_digest(out)]
        m.outputs = out

    def check(self, ctx, state, m):
        return oracle.check_corpus(state["docs"], m.outputs, self.k)

    def trace_layers(self, ctx, state, tracer, traced):
        from meerkat_abacus_spark.datapipe import dedup

        out = traced.outputs
        kept = out["kept_df"]
        with tracer.layer("signature"):
            hashes = dedup.staged_shingle_hash_rows(kept, "doc_id", "text", 3)
            keys = dedup.lsh_band_key_rows(kept, "doc_id", "text", 3, 64, 16,
                                           staged=hashes).localCheckpoint(eager=True)
        max_bucket = keys.groupBy("band_key").count().agg(F.max("count")).first()[0]
        pairs = tracer.frames["candidates"][0][1]
        n_pairs = pairs.count()
        verified = pairs.filter(F.col("jaccard") >= self.jaccard).count()
        return {
            "dedup.candidate_pairs": n_pairs,
            "dedup.verified_ratio": verified / n_pairs if n_pairs else 0.0,
            "dedup.max_bucket": max_bucket,
            "dedup.components_rounds": out["cc_stats"].get("iterations", 0),
            "similarity.recall_at_k": oracle.recall_at_k(state["docs"], out["kept"],
                                                         out["topk"], self.k),
        }

    def layer_metrics(self, pending, groups, tracer):
        from perfbench.trace import totals

        v = dict(pending["values"])
        st = tracer.self_s()
        probe = totals(groups, "probe")
        v.update({
            "dedup.exact_s": st.get("exact", 0.0),
            "dedup.signature_s": st.get("signature", 0.0),
            "dedup.candidates_s": st.get("candidates", 0.0),
            "dedup.components_s": st.get("components", 0.0),
            "similarity.index_build_s": st.get("index_build", 0.0),
            "similarity.probe_s": statistics.median(tracer.durations("probe")),
            "similarity.candidates_per_query": probe.get("records_read", 0.0)
            / ((1 + self.probes) * self.probe_size),
        })
        return v


WORKLOADS = {w.name: w for w in (IngestBatch(), CorpusCuration())}
