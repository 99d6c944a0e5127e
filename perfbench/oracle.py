"""Output checks: independent DuckDB (or plain Python) recomputations.

Each check returns a list of failure messages; an empty list means the
workload's output is correct.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from pathlib import Path

import duckdb

from perfbench import gen


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# --- ingest_batch -------------------------------------------------------------------

def _region_sql(inp: Path) -> str:
    """deviceid → region id, from the raw location table."""
    loc = f"read_csv({_sq(str(inp / 'locations.csv'))}, all_varchar=true, header=true)"
    return f"""
    loc AS (SELECT CAST(id AS INTEGER) AS id, TRY_CAST(parent_location AS INTEGER) AS parent,
                   level, deviceid FROM {loc}),
    dev_region AS (
        SELECT trim(d.dev) AS deviceid,
               CASE WHEN p.level = 'district' THEN p.parent ELSE p.id END AS region
        FROM (SELECT id, parent, unnest(string_split(deviceid, ',')) AS dev
              FROM loc WHERE level = 'clinic') d
        JOIN loc p ON p.id = d.parent)"""


def _typed_sql(source: str, visit: str) -> str:
    """QC'd, typed, located rows of one demo_case source relation."""
    return f"""
        SELECT t.type, v."meta/instanceID" AS uuid, v."pt1./gender", v.icd_code,
               v."pt1./age", r.region,
               year(CAST(v."pt./visit_date" AS DATE)) AS epi_year,
               (dayofyear(CAST(v."pt./visit_date" AS DATE)) - 1) // 7 + 1 AS epi_week
        FROM {source} v JOIN dev_region r ON r.deviceid = v.deviceid
        JOIN (SELECT 'case' AS type UNION ALL SELECT 'visit') t
          ON t.type = 'visit' OR {visit} = 'new'"""


def _qc_sql(source: str, devs: str) -> str:
    return f"""
        SELECT * FROM {source}
        WHERE deviceid IN (SELECT deviceid FROM {devs})
          AND strptime("SubmissionDate", '%Y-%m-%dT%H:%M:%S') >= TIMESTAMP '{gen.SUBMISSION_CUTOFF}'
          AND TRY_CAST("pt1./age" AS DOUBLE) >= 0 AND TRY_CAST("pt1./age" AS DOUBLE) < 130"""


def ingest_counts_sql(inp: Path) -> str:
    """Per-(type, variable, region, epi_year, epi_week) counts of the oracle
    rule subset in the final ``data`` table, from the raw files: QC,
    initial-visit rewrite, data types, rule tests, epi-week and location
    for the backlog, then the corrections replacing rows by (uuid, type).
    Written independently of the program.  Expects the corrections loaded
    as table ``env``."""
    case = f"read_csv({_sq(str(inp / 'demo_case' / 'part-0.csv'))}, all_varchar=true, header=true)"
    devs = f"read_csv({_sq(str(inp / 'devices.csv'))}, all_varchar=true, header=true)"
    tests = []
    for rid, (typ, col, vals) in gen.ORACLE_MATCH_RULES.items():
        tests.append((rid, typ, f'"{col}" IN ({", ".join(_sq(v) for v in vals)})'))
    for rid, (typ, col, lo, hi) in gen.ORACLE_BETWEEN_RULES.items():
        tests.append((rid, typ, f'TRY_CAST("{col}" AS DOUBLE) >= {lo} '
                                f'AND TRY_CAST("{col}" AS DOUBLE) < {hi}'))
    arms = "\nUNION ALL\n".join(
        f"SELECT type, {_sq(rid)} AS variable, region, epi_year, epi_week "
        f"FROM final WHERE type = {_sq(typ)} AND ({cond})"
        for rid, typ, cond in tests)
    return f"""
    WITH {_region_sql(inp)},
    qc AS (SELECT q.*, row_number() OVER () AS __row FROM ({_qc_sql(case, devs)}) q),
    gated AS (
        SELECT __row, row_number() OVER (PARTITION BY "pt./pid"
               ORDER BY CAST("pt./visit_date" AS DATE), "meta/instanceID") AS rn
        FROM qc WHERE "intro./visit" = 'new' AND "intro./module" = 'cd'
                  AND "pt./pid" IS NOT NULL AND "pt./pid" <> ''),
    visits AS (
        SELECT qc.*, CASE WHEN g.rn > 1 THEN 'return' ELSE "intro./visit" END AS visit
        FROM qc LEFT JOIN gated g USING (__row)),
    batch_rows AS ({_typed_sql("visits", "v.visit")}),
    stream_qc AS ({_qc_sql("env", devs)}),
    stream_rows AS ({_typed_sql("stream_qc", 'v."intro./visit"')}),
    final AS (
        SELECT b.* FROM batch_rows b ANTI JOIN stream_rows s
          ON s.uuid = b.uuid AND s.type = b.type
        UNION ALL SELECT * FROM stream_rows)
    SELECT type, variable, region, epi_year, epi_week, count(*) AS n
    FROM ({arms}) GROUP BY ALL"""


def _load_envelopes(con, inp: Path) -> None:
    cols = gen.CASE_FIELDS
    con.execute("CREATE TABLE env (" + ", ".join(f'"{c}" VARCHAR' for c in cols) + ")")
    rows = []
    for line in open(inp / "envelopes" / "part-0.json", encoding="utf-8"):
        data = json.loads(line)["data"]
        rows.append(tuple(data.get(c) for c in cols))
    con.executemany(f"INSERT INTO env VALUES ({', '.join('?' for _ in cols)})", rows)


def check_ingest(inp: Path, data_dir: Path) -> list[str]:
    """Compare the subset's counts in the written ``data`` table (read by
    DuckDB) with the independent computation from the raw files."""
    subset = ", ".join(_sq(v) for v in list(gen.ORACLE_MATCH_RULES)
                       + list(gen.ORACLE_BETWEEN_RULES))
    con = _con()
    got = Counter({tuple(r[:5]): r[5] for r in con.execute(f"""
        SELECT type, variable, region, epi_year, epi_week, count(*)
        FROM (SELECT type, region, epi_year, epi_week,
                     unnest(map_keys(variables)) AS variable
              FROM read_parquet({_sq(str(data_dir) + '/**/*.parquet')},
                                hive_partitioning = true))
        WHERE variable IN ({subset}) GROUP BY ALL""").fetchall()})
    _load_envelopes(con, inp)
    want = Counter({tuple(r[:5]): r[5]
                    for r in con.execute(ingest_counts_sql(inp)).fetchall()})
    if not want:
        return ["ingest oracle produced no rows"]
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:5]
        return [f"ingest counts differ from DuckDB on {len(set(got) ^ set(want))} keys "
                f"/ {sum(1 for k in want if got.get(k) != want[k])} values; e.g. {diff}"]
    return []


# --- dashboard_queries ------------------------------------------------------------
# Each q_* function returns Spark SQL over the ``data`` view; ``duckdb_sql``
# rewrites it for DuckDB over the same parquet files.

def q_var_counts(level: str, var: str, year: int) -> str:
    return (f"SELECT {level}, epi_week, count(*) AS n FROM data "
            f"WHERE epi_year = {year} AND type = 'case' "
            f"AND map_contains_key(variables, '{var}') "
            f"GROUP BY {level}, epi_week ORDER BY {level} NULLS FIRST, epi_week")


def q_crosstab(year: int, w1: int, w2: int) -> str:
    return ("SELECT categories['gender'] AS gender, categories['age'] AS age, "
            "count(*) AS n FROM data "
            f"WHERE epi_year = {year} AND epi_week BETWEEN {w1} AND {w2} "
            "GROUP BY 1, 2 ORDER BY 1 NULLS FIRST, 2 NULLS FIRST")


def q_alert_list(clinic: int) -> str:
    return ("SELECT uuid, CAST(date AS DATE) AS day, alert_reason FROM data "
            f"WHERE clinic = {clinic} AND alert "
            "ORDER BY date DESC, uuid LIMIT 50")


def q_top_vars(year: int, week: int) -> str:
    return ("SELECT v, count(*) AS n FROM "
            "(SELECT explode(map_keys(variables)) AS v FROM data "
            f"WHERE epi_year = {year} AND epi_week = {week}) "
            "GROUP BY v ORDER BY n DESC, v LIMIT 10")


def duckdb_sql(q: str, path: Path) -> str:
    src = (f"read_parquet({_sq(str(path) + '/**/*.parquet')}, "
           "hive_partitioning = true)")
    q = q.replace("FROM data", f"FROM {src}")
    for key in ("gender", "age"):
        q = q.replace(f"categories['{key}']", f"element_at(categories, '{key}')[1]")
    if "map_contains_key(variables, " in q:
        head, rest = q.split("map_contains_key(variables, ", 1)
        var, tail = rest.split(")", 1)
        q = f"{head}len(element_at(variables, {var})) > 0{tail}"
    q = q.replace("explode(map_keys(variables))", "unnest(map_keys(variables))")
    return q


def _norm(rows) -> list[tuple]:
    out = []
    for r in rows:
        out.append(tuple(str(v) if v is not None else None for v in r))
    return out


def check_dashboard(path: Path, results: dict) -> list[str]:
    con = _con()
    failures = []
    for q, rows in results.items():
        want = _norm(con.execute(duckdb_sql(q, path)).fetchall())
        if _norm(rows) != want:
            failures.append(f"dashboard query differs from DuckDB: {q}")
    if not results:
        failures.append("dashboard ran no queries")
    return failures[:5]


# --- corpus_curation ------------------------------------------------------------

RECALL_FLOOR = 0.9
# the LSH probe is approximate; below this share of the exact top-k it no
# longer answers the query
TOPK_RECALL_FLOOR = 0.8


def output_digest(out: dict) -> str:
    """sha256 over the curation outputs (kept ids, verified pairs,
    components, top-k answers); one seed must always give the same."""
    payload = json.dumps([out["kept"], out["edges"], out["components"], out["topk"]])
    return hashlib.sha256(payload.encode()).hexdigest()


def family_recall(docs: list[dict], components: list[tuple], kept: list[int]) -> float:
    """Share of planted same-family pairs (among kept documents with
    distinct texts) that land in one component."""
    comp = dict(components)
    kept_set = set(kept)
    fam: dict[int, list[int]] = {}
    for d in docs:
        if d["family"] >= 0 and d["doc_id"] in kept_set:
            fam.setdefault(d["family"], []).append(d["doc_id"])
    pairs = hit = 0
    for members in fam.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs += 1
                ca, cb = comp.get(a, a), comp.get(b, b)
                hit += ca == cb
    return hit / pairs if pairs else 0.0


def _shingles(text: str, k: int = 3) -> set:
    toks = text.split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _components(edges) -> dict:
    """Union-find over the verified edges: node → min id of its component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_corpus(docs: list[dict], out: dict, k: int) -> list[str]:
    """Exact dedup keeps the min id per text; every verified pair's Jaccard
    is exact; components equal a union-find over those pairs; planted
    families are recovered; every top-k answer carries its exact cosine,
    ranks are ordered and the answers recall enough of the exact top-k;
    every unit of the run gave the same output digest."""
    import numpy as np

    failures = []
    by_id = {d["doc_id"]: d for d in docs}
    exact: dict = {}
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        exact.setdefault(d["text"], d["doc_id"])
    if sorted(exact.values()) != out["kept"]:
        failures.append("exact dedup kept set differs from min-id-per-text")
    for a, b, j in out["edges"]:
        sa, sb = _shingles(by_id[a]["text"]), _shingles(by_id[b]["text"])
        if abs(len(sa & sb) / len(sa | sb) - j) > 1e-9:
            failures.append(f"jaccard of ({a}, {b}) is {j}, expected exact value")
            break
    if _components(out["edges"]) != dict(out["components"]):
        failures.append("connected components differ from union-find over verified pairs")
    recall = family_recall(docs, out["components"], out["kept"])
    if recall < RECALL_FLOOR:
        failures.append(f"planted-family recall {recall:.3f} < {RECALL_FLOOR}")
    ranked: dict = {}
    for q, rank, nb, cos in out["topk"]:
        a = np.array(by_id[q]["embedding"])
        b = np.array(by_id[nb]["embedding"])
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        if abs(want - cos) > 1e-9:
            failures.append(f"top-k cosine of ({q}, {nb}) is {cos}, expected {want}")
            break
        ranked.setdefault(q, []).append((rank, -cos, nb))
    for q, rows in ranked.items():
        rows.sort()
        if [r[0] for r in rows] != list(range(1, len(rows) + 1)) or len(rows) > k \
                or [r[1:] for r in rows] != sorted(r[1:] for r in rows):
            failures.append(f"top-k ranks for query {q} are not ordered")
            break
    if not ranked:
        failures.append("top-k probes returned nothing")
    topk_recall = recall_at_k(docs, out["kept"], out["topk"], k)
    if topk_recall < TOPK_RECALL_FLOOR:
        failures.append(f"top-k recall {topk_recall:.3f} < {TOPK_RECALL_FLOOR}")
    if len(set(out["digests"])) != 1:
        failures.append(f"output digest differs between units: {sorted(set(out['digests']))}")
    return failures


def recall_at_k(docs: list[dict], kept: list[int], topk: list[tuple], k: int) -> float:
    """Share of the exact cosine top-k (among kept documents, self
    excluded, ties by id) that the LSH probe returned."""
    import numpy as np

    by_id = {d["doc_id"]: d["embedding"] for d in docs}
    ids = np.array(kept)
    mat = np.array([by_id[i] for i in kept])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    got: dict = {}
    for q, _, nb, _ in topk:
        got.setdefault(q, set()).add(nb)
    hit = 0
    for q, found in got.items():
        v = np.array(by_id[q]) / np.linalg.norm(by_id[q])
        cos = mat @ v
        order = sorted((-c, i) for c, i in zip(cos, ids) if i != q)[:k]
        hit += len(found & {i for _, i in order})
    return hit / (k * len(got)) if got else 0.0
