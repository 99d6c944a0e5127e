"""Seeded input generator for the benchmark.

Everything the program reads is produced here from ``--seed`` with the
standard library only (no call into the program, no Spark), so two
checkouts given the same seed see byte-identical files.  Each file draws
from its own ``random.Random("<seed>:<name>")`` stream: changing the size
of one input never shifts the contents of another.

Shapes follow the reference's demo country config: ``demo_case``,
``demo_alert`` and ``demo_register`` forms (all-string CSV cells), a
country → zone → region → district → clinic location table, a codes file
of about 200 rules mixing match / sub_match / between / calc / value plus
link rules, ``demo_links.csv`` and ``data_types.csv``.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import random
from pathlib import Path

EPOCH = dt.date(2023, 1, 1)  # two epi years: 2023 and 2024
DAYS = 731
SUBMISSION_CUTOFF = "2023-01-01"
N_CLINICS = 300

ICD_CODES = [f"{c}{n:02d}" for c in "ABEIJ" for n in range(24)]  # 120 codes
ALERT_CODES = ["A00", "A01", "A05", "B05"]
SYMPTOMS = [f"S{n:02d}" for n in range(30)]
VACCINES = ["bcg", "polio", "measles", "dtp", "hepb", "hib", "pcv", "rota"]

CASE_FIELDS = [
    "meta/instanceID", "SubmissionDate", "deviceid", "intro./visit",
    "intro./module", "pt./pid", "pt./visit_date", "icd_code", "pt1./age",
    "pt1./gender", "nationality", "pt1./status", "symptoms", "pregnant",
    "smoke_ever", "results./bmi_weight", "results./bmi_height",
    "results./bp_systolic", "results./bp_diastolic", "vaccination_type",
]
ALERT_FIELDS = [
    "meta/instanceID", "SubmissionDate", "deviceid", "pt./alert_id",
    "alert_labs./return_lab", "pt./checklist",
]
REGISTER_FIELDS = [
    "meta/instanceID", "SubmissionDate", "deviceid", "intro./module",
    "consult./consultations", "consult./ncd_consultations",
    "surveillance./afp",
]
CODES_HEADER = [
    "id", "name", "type", "form", "multiple_link", "db_column", "alert",
    "alert_type", "method", "condition", "category", "calculation",
    "disregard", "calculation_group", "calculation_priority",
]
LINKS_HEADER = [
    "name", "type", "to_form", "from_form", "from_column", "to_column",
    "method", "order_by", "uuid", "to_condition",
]
DATA_TYPES_HEADER = ["name", "type", "form", "db_column", "condition", "date", "var"]

# Rules the ingest output check recomputes independently (plain match and
# raw-column between tests, no group/priority interplay).
ORACLE_MATCH_RULES = {  # id -> (type, column, values)
    "gen_1": ("case", "pt1./gender", ["male"]),
    "gen_2": ("case", "pt1./gender", ["female"]),
    "cmd_1": ("case", "icd_code", ["A00"]),
    "cmd_7": ("case", "icd_code", ["A06", "A07"]),
    "cmd_30": ("case", "icd_code", ["B06"]),
    "vis_icd_3": ("visit", "icd_code", ["A03"]),
}
ORACLE_BETWEEN_RULES = {  # id -> (type, column, lo, hi)
    "age_1": ("case", "pt1./age", 0, 5),
    "age_4": ("case", "pt1./age", 15, 25),
    "vis_age_2": ("visit", "pt1./age", 5, 15),
}


def _rng(seed: int, name: str) -> random.Random:
    return random.Random(f"{seed}:{name}")


def _uuid(rng: random.Random) -> str:
    return "uuid:" + "%032x" % rng.getrandbits(128)


def _write_csv(path: Path, header: list[str], rows: list[list]) -> None:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    path.write_text(buf.getvalue(), encoding="utf-8")


# --- locations ---------------------------------------------------------------

def locations(seed: int, n_clinics: int) -> list[dict]:
    """Adjacency rows: 1 country, 3 zones, 8 regions, 40 districts, clinics.

    About 5% of clinics hang off a region directly (NULL district), and
    about 10% carry two comma-joined device ids.
    """
    rng = _rng(seed, "locations")
    rows = [dict(id=1, name="Demoland", parent_location="", level="country")]
    nid = 2
    zones = list(range(nid, nid + 3))
    for z in zones:
        rows.append(dict(id=z, name=f"zone_{z}", parent_location=1, level="zone"))
    nid += 3
    regions = list(range(nid, nid + 8))
    for i, r in enumerate(regions):
        rows.append(dict(id=r, name=f"region_{r}", parent_location=zones[i % 3],
                         level="region"))
    nid += 8
    districts = list(range(nid, nid + 40))
    for i, d in enumerate(districts):
        rows.append(dict(id=d, name=f"district_{d}",
                         parent_location=regions[i % 8], level="district"))
    nid += 40
    device = 1000
    for i in range(n_clinics):
        parent = rng.choice(regions) if rng.random() < 0.05 else rng.choice(districts)
        devs = [str(device)]
        device += 1
        if rng.random() < 0.10:
            devs.append(str(device))
            device += 1
        rows.append(dict(
            id=nid + i, name=f"clinic_{nid + i}", parent_location=parent,
            level="clinic", deviceid=",".join(devs),
            clinic_type="Hospital" if rng.random() < 0.1 else "Primary",
        ))
    for r in rows:
        r.setdefault("deviceid", "")
        r.setdefault("clinic_type", "")
    return rows


def device_ids(locs: list[dict]) -> list[str]:
    return [d for r in locs if r["level"] == "clinic" for d in r["deviceid"].split(",")]


# --- forms -------------------------------------------------------------------

def _ts(day: dt.date, rng: random.Random) -> str:
    return (f"{day.isoformat()}T{rng.randrange(7, 19):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}")


def case_row(rng: random.Random, devices: list[str], n_patients: int) -> dict:
    """One demo_case submission (FIXTURES.md §1.1 domains)."""
    visit_day = EPOCH + dt.timedelta(days=rng.randrange(DAYS))
    sub_day = visit_day + dt.timedelta(days=rng.randrange(4))
    if rng.random() < 0.02:  # stale submissions the QC cutoff drops
        sub_day = dt.date(2022, 6, 1) + dt.timedelta(days=rng.randrange(90))
    device = rng.choice(devices) if rng.random() > 0.03 else f"9{rng.randrange(999):03d}"
    age = str(rng.randrange(0, 100)) if rng.random() > 0.01 else rng.choice(["", "250"])
    icd = rng.choice(ALERT_CODES) if rng.random() < 0.02 else rng.choice(ICD_CODES)
    return {
        "meta/instanceID": _uuid(rng),
        "SubmissionDate": _ts(sub_day, rng),
        "deviceid": device,
        "intro./visit": rng.choice(["new", "new", "new", "return", "referral"]),
        "intro./module": rng.choice(["cd", "cd", "ncd", "mh"]),
        "pt./pid": str(rng.randrange(n_patients)),
        "pt./visit_date": visit_day.isoformat(),
        "icd_code": icd,
        "pt1./age": age,
        "pt1./gender": rng.choice(["male", "female"]),
        "nationality": rng.choice(["demo", "demo", "null_island"]),
        "pt1./status": rng.choice(["refugee", "national"]),
        "symptoms": ",".join(sorted(rng.sample(SYMPTOMS, rng.randrange(0, 4)))),
        "pregnant": rng.choice(["yes", "no", "no", ""]),
        "smoke_ever": rng.choice(["yes", "no"]),
        "results./bmi_weight": str(rng.randrange(40, 120)),
        "results./bmi_height": str(rng.randrange(120, 210)),
        "results./bp_systolic": str(rng.randrange(80, 200)),
        "results./bp_diastolic": str(rng.randrange(50, 110)),
        "vaccination_type": " ".join(sorted(rng.sample(VACCINES, rng.randrange(0, 3)))),
    }


def forms(seed: int, n_case: int, devices: list[str]) -> dict[str, list[dict]]:
    rng = _rng(seed, "demo_case")
    cases = [case_row(rng, devices, max(n_case // 3, 1)) for _ in range(n_case)]
    arng = _rng(seed, "demo_alert")
    alert_src = [c for c in cases if c["icd_code"] in ALERT_CODES]
    alerts = []
    for c in alert_src:
        if arng.random() < 0.7:
            alerts.append({
                "meta/instanceID": _uuid(arng),
                "SubmissionDate": c["SubmissionDate"],
                "deviceid": c["deviceid"],
                "pt./alert_id": c["meta/instanceID"][-6:],
                "alert_labs./return_lab": arng.choice(["yes", "no", "unsure"]),
                "pt./checklist": ",".join(sorted(arng.sample(
                    ["referral", "case_management", "contact_tracing", "return_lab"],
                    arng.randrange(1, 4)))),
            })
    rrng = _rng(seed, "demo_register")
    registers = []
    for _ in range(max(n_case // 10, 1)):
        day = EPOCH + dt.timedelta(days=rrng.randrange(DAYS))
        registers.append({
            "meta/instanceID": _uuid(rrng),
            "SubmissionDate": _ts(day, rrng),
            "deviceid": rrng.choice(devices),
            "intro./module": rrng.choice(["ncd", "cd"]),
            "consult./consultations": str(rrng.randrange(10, 21)),
            "consult./ncd_consultations": str(rrng.randrange(10, 21)),
            "surveillance./afp": str(rrng.randrange(1, 6)),
        })
    return {"demo_case": cases, "demo_alert": alerts, "demo_register": registers}


# --- config: codes, links, data types ----------------------------------------

def codes(seed: int) -> list[dict]:
    """About 200 rules in the reference codes file's method mix."""
    rng = _rng(seed, "codes")
    rules: list[dict] = []

    def add(**kw):
        rules.append(kw)

    # QC import rules (type=import): the age sanity check discards.
    add(id="qc_age", type="import", method="between", db_column="pt1./age",
        condition="0,130", calculation="pt1./age", category="discard")
    for rid, (typ, col, vals) in ORACLE_MATCH_RULES.items():
        group = "gender" if rid.startswith("gen_") else ""
        add(id=rid, type=typ, method="match", db_column=col,
            condition=",".join(vals), category="gender" if group else "cd_tab",
            calculation_group=group,
            alert="1" if rid == "cmd_1" else "",
            alert_type="individual" if rid == "cmd_1" else "")
    for rid, (typ, col, lo, hi) in ORACLE_BETWEEN_RULES.items():
        add(id=rid, type=typ, method="between", db_column=col,
            condition=f"{lo},{hi}", calculation=col, category="age")
    # ICD match rules: one or two codes each, a few raise alerts.
    for k in range(2, 92):
        if f"cmd_{k}" in ORACLE_MATCH_RULES:
            continue
        picks = rng.sample(ICD_CODES, rng.choice([1, 1, 2]))
        add(id=f"cmd_{k}", type=rng.choice(["case", "case", "visit"]),
            method="match", db_column="icd_code", condition=",".join(picks),
            category="cd_tab", alert="1" if k in (2, 3) else "",
            alert_type="individual" if k in (2, 3) else "")
    for k, s in enumerate(SYMPTOMS):
        add(id=f"sym_{k}", type="case", method="sub_match", db_column="symptoms",
            condition=s, category="symptoms")
    for k, v in enumerate(VACCINES):
        add(id=f"vac_{k}", type="case", method="sub_match",
            db_column="vaccination_type", condition=v, category="vaccination")
    for k, (lo, hi) in enumerate([(0, 1), (1, 5), (5, 15), (15, 25), (25, 50), (50, 200)]):
        add(id=f"age_{10 + k}", type="visit", method="between", db_column="pt1./age",
            condition=f"{lo},{hi}", calculation="pt1./age", category="age_visit",
            calculation_group="age_visit")
    bmi = ("results./bmi_weight / ((results./bmi_height/100) * "
           "(results./bmi_height/100))")
    for k, (lo, hi) in enumerate([(0, 18.5), (18.5, 25), (25, 30), (30, 100)]):
        add(id=f"lab_bmi_{k}", type="case", method="between",
            db_column="results./bmi_weight,results./bmi_height",
            condition=f"{lo},{hi}", calculation=bmi, category="bmi")
    for k, (lo, hi) in enumerate([(140, 300), (160, 300)]):
        add(id=f"lab_bp_{k}", type="case", method="between and between",
            db_column="results./bp_systolic;results./bp_diastolic",
            condition=f"{lo},{hi};90,200",
            calculation="results./bp_systolic;results./bp_diastolic", category="bp")
    for k, (g, lo, hi) in enumerate([("female", 0, 5), ("male", 0, 5),
                                     ("female", 15, 50), ("male", 60, 200)]):
        add(id=f"agegen_{k}", type="case", method="match and between",
            db_column=f"pt1./gender;pt1./age", condition=f"{g};{lo},{hi}",
            calculation="pt1./age", category="demo")
    for k, v in enumerate(["yes", "no"]):
        add(id=f"preg_{k}", type="case", method="match", db_column="pregnant",
            condition=v, category="pregnancy")
        add(id=f"smk_{k}", type="case", method="match", db_column="smoke_ever",
            condition=v, category="smoking")
    for k, v in enumerate(["demo", "null_island"]):
        add(id=f"nat_{k}", type="case", method="match", db_column="nationality",
            condition=v, category="nationality")
    for k, v in enumerate(["refugee", "national"]):
        add(id=f"sta_{k}", type="case", method="match", db_column="pt1./status",
            condition=v, category="status")
    add(id="pip_1", type="case", method="not_null", db_column="pregnant")
    # value rules
    add(id="val_pid", type="case", method="value", db_column="pt./pid")
    add(id="val_sub", type="case", method="value", db_column="SubmissionDate",
        calculation="date")
    add(id="val_dev", type="visit", method="value", db_column="deviceid")
    # register calc rules
    regs = [
        ("consult./consultations", "consult./consultations"),
        ("consult./ncd_consultations", "consult./ncd_consultations"),
        ("consult./consultations,consult./ncd_consultations",
         "consult./consultations + consult./ncd_consultations"),
        ("surveillance./afp", "surveillance./afp"),
        ("consult./consultations,surveillance./afp",
         "consult./consultations - surveillance./afp"),
    ]
    for k, (cols, calc) in enumerate(regs):
        add(id=f"rcalc_{k}", type="register", method="calc", db_column=cols,
            calculation=calc, category="register")
    for k in range(12):
        lo = 10 + k * 2
        add(id=f"rband_{k}", type="register", method="between",
            db_column="consult./consultations", condition=f"{lo},{lo + 2}",
            calculation="consult./consultations", category="register_band")
    # alert-investigation rules
    for k, v in enumerate(["yes", "no", "unsure"]):
        add(id=f"ainv_{k}", type="alert", method="match",
            db_column="alert_labs./return_lab", condition=v, category="lab")
    # link rules
    add(id="ret_1", type="case", method="value", db_column="meta/instanceID",
        multiple_link="count", form="return_visit", category="links")
    add(id="ale_1", type="case", method="value", db_column="alert_labs./return_lab",
        multiple_link="last", form="alert_investigation", category="links")
    add(id="ale_2", type="case", method="value", db_column="meta/instanceID",
        multiple_link="count", form="alert_investigation", category="links")
    for r in rules:
        r.setdefault("name", r["id"])
    return rules


def links() -> list[dict]:
    return [
        dict(name="return_visit", type="case", to_form="demo_case",
             from_form="demo_case", from_column="pt./pid;icd_code",
             to_column="pt./pid;icd_code", method="match;match",
             order_by="pt./visit_date;date", uuid="meta/instanceID",
             to_condition="intro./visit:return"),
        dict(name="alert_investigation", type="case", to_form="demo_alert",
             from_form="demo_case", from_column="meta/instanceID",
             to_column="pt./alert_id", method="alert_match",
             order_by="SubmissionDate;date", uuid="meta/instanceID",
             to_condition=""),
    ]


def data_types() -> list[dict]:
    return [
        dict(name="Case", type="case", form="demo_case", db_column="intro./visit",
             condition="new", date="pt./visit_date", var="tot_1"),
        dict(name="Visit", type="visit", form="demo_case", db_column="",
             condition="", date="pt./visit_date", var="vis_1"),
        dict(name="Alert", type="alert", form="demo_alert", db_column="",
             condition="", date="SubmissionDate", var="alert_inv"),
        dict(name="Register", type="register", form="demo_register",
             db_column="", condition="", date="SubmissionDate", var="reg_1"),
    ]


# --- corpus ------------------------------------------------------------------

WORDS = [f"w{n:04d}" for n in range(3000)]


def corpus(seed: int, n_families: int, n_background: int, dim: int) -> list[dict]:
    """Documents with planted near-duplicate families plus embeddings.

    A family is one base text and 2-4 variants that each replace about 5%
    of its tokens; one variant in three is also an exact copy of another
    member.  Family members share a base embedding plus small noise;
    background documents are independent.  ``family`` is -1 outside
    families.
    """
    rng = _rng(seed, "corpus")
    docs: list[dict] = []

    def vec(base=None, noise=1.0):
        if base is None:
            return [rng.gauss(0.0, 1.0) for _ in range(dim)]
        return [b + rng.gauss(0.0, noise) for b in base]

    def fmt(v):
        return [round(x, 5) for x in v]

    for f in range(n_families):
        n_tok = rng.randrange(60, 120)
        base = [rng.choice(WORDS) for _ in range(n_tok)]
        base_vec = vec()
        members = [base]
        for _ in range(rng.randrange(2, 5)):
            v = list(base)
            for i in rng.sample(range(n_tok), max(1, n_tok // 20)):
                v[i] = rng.choice(WORDS)
            members.append(v)
        if rng.random() < 0.33:
            members.append(list(members[-1]))
        for toks in members:
            docs.append(dict(text=" ".join(toks), family=f,
                             embedding=fmt(vec(base_vec, 0.15))))
    for _ in range(n_background):
        toks = [rng.choice(WORDS) for _ in range(rng.randrange(60, 120))]
        docs.append(dict(text=" ".join(toks), family=-1, embedding=fmt(vec())))
    rng.shuffle(docs)
    for i, d in enumerate(docs):
        d["doc_id"] = i
    return docs


# --- corrections: stream envelopes re-submitting backlog records -------------------

def corrections(seed: int, cases: list[dict], devices: list[str], n: int) -> list[dict]:
    """Corrected re-submissions of ``n`` distinct earlier demo_case records
    plus ``n // 4`` new ones.  Half of the corrections move their visit
    date by 52 weeks, so their row changes ``epi_year`` partition."""
    rng = _rng(seed, "corrections")
    registered = set(devices)
    valid = [c for c in cases if c["deviceid"] in registered
             and c["SubmissionDate"] >= SUBMISSION_CUTOFF
             and c["pt1./age"] not in ("", "250")]
    out = []
    for c in rng.sample(valid, min(n, len(valid))):
        c = dict(c)
        c["icd_code"] = rng.choice(ICD_CODES)
        c["pt1./gender"] = rng.choice(["male", "female"])
        if rng.random() < 0.5:
            day = dt.date.fromisoformat(c["pt./visit_date"])
            shift = 364 if day < EPOCH + dt.timedelta(days=365) else -364
            c["pt./visit_date"] = (day + dt.timedelta(days=shift)).isoformat()
        out.append(c)
    for _ in range(n // 4):
        c = case_row(rng, devices, 5000)
        c["deviceid"] = rng.choice(devices)
        c["SubmissionDate"] = c["pt./visit_date"] + "T12:00:00"
        c["pt1./age"] = str(rng.randrange(0, 100))
        out.append(c)
    return out


def envelope_lines(records: list[dict]) -> str:
    """``{formId, data}`` JSON envelopes, one per line."""
    return "".join(json.dumps({"formId": "demo_case", "data": r}, sort_keys=True) + "\n"
                   for r in records)


# --- write everything ----------------------------------------------------------

def write_inputs(out: Path, seed: int, n_case: int, n_clinics: int = N_CLINICS,
                 n_corrections: int = 0, corpus_families: int = 0, corpus_background: int = 0,
                 dim: int = 16) -> dict:
    """Write the batch inputs under ``out`` and return their manifest."""
    out.mkdir(parents=True, exist_ok=True)
    locs = locations(seed, n_clinics)
    _write_csv(out / "locations.csv",
               ["id", "name", "parent_location", "level", "deviceid", "clinic_type"],
               [[r[k] for k in ("id", "name", "parent_location", "level",
                                "deviceid", "clinic_type")] for r in locs])
    devices = device_ids(locs)
    _write_csv(out / "devices.csv", ["deviceid"], [[d] for d in devices])
    if n_case:
        generated = forms(seed, n_case, devices)
        for name, rows in generated.items():
            header = {"demo_case": CASE_FIELDS, "demo_alert": ALERT_FIELDS,
                      "demo_register": REGISTER_FIELDS}[name]
            (out / name).mkdir(exist_ok=True)
            _write_csv(out / name / "part-0.csv", header,
                       [[r[h] for h in header] for r in rows])
        if n_corrections:
            (out / "envelopes").mkdir(exist_ok=True)
            recs = corrections(seed, generated["demo_case"], devices, n_corrections)
            (out / "envelopes" / "part-0.json").write_text(
                envelope_lines(recs), encoding="utf-8")
    _write_csv(out / "codes.csv", CODES_HEADER,
               [[r.get(h, "") for h in CODES_HEADER] for r in codes(seed)])
    _write_csv(out / "links.csv", LINKS_HEADER,
               [[r[h] for h in LINKS_HEADER] for r in links()])
    _write_csv(out / "data_types.csv", DATA_TYPES_HEADER,
               [[r[h] for h in DATA_TYPES_HEADER] for r in data_types()])
    if corpus_families or corpus_background:
        docs = corpus(seed, corpus_families, corpus_background, dim)
        with open(out / "corpus.jsonl", "w", encoding="utf-8") as fh:
            for d in docs:
                fh.write(json.dumps(d, sort_keys=True) + "\n")
    return {"devices": devices}


def digest(directory: Path) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for p in sorted(directory.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(directory)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]
