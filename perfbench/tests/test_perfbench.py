"""The benchmark's own tests: metric catalog validity, agreement with
BENCHMARK.json, the layer → end-to-end mapping, and generator determinism.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_shape(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60 and isinstance(bench["run_seconds"], int)
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               and "\n" not in w["why"] for w in bench["workloads"])
    for p in bench["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/")
        assert ".." not in p.split("/")
        assert (ROOT / p).is_dir()
    assert all(not a.startswith("/") for a in bench["command"])
    assert len(json.dumps(bench)) <= 64 * 1024


def test_metric_names_and_units_are_valid(bench):
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names)), "a name is used twice"
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_setup_metric_has_the_largest_bound(bench):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    setup = e2e["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_benchmark_json_matches_catalog(bench):
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOAD_NAMES)
    assert bench["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in metrics.END_TO_END]
    assert bench["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better}
        for m in metrics.PER_LAYER]


def test_every_per_layer_metric_names_its_end_to_end_metric():
    e2e = {m.name for m in metrics.END_TO_END}
    for m in metrics.PER_LAYER:
        assert m.moves, f"{m.name} names no end-to-end metric"
        for metric, workload in m.moves:
            assert metric in e2e, (m.name, metric)
            assert workload in metrics.WORKLOAD_NAMES, (m.name, workload)


def test_metrics_not_produced_are_named_with_a_reason():
    catalog = {m.name for m in metrics.PER_LAYER}
    for name, why in metrics.NOT_PRODUCED.items():
        assert NAME.match(name) and name not in catalog and why, name


def test_every_workload_is_moved_by_some_layer():
    moved = {w for m in metrics.PER_LAYER for _, w in m.moves}
    assert moved == set(metrics.WORKLOAD_NAMES)


def _write(tmp: Path, seed: int) -> str:
    gen.write_inputs(tmp, seed, 300, n_clinics=40, n_corrections=20,
                     corpus_families=5, corpus_background=10, dim=4)
    return gen.digest(tmp)


def test_generator_is_deterministic_per_seed(tmp_path):
    assert _write(tmp_path / "a", 7) == _write(tmp_path / "b", 7)


def test_generator_differs_across_seeds(tmp_path):
    a, b = tmp_path / "a", tmp_path / "c"
    _write(a, 7)
    _write(b, 8)
    for name in ("demo_case/part-0.csv", "demo_alert/part-0.csv",
                 "demo_register/part-0.csv", "locations.csv", "corpus.jsonl",
                 "envelopes/part-0.json"):
        assert (a / name).read_bytes() != (b / name).read_bytes(), name


def test_generator_makes_the_promised_shapes(tmp_path):
    _write(tmp_path, 3)
    with open(tmp_path / "codes.csv", newline="") as fh:
        rules = list(csv.DictReader(fh))
    assert len(rules) > 150
    methods = {r["method"] for r in rules}
    assert {"match", "sub_match", "between", "calc", "value"} <= methods
    corrections = [json.loads(line)["data"]
                   for line in (tmp_path / "envelopes" / "part-0.json").open()]
    with open(tmp_path / "demo_case" / "part-0.csv", newline="") as fh:
        cases = {r["meta/instanceID"] for r in csv.DictReader(fh)}
    assert sum(c["meta/instanceID"] in cases for c in corrections) >= 15
