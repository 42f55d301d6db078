"""Self-tests of the benchmark: inputs, metric catalog, percentiles, query lists."""

from __future__ import annotations

import hashlib
import json
import importlib.util
import os
import re

import pytest
from conftest import ROOT

import dumpgen
import layers
import workloads
from wikipedia_org_xmldump_importer_spark.io import TABLES

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_dump_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a = dumpgen.generate_dump(str(tmp_path / "a"), seed=5, total_mb=0.2, n_files=2)
    b = dumpgen.generate_dump(str(tmp_path / "b"), seed=5, total_mb=0.2, n_files=2)
    c = dumpgen.generate_dump(str(tmp_path / "c"), seed=6, total_mb=0.2, n_files=2)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_dump_tally_matches_the_xml(tmp_path):
    tally = dumpgen.generate_dump(str(tmp_path), seed=3, total_mb=0.3, n_files=3)
    text = "".join(
        open(os.path.join(tmp_path, f)).read() for f in sorted(os.listdir(tmp_path))
    )
    assert text.count("<page>") == tally["pages"]
    assert text.count("<revision>") == tally["revisions"]
    assert text.count("<redirect ") == tally["redirects"]
    assert tally["bytes"] == len(text.encode())
    titles = set(re.findall(r"<title>(.*?)</title>", text))
    # every redirect and wikilink names a page of the dump
    assert set(re.findall(r'<redirect title="(.*?)"', text)) <= titles
    assert set(re.findall(r"\[\[([^\]|#]+)", text)) <= titles


def test_query_lake_is_the_pinned_fixture_set():
    sums = {}
    with open(os.path.join(workloads.FIXTURE_DIR, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            sums[name] = digest
    assert set(sums) == {f"{t}.parquet" for t in TABLES}
    for name, digest in sums.items():
        with open(os.path.join(workloads.FIXTURE_DIR, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_query_lake_matches_the_repo_fixture_set_where_present():
    spec = importlib.util.spec_from_file_location(
        "repo_tests_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    repo_conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(repo_conftest)
    SF_CORRECT = repo_conftest.SF_CORRECT
    if not os.path.isdir(SF_CORRECT):
        pytest.skip("the repo's sf0.01 fixture set is not on this host")
    for t in TABLES:
        with open(os.path.join(SF_CORRECT, f"{t}.parquet"), "rb") as a, open(
            os.path.join(workloads.FIXTURE_DIR, f"{t}.parquet"), "rb"
        ) as b:
            assert a.read() == b.read(), t


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed_and_declared():
    spec = _declared()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == layers.END_TO_END_UNITS
    assert per_layer == layers.PER_LAYER_UNITS
    for name in [*e2e, *per_layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_has_ten_samples_beyond(n, expected):
    assert layers.tail_percentile(n) == expected


def test_percentile_interpolates():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert layers.percentile(xs, 50) == 3.0
    assert layers.percentile(xs, 90) == pytest.approx(4.6)
    assert layers.percentile([7.0], 90) == 7.0


def test_geomean_of_medians_weighs_each_operation_alike():
    by_op = {"short": [0.3, 0.1, 0.2], "long": [4.0, 8.0, 9.0], "failed": []}
    assert layers.geomean_of_medians(by_op) == pytest.approx((0.2 * 8.0) ** 0.5)
    assert layers.geomean_of_medians({"import": [3.0, 1.0, 2.0, 9.0]}) == 2.5
    assert layers.geomean_of_medians({}) == 0.0


def test_every_workload_query_is_registered_with_a_check():
    from wikipedia_org_xmldump_importer_spark import registry

    registry._ensure_loaded()
    names = workloads.SHORT_QUERIES + workloads.ITERATIVE_QUERIES
    assert len(set(names)) == len(names)
    for name in names:
        assert name in registry.REGISTRY, name
        assert registry.REGISTRY[name].oracle is not None or name == "sample_frac", name


def test_compare_refuses_records_from_different_cores_or_heaps(tmp_path):
    import compare

    def record(name, cpus, p50, heap="8g"):
        path = tmp_path / f"{name}.json"
        stamp = {"workload": "query_mix", "nproc": cpus, "spark_graft_cpus": cpus,
                 "driver_memory": heap}
        path.write_text(json.dumps({"stamp": stamp, "end_to_end": {"op_p50_geomean_s": p50}}))
        return str(path)

    same = [record("a", 4, 1.0), record("b", 4, 0.9)]
    assert compare.main(["--base", same[0], "--new", same[1]]) == 0
    other = record("c", 32, 0.5)
    assert compare.main(["--base", same[0], "--new", other]) == 3
    smaller_heap = record("d", 4, 0.9, heap="2g")
    assert compare.main(["--base", same[0], "--new", smaller_heap]) == 3
