"""The benchmark's own tests: input determinism, the digest check, metric names,
the process walk used at teardown.

    python3 -m pytest perfbench/tests -q

None of these start Spark.
"""

from __future__ import annotations

import copy
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import corpus  # noqa: E402
import landing  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402
import sftables  # noqa: E402
from landing import SCATTER_LIMIT, LandingWorkload  # noqa: E402


def _tree_bytes(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_landing_generator_is_byte_identical_per_seed(tmp_path):
    a = corpus.write_landing(str(tmp_path / "a"), 5, 60)
    b = corpus.write_landing(str(tmp_path / "b"), 5, 60)
    c = corpus.write_landing(str(tmp_path / "c"), 6, 60)
    assert _tree_bytes(a.path) == _tree_bytes(b.path)
    assert a.sha256 == b.sha256 != c.sha256
    # drops by construction: 2% each at extract, 4% FAILED at build_silver
    assert (a.docs_in, a.docs_kept, a.queries) == (60, 57, 55)
    # a small corpus still holds one document of each kind that must be dropped
    small = corpus.write_landing(str(tmp_path / "small"), 5, 24)
    assert (small.docs_in, small.docs_kept, small.queries) == (24, 21, 20)


def test_every_seed_maps_to_a_recorded_digest(tmp_path):
    with open(landing.DIGESTS) as f:
        assert set(json.load(f)) == {str(i) for i in range(landing.CORPORA)}
    wl = LandingWorkload(landing.CORPORA + 3, str(tmp_path / "a"))
    assert wl.corpus == 3 and wl.expected_digest is not None
    assert wl.inputs.sha256 == corpus.write_landing(str(tmp_path / "b"), 3, landing.DOCS).sha256


def test_registry_tables_and_order_are_seeded(tmp_path):
    assert sftables.write_tables(str(tmp_path / "a"), 3, 0.001) == sftables.write_tables(
        str(tmp_path / "b"), 3, 0.001
    )
    assert sftables.write_tables(str(tmp_path / "c"), 4, 0.001) != sftables.write_tables(
        str(tmp_path / "a"), 3, 0.001
    )
    from presto_workload_analyzer_spark import driver_queries

    oracles = driver_queries.oracle_sql()
    assert all(name in oracles for name in registry.SAMPLE)
    # one sampled query per family of the registry
    assert len(registry.SAMPLE) == len(registry.FAMILIES)
    assert set(registry.FAMILIES) == {registry.family(n) for n in driver_queries.queries()}


def _report():
    return {
        "structure": {"metrics": {"n_queries": 55, "cpu_days": 0.123456789012}},
        "charts": [
            {"id": "queries_by_user", "title": "queries by user", "columns": ["label", "value"],
             "data": [["user_0", 30], ["user_1", 25.000000000001]], "palette": ["#000"]},
            {"id": "joins_sides", "title": "joins sides", "columns": ["x", "y"],
             "data": [[1.0, 2.0], [3.0, 4.0]]},
        ],
        "errors": {},
    }


def test_digest_ignores_row_order_and_float_noise_only():
    base = checks.digest_key(checks.report_digest(_report(), SCATTER_LIMIT))
    shuffled = _report()
    shuffled["charts"][1]["data"].reverse()
    shuffled["structure"]["metrics"]["cpu_days"] += 1e-15
    assert checks.digest_key(checks.report_digest(shuffled, SCATTER_LIMIT)) == base
    # a chart at the scatter cap is compared on row count and columns only
    capped = checks.report_digest(_report(), scatter_limit=2)
    assert capped["charts"][1]["data_md5"] is None


def test_tampered_report_fails_the_digest_check(tmp_path):
    wl = LandingWorkload(1, str(tmp_path))
    good = _report()
    good["structure"]["metrics"]["n_queries"] = wl.inputs.queries
    wl.expected_digest = checks.digest_key(checks.report_digest(good, SCATTER_LIMIT))
    assert wl._check(wl.inputs, wl.inputs.docs_kept, good) == []

    tampered = copy.deepcopy(good)
    tampered["charts"][0]["data"][0][1] = 31
    problems = wl._check(wl.inputs, wl.inputs.docs_kept, tampered)
    assert any("report digest" in p for p in problems)

    assert wl._check(wl.inputs, wl.inputs.docs_kept - 1, good)  # an unexpected drop
    errored = copy.deepcopy(good)
    errored["errors"] = {"joins_sides": "ValueError: boom"}
    assert any("chart errors" in p for p in wl._check(wl.inputs, wl.inputs.docs_kept, errored))

    wl.expected_digest = None  # no golden is a failure, not a pass
    assert any("no report digest recorded" in p for p in wl._check(wl.inputs, wl.inputs.docs_kept, good))


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_metrics()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_bare_directory_exits_nonzero(tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "registry", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""


def test_descendants_include_grandchildren():
    import signal
    import subprocess

    proc = subprocess.Popen(["bash", "-c", "sleep 30 & wait"])
    found: set[int] = set()
    try:
        deadline = time.monotonic() + 10
        while len(found) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
            found = run._descendants(os.getpid())
        assert proc.pid in found and len(found) >= 2
    finally:
        for pid in found | {proc.pid}:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        proc.wait()
        while any(map(run._alive, found)):
            time.sleep(0.05)
