"""The benchmark's own tests: every workload at smoke size, the traced
run, a corrupted expected row, and a checkout without the program.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test starts its own Spark session in a child process (about a
minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*extra, cwd=ROOT, workload="pipeline_incremental"):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "1", "--size", "smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(p):
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    r = _result(_run("--trace", "0", workload=workload))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_smoke_traced_reports_every_layer():
    r = _result(_run("--trace", "1"))
    assert r["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = r["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    for layer_s in ("pages.parse_s", "materialize.write_s",
                    "materialize.read_s", "local_extract.s", "extract.s",
                    "linking.s", "closure.s", "bgp.describe_s",
                    "pipeline.unaccounted_s"):
        assert got[layer_s]["value"] > 0, layer_s
    assert got["local_extract.quads_out"]["value"] > 0
    assert got["linking.links_out"]["value"] > 0
    assert got["ops.failed_share"]["value"] == 0
    spans = os.path.join(ROOT, ".bench_work",
                         "spans-pipeline_incremental.jsonl")
    with open(spans) as f:
        names = {json.loads(line)["name"] for line in f}
    assert {"pipeline", "pages", "materialize", "materialize.read",
            "local_extract", "extract", "linking", "closure",
            "bgp"} <= names


def test_corrupted_expected_row_counts_as_failed_op():
    r = _result(_run("--trace", "0", "--corrupt-expected"))
    assert not r["correct"]
    assert r["failed"] >= 1


def test_without_program_source_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout


def test_generator_is_seeded():
    import gen

    a, b = gen.corpus(5, 30, 2, 10), gen.corpus(5, 30, 2, 10)
    assert a["base"].equals(b["base"])
    assert all(x.equals(y) for x, y in zip(a["deltas"], b["deltas"]))
    c = gen.corpus(6, 30, 2, 10)
    assert not a["base"].equals(c["base"])
    ids = [set(t.column("doc_id").to_pylist())
           for t in [a["base"], *a["deltas"]]]
    assert sum(map(len, ids)) == len(set().union(*ids))  # disjoint slices
    assert gen.kbo_quads([3, 9]).num_rows == 2 * 16


def test_op_that_raised_leaves_its_metrics_out():
    import run
    from workloads import Op

    ops = [Op("build", 3.0, 10, True), Op("write", None, 0, False),
           Op("lookup", 2.0, 5, True)]
    m = run.e2e_metrics(40.0, ops, 900.0)
    assert set(m) == {"setup_s", "lookup_s_p50", "peak_rss_mb"}
    assert m["lookup_s_p50"] == (2.0, "s")
