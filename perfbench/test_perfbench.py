"""Self-test of the benchmark at tiny scale.

    python3 -m pytest perfbench -q      (from the repository root)

Runs every workload once untraced and once traced with tiny inputs, in this
process: the BENCHMARK.json ones and those run by hand (``resolve``,
``ingest``), so that the checks of all four keep running.  About ten
minutes: each run starts its own JVM and the operations' cost is mostly
fixed.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

TINY = {"build": {"N_TURNS": 200, "WARM_UP_TURNS": 20}, "resolve": {"N_TURNS": 600},
        "scan": {"N_TURNS": 400}, "ingest": {"PREBUILT_TURNS": 400, "FILE_TURNS": 100}}


def _run(workload: str, trace: int, monkeypatch) -> tuple[int, dict, dict]:
    for attr, value in TINY[workload].items():
        monkeypatch.setattr(workloads.WORKLOADS[workload], attr, value)
    monkeypatch.chdir(ROOT)
    # run.isolate points TMPDIR and tempfile at the run directory
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                "SPARK_SUBMIT_OPTS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", str(trace)])
    lines = buf.getvalue().strip().splitlines()
    return rc, json.loads(lines[-2])["details"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_end_to_end_metrics_emitted(workload, monkeypatch):
    rc, details, out = _run(workload, 0, monkeypatch)
    assert rc == 0, details["failures"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for name, v in out["metrics"].items():
        assert v["value"] > 0, name


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run(workload, monkeypatch):
    rc, details, out = _run(workload, 1, monkeypatch)
    assert rc == 0, details["failures"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    with open(os.path.join(ROOT, details["trace_file"])) as f:
        trace = json.load(f)
    spans = trace["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    covered = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    self_t = {s["id"]: s["end"] - s["start"] - covered[s["id"]] for s in spans}
    assert min(self_t.values()) >= -1e-6
    roots = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    assert sum(self_t.values()) <= roots + 1e-6
    assert sum(trace["layer_self_s"].values()) == pytest.approx(sum(self_t.values()))


def test_triple_check_rejects_corrupted_set():
    from graphene_spark import datagen, oracle

    dic = datagen.make_entity_dictionary(60, 4, seed=7)
    tx = datagen.make_transcripts(n_convs=20, turns_per_conv=20, n_entities=60, n_hot=4, seed=7)
    expected = workloads.triple_set(oracle.run_oracle(tx, dic).triples)
    assert workloads.triple_failures("t", set(expected), expected)[0] == []
    # re-attribute one triple in ten to a wrong subject
    bad = {(s + "x", p, o) if i % 10 == 0 else (s, p, o)
           for i, (s, p, o) in enumerate(sorted(expected))}
    fails, p, r = workloads.triple_failures("t", bad, expected)
    assert fails and p < workloads.MIN_PR and r < workloads.MIN_PR


def test_fails_without_the_package(tmp_path):
    """From a directory holding only BENCHMARK.json and the benchmark's own
    files, the command exits non-zero and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"],
                              "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
