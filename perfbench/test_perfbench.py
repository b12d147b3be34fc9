"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

* the same seed gives byte-identical inputs, another seed different ones;
* an sf0.001 smoke of each workload, untraced and traced, prints every
  metric BENCHMARK.json names, with valid names and units, and no error;
* without the program next to it the benchmark fails without a result.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# corpus_batch runs on request but is not in BENCHMARK.json (see README.md)
WORKLOADS = ("rag_read", "memory_write", "corpus_batch")


@pytest.fixture
def workdir():
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    d = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, "out"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _files(d):
    return sorted(os.path.relpath(os.path.join(b, f), d)
                  for b, _, fs in os.walk(d) for f in fs)


def _write_all(seed, d):
    gen.write_tables(seed, d, scale=0.01)
    gen.write_stream_source(seed, os.path.join(d, "stream"), scale=0.01)


def test_same_seed_gives_identical_inputs(workdir):
    a, b = os.path.join(workdir, "a"), os.path.join(workdir, "b")
    _write_all(5, a)
    _write_all(5, b)
    assert _files(a) == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors
    assert gen.describe_inputs(5) == gen.describe_inputs(5)


def test_other_seed_gives_other_inputs(workdir):
    a, b = os.path.join(workdir, "a"), os.path.join(workdir, "b")
    _write_all(5, a)
    _write_all(6, b)
    _, mismatch, _ = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert set(mismatch) == set(_files(a))
    assert gen.describe_inputs(5) != gen.describe_inputs(6)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workdir, workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.01", "--out", workdir],
        capture_output=True, text=True, timeout=600, cwd=cwd)


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric(workdir, workload, trace):
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    p = _run(workdir, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not [d for d in os.listdir(workdir) if d.startswith("scratch-")]


def test_fails_without_the_program(workdir):
    bare = os.path.join(workdir, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(os.path.join(bare, "perfbench", "out"), "rag_read", 0, cwd=bare)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
