"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke test starts Spark and takes about three minutes.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args, cwd):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "kg_docs", "--seed", "1", "--seconds", "1",
                "--trace", "0"], tmp_path)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
    assert "package not found" in out.stderr


def test_smoke_every_workload_matches_its_oracle():
    out = _run(["--smoke"], ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] > 0
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_same_seed_same_input(tmp_path):
    sys.path.insert(0, HERE)
    from datagen import generate
    a = generate(str(tmp_path / "a"), 0.001, 7)
    b = generate(str(tmp_path / "b"), 0.001, 7)
    assert a == b
    for dirpath, _dirs, files in os.walk(tmp_path / "a"):
        for f in files:
            p = os.path.join(dirpath, f)
            q = p.replace(str(tmp_path / "a"), str(tmp_path / "b"))
            with open(p, "rb") as x, open(q, "rb") as y:
                assert x.read() == y.read(), p
