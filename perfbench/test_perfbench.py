"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, root)] = f.read()
    return out


def test_generator_is_deterministic(tmp_path):
    a = gen.generate(gen.RW_SPEC, str(tmp_path / "a"), seed=5)
    b = gen.generate(gen.RW_SPEC, str(tmp_path / "b"), seed=5)
    c = gen.generate(gen.RW_SPEC, str(tmp_path / "c"), seed=6)
    assert _tree_bytes(a.root) == _tree_bytes(b.root)
    for k in a.ticks:
        assert np.array_equal(a.ticks[k], b.ticks[k])
    # another seed: other values, the same shape
    assert _tree_bytes(a.root) != _tree_bytes(c.root)
    assert sorted(a.files.values()) == sorted(c.files.values())
    assert abs(a.n_ticks - c.n_ticks) < 0.05 * a.n_ticks


def test_expected_ticks_agree_with_the_codec(tmp_path):
    from spark_bi5_datasource_spark.sources.bi5_codec import decode_bi5_file

    arc = gen.generate(gen.RW_SPEC, str(tmp_path / "a"), seed=3)
    t = arc.ticks
    checked = set()
    for path, status in arc.files.items():
        cols = decode_bi5_file(path, gen.DIGITS)
        if status in ("bad_lzma", "bad_path"):
            assert cols is None or len(cols["ts_us"]) == 0
            continue
        ticker, year, month0, day, hh = os.path.relpath(path, arc.root).split(os.sep)
        hour = datetime(int(year), int(month0) + 1, int(day), int(hh[:2]), tzinfo=timezone.utc)
        lo = int(hour.timestamp()) * 1_000_000
        m = arc.select([ticker], lo, lo + gen.HOUR_US)
        assert np.array_equal(cols["ts_us"], t["ts_us"][m])
        assert np.array_equal(cols["bid"], t["bid"][m] / 1e5)
        assert np.array_equal(cols["ask"], t["ask"][m] / 1e5)
        assert np.array_equal(cols["bid_volume"], t["bv"][m].astype(np.float64))
        assert np.array_equal(cols["ask_volume"], t["av"][m].astype(np.float64))
        checked.add(status)
    assert checked == {"ok", "truncated"}


def _names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", ["ticks_rw", "catalog_sf01"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == _names(kind)
    for name in result["metrics"]:
        assert name in proc.stdout.split("\n", 1)[1]  # the printed table too


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ticks_rw", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
