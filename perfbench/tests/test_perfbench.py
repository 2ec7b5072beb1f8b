"""Tests for the benchmark itself (not part of the repository's tier-1 lane).

    python3 -m pytest perfbench/tests -q

The smoke tests run each workload at a tenth of its size in a subprocess,
untraced and traced, and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import analytics_data  # noqa: E402
from perfbench.common import mix_throughput, summarize, tail_percentile  # noqa: E402
from perfbench.spans import Recorder, Span, covered, self_times  # noqa: E402


def _digest(path: str) -> dict[str, bytes]:
    import pyarrow.parquet as pq

    return {
        name: pq.read_table(os.path.join(path, name)).to_pandas().to_csv().encode()
        for name in sorted(os.listdir(path))
    }


def test_tables_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    analytics_data.write_tables(a, seed=5, scale=0.05)
    analytics_data.write_tables(b, seed=5, scale=0.05)
    analytics_data.write_tables(c, seed=6, scale=0.05)
    assert _digest(a) == _digest(b)
    assert _digest(a)["lineitem.parquet"] != _digest(c)["lineitem.parquet"]


def test_chain_deterministic_per_seed():
    from perfbench import chain

    def rows(seed):
        blocks, txns = chain.make_chain(seed, 60_000, 40, 50)
        return blocks.to_pylist(), txns.to_pylist()

    first = rows(3)
    assert first == rows(3)
    assert first != rows(4)
    rewards = [t for t in first[1] if t["type"] == "rewards_v2"]
    assert [t["hash"] for t in rewards] == ["rew-60000", "rew-60030"]
    assert all(45 <= len(json.loads(t["fields"])["rewards"]) <= 54 for t in rewards)


def test_self_time_on_synthetic_tree():
    spans = [
        Span(1, "root", None, "t", 0.0, 10.0),
        Span(2, "a", 1, "t", 1.0, 4.0),
        Span(3, "b", 1, "t", 3.0, 6.0),  # overlaps a: covered once
        Span(4, "a.x", 2, "t", 1.5, 2.0),
        Span(5, "c", 1, "t", 9.0, 12.0),  # runs past its parent: clipped
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)


def test_covered_and_recorder_nesting():
    assert covered([(0, 1), (0.5, 2), (5, 6)], 0, 5.5) == pytest.approx(2.5)
    rec = Recorder()
    with rec.span("outer"):
        with rec.span("inner", k=1):
            pass
    inner, outer = rec.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.attrs == {"k": 1}


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(12) == 50.0
    s = summarize([float(i) for i in range(101)])
    assert (s["p50"], s["tail"], s["tail_pct"], s["n"]) == (50.0, 90.0, 90.0, 101)


def test_mix_throughput_uses_per_kind_medians():
    # a burst that slows one sample of a kind does not move the figure
    calm = [("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 3.0), ("b", 3.0), ("b", 3.0)]
    burst = calm[:2] + [("a", 9.0)] + calm[3:]
    assert mix_throughput(calm) == pytest.approx(2 / 4.0)
    assert mix_throughput(burst) == mix_throughput(calm)
    assert mix_throughput([]) == 0.0


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["backfill_dense", "tail_serve", "query_suite"])
def test_smoke_prints_every_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(workload, trace)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
