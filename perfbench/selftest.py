"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # or: python3 -m pytest perfbench/selftest.py

``test_corrupted_result_is_counted`` needs no Spark: it drives the real
``Runner`` and the real result checks with a result that is wrong on
purpose.  ``test_every_metric_is_emitted`` runs each workload of
``BENCHMARK.json`` once untraced and once traced, one round each at
sf0.001, and checks the printed result line against the metric names
and units that ``BENCHMARK.json`` declares, and that a traced run charges
no set-up job to its first op (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
from check import Oracle  # noqa: E402
from probes import Tracer  # noqa: E402
from workloads import Op, OltpDocgraph, _registry  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class _StubWorkload:
    """Two ops per round: one correct answer, one corrupted copy of it."""

    def __init__(self, oracle: Oracle, name: str) -> None:
        self.oracle, self.name = oracle, name

    def counters(self) -> dict[str, float]:
        return {}

    def round(self, r: int):
        good = self.oracle.con.execute(self.oracle.sql[self.name]).df()
        bad = good.iloc[:-1]  # one row lost
        yield Op(self.name, "query", lambda: good, lambda pdf: self.oracle.mismatch(self.name, pdf))
        yield Op(self.name, "query", lambda: bad, lambda pdf: self.oracle.mismatch(self.name, pdf))


def test_corrupted_result_is_counted() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        datagen.write(tmp, 0.001, 1)
        _, oracles = _registry()
        oracle = Oracle(tmp, oracles)
        try:
            runner = run.Runner(None, _StubWorkload(oracle, "populate_enrich"), Tracer(None, False), None, [])
            ops = runner.round(0)
        finally:
            oracle.close()
    assert [o["ok"] for o in ops] == [True, False], ops
    assert ops[1]["error"].startswith("rows "), ops[1]["error"]
    assert run.workload_metrics(ops, ops, 0.0, [0.0], [0.0])["fail_ratio"]["value"] == 0.5

    # the adjacency check of the document-graph reads
    check = OltpDocgraph._rel_ids({1, 2, 3})

    class Rel:
        def __init__(self, i: int) -> None:
            self.id = i

    assert check([Rel(1), Rel(2), Rel(3)]) is None
    assert check([Rel(1), Rel(2)]) is not None


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """The printed result line and the full record of one short run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:]
    last = out.stdout.rstrip("\n").splitlines()[-1]
    assert len(last) < 2000, len(last)
    with open(os.path.join(run.OUT_DIR, f"{workload}-seed1-trace{trace}.json")) as fh:
        return json.loads(last), json.load(fh)


def test_every_metric_is_emitted() -> None:
    spec = _spec()
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, record = _run(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            if trace:
                # set-up jobs are not charged to the first op (the document
                # graph's set-up runs none, the bulk set-up builds two stores)
                first, setup = record["ops"][0]["spark"]["jobs"], record["setup_spark"]["jobs"]
                assert first > 0 and (setup == 0 or first < setup), (w["name"], first, setup)


if __name__ == "__main__":
    test_corrupted_result_is_counted()
    print("ok test_corrupted_result_is_counted")
    test_every_metric_is_emitted()
    print("ok test_every_metric_is_emitted")
