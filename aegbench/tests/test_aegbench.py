"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest aegbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from aegbench import corpus, oracle, run  # noqa: E402
from aegbench.workloads import WORKLOADS, SnapshotMerge  # noqa: E402

SMALL_SNAPSHOT = corpus.SnapshotShape(keys=300)
SMALL_CHURN = corpus.ChurnShape(keys=300, batches=3)


def _tree_hash(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("write", [
    lambda d, seed: corpus.write_snapshot_corpus(d, seed, SMALL_SNAPSHOT),
    lambda d, seed: corpus.write_churn_corpus(d, seed, SMALL_CHURN),
    lambda d, seed: corpus.write_tables(d, seed, 0.002),
], ids=["snapshot", "churn", "tables"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, write):
    hashes = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / name
        d.mkdir()
        write(str(d), seed)
        hashes.append(_tree_hash(str(d)))
    assert hashes[0] == hashes[1]
    assert hashes[0] != hashes[2]


class _Ctx:
    def __init__(self, tmp):
        self.corpora = str(tmp)
        self.rundir = str(tmp)
        self.seed = 3


@pytest.fixture(scope="module")
def snapshot_lines(tmp_path_factory):
    wl = SnapshotMerge(_Ctx(tmp_path_factory.mktemp("corpora")))
    wl.shape = SMALL_SNAPSHOT
    wl.prepare()
    return wl.expected_lines()


def test_oracle_snapshot_exercises_every_merge_rule(snapshot_lines):
    rows = [json.loads(ln.split("\t", 1)[1]) for ln in snapshot_lines]
    kinds = {len(c) > 3 and c[3] for r in rows for v in r.values() for c in v["columns"]}
    assert {"d", "e", "c", False} <= kinds  # tombstone, TTL, counter, live
    deleted = [v for r in rows for v in r.values() if v["deletedAt"] != oracle.LONG_MIN]
    assert deleted, "no row tombstone survived into the snapshot"
    assert any(not v["columns"] for r in rows for v in r.values()), "no emptied row kept"


def test_verifier_rejects_each_planted_defect(snapshot_lines):
    good = oracle.digest(snapshot_lines)
    defects = oracle.plant_defects(snapshot_lines)
    assert len(defects) == 4
    for name, bad in defects.items():
        assert oracle.digest(bad) != good, name
        assert oracle.diff_lines(bad, snapshot_lines), name
    assert oracle.check_planted_defects(snapshot_lines) == []


def test_digest_ignores_line_order(snapshot_lines):
    assert oracle.digest(snapshot_lines) == oracle.digest(list(reversed(snapshot_lines)))


def test_every_printed_metric_is_declared_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert dict(run.END_TO_END) == declared_e2e
    assert dict(run.PER_LAYER) == declared_layer
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_metrics_of_layers_a_workload_does_not_run_are_never_measured():
    for wl in WORKLOADS.values():
        measured = {n: (1.5, u) for n, u in run.PER_LAYER if n.split(".")[0] in wl.layers}
        metrics = run.assemble(measured, run.PER_LAYER, wl.layers)
        for name, m in metrics.items():
            if name.split(".")[0] in wl.layers:
                assert m["value"] == 1.5, (wl.name, name)
            else:
                assert m["value"] == 0, (wl.name, name)
        stray = next(n for n, _ in run.PER_LAYER if n.split(".")[0] not in wl.layers)
        with pytest.raises(ValueError):
            run.assemble({**measured, stray: (1.0, "x")}, run.PER_LAYER, wl.layers)


def test_steadiness_flags_a_drifting_run():
    ok, _ = run.steadiness([2.0, 2.02, 1.98, 2.01], 0.2)
    assert ok
    ok, drift = run.steadiness([3.0, 2.9, 2.1, 2.0], 0.2)
    assert not ok and drift < 0
