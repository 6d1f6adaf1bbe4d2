"""The benchmark's own tests: the planted-truth layout, and a tiny-n smoke
run of every workload through the command line.

    python -m pytest perfbench/smoke.py -q

The file name keeps it out of a default ``pytest`` collection: each smoke
invocation starts Spark, so the whole file takes minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from dedup_spark.sources.gen_images import gen_local, scenario_of  # noqa: E402

from perfbench.truth import (  # noqa: E402
    IMAGE_FAMILIES,
    PlantedTruth,
    check_output,
    rid_of,
)

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_rid_of_inverts_the_generator_layout():
    ids = gen_local(200, 4242)["image_id"].tolist()
    assert [rid_of(i) for i in ids] == list(range(200))


def test_planted_pairs_follow_scenarios():
    ids = gen_local(200, 4242)["image_id"].tolist()
    truth = PlantedTruth(ids, IMAGE_FAMILIES)
    for fam, pairs in truth.pairs.items():
        for _, b in pairs:
            assert scenario_of(rid_of(b)) == fam
    # block 0 is even (dir scenarios), block 1 odd: 6 + 2 dir pairs once
    assert len(truth.pairs["S6"]) == 6 and len(truth.pairs["S8"]) == 2
    assert len(truth.pairs["S11"]) == 2 * 15 - 1
    assert len(truth.decoys) == 6 and len(truth.s9_ids) == 2


def test_check_scores_recall_decoys_and_s9():
    ids = gen_local(100, 4242)["image_id"].tolist()
    truth = PlantedTruth(ids, IMAGE_FAMILIES)
    everything = pd.DataFrame({"image_id": ids, "cluster_id": "one"})
    chk = check_output(truth, everything)
    assert chk["planted_recall"] == 1.0
    assert chk["decoy_merges"] == 3
    assert chk["s9_present"] == 1 and not chk["ok"]
    singletons = pd.DataFrame({"image_id": ids, "cluster_id": ids})
    chk = check_output(truth, singletons[~singletons.image_id.isin(truth.s9_ids)])
    assert chk["planted_recall"] == 0.0 and chk["decoy_merges"] == 0


def _run(work: Path, workload: str, trace: int) -> tuple[dict, dict]:
    """(last stdout line, result record) of one tiny-n invocation."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "0.1", "--trace", str(trace),
         "--n", "300", "--work", str(work)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    newest = max((work / "results").glob(f"{workload}-*-t{trace}-*.json"))
    return json.loads(proc.stdout.strip().splitlines()[-1]), json.loads(newest.read_text())


def _assert_verdict(out: dict, rec: dict) -> None:
    """The JSON verdict is the output check of the recorded jobs. At this
    size a single missed planted pair drops recall under the 0.99 gate, so
    the verdict itself is not asserted, only that it follows the check."""
    for job in rec["jobs"]:
        assert job["ok"] == (job["planted_recall"] >= 0.99 and job["s9_present"] == 0)
    failed = sum(not j["ok"] for j in rec["jobs"])
    assert out["attempted"] == len(rec["jobs"]) and out["failed"] == failed
    assert out["correct"] == (failed == 0 and rec["warmup_ok"])


@pytest.mark.parametrize("workload", ["images_full", "images_append", "captions_text"])
def test_smoke_every_workload(tmp_path, workload):
    untraced, rec = _run(tmp_path, workload, 0)
    _assert_verdict(untraced, rec)
    assert set(untraced["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    traced, rec = _run(tmp_path, workload, 1)
    _assert_verdict(traced, rec)
    assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    if workload == "captions_text":
        for name, m in traced["metrics"].items():
            if name.split(".")[0] in ("containment", "store", "rollup", "report"):
                assert m["value"] == 0, name
