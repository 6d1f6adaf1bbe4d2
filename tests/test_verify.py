"""Orphan-rescue verification (operators.verify.rescue_verify_pairs): one
crafted pair per decision, with the verdicts written out literally."""

import pandas as pd
import pytest

from dedup_spark.operators.verify import rescue_verify_pairs

FAR = -1  # 64 bits away from 0


def _sig(iid, sha, shingles, simhash, phash):
    return {"image_id": iid, "sha256": sha, "n_shingles": len(shingles),
            "shingles": shingles, "simhash": simhash, "phash": phash}


@pytest.fixture(scope="module")
def rescue_inputs(spark):
    ten = list(range(1, 11))
    rows = [
        # exact: same digest, nothing else close
        _sig("e1", "x", [], 0, 0), _sig("e2", "x", [], FAR, FAR),
        # simhash: captioned, 3 bits apart, disjoint shingles
        _sig("s1", "s1", [1, 2], 0, 0), _sig("s2", "s2", [3, 4], 0b111, FAR),
        # phash: uncaptioned, 4 bits apart
        _sig("p1", "p1", [], 0, 0), _sig("p2", "p2", [], FAR, 0b1111),
        # Jaccard pass: 9/11 = 0.82, simhash 12 bits apart (inside the slack)
        _sig("j1", "j1", ten, 0, 0),
        _sig("j2", "j2", ten[:9] + [11], (1 << 12) - 1, FAR),
        # Jaccard fail: 4/6 = 0.67, simhash 12 bits apart
        _sig("f1", "f1", [1, 2, 3, 4, 5], 0, 0),
        _sig("f2", "f2", [1, 2, 3, 4, 6], (1 << 12) - 1, FAR),
        # slack-gated: identical shingles, but simhash 30 bits apart
        _sig("g1", "g1", [1, 2, 3, 4, 5], 0, 0),
        _sig("g2", "g2", [1, 2, 3, 4, 5], (1 << 30) - 1, FAR),
    ]
    sigs = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, sha256 string, n_shingles int, shingles array<long>, "
        "simhash long, phash long",
    )
    pairs = spark.createDataFrame(
        [(f"{c}1", f"{c}2") for c in "espjfg"], "a string, b string"
    )
    return pairs, sigs


def _verdicts(df):
    return {(r.a, r.b): r.verified for r in df.select("a", "b", "verified").collect()}


def test_rescue_verify_pairs_decisions(rescue_inputs):
    pairs, sigs = rescue_inputs
    assert _verdicts(rescue_verify_pairs(pairs, sigs, use_phash=True)) == {
        ("e1", "e2"): True,
        ("s1", "s2"): True,
        ("p1", "p2"): True,
        ("j1", "j2"): True,
        ("f1", "f2"): False,
        # ("g1", "g2") is rejected by the slack gate and not reported
    }


def test_rescue_verify_pairs_without_phash(rescue_inputs):
    pairs, sigs = rescue_inputs
    # the pHash-only pair is neither a cheap pass nor Jaccard-plausible
    # (uncaptioned), so it drops out entirely
    assert _verdicts(rescue_verify_pairs(pairs, sigs, use_phash=False)) == {
        ("e1", "e2"): True,
        ("s1", "s2"): True,
        ("j1", "j2"): True,
        ("f1", "f2"): False,
    }
