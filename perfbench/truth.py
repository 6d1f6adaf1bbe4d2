"""Planted truth of the generated images table, and the per-run output check.

``gen_images`` lays ids out in blocks of 100 (block = rid // 100, slot =
rid % 100) and plants its duplicate scenarios at fixed slots; see the
module docstring of ``dedup_spark.sources.gen_images`` and ``scenario_of``.
This module turns that layout into planted pairs per family, so recall can
be measured at any n without the O(n^2) single-process oracle.

Pairs are stars: every member of a planted group is paired with the group's
first member, so a split group counts the size of the part it lost.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import pandas as pd

from dedup_spark.sources.gen_images import scenario_of

# the golden recall gate of tests/test_golden_pipeline.py
MIN_RECALL = 0.99

# (family, source slot, member slots) inside one block
_BLOCK_GROUPS = (
    ("S2", 0, (50, 51)),
    ("S1", 1, (52,)),
    ("S3", 2, (53,)),
    ("S3b", 3, (54,)),
    ("S4", 4, (55,)),
    ("S4", 5, (56,)),
    ("S5", 6, (57,)),
    ("S12", 7, (58, 59)),
    ("S13", 9, (60,)),
)
# even blocks only: dirB mirrors dirA; dirD shares two members with dirC
_EVEN_BLOCK_GROUPS = tuple(("S6", 80 + j, (86 + j,)) for j in range(6)) + (
    ("S8", 92, (95,)),
    ("S8", 93, (96,)),
)
# S10 decoys: (decoy slot, source slot); each must NOT share the source's cluster
DECOYS = ((61, 10), (62, 11), (63, 12))
S9_SLOT = 64
S11_SLOTS = range(65, 80)

# families a text-only run can find: S3b differs only in pixels, S5 is found
# only by the containment stage, which the text path does not run
TEXT_FAMILIES = frozenset({"S1", "S2", "S3", "S4", "S6", "S8", "S11", "S12", "S13"})
IMAGE_FAMILIES = TEXT_FAMILIES | {"S3b", "S5"}

_IMG_RE = re.compile(r"/img_(\d{6})$")
_DIR_RE = re.compile(r"/blk(\d{4})/dir([ABCD])/(?:s(\d)/)?m(\d\d)$")
_DIR_BASE = {"A": 80, "B": 86, "C": 92, "D": 95}


def rid_of(image_id: str) -> int:
    """Generator row index of an image_id (inverse of the id layout)."""
    m = _IMG_RE.search(image_id)
    if m:
        return int(m.group(1))
    m = _DIR_RE.search(image_id)
    if not m:
        raise ValueError(f"image_id outside the generator layout: {image_id!r}")
    block, d, sub, member = m.groups()
    j = int(member) + (3 * int(sub) if sub is not None else 0)
    return int(block) * 100 + _DIR_BASE[d] + j


class PlantedTruth:
    """Planted pairs and decoys for the rows of one input table."""

    def __init__(self, image_ids: list[str], families: frozenset[str]):
        self.rid_to_id = {}
        for iid in image_ids:
            rid = rid_of(iid)
            if rid in self.rid_to_id:
                raise ValueError(f"two image_ids map to row {rid}")
            self.rid_to_id[rid] = iid
        self.pairs: dict[str, list[tuple[str, str]]] = defaultdict(list)
        self.decoys: list[tuple[str, str]] = []
        self.s9_ids = [i for r, i in self.rid_to_id.items() if r % 100 == S9_SLOT]
        ids = self.rid_to_id
        n_blocks = (max(ids) // 100 + 1) if ids else 0
        s11 = sorted(r for r in ids if r % 100 in S11_SLOTS)
        for block in range(n_blocks):
            base = block * 100
            groups = _BLOCK_GROUPS + (_EVEN_BLOCK_GROUPS if block % 2 == 0 else ())
            for fam, src, members in groups:
                if fam not in families:
                    continue
                for m in members:
                    if base + src in ids and base + m in ids:
                        self.pairs[fam].append((ids[base + src], ids[base + m]))
            for decoy, src in DECOYS:
                if base + src in ids and base + decoy in ids:
                    self.decoys.append((ids[base + decoy], ids[base + src]))
        # S11 boilerplate captions share one 18-word prefix across ALL blocks,
        # so every S11 row of the table is one planted group
        if "S11" in families:
            self.pairs["S11"] = [(ids[s11[0]], ids[r]) for r in s11[1:]]
        for fam, plist in self.pairs.items():
            for a, b in plist[:1]:
                if scenario_of(rid_of(b)) != fam:
                    raise ValueError(f"layout drift: {b} is not {fam}")


def report_hash(df: pd.DataFrame) -> str:
    """Content hash of an output table, independent of row order."""
    cols = sorted(df.columns)
    rows = df[cols].astype(str).agg("\x1f".join, axis=1).sort_values()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_output(truth: PlantedTruth, out: pd.DataFrame) -> dict:
    """Score one run's (image_id, cluster_id) output against planted truth.

    Returns recall per family and overall, decoy merges, S9 rows present and
    the content hash. ``ok`` is False when recall is under the golden gate or
    an S9 (empty-payload) row leaked into the output."""
    cluster = dict(zip(out["image_id"], out["cluster_id"]))
    per_family = {}
    hits = total = 0
    for fam, plist in sorted(truth.pairs.items()):
        h = sum(
            1 for a, b in plist
            if a in cluster and cluster.get(a) == cluster.get(b)
        )
        per_family[fam] = round(h / len(plist), 6) if plist else 1.0
        hits += h
        total += len(plist)
    recall = hits / total if total else 1.0
    decoy_merges = sum(
        1 for d, s in truth.decoys
        if d in cluster and cluster.get(d) == cluster.get(s)
    )
    s9_present = sum(1 for i in truth.s9_ids if i in cluster)
    return {
        "planted_recall": recall,
        "planted_pairs": total,
        "recall_per_family": per_family,
        "decoy_merges": decoy_merges,
        "decoys": len(truth.decoys),
        "s9_present": s9_present,
        "report_hash": report_hash(out),
        "ok": recall >= MIN_RECALL and s9_present == 0,
    }
