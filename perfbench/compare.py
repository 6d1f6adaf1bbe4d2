"""Compare two sets of benchmark result records, metric by metric.

    python3 perfbench/compare.py BASE_RESULTS_DIR CHANGE_RESULTS_DIR

Each directory holds the JSON records ``run.py`` writes under
``<work>/results/``. Every record carries a host stamp; the comparison is
refused (exit 2) when any identity field of the stamps differs, within or
across the two sets, because numbers from different hosts or software are
not comparable. Per workload and end-to-end metric it prints the median
and quartiles of the per-run values of each side, the change as a share of
the base median, and the verdict against the metric's bound in
BENCHMARK.json: ``worse`` beyond the bound, ``unresolved`` when the base's
own quartile spread exceeds the bound, else ``ok``. It also prints the share
of CPU time stolen by the hypervisor during each side's timed jobs.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.host import IDENTITY_KEYS  # noqa: E402


def load(d: Path) -> list[dict]:
    return [json.loads(p.read_text()) for p in sorted(d.glob("*.json"))]


def identity(rec: dict) -> dict:
    return {k: rec["stamp"].get(k) for k in IDENTITY_KEYS}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, change = (load(Path(a)) for a in argv)
    if not base or not change:
        print("no result records in one of the directories", file=sys.stderr)
        return 2
    ref = identity(base[0])
    for rec in base + change:
        if identity(rec) != ref:
            diff = {k: (ref[k], identity(rec)[k]) for k in ref if ref[k] != identity(rec)[k]}
            print(f"refusing to compare: host stamps differ {diff}", file=sys.stderr)
            return 2
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    workloads = sorted({r["workload"] for r in base + change if r["trace"] == 0})
    print(f"{'workload':14s} {'metric':16s} {'base median [q1,q3]':>34s} "
          f"{'change median [q1,q3]':>34s} {'change':>8s} verdict")
    worst = 0
    for wl in workloads:
        # CPU time the hypervisor gave to other guests; invocations with a
        # few percent of it run markedly slower, which widens the spread
        steal = [[r["cpu_steal_share"] for r in recs
                  if r["workload"] == wl and r["trace"] == 0] for recs in (base, change)]
        if all(steal):
            print(f"{wl:14s} cpu steal median/max: base "
                  f"{statistics.median(steal[0]):.1%}/{max(steal[0]):.1%}, change "
                  f"{statistics.median(steal[1]):.1%}/{max(steal[1]):.1%}")
        for name, m in bounds.items():
            sides = []
            for recs in (base, change):
                v = [statistics.median(r["values"][name]) for r in recs
                     if r["workload"] == wl and r["trace"] == 0]
                sides.append(v)
            if not all(sides):
                continue
            (b1, bm, b3), (c1, cm, c3) = quartiles(sides[0]), quartiles(sides[1])
            delta = (cm - bm) / bm if bm else 0.0
            worse = delta if m["better"] == "lower" else -delta
            if (b3 - b1) / bm > m["bound"]:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict, worst = "worse", 1
            else:
                verdict = "ok"
            print(f"{wl:14s} {name:16s} {bm:12.4f} [{b1:9.4f},{b3:9.4f}] "
                  f"{cm:12.4f} [{c1:9.4f},{c3:9.4f}] {delta:+8.2%} {verdict} "
                  f"(n={len(sides[0])}/{len(sides[1])}, bound {m['bound']:.0%})")
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
