"""dedup-spark benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload images_full --seed 4242 --seconds 15 --trace 0

Runs from the root of a source tree. Set-up starts a local Spark session on
``local[<nproc>]`` and runs the workload's warm-up jobs on its input; then
jobs run back to back (each starts after the previous one finished) until
their summed wall time reaches ``--seconds`` (at least one job). Every
job's output is checked against the planted truth of the generated table.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
tracing wrappers and Spark's event log and reports per-layer metrics
instead, with the kernel microbench. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it print every metric with its unit and sample count.

Everything the run writes stays under ``--work`` (default ``.perfbench/`` in
the source tree): the input cache, stage stores, Spark's local and temp
dirs, the event log and one result record per invocation.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFAULT_N = 5000
MAX_JOBS = 50

# name -> (unit, in the --trace 0 JSON). The JSON carries the metrics that
# are never 0; store_mb (0 on captions_text), decoy_merges (0 on small
# tables) and failed_ratio (the JSON's own failed/attempted) are printed only
END_TO_END = {
    "rows_per_s": ("1/s", True),
    "wall_s": ("s", True),
    "setup_s": ("s", True),
    "peak_rss_mb": ("MiB", True),
    "planted_recall": ("ratio", True),
    "store_mb": ("MiB", False),
    "decoy_merges": ("count", False),
    "failed_ratio": ("ratio", False),
}


def _parse(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=None,
                   help="input seed (default gen_images.BENCH_SEED)")
    p.add_argument("--seconds", type=float, default=15.0,
                   help="summed wall time of the timed jobs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--n", type=int, default=DEFAULT_N,
                   help="rows of the generated table, a multiple of 100")
    p.add_argument("--work", type=Path, default=ROOT / ".perfbench")
    a = p.parse_args(argv)
    if a.n <= 0 or a.n % 100:
        p.error("--n must be a positive multiple of 100 (whole generator blocks)")
    return a


def _isolate(work: Path) -> dict:
    """Point every temp and spill dir of Python, the JVM and Spark into
    ``work`` and let the Python workers import the engine from this tree."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def _event_log_conf(evdir: Path) -> dict:
    evdir.mkdir(parents=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir.as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _settle(spark) -> None:
    """Untimed, after each job: drop the blocks it cached or
    local-checkpointed and collect both heaps, so every job starts from the
    same state instead of on top of its predecessors' leftovers (Spark only
    frees unreferenced blocks after a JVM collection)."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    spark._jvm.System.gc()


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name][0]
    for suffix, unit in (
        ("_s", "s"), ("_mb", "MiB"), ("mb_written", "MiB"), ("mb_moved", "MiB"),
        ("us_per_item", "us"), ("ns_per_pair", "ns"), ("_skew", "ratio"),
        ("_ratio", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def _print_metric(name: str, values: list[float]) -> None:
    print(f"  {name:34s} {statistics.median(values):16.6f} {unit_of(name):6s} "
          f"n={len(values)} min={min(values):.6f} max={max(values):.6f}")


def _latest_result(results: Path, match: dict) -> dict | None:
    best = None
    for p in sorted(results.glob("*.json")):
        rec = json.loads(p.read_text())
        if all(rec.get(k) == v for k, v in match.items()):
            best = rec
    return best


class Bench:
    """One invocation: set-up, warm-up, the timed loop and the checks."""

    def __init__(self, args: argparse.Namespace, seed: int):
        self.args, self.seed = args, seed
        self.work = args.work.resolve()
        self.evdir = self.work / "eventlog"
        self.tracer = None
        self.post: list[dict] = []

    def run(self) -> tuple[dict, list[dict], dict]:
        from dedup_spark.session import get_spark

        from perfbench import host
        from perfbench.truth import PlantedTruth, check_output
        from perfbench.workloads import WORKLOADS

        args = self.args
        for d in ("stores", "spark-local", "eventlog"):
            shutil.rmtree(self.work / d, ignore_errors=True)
        conf = _isolate(self.work)
        if args.trace:
            conf |= _event_log_conf(self.evdir)
        info = {"loadavg_before": host.loadavg()}

        t0 = time.perf_counter()
        spark = get_spark(
            app=f"perfbench-{args.workload}", master=f"local[{os.cpu_count()}]",
            extra_conf=conf,
        )
        info["start_s"] = time.perf_counter() - t0
        try:
            info["stamp"] = host.host_stamp(spark, ROOT)
            wl = WORKLOADS[args.workload](spark, self.work, args.n, self.seed)
            self.wl = wl
            info["gen_s"] = wl.inputs()
            truth = PlantedTruth(wl.truth_ids, wl.families)
            info["prior_s"] = wl.prepare()
            if args.trace:
                from perfbench.trace import Tracer

                self.tracer = Tracer(spark).install()

            # warm-up: jobs on the same input bring the JIT, the Python
            # workers and the plan caches to steady state; checked like any job
            warm = []
            for i in range(wl.warmups):
                wall, handle = self._job(wl, f"warmup{i}")
                warm.append({"wall_s": wall, **check_output(truth, wl.output(handle))})
                wl.cleanup(handle)
                _settle(spark)
            info["warmup_jobs_s"] = [w["wall_s"] for w in warm]
            info["warmup_s"] = sum(info["warmup_jobs_s"])
            info["report_hashes"] = [w["report_hash"] for w in warm]
            info["warmup_ok"] = all(w["ok"] for w in warm)

            jobs: list[dict] = []
            steal0, total0 = host.cpu_jiffies()
            with host.RssSampler() as rss:
                while len(jobs) < MAX_JOBS and (
                    not jobs or sum(j.get("wall_s", 0) for j in jobs) < args.seconds
                ):
                    jobs.append(self._timed_job(spark, wl, truth, rss, f"j{len(jobs)}"))
            steal1, total1 = host.cpu_jiffies()
            info["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
            if self.tracer:
                from perfbench.kernels import microbench

                info["kernel"] = microbench(wl.input)
        finally:
            _stop(spark)
        info["loadavg_after"] = host.loadavg()
        return info, jobs, self._fold() if self.tracer else {}

    def _job(self, wl, run_id: str) -> tuple[float, object]:
        tag = self.tracer.tag if self.tracer else (lambda *_: nullcontext())
        if self.tracer:
            self.tracer.begin(run_id)
        t = time.perf_counter()
        try:
            handle = wl.run(run_id, tag)
        finally:
            wall = time.perf_counter() - t
            if self.tracer:
                self.tracer.end()
        return wall, handle

    def _timed_job(self, spark, wl, truth, rss, run_id: str) -> dict:
        from perfbench.truth import check_output

        rss.reset()
        try:
            wall, handle = self._job(wl, run_id)
            peak = rss.peak_mb()
            out = wl.output(handle)
            job = {"run": run_id, "wall_s": wall, "peak_rss_mb": peak,
                   "store_mb": wl.store_mb(handle), "rows_out": len(out),
                   **check_output(truth, out)}
            if self.tracer:
                self.post.append(self._post_trace(spark, wl, run_id, handle, len(out)))
            wl.cleanup(handle)
            _settle(spark)
        except Exception:  # a job that raised counts in failed_ratio
            traceback.print_exc()
            job = {"run": run_id, "ok": False, "error": True}
        return job

    def _post_trace(self, spark, wl, run_id: str, handle, n_out: int) -> dict:
        """Untimed counts after a traced job: useful-work ratios and, on the
        text path, the rows of each checkpointed layer output."""
        from pyspark.sql import functions as F

        from dedup_spark.config import DEFAULT_CONFIG
        from dedup_spark.operators import skew

        out: dict = {"run": run_id, "rows": {}}
        if wl.name == "captions_text":
            outputs = self.tracer.outputs
            out["rows"] = {layer: df.count() for layer, df in outputs.items()}
            out["rows"]["cc"] = out["rows"]["winners"] = n_out
            salted = outputs["skew"]
            lost = skew.skew_report_from_salted(salted, DEFAULT_CONFIG).agg(
                F.sum("est_lost_pairs")
            ).first()[0]
            out["lost_pairs"] = int(lost or 0)
            out["skipped_groups"] = 0
            verified = outputs["verify"]
        else:
            census = spark.read.parquet(str(handle / "t_metrics")).where(
                F.col("partition_id") == -1
            )
            c = {r.stage: r.rows_out for r in census.collect()}
            out["lost_pairs"] = int(c["census_salting_lost_pairs"])
            out["skipped_groups"] = int(c["census_containment_skipped_groups"])
            verified = spark.read.parquet(str(handle / "t_verified"))
        cand, ver = verified.agg(
            F.count("*"), F.sum(F.col("verified").cast("long"))
        ).first()
        out["verified_ratio"] = (ver or 0) / cand if cand else 0.0
        return out

    def _fold(self) -> dict:
        """Per-layer values of every traced job, from spans and event log."""
        from perfbench.trace import fold_run, read_event_log

        tasks = read_event_log(self.evdir)
        values: dict[str, list[float]] = {}
        self.trace_diag = []
        for p in self.post:
            m, diag = fold_run(self.tracer, tasks, p["run"], os.cpu_count())
            for layer, rows in p["rows"].items():
                m[f"{layer}.rows_out"] = rows
            m["skew.lost_pairs"] = p["lost_pairs"]
            m["containment.skipped_groups"] = p["skipped_groups"]
            m["verify.verified_ratio"] = p["verified_ratio"]
            self.trace_diag.append(diag)
            for k, v in m.items():
                values.setdefault(k, []).append(v)
        shutil.rmtree(self.evdir, ignore_errors=True)
        return values


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(ROOT))
    args = _parse(argv)
    # the engine is imported first: a tree without it fails here, before
    # anything is printed
    from dedup_spark.sources.gen_images import BENCH_SEED

    seed = BENCH_SEED if args.seed is None else args.seed
    bench = Bench(args, seed)
    info, jobs, layer_values = bench.run()
    stamp = info["stamp"]

    done = [j for j in jobs if "wall_s" in j]
    if not done:
        raise RuntimeError("every timed job raised; no metric to report")
    results = bench.work / "results"
    results.mkdir(parents=True, exist_ok=True)
    key = {"workload": args.workload, "n": args.n, "seed": seed,
           "source_sha256": stamp["source_sha256"]}
    # the report must not change between jobs of one run, nor between runs
    # of the same workload, seed and sources
    hashes = set(info["report_hashes"]) | {j["report_hash"] for j in done}
    prev = _latest_result(results, key)
    if prev is not None:
        hashes.update(prev["report_hashes"])
    deterministic = len(hashes) == 1
    failed = sum(1 for j in jobs if not (j.get("ok") and deterministic))
    attempted = len(jobs)

    wall = [j["wall_s"] for j in done]
    values = {
        "rows_per_s": [len(bench.wl.truth_ids) / statistics.median(wall)],
        "wall_s": wall,
        "setup_s": [info["start_s"] + info["warmup_s"]],
        "peak_rss_mb": [j["peak_rss_mb"] for j in done],
        "planted_recall": [j["planted_recall"] for j in done],
        "store_mb": [j["store_mb"] for j in done],
        "decoy_merges": [j["decoy_merges"] for j in done],
        "failed_ratio": [failed / attempted],
    }
    first = done[0]
    print(f"# perfbench {args.workload} n={args.n} seed={seed} "
          f"trace={args.trace} attempted={attempted} failed={failed}")
    print(f"# host {json.dumps(stamp, sort_keys=True)}")
    print(f"# loadavg before={info['loadavg_before']} after={info['loadavg_after']}; "
          f"cpu steal during timed jobs {info['cpu_steal_share']:.2%}")
    print(f"# set-up: start_s={info['start_s']:.3f} warmup_s={info['warmup_s']:.3f}; "
          f"not in setup_s: gen_s={info['gen_s']:.3f} prior_s={info['prior_s']:.3f}")
    print("# steady state: warm-up jobs "
          + " ".join(f"{w:.3f}" for w in info["warmup_jobs_s"]) + " s, timed jobs "
          + " ".join(f"{w:.3f}" for w in wall) + " s")
    print(f"# output check: planted_pairs={first['planted_pairs']} "
          f"recall per family {first['recall_per_family']} "
          f"decoy_merges={first['decoy_merges']}/{first['decoys']} "
          f"s9_present={first['s9_present']} deterministic={deterministic}")

    record = {**key, "trace": args.trace, "seconds": args.seconds, "stamp": stamp,
              "jobs": jobs, "values": values, **{k: v for k, v in info.items() if k != "stamp"}}
    if args.trace:
        metrics = _report_layers(bench, info, layer_values, results, key, wall)
        record["layers"] = layer_values
    else:
        print("# end-to-end metrics: median, unit, sample count")
        metrics = {}
        for name, (unit, in_json) in END_TO_END.items():
            _print_metric(name, values[name])
            if in_json:
                metrics[name] = {"value": statistics.median(values[name]), "unit": unit}
    name = f"{args.workload}-n{args.n}-s{seed}-t{args.trace}-{time.time_ns()}.json"
    (results / name).write_text(json.dumps(record, default=str))
    correct = failed == 0 and info["warmup_ok"] and deterministic
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _report_layers(bench, info, layer_values, results, key, wall) -> dict:
    values = dict(layer_values)
    values["session.start_s"] = [info["start_s"]]
    values["session.warmup_s"] = [info["warmup_s"]]
    kernel, ops = info["kernel"]
    for k, v in kernel.items():
        values[k] = [v]
    diag = bench.trace_diag
    print(f"# kernel operation counts {json.dumps(ops)}")
    print("# span coverage (span union / run wall): "
          + " ".join(str(d["span_coverage"]) for d in diag)
          + "; untagged task_s: " + " ".join(str(d["untagged_task_s"]) for d in diag))
    untraced = _latest_result(results, {**key, "trace": 0})
    if untraced is None:
        print("# tracing overhead: no untraced run of this workload, seed and "
              "sources yet (run --trace 0 first)")
    else:
        over = statistics.median(wall) - statistics.median(untraced["values"]["wall_s"])
        print(f"# tracing overhead: traced wall_s - untraced wall_s = {over:.3f} s")
    print("# per-layer metrics: median over traced jobs, unit, sample count")
    for name in sorted(values):
        _print_metric(name, values[name])
    return {
        name: {"value": statistics.median(v), "unit": unit_of(name)}
        for name, v in sorted(values.items())
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
