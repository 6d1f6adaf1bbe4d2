"""Microbench of the public ``dedup_spark.functions`` kernels, in one process,
over rows of the workload's own input.

It reports time per item and, as operation counts, the items processed and
the bytes each kernel reads and writes at its interface (arguments in,
result out). Interface bytes are a lower bound of the memory traffic: the
temporaries inside a kernel are not counted.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from dedup_spark.config import DEFAULT_CONFIG
from dedup_spark.functions.hashing import popcount64
from dedup_spark.functions.minhash import minhash_batch, perm_params
from dedup_spark.functions.phash import phash_batch
from dedup_spark.functions.simhash import simhash_batch
from dedup_spark.functions.text import normalize_caption, shingle_hashes

SAMPLE_ROWS = 512
REPEATS = 5
MIB = float(1 << 20)


def _timed(fn, repeats: int = REPEATS) -> float:
    """Median seconds of ``repeats`` calls (the first call is a warm-up)."""
    fn()
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample_rows(input_path: str, rows: int = SAMPLE_ROWS) -> dict:
    """The first ``rows`` rows with a payload and a caption, in table order."""
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption"]
    t = pq.read_table(input_path, columns=cols).to_pandas()
    t = t[(t["bytes"].str.len() > 0) & (t["caption"] != "")]
    t = t.sort_values("image_id").head(rows)
    return {c: t[c].tolist() for c in cols}


def microbench(input_path: str) -> tuple[dict, dict]:
    """(per-layer ``kernel.*`` metrics, operation counts)."""
    s = sample_rows(input_path)
    n = len(s["image_id"])
    cfg = DEFAULT_CONFIG
    a, b = perm_params(cfg)
    norms = [normalize_caption(c) for c in s["caption"]]
    sh = [shingle_hashes(x, cfg.shingle_k) for x in norms]
    n_sh = sum(len(x) for x in sh)
    n_uniq = len(np.unique(np.concatenate(sh)))  # minhash hashes distinct values
    ph = phash_batch(s["fmt"], s["bytes"], s["w"], s["h"]).astype(np.uint64)
    ia, ib = np.triu_indices(n, k=1)
    xa, xb = ph[ia], ph[ib]
    pairs = len(ia)

    t_ph = _timed(lambda: phash_batch(s["fmt"], s["bytes"], s["w"], s["h"]))
    t_sh = _timed(lambda: [shingle_hashes(x, cfg.shingle_k) for x in norms])
    t_mh = _timed(lambda: minhash_batch(sh, a, b))
    t_sim = _timed(lambda: simhash_batch(sh))
    t_pop = _timed(lambda: popcount64(xa ^ xb))

    payload = sum(len(x) for x in s["bytes"])
    caption_bytes = sum(len(x.encode()) for x in norms)
    metrics = {
        "kernel.phash.us_per_item": t_ph / n * 1e6,
        "kernel.phash.mb_moved": (payload + 8 * n) / MIB,
        "kernel.minhash.us_per_item": t_mh / n * 1e6,
        "kernel.minhash.mb_moved": (8 * n_sh + 8 * cfg.minhash_perms * n) / MIB,
        "kernel.simhash.us_per_item": t_sim / n * 1e6,
        "kernel.simhash.mb_moved": (8 * n_sh + 8 * n) / MIB,
        "kernel.shingles.us_per_item": t_sh / n * 1e6,
        "kernel.shingles.mb_moved": (caption_bytes + 8 * n_sh) / MIB,
        "kernel.popcount.ns_per_pair": t_pop / pairs * 1e9,
        "kernel.popcount.mb_moved": (16 * pairs + 8 * pairs) / MIB,
    }
    ops = {
        "items": n,
        "shingles": n_sh,
        "minhash_mulmods": n_uniq * cfg.minhash_perms,
        "payload_bytes": payload,
        "popcount_pairs": pairs,
    }
    return metrics, ops
