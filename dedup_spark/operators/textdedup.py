"""Text-only dedup slice: the same engine over a (id, text) table —
captions without images (used for the driver's `documents` table and any
text corpus; SURVEY.md §3.4).

Reuses the exact signature/banding/skew/pair/verify/CC operators with the
image families disabled (a text row has no pixels; a constant phash would
otherwise Hamming-match everything).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig
from dedup_spark.functions.hashing import to_signed64
from dedup_spark.functions.minhash import band_keys, minhash_batch, perm_params
from dedup_spark.functions.simhash import simhash_batch
from dedup_spark.functions.text import normalize_caption, shingle_hashes
from dedup_spark.operators import cc, pairs as pairs_op, skew, winners
from dedup_spark.operators.signatures import SIG_SCHEMA


def text_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id, text) → SIG_SCHEMA rows (phash = 0, unused by the text families)."""
    a_params, b_params = perm_params(cfg)
    k, nb, nr = cfg.shingle_k, cfg.minhash_bands, cfg.minhash_rows

    src = df.select(
        F.col(id_col).cast("string").alias("image_id"),
        F.col(text_col).alias("caption"),
        F.sha2(F.encode(F.col(text_col), "utf-8"), 256).alias("sha256"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            norms = [normalize_caption(c) for c in pdf["caption"]]
            sh = [shingle_hashes(s, k, memo) for s in norms]
            sig = minhash_batch(sh, a_params, b_params)
            bands = to_signed64(band_keys(sig, nb, nr))
            sim = to_signed64(simhash_batch(sh))
            ids = pdf["image_id"].tolist()
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "sha256": pdf["sha256"].tolist(),
                    "caption_norm": norms,
                    "n_shingles": [len(x) for x in sh],
                    "shingles": [to_signed64(x).tolist() for x in sh],
                    "minhash_bands": [r.tolist() for r in bands],
                    "simhash": sim,
                    "phash": [0] * len(ids),
                    "depth": [0] * len(ids),
                }
            )

    from dedup_spark.session import py_parallelism

    return src.coalesce(py_parallelism(df.sparkSession)).mapInPandas(
        run, schema=SIG_SCHEMA
    )


def text_band_table(sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """minhash + simhash bands only (no phash family for text rows)."""
    from dedup_spark.operators.banding import _hamming_bands_df

    with_caption = sigs.where(F.col("n_shingles") > 0)
    mh = with_caption.select(
        "image_id", F.posexplode("minhash_bands").alias("band_idx", "band_key")
    ).select(
        "image_id", F.lit("minhash").alias("family"), "band_idx", "band_key",
        F.lit(None).cast("long").alias("hval"),
    )
    sim = _hamming_bands_df(
        with_caption, "simhash", "simhash", cfg.simhash_bands, cfg.simhash_band_bits
    )
    return mh.unionByName(sim)


def text_verify(
    pairs: DataFrame, sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Jaccard + simhash + exact checks only (phash disabled)."""
    from dedup_spark.operators.verify import verify_pairs

    v = verify_pairs(pairs, sigs, cfg)
    return v.withColumn(
        "verified", F.col("f_exact") | F.col("f_minhash") | F.col("f_simhash")
    )


def text_dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id, text) → (image_id, cluster_id, depth, is_winner, cluster_size).

    The signature stage (the only Python/Arrow stage) is localCheckpoint'd:
    it is consumed 4× downstream (banding, both verify join sides, the CC
    singleton anti-join) and mapInPandas cannot column-prune, so without the
    barrier every action would re-run the UDF over the full input. In the
    checkpointed full pipeline (plans.pipeline) the StageStore plays this
    role; here it's in-session. At cluster scale swap localCheckpoint for a
    reliable checkpoint dir or a stage table.
    """
    from dedup_spark.operators.hamming import hamming_family_pairs
    from dedup_spark.operators.verify import rescue_verify_pairs

    sigs = text_signatures(df, id_col, text_col, cfg).localCheckpoint()
    bands = text_band_table(sigs, cfg)
    salted, _ = skew.salted_bands(bands, cfg)
    # consumed by the hamming verifier, star pass and orphan rescue
    salted = salted.localCheckpoint()
    # the text band table has no phash rows: only simhash verifies here
    ham = hamming_family_pairs(salted, cfg).localCheckpoint()
    mh_salted = salted.where(F.col("family") == "minhash")
    cand = pairs_op.candidate_pairs(mh_salted)
    verified = text_verify(cand, sigs, cfg).localCheckpoint()
    judged = verified.select("a", "b", "verified").unionByName(
        ham.select("a", "b", F.lit(True).alias("verified"))
    )
    rescued = rescue_verify_pairs(
        pairs_op.orphan_rescue_pairs(mh_salted, judged, sigs.select("image_id")),
        sigs, cfg, use_phash=False,
    )
    edges = (
        verified.where("verified").select("a", "b")
        .unionByName(rescued.where("verified").select("a", "b"))
        .unionByName(ham.select("a", "b"))
    )
    clusters = cc.connected_components(edges, sigs.select("image_id"))
    return winners.select_winners(clusters)
