"""In-memory dedup job with CONCURRENT branch materialization.

The three edge families — exact SHA-256, caption MinHash/LSH, perceptual
Hamming — are independent DAG branches, but each one internally pays serial
barriers (collapse checkpoint, signature checkpoint, pair-gen shuffle).
Materializing them one after another leaves task slots idle during every
barrier; that serial fraction is exactly what capped the measured N→4N
scaling efficiency at 0.42 in round 1 (Amdahl: barrier seconds don't shrink
with cores).

Fix: drive each branch from its own Python thread against the shared
SparkSession. Spark's scheduler interleaves the resulting jobs, so one
branch's shuffle barrier overlaps another branch's compute (py4j and the
DAG scheduler are thread-safe by design — this is the documented multi-job
submission pattern, not a workaround). The checkpointed product path does
the same: ``DedupPipeline.run`` submits each stage family (build + stage
writes) to one thread pool, and ``run_incremental`` its probe branches and
append writes; this module is the in-memory variant the headline bench
times.

Each branch still ends in an eager localCheckpoint: the edge frames are
consumed by connected components AND by metrics counts, and Spark 4's AQE
recomputes lazily-persisted frames consumed from concurrent stages.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, functions as F

from dupers_spark.operators import exact, minhash_lsh as ml, simhash as sh


def dedup_edges_concurrent(
    images: DataFrame,
    lsh_cfg: ml.LSHConfig | None = None,
    phash_radius: int = 3,
    recompute_phash: bool = False,
) -> DataFrame:
    """images(image_id, bytes, caption, phash) → union edge frame (a, b),
    the three families materialized concurrently.

    recompute_phash=True decodes payloads and rebuilds perceptual features
    (dupers normal mode); False trusts the stored phash column (-fast).
    """
    cfg = lsh_cfg or ml.LSHConfig()

    def exact_branch() -> DataFrame:
        sigs = exact.signatures(images)
        return exact.dup_edges(sigs).localCheckpoint()

    def lsh_branch() -> DataFrame:
        edges, _v, _d = ml.near_dup_edges(
            images.select("image_id", "caption"), cfg
        )
        return edges.localCheckpoint()

    def phash_branch() -> DataFrame:
        if recompute_phash:
            from dupers_spark.operators import multimodal as mm

            feats = (
                mm.image_features(images)
                .filter(F.col("decode_ok"))
                .select("image_id", "phash")
            )
        else:
            feats = images.select("image_id", "phash").filter(
                F.col("phash").isNotNull()
            )
        edges, _v, _d = sh.phash_near_dup_edges(feats, phash_radius)
        return edges.localCheckpoint()

    with ThreadPoolExecutor(3) as ex:
        futures = [ex.submit(b) for b in (exact_branch, lsh_branch, phash_branch)]
        frames = [f.result() for f in futures]

    edges = frames[0]
    for e in frames[1:]:
        edges = edges.unionByName(e)
    return edges
