"""SimHash / perceptual-hash near-dup engine with Hamming-ball probing.

Per the north_rule, the perceptual side of dedup operates on a 64-bit
signature seeded from ``phash`` (the schema's perceptual hash of decoded
pixels). Two images are perceptual near-dups when
``bit_count(sig_a XOR sig_b) <= radius``.

Candidate generation uses the pigeonhole multi-block index
(functions/hashing.py:hamming_blocks): split 64 bits into radius+1 blocks;
any two keys within the radius agree exactly on ≥1 block, so an equi-join
on (blk, val) has perfect recall — no masked-variant explosion
(C(64, d) keys) and no O(n²) scan.

Scale notes: the block join shuffles (radius+1)·n rows of ~20 B; block
values are near-uniform for hash-like keys, so skew only arises from true
duplicate floods — the same collapse-first defense as the LSH engine
applies (collapse identical sigs before the join).

Reference parity: generalizes the digest-equality probe
(pkg/dupe/dupe.go:919-931) from Hamming distance 0 to distance ≤ d.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dupers_spark.functions import hashing as H


def collapse_sig_groups(df: DataFrame, id_col: str = "image_id",
                        sig_col: str = "phash") -> DataFrame:
    """→ grouped(rep_id, sig): one shuffle, primitive min agg (no object
    aggregation — most sigs are unique; see minhash_lsh.collapse_groups)."""
    return df.groupBy(F.col(sig_col).alias("sig")).agg(
        F.min(id_col).alias("rep_id")
    )


def collapse_exact_sig(df: DataFrame, id_col: str = "image_id",
                       sig_col: str = "phash") -> tuple[DataFrame, DataFrame]:
    """Identical 64-bit signatures collapse to one rep + star edges
    (member → rep via join-back on the sig key)."""
    grouped = collapse_sig_groups(df, id_col, sig_col)
    star = star_edges(df, grouped, id_col, sig_col)
    return grouped.select("rep_id", "sig"), star


def star_edges(df: DataFrame, grouped: DataFrame, id_col: str = "image_id",
               sig_col: str = "phash") -> DataFrame:
    """(member → rep) edges via join-back on the sig key; ``grouped`` is
    any (rep_id, sig) rep frame (minhash_lsh.star_edges analogue)."""
    return (
        df.select(F.col(id_col).alias("member"), F.col(sig_col).alias("sig"))
        .join(grouped, "sig")
        .filter(F.col("member") != F.col("rep_id"))
        .select(F.col("member").alias("a"), F.col("rep_id").alias("b"))
    )


def sig_blocks(reps: DataFrame, radius: int = 3) -> DataFrame:
    """(band=blk, key=val, rep_id, sig) pigeonhole block rows for a rep
    frame — the persistable block-index stage (plans/pipeline.py writes it
    as ``phash_blocks`` so append batches probe it instead of re-exploding
    the rep stage)."""
    return reps.select(
        "rep_id", F.col("sig"),
        F.explode(H.hamming_blocks(F.col("sig"), radius)).alias("b"),
    ).select(
        F.col("b.blk").alias("band"), F.col("b.val").alias("key"),
        "rep_id", "sig",
    )


def hamming_candidates(reps: DataFrame, radius: int = 3,
                       max_bucket: int = 500,
                       blocks: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """→ (candidate pairs (a, b), dropped(band, key, size)).

    Pigeonhole block values are only 64/(radius+1) bits wide (16 bits at
    radius 3), so at n ≫ 2^16 reps every (blk, val) bucket holds ~n/65536
    rows and a naive self-join is O(n²/2^16). The bounded-bucket expansion
    kernel (minhash_lsh.grouped_pair_expansion) runs in Hamming mode here:
    oversized buckets are hierarchically re-pigeonholed on the remaining
    48 sig bits (r+1 sub-blocks per level — any within-radius pair agrees
    exactly on ≥1, HmSearch-style), so recall stays perfect past the
    n ≈ max_bucket·2^16 saturation point where drop-mode would shed
    typical buckets. Identical-sig floods (callers that skip
    collapse_exact_sig) are star-connected to their min rep — all members
    are mutual distance-0 dups, so clusters stay whole — with the bucket
    accounted in ``dropped`` because pair ENUMERATION is non-exhaustive
    there; only depth-capped mixed groups lose pairs, always accounted.

    With refinement, max_bucket is a COST dial, not a recall dial: a
    bucket at the cap emits cap²/2 candidate pairs wholesale, while a
    bucket above it splits until members agree on more bits — so a lower
    cap trades duplicate emissions of true pairs (≤ r+1 paths per level)
    for far fewer false candidates in dense regions. 500 keeps worst-case
    emission ≤ n·250 rows while leaving typical (sparse) buckets on the
    one-shot triu path.
    """
    from dupers_spark.operators.minhash_lsh import grouped_pair_expansion

    if blocks is None:
        blocks = sig_blocks(reps, radius)
    return grouped_pair_expansion(blocks, max_bucket, radius=radius)


def verify_hamming(cands: DataFrame, reps: DataFrame, radius: int = 3) -> DataFrame:
    """(a, b, dist) with dist = bit_count(xor) ≤ radius — sig fetch is two
    hash joins, the distance itself one codegen expr."""
    sa = reps.select(F.col("rep_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = reps.select(F.col("rep_id").alias("b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(sa, "a").join(sb, "b")
        .withColumn("dist", H.hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("dist") <= radius)
        .select("a", "b", "dist")
    )


def incremental_hamming_edges(index_reps: DataFrame, new_images: DataFrame,
                              radius: int = 3, id_col: str = "image_id",
                              sig_col: str = "phash", max_bucket: int = 500,
                              index_blocks: DataFrame | None = None,
                              ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Perceptual near-dup edges for an append batch vs the persisted rep
    index → (edges, verified, dropped, reps_new).

    Same incremental shape as minhash_lsh.incremental_near_dup_edges: the
    batch's pigeonhole blocks broadcast-probe the index's block buckets
    (index never reshuffled), and the touched slice runs through the SAME
    Hamming-mode expansion kernel as the full build — combined-oversized
    buckets hierarchically re-pigeonhole on the remaining sig bits, so
    recall within the radius survives the saturated regime (corpus ≫
    max_bucket·2^16) exactly as in hamming_candidates. A new sig identical
    to an indexed one pairs with its old rep at distance 0 through the
    block join.

    Callers append ``reps_new`` to the rep stage to keep the index current.

    index_blocks: pass the PERSISTED block stage (band, key, rep_id, sig[,
    kb]) if one exists — the steady-state pipeline keeps ``phash_blocks``
    at rest (kb-partitioned) so each probe scans a skinny precomputed
    stage (pruned to the touched kb partitions) instead of re-exploding
    radius+1 block rows from the whole rep stage on every batch.
    """
    from dupers_spark.operators.minhash_lsh import incremental_bucket_pairs

    par = new_images.sparkSession.sparkContext.defaultParallelism * 2
    grouped = collapse_sig_groups(new_images, id_col, sig_col) \
        .repartition(par).localCheckpoint()
    reps_new = grouped.select("rep_id", "sig")
    star = star_edges(new_images, grouped, id_col, sig_col)

    if index_blocks is None:
        index_blocks = sig_blocks(index_reps, radius)
    # materialize=True: index scan + broadcast probe + kernel in ONE job;
    # pairs and dropped are views of the checkpointed kernel output
    pairs, dropped = incremental_bucket_pairs(
        index_blocks, sig_blocks(reps_new, radius), max_bucket, radius=radius,
        materialize=True)
    # sig fetch only for pair participants (broadcast semi), as in the
    # caption engine's incremental path
    pair_ids = pairs.select(F.col("a").alias("rep_id")).unionByName(
        pairs.select(F.col("b").alias("rep_id"))).distinct()
    all_reps = index_reps.select("rep_id", "sig").unionByName(reps_new)
    needed = all_reps.join(F.broadcast(pair_ids), "rep_id", "leftsemi")
    verified = verify_hamming(pairs, needed, radius)
    edges = star.unionByName(verified.select("a", "b"))
    return edges, verified, dropped, reps_new


def phash_near_dup_edges(images: DataFrame, radius: int = 3,
                         id_col: str = "image_id", sig_col: str = "phash",
                         max_bucket: int = 500,
                         ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full perceptual near-dup pipeline →
    (edges(a,b), verified(a,b,dist), dropped_buckets(band,key,size)).

    edges = star edges (identical sig) ∪ verified pairs within radius.
    """
    # eager: both join sides + star consume the collapse output, and AQE
    # runs query stages concurrently — a lazy persist would recompute the
    # collapse shuffle per branch (observed anti-scaling at 32 cores).
    # Repartition first: AQE coalesces the tiny collapse shuffle to a few
    # partitions and the block-explode map stage would inherit that cap
    # (same fix as minhash_lsh.near_dup_edges).
    par = images.sparkSession.sparkContext.defaultParallelism * 2
    grouped = collapse_sig_groups(images, id_col, sig_col).repartition(par).localCheckpoint()
    reps = grouped.select("rep_id", "sig")
    star = star_edges(images, grouped, id_col, sig_col)
    cands, dropped = hamming_candidates(reps, radius, max_bucket)
    verified = verify_hamming(cands, reps, radius)
    edges = star.unionByName(verified.select("a", "b"))
    return edges, verified, dropped
