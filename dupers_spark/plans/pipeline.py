"""End-to-end dedup pipeline with per-stage checkpoints, lineage + metrics.

Stages (each materialized as a parquet stage table under the warehouse dir;
Iceberg would swap in transparently since every write goes through
``_write_stage``):

  signatures   — exact sha256 + phash per image (zero-byte rows excluded)
  exact_edges  — byte-identical pair edges (star-collapsed)
  the near-dup index families — one row each in FAMILIES, from which
  run() builds and run_incremental() probes, appends and audits them all:
                 [token stage →] index → bucket index → edges
      captions   lsh_sigs → lsh_buckets → lsh_edges
      video      video_tokens → video_lsh_sigs → video_lsh_buckets →
                 video_lsh_edges          (audio_* likewise)
      perceptual phash_reps → phash_blocks → phash_edges
    token stage  — decoded media (media_id, token string); never re-decoded
    index stage  — rep per distinct key: caption/token string + MinHash
                 signature/bands, or distinct 64-bit sig (Hamming)
    bucket index — (band, key, rep_id[, sig], kb): the materialized
                 band/pigeonhole-block explode of the index, kb-partitioned
                 (kb = key & 63 → Iceberg identity-partition layout).
                 Append batches probe THIS stage — a skinny scan pruned to
                 the touched kb partitions — instead of paying an
                 O(|corpus|·bands) index re-explosion per batch
    edges        — verified bucket pairs + collapse stars
  components   — connected components over the union edge graph (the BASE
                 assignment, cb-partitioned). Appends never rewrite it:
  components_delta   — appended batch assignments (one append = one
                 O(batch) parquet append), and
  components_relabel — the FLATTENED relabel log (old_lbl → current
                 label, O(merged components) rows, atomically rewritten
                 per append). The effective assignment served to readers
                 is apply_relabel(base ∪ delta, log) — one broadcast map,
                 zero corpus shuffles — and maintain_warehouse folds
                 delta+log back into the base (round-6 verdict #1: the
                 per-append cb-partition overwrite degenerated to an
                 O(corpus) rewrite for any non-trickle batch).
  metrics      — one row per (stage, partition-ish unit): rows, seconds

Resumability (north_rule): each stage directory carries a marker file with
a config hash; rerunning with the same config skips completed stages —
mirroring dupers' incremental `up` semantics (dupe.go:941-966) at stage
granularity. run_incremental() extends that to APPEND batches: new rows
probe the persisted index stages and append to them, reclustering without
ever recomputing the corpus.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dupers_spark.operators import exact, minhash_lsh as ml, simhash as sh
from dupers_spark.operators.components import (
    apply_relabel,
    connected_components,
    incremental_components_delta,
    with_singletons,
)

# component-bucket partition FLOOR for the persisted assignment stage:
# cb = pmod(xxhash64(image_id), modulus) — image_id is immutable, so a row
# NEVER moves between partitions when its component label changes. 64 is
# the floor (right for bench/test corpora); derive_cb_partitions scales the
# modulus with the corpus at build/fold time (a fixed 64 at 10^12 rows is
# ~15G rows per partition — round-6 verdict #6), and the modulus a stage
# was written with rides in the cb column's field metadata (parquet
# round-trips it), so appends and folds always match the layout at rest.
# Legacy stages without metadata default to 64 — what they were built with.
CB_PARTITIONS = 64
_CB_CAP = 1 << 20
# resolution of the hash-of-pair PSNR invariant sample (psnr_sample is
# compared against pmod(xxhash64(a, b), _PSNR_SCALE) / _PSNR_SCALE)
_PSNR_SCALE = 1 << 20


def derive_cb_partitions(n_rows: int, target_rows: int = 2_000_000,
                         floor: int = CB_PARTITIONS) -> int:
    """Power-of-two cb modulus: ≈target_rows assignment rows per partition
    (64 below ~128M rows — identical to the historic constant)."""
    m = floor
    while m < _CB_CAP and n_rows > m * target_rows:
        m <<= 1
    return m


def cb_modulus(assign: DataFrame) -> int:
    """The cb modulus an assignment frame/stage carries (field metadata
    written by with_cb); 64 for legacy stages. Stamped on BOTH cb and the
    image_id DATA column — partition columns come back as bare
    directory-derived ints, so image_id is what survives a partitioned
    stage round-trip."""
    for c in ("cb", "image_id"):
        try:
            return int(assign.schema[c].metadata["cb_mod"])
        except (KeyError, TypeError):
            continue
    return CB_PARTITIONS


def spread_partitions(df: DataFrame, n_values: int, *cols: str) -> DataFrame:
    """Hash-repartition a partitioned-stage write by its partition
    column(s) into min(n_values, defaultParallelism) tasks. Every value
    still lands in exactly one task — one file per touched partition —
    and the files are written on every core: a bare repartition(col) lets
    AQE fold a small shuffle into ONE task that writes every partition's
    file back to back."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(max(1, min(n_values, par)), *cols)


def with_cb(df: DataFrame, mod: int = CB_PARTITIONS) -> DataFrame:
    meta = {"cb_mod": mod}
    cb = F.pmod(F.xxhash64("image_id"), F.lit(mod)).cast("int")
    return df.select(
        *[F.col(c).alias(c, metadata=meta) if c == "image_id" else F.col(c)
          for c in df.columns],
        cb.alias("cb", metadata=meta))


@dataclass(frozen=True)
class PipelineConfig:
    warehouse: str
    lsh: ml.LSHConfig = field(default_factory=ml.LSHConfig)
    phash_radius: int = 3
    use_phash: bool = True
    use_captions: bool = True
    # optional multimodal branches over SIBLING media corpora (FIXTURES.md
    # §A conventions): videos/audio tables of (media_id, bytes, …) passed
    # alongside the image table to run()/run_incremental(). Each decodes to
    # a token sequence (frame phashes / windowed audio fingerprints) and
    # runs the SAME persisted-index LSH machinery as captions — token,
    # signature and band-bucket stages, incremental probes and appends
    # included. One engine, every modality, one assignment table.
    use_video: bool = False
    use_audio: bool = False
    media_lsh: ml.LSHConfig = field(
        default_factory=lambda: ml.LSHConfig(shingle_k=2))
    video_every_n: int = 30     # frame sampling stride (video.py rationale)
    audio_win: int = 1024       # fingerprint window (audio.py rationale)
    audio_bands: int = 16
    # fast=True: trust the stored phash column (dupers -fast,
    # docs/README.md:179-194). fast=False: decode every payload and
    # recompute perceptual features (dupers normal mode, dupe.go:129-157),
    # plus a sampled decoded-pixel PSNR invariant stage.
    fast: bool = True
    psnr_sample: float = 0.05
    # resume-fingerprint strength over the bytes column:
    #   "fast" — xxhash64(length(bytes)): catches size-changing edits; a
    #            same-length byte edit that also preserves caption AND phash
    #            escapes it (phash normally derives from the pixels, so in
    #            practice only adversarial edits do).
    #   "full" — xxhash64(bytes): content-exact, reads every payload byte on
    #            every invocation including resumes. Opt in when the phash
    #            column is untrusted or absent.
    fingerprint: str = "fast"

    def __post_init__(self) -> None:
        # anything outside the two known modes would silently degrade to a
        # weaker-than-requested fingerprint (the run() check is literal)
        if self.fingerprint not in ("fast", "full"):
            raise ValueError(
                f"fingerprint must be 'fast' or 'full', got {self.fingerprint!r}")

    def config_hash(self) -> str:
        blob = json.dumps(
            {**asdict(self), "lsh": asdict(self.lsh)}, sort_keys=True
        ).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


def _video_tokens(cfg: PipelineConfig, videos: DataFrame) -> DataFrame:
    from dupers_spark.operators import video as vo

    return vo.video_token_table(videos, cfg.video_every_n)


def _audio_tokens(cfg: PipelineConfig, audio: DataFrame) -> DataFrame:
    from dupers_spark.operators import audio as ao

    return ao.audio_token_table(audio, cfg.audio_win, cfg.audio_bands)


@dataclass(frozen=True)
class IndexFamily:
    """One persisted-index family: its input frame → [token stage →]
    index stage → kb-partitioned bucket stage → edge stage. run() builds
    and run_incremental() probes, appends and audits every enabled row of
    FAMILIES the same way; stage and metric names all come from here.
    Operators are looked up through their module at call time (never
    bound here), so patched/traced operators are the ones that run."""
    flag: str           # the PipelineConfig switch enabling it
    frame: str          # input: "images" (signatures), "videos", "audio"
    source: Callable    # (cfg, input frame) → the (id, key) frame indexed
    tokens: str | None  # stage persisting the decoded source, if any
    index: str
    buckets: str
    edges: str
    id_col: str = "image_id"
    # the engine: the PipelineConfig LSHConfig field of a MinHash family
    # over (id, caption); None = Hamming over (id, phash) at phash_radius
    lsh: str | None = "lsh"

    @property
    def stem(self) -> str:
        """Metric-name stem: lsh, video_lsh, audio_lsh, phash."""
        return self.edges.removesuffix("_edges")

    @property
    def stages(self) -> tuple[str, ...]:
        return tuple(s for s in (self.tokens, self.index, self.buckets,
                                 self.edges) if s)

    def lsh_config(self, cfg: PipelineConfig) -> ml.LSHConfig | None:
        return getattr(cfg, self.lsh) if self.lsh else None

    def bucket_rows(self, cfg: PipelineConfig,
                    index: DataFrame) -> tuple[DataFrame, int]:
        """(band, key, rep_id[, sig]) bucket rows of index-stage rows, and
        how many each index row yields."""
        lshcfg = self.lsh_config(cfg)
        if lshcfg is None:
            return (sh.sig_blocks(index, cfg.phash_radius),
                    cfg.phash_radius + 1)
        return ml.band_buckets(index, lshcfg), lshcfg.bands


# Every near-dup index is persisted as a family of its own so
# run_incremental can probe and append to it without re-signaturing the
# corpus: caption MinHash over the signature frame (legacy unprefixed
# stage names), the media-token families on the SAME engine with
# media_lsh (the decode is the expensive part, so its tokens are a stage
# — resumes and appends never re-decode), and the perceptual Hamming
# family (its block stage carries sig for the Hamming-refinement kernel).
# Order = build / probe / edge-union order.
FAMILIES = (
    IndexFamily("use_captions", "images",
                lambda cfg, df: df.select("image_id", "caption"),
                None, "lsh_sigs", "lsh_buckets", "lsh_edges"),
    IndexFamily("use_video", "videos", _video_tokens, "video_tokens",
                "video_lsh_sigs", "video_lsh_buckets", "video_lsh_edges",
                "media_id", "media_lsh"),
    IndexFamily("use_audio", "audio", _audio_tokens, "audio_tokens",
                "audio_lsh_sigs", "audio_lsh_buckets", "audio_lsh_edges",
                "media_id", "media_lsh"),
    IndexFamily("use_phash", "images",
                lambda cfg, df: df.select("image_id", "phash").filter(
                    F.col("phash").isNotNull()),
                None, "phash_reps", "phash_blocks", "phash_edges",
                lsh=None),
)


def compact_stage(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """`dupers db` compaction (database.go:308-371) as a real maintenance
    operator: rewrite a parquet stage directory into ⌈total/target⌉
    right-sized files. Returns {files_before, files_after, rows}.

    On Iceberg this is rewrite_data_files; the parquet fallback stages the
    rewrite in a sibling dir and swaps via rename-aside (path → path.old,
    tmp → path, delete path.old), so the stage is either the old or the new
    complete directory at every instant except the two renames themselves —
    a crash fails safe to a rebuild, never to a half-written stage.
    """
    import glob
    import shutil

    # heal a crash inside a previous swap's rename window: if the stage dir
    # is missing but its .old backup exists, the backup is the only complete
    # copy — restore it before compacting (mirrors StageStore._heal)
    old0 = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old0):
        stale = path.rstrip("/") + ".compact"
        if os.path.exists(stale):
            shutil.rmtree(stale)
        os.rename(old0, path)

    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True) if os.path.isfile(f)]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    # a partitioned stage (kb=…/centroid_id=… dirs — the bucket indexes,
    # whose appends accrete ~1 file per touched partition per batch) must
    # come out of compaction STILL partitioned, or every probe loses its
    # partition pruning; detect the layout from the directory names
    part_cols = sorted({
        seg.split("=", 1)[0]
        for f in files
        for seg in os.path.relpath(f, path).split(os.sep)[:-1]
        if "=" in seg
    })
    tmp = path.rstrip("/") + ".compact"
    if part_cols:
        # one file per partition value: each partition's data is small by
        # construction (corpus / KB_PARTITIONS), so per-partition file
        # count — not global target size — is the right shape here
        n_dirs = len({os.path.dirname(os.path.relpath(f, path))
                      for f in files})
        spread_partitions(df, n_dirs, *part_cols).write.mode("overwrite") \
            .partitionBy(*part_cols).parquet(tmp)
    else:
        df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    # preserve non-parquet sidecars (stage markers) across the swap
    sidecars = {}
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isfile(p) and not name.endswith(".parquet") \
                and not name.startswith(("_SUCCESS", ".")):
            with open(p, "rb") as fh:
                sidecars[name] = fh.read()
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    for name, blob in sidecars.items():
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(blob)
    after = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True) if os.path.isfile(f)]
    return {"files_before": len(files), "files_after": len(after), "rows": rows}


def _stage_file_stats(path: str) -> tuple[int, int]:
    """(parquet file count, partition-dir count) for a parquet stage dir."""
    import glob

    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True) if os.path.isfile(f)]
    part_dirs = {os.path.dirname(os.path.relpath(f, path)) for f in files
                 if "=" in os.path.dirname(os.path.relpath(f, path))}
    return len(files), len(part_dirs)


_SA_COLUMNS = {"shard_id", "concat", "sa", "doc_ids", "offsets"}


def maintain_warehouse(spark: SparkSession, cfg,
                       file_factor: int = 8, sa_factor: int = 4,
                       target_shard_bytes: int = 256 << 20,
                       target_file_bytes: int = 128 * 1024 * 1024,
                       ) -> list[dict]:
    """The automated compaction policy — appends may accrete files without
    bound (every streaming batch adds ≈1 file per touched kb partition,
    ingest.py; every SA append adds shards), and until round 5 nothing
    triggered the existing compaction operators. This walks the warehouse
    and acts only where a threshold is crossed:

      * any parquet stage whose data-file count exceeds
        ``file_factor × max(1, partition-dir count)`` is rewritten in place
        by :func:`compact_stage` (partition layout preserved, rename-aside
        crash-safe swap);
      * a suffix-array stage (recognized by its schema) whose shard count
        exceeds ``sa_factor ×`` its volume-derived count is rebuilt from
        its own rows (:func:`~dupers_spark.operators.search.
        rebuild_suffix_index`) — sorted shards merge back to right-sized
        ones, queries answer identically (the fan-out/union contract).

    cfg: a PipelineConfig or a bare warehouse path. Mutual exclusion with
    appends is TWO-WAY and symmetric (set-own-sentinel, then check the
    other's — no interleaving lets both proceed): this function O_EXCL-
    creates ``_MAINT_PENDING`` for its whole window and backs off if
    ``_INC_PENDING`` exists; ``run_incremental`` creates ``_INC_PENDING``
    and backs off if ``_MAINT_PENDING`` exists. Without the maintenance
    sentinel, an append starting mid-compaction could write parquet files
    into a directory compact_stage is about to rename aside and delete —
    a silently lost batch. ``_MAINT_PENDING`` is released on normal exit
    AND on exception (compaction's rename-aside swap is crash-healable,
    so nothing is owed); only a hard kill leaves it behind, and then the
    next maintain/append refuses loudly until the operator removes it.
    Returns one record per stage: {stage, action: compacted|rebuilt_sa|ok,
    ...evidence}, so a scheduler (or the streaming hook) can log what was
    done and why.
    """
    from dupers_spark.operators import search
    from dupers_spark.sources.storage import StageStore

    warehouse = getattr(cfg, "warehouse", cfg)
    maint = os.path.join(warehouse, "_MAINT_PENDING")
    try:
        fd = os.open(maint, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ValueError(
            f"maintain_warehouse refused: {maint} exists (another "
            "maintenance run is in flight, or one was hard-killed — "
            "verify none is running, then delete the sentinel)") from None
    os.write(fd, b"warehouse maintenance in flight")
    os.close(fd)
    try:
        if os.path.exists(os.path.join(warehouse, "_INC_PENDING")):
            raise ValueError(
                "maintain_warehouse refused: incremental append in flight "
                "(_INC_PENDING present)")
        return _maintain_locked(spark, warehouse, file_factor, sa_factor,
                                target_shard_bytes, target_file_bytes,
                                StageStore, search)
    finally:
        if os.path.exists(maint):
            os.remove(maint)


def _maintain_locked(spark, warehouse, file_factor, sa_factor,
                     target_shard_bytes, target_file_bytes,
                     StageStore, search) -> list[dict]:
    from dupers_spark.operators.components import apply_relabel

    store = StageStore(spark, warehouse)
    records: list[dict] = []
    # fold the components delta/relabel stages back into the cb-partitioned
    # base FIRST (they accrete one parquet append + one log rewrite per
    # run_incremental batch): effective = apply_relabel(base ∪ delta, log),
    # written through the atomic rename-aside swap, then delta+log dropped.
    # This is the corpus-sized write the append path deliberately defers to
    # maintenance — paid once per policy window, not once per batch.
    has_delta = store.exists("components_delta")
    has_log = store.exists("components_relabel")
    if store.exists("components") and (has_delta or has_log):
        base = store.read("components")
        cols = ["image_id", "component_id", "cb"]
        eff = base.select(*cols)
        n_delta = 0
        if has_delta:
            delta = store.read("components_delta")
            n_delta = delta.count()
            eff = eff.unionByName(delta.select(*cols))
        n_relabel = 0
        if has_log:
            log = store.read("components_relabel")
            n_relabel = log.count()
            eff = apply_relabel(eff, log)
        eff = eff.select(*cols)
        # one-time cb-modulus migration: the fold is the corpus-sized write
        # anyway, so re-deriving the partition count from the grown corpus
        # here is free — a warehouse built at the 64 floor scales its
        # layout the first maintenance pass after it outgrows it
        cb_before = cb_modulus(base)
        cb_after = derive_cb_partitions(eff.count(), floor=CB_PARTITIONS)
        if cb_after != cb_before:
            eff = with_cb(eff.drop("cb"), cb_after)
        eff = spread_partitions(eff, cb_after, "cb")  # 1 file per cb
        # the stage marker (resume identity) lives inside the stage dir in
        # parquet mode — preserve it across the rewrite like compact_stage
        # preserves sidecars
        marker_path = os.path.join(warehouse, "components", "_CONFIG_HASH")
        marker = (open(marker_path).read()
                  if os.path.exists(marker_path) else None)
        store.write("components", eff, partition_by=["cb"])
        if marker is not None:
            with open(marker_path, "w") as fh:
                fh.write(marker)
        store.drop("components_delta")
        store.drop("components_relabel")
        records.append({"stage": "components", "action": "folded_delta",
                        "delta_rows": n_delta, "relabels": n_relabel,
                        "cb_mod_before": cb_before, "cb_mod_after": cb_after})
    for name in sorted(os.listdir(warehouse)):
        path = os.path.join(warehouse, name)
        if (not os.path.isdir(path) or name.startswith("_")
                or name.endswith((".old", ".staging", ".compact"))):
            continue
        n_files, n_parts = _stage_file_stats(path)
        if n_files == 0:
            continue
        cols = set(spark.read.parquet(path).columns)
        if _SA_COLUMNS <= cols:
            row = store.read(name).agg(
                F.count("*").alias("n"),
                F.sum(F.octet_length("concat")).alias("b")).collect()[0]
            derived = search.volume_shards(spark, int(row["b"] or 0),
                                           target_shard_bytes)
            if int(row["n"]) > sa_factor * derived:
                search.rebuild_suffix_index(store, name, target_shard_bytes)
                records.append({"stage": name, "action": "rebuilt_sa",
                                "shards_before": int(row["n"]),
                                "shards_derived": derived})
                continue
            records.append({"stage": name, "action": "ok",
                            "shards": int(row["n"]),
                            "shards_derived": derived})
            continue
        threshold = file_factor * max(1, n_parts)
        if n_files > threshold:
            res = compact_stage(spark, path,
                                target_file_bytes=target_file_bytes)
            records.append({"stage": name, "action": "compacted",
                            "files_before": res["files_before"],
                            "files_after": res["files_after"]})
        else:
            records.append({"stage": name, "action": "ok",
                            "files": n_files, "partitions": n_parts})
    return records


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        from dupers_spark.sources.storage import StageStore

        self.spark = spark
        self.cfg = cfg
        self.metrics: list[dict] = []
        self.lineage: list[dict] = []
        self._input_fp = ""  # set by run(); folded into stage markers
        # Iceberg when the runtime has it, parquet-dir fallback otherwise —
        # identical overwrite/partition semantics either way (storage.py)
        self.store = StageStore(spark, cfg.warehouse)

    # ------------------------------------------------------------ storage
    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.cfg.warehouse, name)

    def _marker(self, name: str) -> str:
        if self.store.use_iceberg:
            d = os.path.join(self.cfg.warehouse, "_markers")
            os.makedirs(d, exist_ok=True)
            return os.path.join(d, name)
        return os.path.join(self._stage_dir(name), "_CONFIG_HASH")

    def _marker_value(self) -> str:
        # config hash + input identity: resuming against a *different* input
        # table (rerun with more rows, new snapshot) must rebuild, not
        # silently reuse stale signatures/edges/components
        return f"{self.cfg.config_hash()}:{self._input_fp}"

    def _pending(self) -> str:
        """Sentinel marking an incremental append in flight. Present =
        either a run_incremental is racing us or a previous one crashed
        mid-append (stages partially appended, markers stale) — in both
        cases appends are NOT resumable and the warehouse needs a full
        rebuild to become consistent again."""
        return os.path.join(self.cfg.warehouse, "_INC_PENDING")

    def _is_done(self, name: str) -> bool:
        if getattr(self, "_force_rebuild", False):
            return False
        m = self._marker(name)
        return os.path.exists(m) and open(m).read().strip() == self._marker_value()

    def _write_stage(self, name: str, df: DataFrame,
                     partition_by: list[str] | None = None) -> DataFrame:
        t0 = time.time()
        # the row count rides on the write job itself: a read-back count()
        # would cost a file listing plus a scan job
        obs = Observation()
        self.store.write(name, df.observe(obs, F.count(F.lit(1)).alias("n")),
                         partition_by=partition_by)
        rows = int(obs.get["n"])
        out = self.store.read(name)
        elapsed = time.time() - t0
        self.metrics.append(
            {"stage": name, "rows": rows, "seconds": round(elapsed, 3)}
        )
        # lineage record: which config + input identity produced this stage
        # (north_rule: per-stage lineage tables; makes any stage auditable
        # and any resume decision explainable after the fact)
        self.lineage.append({
            "stage": name,
            "config_hash": self.cfg.config_hash(),
            "input_fp": self._input_fp,
            "rows": rows,
            "written_at": time.time(),
        })
        with open(self._marker(name), "w") as fh:
            fh.write(self._marker_value())
        return out

    def _effective_components(self, base: DataFrame | None = None,
                              ) -> DataFrame:
        """The served assignment: base ∪ delta with the relabel log applied
        — one broadcast map over the scan, zero corpus shuffles, and the
        corpus-sized base stage is never rewritten by appends. ``base``:
        the already-open ``components`` stage (read here when None)."""
        cols = ["image_id", "component_id", "cb"]
        if base is None:
            base = self.store.read("components")
        eff = base.select(*cols)
        if self.store.exists("components_delta"):
            eff = eff.unionByName(
                self.store.read("components_delta").select(*cols))
        if self.store.exists("components_relabel"):
            eff = apply_relabel(eff, self.store.read("components_relabel"))
        return eff

    def _stage(self, name: str, build,
               partition_by: list[str] | None = None) -> DataFrame:
        """Checkpoint-or-build: the resume primitive."""
        if self._is_done(name):
            self.metrics.append({"stage": name, "rows": -1, "seconds": 0.0,
                                 "resumed": True})
            return self.store.read(name)
        return self._write_stage(name, build(), partition_by=partition_by)

    def _bucket_frame(self, fam: IndexFamily, source: DataFrame,
                      index: DataFrame | None = None) -> DataFrame:
        """The ONE definition of the bucket-index layout — the full build
        and every per-batch append route here so they can never diverge:
        the family's band/block rows + kb partition column, hash-spread by
        kb over the cores (spread_partitions) so every write lands exactly
        1 file per touched kb partition, written in parallel (appends
        included; maintain_warehouse handles long-horizon file accretion).

        An append passes the already-open stage as ``index``: the kb
        modulus follows the stage at rest (batch rows must land in the
        partitions probes prune to). A fresh build derives it from the
        corpus size (derive_kb_partitions — 64 below ~128M bucket rows,
        scaling past that instead of the round-6 fixed constant)."""
        rows, per_row = fam.bucket_rows(self.cfg, source)
        kb_mod = (ml.kb_modulus(index) if index is not None else
                  ml.derive_kb_partitions(self._fp_rows() * per_row))
        return spread_partitions(ml.with_kb(rows, kb_mod), kb_mod, "kb")

    def _fp_rows(self) -> int:
        """Corpus row count from the input fingerprint (0 when unset)."""
        parts = self._input_fp.split(":")
        try:
            return int(parts[1] if parts[0] == "inc" else parts[0])
        except (ValueError, IndexError):
            return 0

    def _build_family(self, fam: IndexFamily, make_source) -> DataFrame:
        """One family's full build → its edge stage: [token stage →] index
        stage → bucket stage → star edges (members of an identical key →
        its rep) ∪ verified bucket pairs, with the dropped-bucket count
        recorded. ``make_source`` builds the family's (id, key) frame."""
        src = (self._stage(fam.tokens, make_source) if fam.tokens
               else make_source())
        lshcfg = fam.lsh_config(self.cfg)
        radius = self.cfg.phash_radius

        def build_index():
            if lshcfg is None:  # one rep per distinct 64-bit sig
                return sh.collapse_sig_groups(src, fam.id_col) \
                    .select("rep_id", "sig")
            # core-proportional repartition before the Arrow signature
            # kernel (AQE coalesces the tiny collapse shuffle and the
            # kernel would inherit ~4 tasks); eager checkpoint because
            # grouped feeds both the kernel and the token join-back
            par = src.sparkSession.sparkContext.defaultParallelism * 2
            grouped = ml.collapse_groups(src, fam.id_col).repartition(par) \
                .localCheckpoint()
            s = ml.signatures(grouped.select("rep_id", "caption"), lshcfg)
            return s.join(grouped, "rep_id")  # + caption (star join key)

        index = self._stage(fam.index, build_index)
        buckets = self._stage(fam.buckets,
                              lambda: self._bucket_frame(fam, index),
                              partition_by=["kb"])

        def build_edges():
            if lshcfg is None:
                star = sh.star_edges(src, index, fam.id_col)
                pairs, dropped = sh.hamming_candidates(index, radius,
                                                       blocks=buckets)
                verified = sh.verify_hamming(pairs, index, radius)
            else:
                star = ml.star_edges(src, index.select("rep_id", "caption"),
                                     fam.id_col)
                pairs, dropped = ml.candidate_pairs(buckets, lshcfg)
                verified = ml.verify_pairs(pairs, index, lshcfg)
            self.metrics.append({"stage": f"{fam.stem}_dropped_buckets",
                                 "rows": dropped.count(), "seconds": 0.0})
            return star.unionByName(verified.select("a", "b"))

        return self._stage(fam.edges, build_edges)

    def _families(self, frames: dict) -> dict:
        """The enabled FAMILIES that have an input in ``frames`` (keyed by
        IndexFamily.frame) → a thunk building each one's source frame."""
        return {f: functools.partial(f.source, self.cfg, frames[f.frame])
                for f in FAMILIES
                if getattr(self.cfg, f.flag) and frames[f.frame] is not None}

    @staticmethod
    def _with_media_ids(ids: DataFrame, fams, frames: dict) -> DataFrame:
        """``ids`` ∪ every media family's input ids (undecodable payloads
        included — they cluster as singletons rather than vanishing)."""
        for f in fams:
            if f.frame != "images":
                ids = ids.unionByName(frames[f.frame].select(
                    F.col(f.id_col).alias("image_id")))
        return ids

    def _signature_frame(self, images: DataFrame,
                         features: DataFrame | None = None) -> DataFrame:
        """(image_id, sha256, phash, caption) for any image batch.

        fast mode trusts the stored phash column; normal mode decodes and
        recomputes (features computed here if not supplied). The features
        left-join keeps undecodable payloads' exact SHA-256 signatures
        (dupers normal mode hashes file content regardless of
        decodability, dupe.go:129-157); only the perceptual stage skips
        null-phash rows.
        """
        if self.cfg.fast:
            return exact.signatures(images).join(
                images.select("image_id", "phash", "caption"), "image_id"
            )
        if features is None:
            from dupers_spark.operators import multimodal as mm

            features = mm.image_features(images)
        return (
            exact.signatures(images)
            .join(
                features.select(
                    "image_id",
                    F.when(F.col("decode_ok"), F.col("phash")).alias("phash"),
                ),
                "image_id",
                "left",
            )
            .join(images.select("image_id", "caption"), "image_id")
        )

    def _media_fp(self, media: DataFrame) -> str:
        """Identity fingerprint for a sibling media corpus (media_id +
        payload length) — folded into the resume marker so a rerun against
        different media rebuilds instead of silently reusing stages."""
        row = media.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr(
                "bit_xor(xxhash64(media_id, length(bytes)))"), F.lit(0)
            ).alias("h")).collect()[0]
        return f"{row['n']}:{row['h'] & 0xFFFFFFFFFFFFFFFF:016x}"

    def _require_media(self, videos, audio,
                       require_when_enabled: bool = True) -> None:
        """Media-frame / flag consistency, BOTH directions: a flag without
        its frame can't build the branch, and a frame without its flag
        would silently drop a whole modality from the dedup output — the
        accounted-never-silent policy demands a loud refusal instead.
        run_incremental passes require_when_enabled=False: a batch with no
        new videos/audio is a legal append to a media-enabled warehouse."""
        if require_when_enabled and self.cfg.use_video and videos is None:
            raise ValueError("cfg.use_video=True needs a videos frame")
        if require_when_enabled and self.cfg.use_audio and audio is None:
            raise ValueError("cfg.use_audio=True needs an audio frame")
        if videos is not None and not self.cfg.use_video:
            raise ValueError(
                "a videos frame was provided but cfg.use_video=False — "
                "refusing to silently drop a modality")
        if audio is not None and not self.cfg.use_audio:
            raise ValueError(
                "an audio frame was provided but cfg.use_audio=False — "
                "refusing to silently drop a modality")

    # ------------------------------------------------------------- stages
    def run(self, images: DataFrame, videos: DataFrame | None = None,
            audio: DataFrame | None = None) -> DataFrame:
        self._require_media(videos, audio)
        # a full rebuild overwrites every stage; interleaving with a
        # compaction's rename-aside swaps would corrupt both
        if os.path.exists(os.path.join(self.cfg.warehouse, "_MAINT_PENDING")):
            raise ValueError(
                "run() refused: warehouse maintenance in flight "
                "(_MAINT_PENDING present) — retry after it finishes")
        # a leftover _INC_PENDING means a previous run_incremental crashed
        # between its first append and its marker refresh: stages may hold a
        # half-applied batch while markers still describe the pre-batch
        # state, so resuming onto them would be silently wrong. Force a full
        # rebuild (which makes the warehouse consistent), then clear it.
        self._force_rebuild = os.path.exists(self._pending())
        # exclusion must hold for run()'s WHOLE window, not just the check
        # above: a maintenance pass starting mid-run() could interleave its
        # compact/rename-aside swaps with the rebuild's stage writes
        # (round-6 review). run() holds the SAME sentinel run_incremental
        # uses — maintain_warehouse already backs off on it — released on
        # every exit (unlike an append, a partially-written rebuild is
        # already crash-consistent through the per-stage markers, so the
        # sentinel here is mutual exclusion, not crash evidence).
        _held = False
        if not self._force_rebuild:
            os.makedirs(self.cfg.warehouse, exist_ok=True)
            try:
                fd = os.open(self._pending(),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, b"full rebuild in flight")
                os.close(fd)
                _held = True
            except FileExistsError:
                raise ValueError(
                    "run() refused: an incremental append started "
                    "concurrently (_INC_PENDING present)") from None
        try:
            return self._run_locked(images, videos, audio)
        finally:
            if _held and os.path.exists(self._pending()):
                os.remove(self._pending())

    def _run_locked(self, images: DataFrame, videos: DataFrame | None,
                    audio: DataFrame | None) -> DataFrame:
        # input identity for resume safety: row count + order-independent
        # xor of row-content hashes. Content columns (caption, phash, byte
        # LENGTH) are folded in so a rerun against same-ids-different-rows
        # rebuilds instead of silently reusing stale stages. Default "fast"
        # mode hashes length(bytes), not content — the fingerprint runs on
        # every invocation including resumes, and reading the whole corpus
        # to decide "skip" would cost what the resume saves; length+phash
        # catch byte edits in practice (phash derives from the pixels).
        # cfg.fingerprint="full" hashes the bytes themselves for pipelines
        # whose phash column is untrusted.
        bytes_expr = ("xxhash64(bytes)" if self.cfg.fingerprint == "full"
                      else "xxhash64(length(bytes))")
        fp_cols = ["xxhash64(image_id)"]
        for c, expr in [("caption", "xxhash64(caption)"),
                        ("phash", "xxhash64(phash)"),
                        ("bytes", bytes_expr)]:
            if c in images.columns:
                fp_cols.append(expr)
        fp_expr = f"bit_xor(xxhash64({', '.join(fp_cols)}))"
        fp_row = images.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr(fp_expr), F.lit(0)).alias("h"),
        ).collect()[0]
        self._input_fp = f"{fp_row['n']}:{fp_row['h'] & 0xFFFFFFFFFFFFFFFF:016x}"
        if self.cfg.use_video:
            self._input_fp += f":v{self._media_fp(videos)}"
        if self.cfg.use_audio:
            self._input_fp += f":a{self._media_fp(audio)}"

        if self.cfg.fast:
            sigs = self._stage(
                "signatures", lambda: self._signature_frame(images)
            )
        else:
            from dupers_spark.operators import multimodal as mm

            features = self._stage(
                "features", lambda: mm.image_features(images)
            )
            sigs = self._stage(
                "signatures", lambda: self._signature_frame(images, features)
            )

        # ---- the edge families — exact plus every enabled FAMILIES row —
        # are independent DAG branches over the signatures stage (and the
        # media corpora). Each runs its whole stage chain (build, write,
        # marker) from its own pool thread, so one family's shuffle barrier
        # overlaps another's compute — the multi-job submission pattern
        # run_incremental's probe branches use. Markers stay per stage: a
        # family that fails leaves every stage that completed (in any
        # family) resumable. The pool closes before _run_locked returns or
        # raises, so no stage write outlives run()'s _INC_PENDING hold.
        def exact_family():
            return self._stage(
                "exact_edges",
                lambda: exact.dup_edges(sigs.select("image_id", "sha256")))

        frames = {"images": sigs, "videos": videos, "audio": audio}
        fams = self._families(frames)
        families = {"exact": exact_family}
        for fam, make_source in fams.items():
            families[fam.stem] = functools.partial(self._build_family, fam,
                                                   make_source)

        def invariants_family(exact_fut):
            # needs only exact_edges and the images, so its decode overlaps
            # the connected-components loop on the calling thread
            from dupers_spark.operators import multimodal as mm

            exact_edges = exact_fut.result()

            def build_invariants():
                # a hash of the pair picks the sample: the same edges on
                # every build, whatever the stage file's row order, and the
                # same rows in both of the plan's evaluations of `sampled`
                # (pair_psnr and the caption join); psnr_sample=1.0 keeps
                # every edge
                keep = (F.pmod(F.xxhash64("a", "b"), F.lit(_PSNR_SCALE))
                        < F.lit(self.cfg.psnr_sample * _PSNR_SCALE))
                sampled = exact_edges.filter(keep)
                scored = mm.pair_psnr(sampled, images)
                caps = images.select("image_id", "caption")
                cap_pairs = (
                    sampled.join(caps.withColumnRenamed("image_id", "a")
                                 .withColumnRenamed("caption", "cap_a"), "a")
                    .join(caps.withColumnRenamed("image_id", "b")
                          .withColumnRenamed("caption", "cap_b"), "b")
                    .select("a", "b",
                            (F.col("cap_a") == F.col("cap_b")).alias("caption_equal"))
                )
                return scored.join(cap_pairs, ["a", "b"], "left")

            return self._stage("invariants", build_invariants)

        with_invariants = not self.cfg.fast and self.cfg.psnr_sample > 0
        with ThreadPoolExecutor(len(families) + with_invariants) as pool:
            futs = {k: pool.submit(fn) for k, fn in families.items()}
            if with_invariants:
                inv_fut = pool.submit(invariants_family, futs["exact"])
            edge_frames = [f.result() for f in futs.values()]

            all_edges = edge_frames[0]
            for e in edge_frames[1:]:
                all_edges = all_edges.unionByName(e)

            # total assignment covers every modality
            all_ids = self._with_media_ids(sigs.select("image_id"), fams,
                                           frames)

            # cb-partitioned (identity-partition layout): appends leave this
            # BASE untouched and land in components_delta/_relabel instead;
            # the cb layout is what maintain_warehouse's fold rewrites into.
            # Modulus derived from the corpus size (the fingerprint already
            # counted the rows — no extra job), recorded in column metadata.
            # Spread by cb like every other partitioned write: one file per
            # cb directory, written on every core (not one file per
            # upstream task in each directory, which every lookup and
            # append then scans).
            cb_mod = derive_cb_partitions(self._fp_rows())
            comps = self._stage(
                "components",
                lambda: spread_partitions(with_cb(with_singletons(
                    connected_components(all_edges), all_ids
                ), cb_mod), cb_mod, "cb"),
                partition_by=["cb"],
            )
            # a full (re)build supersedes any append-era delta/relabel
            # stages — stale ones would relabel the fresh assignment with
            # dead labels. (A resume with live delta stages cannot happen:
            # appends rewrite every marker to the inc: namespace, which
            # never matches run()'s image-frame fingerprint, so run()
            # rebuilds whenever deltas exist.)
            self.store.drop("components_delta")
            self.store.drop("components_relabel")
            if with_invariants:
                inv_fut.result()

        self._write_metrics()
        # clear the crashed-append sentinel ONLY if this run observed it at
        # start (and therefore rebuilt because of it): a sentinel created
        # AFTER our check belongs to a run_incremental racing us, and
        # removing it would erase the crash evidence it exists to preserve
        if self._force_rebuild and os.path.exists(self._pending()):
            os.remove(self._pending())
        self._force_rebuild = False
        return comps.select("image_id", "component_id")

    def run_incremental(self, new_images: DataFrame,
                        new_videos: DataFrame | None = None,
                        new_audio: DataFrame | None = None) -> DataFrame:
        """Append-batch update of a COMPLETED warehouse — dupers' `up`
        semantics at near-dup granularity: the existing corpus is never
        re-read, re-hashed, or re-signatured.

        Requires every stage of the current config to exist (any input
        identity — markers are refreshed to the post-append identity at
        the end). Per batch:

          * batch signatures (fast or normal mode) append to ``signatures``
          * exact: within-batch star edges + batch digests broadcast-probed
            against the signatures stage (scan + broadcast semi-join, no
            corpus shuffle)
          * every enabled FAMILIES row with input in this batch (captions,
            video/audio tokens, phash): the operator's incremental probe
            against the family's persisted BUCKET stage (skinny
            precomputed band/block rows, kb-partition-pruned — the index
            stages are never re-exploded per batch); new reps append to
            the index AND bucket stages alike (media tokens to the token
            stage too). A batch key identical to an indexed one adds a
            second rep for that key — the verified sim-1.0 / dist-0 edge
            keeps the cluster correct, and the index grows with batches,
            not with the corpus.
          * components: contracted-graph recluster
            (components.incremental_components_delta) — touched old
            components collapse to their labels, CC runs over the O(batch)
            contracted edge set, and the delta is PERSISTED as a delta:
            batch assignments append to ``components_delta`` and the
            relabel map composes into the flattened ``components_relabel``
            log; the corpus-sized base stage is never rewritten (per-append
            write volume is O(batch) + O(merged components), matching
            `up`'s append-cost-∝-batch contract). Reads serve
            apply_relabel(base ∪ delta, log) — one broadcast map — and
            maintain_warehouse folds delta+log back into the cb-partitioned
            base. A batch row bridging two old clusters relabels both,
            byte-identically to a full rebuild.
          * crash + concurrency safety: appends are not idempotent, so the
            whole append window is guarded by an O_EXCL ``_INC_PENDING``
            sentinel — a concurrent run_incremental on the same warehouse
            refuses instead of interleaving, and after a crash mid-append
            the surviving sentinel makes the next run_incremental refuse
            loudly and the next run() force-rebuild (it cannot resume onto
            half-appended stages even though markers still match the
            pre-batch input). Markers refresh LAST, inside the window.
        """
        self._require_media(new_videos, new_audio,
                            require_when_enabled=False)
        needed = ["signatures", "exact_edges", "components"] + [
            st for f in FAMILIES if getattr(self.cfg, f.flag)
            for st in f.stages]
        optional = [s for s in ("components_delta", "components_relabel")
                    if self.store.exists(s)]
        for name in needed + optional:
            if not self.store.exists(name):
                raise ValueError(
                    f"run_incremental needs completed stage {name!r}")
            m = self._marker(name)
            cfg_of = open(m).read().split(":")[0] if os.path.exists(m) else ""
            if cfg_of != self.cfg.config_hash():
                raise ValueError(
                    f"stage {name!r} was built with a different config")

        # appends are NOT idempotent (duplicate signature rows, index reps
        # and edges on a replay), so an append run must be exclusive and
        # crash-evident: O_EXCL-create a sentinel that (a) refuses a second
        # concurrent run_incremental on the same warehouse — held from the
        # first index READ, because probing an index mid-append would see a
        # partially-applied batch — and (b) survives a crash mid-append,
        # where markers are stale: the next run_incremental refuses loudly
        # and run() force-rebuilds. A FAILURE in the probe phase (before
        # anything is appended) releases the sentinel on the way out — the
        # warehouse is untouched, so no rebuild is owed.
        pending = self._pending()
        try:
            fd = os.open(pending, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ValueError(
                "partial or concurrent incremental append detected "
                f"({pending} exists). Appends are not idempotent: run() a "
                "full rebuild to restore consistency, or wait for the "
                "in-flight run_incremental to finish.") from None
        os.write(fd, b"incremental append in flight")
        os.close(fd)
        # set-own-then-check-other's, mirroring maintain_warehouse: an
        # append that starts while compaction is mid-swap would write
        # files into a directory about to be renamed aside and deleted —
        # back off (nothing appended yet, so releasing the sentinel is
        # safe and no rebuild is owed)
        maint = os.path.join(self.cfg.warehouse, "_MAINT_PENDING")
        if os.path.exists(maint):
            os.remove(pending)
            raise ValueError(
                "run_incremental refused: warehouse maintenance in flight "
                "(_MAINT_PENDING present) — retry after it finishes")

        def metric(stage: str, rows: int, t0: float) -> None:
            self.metrics.append({"stage": stage, "rows": rows,
                                 "seconds": round(time.time() - t0, 3)})

        def lineage_append(stage: str, rows: int = -1) -> None:
            # audit record per appended stage (rows=-1 where counting would
            # cost an extra job); input_fp is refreshed to the post-append
            # identity before _write_metrics persists these
            self.lineage.append({
                "stage": f"{stage}+append",
                "config_hash": self.cfg.config_hash(),
                "input_fp": "",  # patched below once the post-append fp exists
                "rows": rows,
                "written_at": time.time(),
            })

        # ------------- probe phase: EVERYTHING is computed and eagerly
        # materialized before a single row is appended, so a failure here
        # (bad batch schema, transient executor loss) leaves the warehouse
        # exactly as it was — no rebuild, sentinel released on the way out.
        # Every index stage is opened ONCE here and the frame passed on: a
        # read of a kb/cb-partitioned stage (64+ partition dirs) is itself
        # a Spark file-listing job.
        #
        # The post-append input identity (markers, below) is count+xor, and
        # those compose: it is the previous identity ⊕ a BATCH-only
        # aggregate, so no append re-scans the corpus for it.
        fp_expr = F.coalesce(
            F.expr("bit_xor(xxhash64(image_id, sha256, phash, caption))"),
            F.lit(0)).alias("h")
        sig_marker = self._marker("signatures")
        prev_fp = (open(sig_marker).read().strip().split(":", 1)[1]
                   if os.path.exists(sig_marker) else "")
        try:
            t0 = time.time()
            bsigs = self._signature_frame(new_images).localCheckpoint()
            bfp = bsigs.agg(F.count("*").alias("n"), fp_expr).collect()[0]
            n_batch_rows = int(bfp["n"])
            metric("inc_signatures", n_batch_rows, t0)
            old_sigs = self.store.read("signatures")

            # ---- the probe branches (exact + one per FAMILIES row with
            # input) are independent DAG branches, each ending in an eager
            # checkpoint — run them from a small thread pool so one
            # branch's shuffle barrier overlaps another's compute (the
            # documented multi-job submission pattern, same as
            # plans/dedup_job.py; measured: the serial formulation left
            # most of a 22 s 4k-row append latency-bound on barriers)
            def exact_branch():
                t0 = time.time()
                b_ex = bsigs.select("image_id", "sha256")
                matched_old = old_sigs.select("image_id", "sha256").join(
                    F.broadcast(b_ex.select("sha256").distinct()), "sha256",
                    "leftsemi")
                old_ex = matched_old.groupBy("sha256").agg(
                    F.min("image_id").alias("exemplar"))
                cross = b_ex.join(F.broadcast(old_ex), "sha256").select(
                    F.col("image_id").alias("a"),
                    F.col("exemplar").alias("b"))
                exact_inc = exact.dup_edges(b_ex).unionByName(cross) \
                    .localCheckpoint()
                n_ex = exact_inc.count()
                metric("inc_exact_edges", n_ex, t0)
                return exact_inc, n_ex

            def probe(fam: IndexFamily, make_source):
                t0 = time.time()
                src = make_source()
                if fam.tokens:
                    # decode/checkpoint INSIDE the branch thread so the
                    # token decode overlaps the other branches
                    src = src.localCheckpoint()
                index = self.store.read(fam.index)
                buckets = self.store.read(fam.buckets)
                lshcfg = fam.lsh_config(self.cfg)
                # probe the PERSISTED bucket stage (kb-pruned skinny scan)
                # — the index stage is only touched for verify participants
                if lshcfg is None:
                    edges, _ver, dropped, index_new = \
                        sh.incremental_hamming_edges(
                            index, src, self.cfg.phash_radius,
                            id_col=fam.id_col, index_blocks=buckets)
                else:
                    edges, _ver, dropped, index_new = \
                        ml.incremental_near_dup_edges(
                            index.select("rep_id", "shingles", "bands"),
                            src, lshcfg, id_col=fam.id_col,
                            index_buckets=buckets)
                edges = edges.localCheckpoint()
                # index_new is a checkpoint of the probe (carrying caption
                # on the MinHash path) — the append rows are pure
                # projections, no extra jobs
                rows = {fam.tokens: src} if fam.tokens else {}
                rows[fam.index] = index_new.select(*index.columns)
                rows[fam.buckets] = self._bucket_frame(fam, index_new,
                                                       index=buckets)
                rows[fam.edges] = edges
                n = edges.count()
                self.metrics.append(
                    {"stage": f"inc_{fam.stem}_dropped_buckets",
                     "rows": dropped.count(), "seconds": 0.0})
                metric(f"inc_{fam.stem}_edges", n, t0)
                return rows, n

            fams = self._families({"images": bsigs, "videos": new_videos,
                                   "audio": new_audio})
            futs: dict = {}
            with ThreadPoolExecutor(5) as pool:
                futs["exact"] = pool.submit(exact_branch)
                for fam, make_source in fams.items():
                    futs[fam] = pool.submit(probe, fam, make_source)
                futs["base"] = pool.submit(self.store.read, "components")
                if not prev_fp.startswith("inc:"):
                    # first append after a full run(): its marker carries
                    # the image-frame fp, so seed the inc chain from the
                    # PRE-append stage (⊕ the batch below — the same value
                    # as an aggregate over the post-append stage)
                    futs["seed"] = pool.submit(
                        lambda: old_sigs.agg(F.count("*").alias("n"),
                                             fp_expr).collect()[0])
                results = {k: f.result() for k, f in futs.items()}

            exact_inc, n_ex = results["exact"]
            probes = {fam: results[fam] for fam in fams}  # (rows, n)
            new_edge_frames = [exact_inc] + [
                rows[fam.edges] for fam, (rows, _n) in probes.items()]
            if prev_fp.startswith("inc:"):
                _, n0, h0 = prev_fp.split(":")
                n_old, h_old = int(n0), int(h0, 16)
            else:
                n_old = int(results["seed"]["n"])
                h_old = results["seed"]["h"] & 0xFFFFFFFFFFFFFFFF
            n_total = n_old + n_batch_rows
            h_total = h_old ^ (bfp["h"] & 0xFFFFFFFFFFFFFFFF)

            # recluster via the CONTRACTED graph (components.py): old
            # components touched by the batch collapse to their labels, CC
            # runs over the O(batch) contracted edge set, and the result is
            # a DELTA — (relabel map, batch assignments) — persisted below
            # AS a delta: batch rows append to ``components_delta`` and the
            # relabel map composes into the flattened ``components_relabel``
            # log. The corpus-sized base stage is never read back for a
            # rewrite and never touched by the append — per-append write
            # volume is O(batch) + O(merged components), the true `up`
            # contract (dupe.go:941-966). Reads serve
            # apply_relabel(base ∪ delta, log); maintain_warehouse folds.
            t0 = time.time()
            base = results["base"]
            old_assign = self._effective_components(base)
            new_edges_all = new_edge_frames[0]
            for e in new_edge_frames[1:]:
                new_edges_all = new_edges_all.unionByName(e)
            batch_ids = self._with_media_ids(
                bsigs.select("image_id"), fams,
                {"videos": new_videos, "audio": new_audio})
            relabel, new_assign, n_relabel = incremental_components_delta(
                old_assign.select("image_id", "component_id"),
                new_edges_all, batch_ids)
            # delta rows use the BASE stage's modulus (column metadata) so
            # the fold unions one consistent layout
            new_assign = with_cb(new_assign, cb_modulus(base))
            if n_relabel and self.store.exists("components_relabel"):
                # compose: stored labels that previously mapped to a label
                # the batch just merged away follow it to the new label, so
                # the log STAYS flat (one broadcast hop at read time)
                log = self.store.read("components_relabel")
                log = log.join(
                    F.broadcast(relabel),
                    log["new_lbl"] == relabel["old_lbl"], "left",
                ).select(
                    log["old_lbl"],
                    F.coalesce(relabel["new_lbl"], log["new_lbl"])
                    .alias("new_lbl"))
                new_log = log.unionByName(
                    relabel.select("old_lbl", "new_lbl")).localCheckpoint()
            else:
                new_log = relabel
            metric("inc_components_contracted", n_relabel, t0)
        except BaseException:
            os.remove(pending)  # nothing appended — warehouse untouched
            raise

        # ------------- append window: pre-materialized frames only; a
        # crash from here on leaves the sentinel in place (markers stale,
        # rebuild required). Every write derives solely from checkpoints
        # or driver-local frames and targets its OWN stage directory — the
        # index/edge/signature appends, the components_delta append and
        # the components_relabel rewrite are independent, so they all run
        # from one thread pool and overlap (measured serial: 3.8 s of a
        # 22 s 4k-row append was back-to-back write barriers). The
        # corpus-sized components base is NOT written. Crash semantics are
        # unchanged: any failure leaves the sentinel in place.
        t0 = time.time()
        # ≈1 file per ~1M delta rows per append (a delta row is ~50 B) —
        # not one file per upstream task; maintain_warehouse's fold handles
        # long-horizon accretion
        n_delta_files = max(1, n_batch_rows // 1_000_000 + 1)
        writes: list[tuple] = [("exact_edges", exact_inc, None)]
        for fam, (rows, _n) in probes.items():
            writes += [(st, df, ["kb"] if st == fam.buckets else None)
                       for st, df in rows.items()]
        writes += [("signatures", bsigs, None),
                   ("components_delta",
                    new_assign.select("image_id", "component_id", "cb")
                    .coalesce(n_delta_files), None)]

        def timed(op, name, df, pb=None):
            t0w = time.time()
            op(name, df, partition_by=pb)
            return time.time() - t0w

        with ThreadPoolExecutor(4) as pool:
            wfuts = {name: pool.submit(timed, self.store.append, name, df, pb)
                     for name, df, pb in writes}
            if n_relabel:
                wfuts["components_relabel"] = pool.submit(
                    timed, self.store.write, "components_relabel",
                    new_log.select("old_lbl", "new_lbl"))
            took = {name: f.result() for name, f in wfuts.items()}
        lineage_append("exact_edges", n_ex)
        for fam, (rows, n) in probes.items():
            for st in rows:
                lineage_append(st, n if st == fam.edges else -1)
        lineage_append("signatures")
        # components: O(batch) delta append + O(merged) relabel-log rewrite,
        # concurrent with each other — seconds is the slower of the two
        self.metrics.append({
            "stage": "inc_components_delta", "rows": n_relabel,
            "seconds": round(max(took["components_delta"],
                                 took.get("components_relabel", 0.0)), 3)})
        lineage_append("components")
        metric("inc_append_window", -1, t0)

        # the "inc:" namespace never collides with run()'s image-frame
        # fingerprint, so a later full run() rebuilds rather than resuming
        self._input_fp = f"inc:{n_total}:{h_total:016x}"
        for rec in self.lineage:
            if rec["stage"].endswith("+append") and not rec["input_fp"]:
                rec["input_fp"] = self._input_fp
        delta_stages = [s for s in ("components_delta", "components_relabel")
                        if self.store.exists(s)]
        for name in needed + delta_stages:  # incl. the delta/log stages
            with open(self._marker(name), "w") as fh:
                fh.write(self._marker_value())

        # the base is unchanged by the append: only the delta and the log
        # are re-read for the served assignment
        comps = self._effective_components(base).select(
            "image_id", "component_id")
        self._write_metrics(append_lineage=True)
        os.remove(pending)  # every append landed + markers refreshed
        return comps

    def _write_metrics(self, append_lineage: bool = False) -> None:
        """metrics = this invocation's run log (overwritten each run);
        lineage = the warehouse's audit history. A full run() rewrites the
        history (prior records describe stages it just replaced); an
        incremental run APPENDS, so the full-build records and every prior
        batch's '+append' rows survive across processes — the audit trail
        the append path exists to provide. The two tables are independent
        directories, so their writes run concurrently."""
        mdf = self.spark.createDataFrame(
            [
                (m["stage"], int(m["rows"]), float(m["seconds"]), bool(m.get("resumed", False)))
                for m in self.metrics
            ],
            "stage string, rows long, seconds double, resumed boolean",
        )
        with ThreadPoolExecutor(2) as pool:
            futs = [pool.submit(self.store.write, "metrics", mdf)]
            if self.lineage:
                ldf = self.spark.createDataFrame(
                    [
                        (r["stage"], r["config_hash"], r["input_fp"],
                         int(r["rows"]), float(r["written_at"]))
                        for r in self.lineage
                    ],
                    "stage string, config_hash string, input_fp string, "
                    "rows long, written_at double",
                )
                op = (self.store.append
                      if append_lineage and self.store.exists("lineage")
                      else self.store.write)
                futs.append(pool.submit(op, "lineage", ldf))
            for f in futs:
                f.result()
