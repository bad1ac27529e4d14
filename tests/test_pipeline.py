"""DedupPipeline: end-to-end, resume, config invalidation, normal mode."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig
from dupers_spark.sources import datagen

N = 120


@pytest.fixture(scope="module")
def images(spark):
    df = datagen.make_images(spark, N).cache()
    df.count()
    return df


def _expected_cluster_count(n):
    # per full group of 10: {r0..r4, r6} cluster; one global flood; singletons
    # (r7, r8, r9 — the zero-byte row i=7 is indexed under sha256('') and is
    # the only empty payload, so it stays a singleton)
    groups = n // 10
    singletons = 3 * groups
    return groups + 1 + singletons


def test_fast_pipeline_and_resume(spark, images):
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"))
        p1 = DedupPipeline(spark, cfg)
        comps = p1.run(images)
        assert comps.count() == N
        n_clusters = comps.select("component_id").distinct().count()
        assert n_clusters == _expected_cluster_count(N)
        assert not any(m.get("resumed") for m in p1.metrics)

        p2 = DedupPipeline(spark, cfg)
        comps2 = p2.run(images)
        resumed = [m for m in p2.metrics if m.get("resumed")]
        assert len(resumed) >= 4  # every stage skipped
        assert comps2.count() == N

        # changed config → full rebuild, no stale reuse
        cfg3 = PipelineConfig(warehouse=os.path.join(td, "wh"), phash_radius=4)
        p3 = DedupPipeline(spark, cfg3)
        p3.run(images)
        assert not any(m.get("resumed") for m in p3.metrics)


def test_normal_mode_decodes_and_verifies(spark, images):
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"), fast=False,
                             psnr_sample=1.0)
        p = DedupPipeline(spark, cfg)
        comps = p.run(images)
        assert comps.count() == N
        stages = {m["stage"] for m in p.metrics}
        assert "features" in stages and "invariants" in stages
        inv = spark.read.parquet(os.path.join(td, "wh", "invariants"))
        rows = inv.collect()
        assert rows
        for r in rows:
            assert r["pixels_comparable"]
            assert r["psnr_db"] >= 40.0
            assert r["caption_equal"]

        # normal mode must produce the same clustering as fast mode here
        # (stored phash == recomputed phash for this corpus)
        cfg_fast = PipelineConfig(warehouse=os.path.join(td, "wh_fast"))
        fast_comps = DedupPipeline(spark, cfg_fast).run(images)
        a = {(r["image_id"], r["component_id"]) for r in comps.collect()}
        b = {(r["image_id"], r["component_id"]) for r in fast_comps.collect()}
        assert a == b


def test_psnr_invariant_sample_is_deterministic(spark, images):
    """The PSNR invariant sample is a hash of the pair, so two builds of
    one input keep the same edges whatever the exact_edges file layout or
    the family threads' interleaving (the row-order sample it replaced
    kept different edges in two builds of this fixture)."""
    def invariants(wh):
        cfg = PipelineConfig(warehouse=wh, fast=False, psnr_sample=0.3)
        DedupPipeline(spark, cfg).run(images)
        return sorted(tuple(r) for r in
                      spark.read.parquet(os.path.join(wh, "invariants"))
                      .collect())

    with tempfile.TemporaryDirectory() as td:
        first = invariants(os.path.join(td, "wh1"))
        second = invariants(os.path.join(td, "wh2"))
        n_edges = spark.read.parquet(
            os.path.join(td, "wh1", "exact_edges")).count()
    assert first == second
    assert 0 < len(first) < n_edges


def test_metrics_and_lineage_tables_written(spark, images):
    """The metrics/lineage tables after run(): every written stage's row
    count (observed on the write job, not counted back) equals the stage
    at rest in both tables, and the components base holds exactly one
    file per cb directory."""
    import glob

    with tempfile.TemporaryDirectory() as td:
        wh = os.path.join(td, "wh")
        cfg = PipelineConfig(warehouse=wh)
        p = DedupPipeline(spark, cfg)
        p.run(images)
        m = spark.read.parquet(os.path.join(wh, "metrics"))
        assert {"stage", "rows", "seconds", "resumed"} <= set(m.columns)
        assert m.count() >= 4
        lin = spark.read.parquet(os.path.join(wh, "lineage"))
        rows = {r["stage"]: r for r in lin.collect()}
        assert {"signatures", "exact_edges", "lsh_sigs", "lsh_buckets",
                "lsh_edges", "phash_reps", "phash_blocks", "phash_edges",
                "components"} <= set(rows)
        metric_rows = {r["stage"]: r["rows"] for r in m.collect()}
        for stage, r in rows.items():
            assert r["config_hash"] == cfg.config_hash()
            assert r["input_fp"] == p._input_fp
            at_rest = spark.read.parquet(os.path.join(wh, stage)).count()
            assert r["rows"] == metric_rows[stage] == at_rest, stage

        cb_dirs = glob.glob(os.path.join(wh, "components", "cb=*"))
        assert cb_dirs
        for d in cb_dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_fingerprint_full_detects_samelength_byte_edit(spark, images):
    """A same-length byte edit that preserves caption AND phash escapes the
    default "fast" fingerprint (documented tradeoff: it hashes
    length(bytes), not content) but must force a rebuild under
    fingerprint="full"."""
    some_id = images.select("image_id").orderBy("image_id").limit(1).collect()[0][0]
    # rotate the payload one byte: same length, same caption, same phash col
    edited = images.withColumn(
        "bytes",
        F.when(
            F.col("image_id") == some_id,
            F.concat(F.expr("substring(bytes, 2)"),
                     F.expr("substring(bytes, 1, 1)")),
        ).otherwise(F.col("bytes")),
    )
    with tempfile.TemporaryDirectory() as td:
        cfg_fast = PipelineConfig(warehouse=os.path.join(td, "wh_fastfp"))
        DedupPipeline(spark, cfg_fast).run(images)
        p2 = DedupPipeline(spark, cfg_fast)
        p2.run(edited)
        assert any(m.get("resumed") for m in p2.metrics)  # the documented gap

        cfg_full = PipelineConfig(warehouse=os.path.join(td, "wh_fullfp"),
                                  fingerprint="full")
        DedupPipeline(spark, cfg_full).run(images)
        p4 = DedupPipeline(spark, cfg_full)
        p4.run(edited)
        assert not any(m.get("resumed") for m in p4.metrics)  # rebuilt
        # and an unchanged rerun still resumes under "full"
        p5 = DedupPipeline(spark, cfg_full)
        p5.run(edited)
        assert any(m.get("resumed") for m in p5.metrics)


def test_compact_heals_crashed_swap(spark):
    """compact_stage after a crash inside a previous swap's rename window
    (stage dir missing, .old backup present) must restore the backup and
    proceed instead of failing on the missing directory."""
    from dupers_spark.plans.pipeline import compact_stage

    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "stage")
        spark.range(100).repartition(8).write.parquet(path)
        os.rename(path, path + ".old")
        res = compact_stage(spark, path, target_file_bytes=10 ** 9)
        assert res["rows"] == 100
        assert res["files_after"] == 1
        assert not os.path.exists(path + ".old")


def test_compact_preserves_partition_layout(spark, tmp_path):
    """Compacting a partitioned stage (the bucket indexes, which accrete
    ~1 file per touched partition per append) must keep the partition
    directories — losing them would silently kill every probe's partition
    pruning — while cutting the file count."""
    import glob

    from pyspark.sql import functions as F

    from dupers_spark.plans.pipeline import compact_stage

    path = str(tmp_path / "stage")
    df = spark.range(2000).select(
        "id", (F.col("id") % 8).cast("int").alias("kb"))
    # two appends → 2 files per kb partition
    for _ in range(2):
        df.repartition("kb").write.mode("append").partitionBy("kb") \
            .parquet(path)
    before = len(glob.glob(path + "/**/*.parquet", recursive=True))
    res = compact_stage(spark, path)
    assert res["rows"] == 4000
    assert res["files_after"] < before
    kb_dirs = {d for d in glob.glob(path + "/kb=*")}
    assert len(kb_dirs) == 8  # layout intact
    out = spark.read.parquet(path)
    assert out.count() == 4000 and "kb" in out.columns


def test_run_incremental_matches_full_rebuild(spark, images):
    """Pipeline-level append (`dupers up` on new files only): full run over
    the even half, run_incremental with the odd half — the final
    components must equal a full rebuild over everything (exact copies,
    caption chains, the flood and phash near-dups all straddle the parity
    split), the index/edge stages must be appended rather than rebuilt
    with the bucket layout kept (one new file per touched kb partition,
    one file per cb partition after maintenance), the signatures marker
    must carry the whole post-append stage's identity, and a config
    mismatch or a missing bucket stage must refuse."""
    import glob
    import shutil

    import pytest

    from dupers_spark.plans.pipeline import maintain_warehouse

    parity = F.substring("image_id", -1, 1).cast("int") % 2
    old = images.filter(parity == 0)
    new = images.filter(parity == 1)
    with tempfile.TemporaryDirectory() as td:
        wh = os.path.join(td, "wh")
        cfg = PipelineConfig(warehouse=wh)
        DedupPipeline(spark, cfg).run(old)

        def files_per_part(stage, col):
            d = os.path.join(wh, stage)
            return {p: len(glob.glob(os.path.join(d, p, "*.parquet")))
                    for p in os.listdir(d) if p.startswith(f"{col}=")}

        buckets_before = {st: files_per_part(st, "kb")
                          for st in ("lsh_buckets", "phash_blocks")}
        p2 = DedupPipeline(spark, cfg)
        comps_inc = p2.run_incremental(new)
        got = {(r["image_id"], r["component_id"])
               for r in comps_inc.collect()}
        # the append writes exactly one file into each kb partition it
        # touches (every kb value lands in one write task)
        for st, before in buckets_before.items():
            gained = {p: n - before.get(p, 0)
                      for p, n in files_per_part(st, "kb").items()}
            touched = {p: g for p, g in gained.items() if g}
            assert touched and set(touched.values()) == {1}, (st, gained)
        # the signatures marker is the post-append stage's identity: the
        # first append seeds it from the pre-append stage ⊕ the batch,
        # which must equal an aggregate over the whole stage after it
        sig_row = spark.read.parquet(os.path.join(wh, "signatures")).agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr(
                "bit_xor(xxhash64(image_id, sha256, phash, caption))"),
                F.lit(0)).alias("h")).collect()[0]
        with open(p2._marker("signatures")) as fh:
            assert fh.read().strip() == (
                f"{cfg.config_hash()}:inc:{sig_row['n']}:"
                f"{sig_row['h'] & 0xFFFFFFFFFFFFFFFF:016x}")
        stages = {m["stage"] for m in p2.metrics}
        assert {"inc_signatures", "inc_exact_edges", "inc_lsh_edges",
                "inc_phash_edges", "inc_components_contracted",
                "inc_components_delta"} <= stages

        cfg_full = PipelineConfig(warehouse=os.path.join(td, "wh_full"))
        comps_full = DedupPipeline(spark, cfg_full).run(images)
        want = {(r["image_id"], r["component_id"])
                for r in comps_full.collect()}
        assert got == want

        # appended, not rebuilt: signatures stage now covers the whole set
        assert spark.read.parquet(
            os.path.join(td, "wh", "signatures")).count() == N
        # edge stages contain both halves' edges
        full_exact = spark.read.parquet(
            os.path.join(td, "wh_full", "exact_edges")).count()
        inc_exact = spark.read.parquet(
            os.path.join(td, "wh", "exact_edges")).count()
        assert inc_exact == full_exact  # same digest groups either way

        # every append is auditable: lineage carries one '<stage>+append'
        # record per appended stage, stamped with the post-append identity
        lin = {r["stage"]: r for r in spark.read.parquet(
            os.path.join(td, "wh", "lineage")).collect()}
        for st in ("signatures", "exact_edges", "lsh_sigs", "lsh_buckets",
                   "lsh_edges", "phash_reps", "phash_blocks", "phash_edges",
                   "components"):
            assert f"{st}+append" in lin, st
            assert lin[f"{st}+append"]["input_fp"].startswith("inc:")

        # the maintenance fold rewrites components with one file per cb
        maintain_warehouse(spark, cfg)
        cb_files = files_per_part("components", "cb")
        assert cb_files and set(cb_files.values()) == {1}, cb_files

        bad = DedupPipeline(spark, PipelineConfig(
            warehouse=os.path.join(td, "wh"), phash_radius=4))
        with pytest.raises(ValueError):
            bad.run_incremental(new)

        # a warehouse missing its bucket index is refused by name
        shutil.rmtree(os.path.join(td, "wh", "lsh_buckets"))
        with pytest.raises(ValueError, match="lsh_buckets"):
            DedupPipeline(spark, cfg).run_incremental(new)


def _job_marker(sc, tag: str) -> int:
    """Run one single-task job under its own job group → its job id."""
    sc.setJobGroup(tag, tag)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    (job_id,) = sc.statusTracker().getJobIdsForGroup(tag)
    return job_id


# Spark jobs one run_incremental of the fixture's odd half launches onto a
# warehouse built from its even half (local[8], 8 shuffle partitions): 125
# before the append path opened each stage once and reclustered in one
# fetch, 92 after; the ceiling is 92 + ~10%
JOB_CEILING = 101


def test_run_incremental_job_ceiling(spark, images):
    """ROADMAP direction 2: a job-count ceiling on run_incremental. Job
    ids are sequential across the application, so the ids of two marker
    jobs bracketing the append count every job in between — including
    those submitted from run_incremental's thread pools."""
    parity = F.substring("image_id", -1, 1).cast("int") % 2
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"))
        DedupPipeline(spark, cfg).run(images.filter(parity == 0))
        new = images.filter(parity == 1)
        sc = spark.sparkContext
        first = _job_marker(sc, "run_incremental_ceiling_start")
        DedupPipeline(spark, cfg).run_incremental(new)
        last = _job_marker(sc, "run_incremental_ceiling_end")
    jobs = last - first - 1
    assert jobs <= JOB_CEILING, jobs


# Spark jobs one fast-mode run() over the fixture launches (local[8], 8
# shuffle partitions): 94 while every stage write was followed by a
# read-back count(), 77 with the row count observed on the write; the
# ceiling is 77 + ~10%
RUN_JOB_CEILING = 85


def test_run_job_ceiling(spark, images):
    """ROADMAP direction 2: a job-count ceiling on the full build, counted
    the same way as test_run_incremental_job_ceiling — the family threads'
    jobs fall between the two marker jobs too."""
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"))
        sc = spark.sparkContext
        first = _job_marker(sc, "run_ceiling_start")
        DedupPipeline(spark, cfg).run(images)
        last = _job_marker(sc, "run_ceiling_end")
    jobs = last - first - 1
    assert jobs <= RUN_JOB_CEILING, jobs


def _file_inventory(wh):
    """(relative path, mtime, size) of every file under ``wh``."""
    import glob

    return sorted(
        (os.path.relpath(f, wh), os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(os.path.join(wh, "**", "*"), recursive=True)
        if os.path.isfile(f))


def test_failing_family_leaves_completed_stages_resumable(
        spark, images, monkeypatch):
    """A family that raises mid-build: run() re-raises it only after every
    other family has finished writing (no stage directory changes once
    run() has returned) and releases _INC_PENDING; the next run() resumes
    every stage that completed and ends with a fresh build's assignment."""
    import time

    from dupers_spark.plans import pipeline

    def boom(*args, **kwargs):
        raise RuntimeError("injected phash failure")

    with tempfile.TemporaryDirectory() as td:
        wh = os.path.join(td, "wh")
        cfg = PipelineConfig(warehouse=wh)
        with monkeypatch.context() as mp:
            mp.setattr(pipeline.sh, "hamming_candidates", boom)
            p1 = DedupPipeline(spark, cfg)
            with pytest.raises(RuntimeError, match="injected phash failure"):
                p1.run(images)
        assert not os.path.exists(p1._pending())
        after_raise = _file_inventory(wh)
        time.sleep(2.0)
        assert _file_inventory(wh) == after_raise
        assert not os.path.exists(os.path.join(wh, "components"))

        p2 = DedupPipeline(spark, cfg)
        got = {(r["image_id"], r["component_id"])
               for r in p2.run(images).collect()}
        resumed = {m["stage"] for m in p2.metrics if m.get("resumed")}
        assert resumed == {"signatures", "exact_edges", "lsh_sigs",
                           "lsh_buckets", "lsh_edges", "phash_reps",
                           "phash_blocks"}, resumed

        fresh = DedupPipeline(spark, PipelineConfig(
            warehouse=os.path.join(td, "wh_fresh"))).run(images)
        want = {(r["image_id"], r["component_id"]) for r in fresh.collect()}
    assert got == want


def test_run_incremental_probe_failure_leaves_warehouse_untouched(
        spark, images, monkeypatch):
    """A family probe that raises — the perceptual one here, patched on
    its operator module, so the pipeline must look operators up at call
    time: run_incremental re-raises it, nothing under the warehouse has
    changed (the probe phase appends nothing), _INC_PENDING is released,
    and the next unpatched append ends with a full rebuild's assignment."""
    from dupers_spark.plans import pipeline

    def boom(*args, **kwargs):
        raise RuntimeError("injected probe failure")

    parity = F.substring("image_id", -1, 1).cast("int") % 2
    old, new = images.filter(parity == 0), images.filter(parity == 1)
    with tempfile.TemporaryDirectory() as td:
        wh = os.path.join(td, "wh")
        cfg = PipelineConfig(warehouse=wh)
        DedupPipeline(spark, cfg).run(old)
        before = _file_inventory(wh)
        with monkeypatch.context() as mp:
            mp.setattr(pipeline.sh, "incremental_hamming_edges", boom)
            p1 = DedupPipeline(spark, cfg)
            with pytest.raises(RuntimeError, match="injected probe failure"):
                p1.run_incremental(new)
        assert not os.path.exists(p1._pending())
        assert _file_inventory(wh) == before

        got = {(r["image_id"], r["component_id"]) for r in
               DedupPipeline(spark, cfg).run_incremental(new).collect()}
        fresh = DedupPipeline(spark, PipelineConfig(
            warehouse=os.path.join(td, "wh_fresh"))).run(images)
        want = {(r["image_id"], r["component_id"]) for r in fresh.collect()}
    assert got == want


def test_incremental_components_append_writes_o_batch_bytes(spark):
    """The scale gate on the assignment stage (round-6 verdict #1): an
    append must cost O(batch) write volume on the components stages — the
    round-6 cb-partition overwrite degenerated to a full corpus rewrite
    for any batch over a few hundred rows (a uniform id-hash batch touches
    all 64 partitions w.h.p.). The base+delta design makes the guarantee
    STRUCTURAL, verified here by file-inventory byte accounting on a batch
    big enough (500 of 4,000 rows) to hash into every cb partition:

      * the corpus-sized ``components`` base directory is byte-identical
        before vs after the append (name, mtime, size — never rewritten);
      * the bytes the append DID write (components_delta ∪
        components_relabel) are a small multiple of the batch's own
        serialized size, not of the corpus's.
    """
    import glob

    from dupers_spark.sources import datagen

    n, n_batch = 4000, 500
    images = datagen.make_images(spark, n).localCheckpoint()
    split = f"img_{n - n_batch:08d}"
    old = images.filter(F.col("image_id") < split)
    new = images.filter(F.col("image_id") >= split)
    with tempfile.TemporaryDirectory() as td:
        wh = os.path.join(td, "wh")
        cfg = PipelineConfig(warehouse=wh)
        DedupPipeline(spark, cfg).run(old)
        comp_dir = os.path.join(wh, "components")

        def inventory(path):
            return sorted(
                (os.path.relpath(f, path), os.path.getmtime(f),
                 os.path.getsize(f))
                for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                   recursive=True))

        def stage_bytes(path):
            return sum(s for _, _, s in inventory(path))

        before = inventory(comp_dir)
        base_bytes = stage_bytes(comp_dir)
        # batch hashes into (virtually) every cb partition — the regime
        # that defeated the overwrite design
        from dupers_spark.plans.pipeline import with_cb
        batch_cbs = with_cb(new.select("image_id")).select("cb") \
            .distinct().count()
        assert batch_cbs > 32

        p2 = DedupPipeline(spark, cfg)
        comps_inc = p2.run_incremental(new)

        # 1) base stage untouched, byte for byte
        assert inventory(comp_dir) == before
        # 2) the append's write volume is O(batch): delta+log bytes stay a
        # small multiple of the batch's per-row cost in the base stage
        written = stage_bytes(os.path.join(wh, "components_delta")) + \
            stage_bytes(os.path.join(wh, "components_relabel"))
        per_row = base_bytes / (n - n_batch)
        assert 0 < written < 20 * per_row * n_batch, (written, base_bytes)
        # 3) and the served assignment equals a full rebuild's
        got = {(r["image_id"], r["component_id"])
               for r in comps_inc.collect()}
        with tempfile.TemporaryDirectory() as td2:
            full = DedupPipeline(spark, PipelineConfig(
                warehouse=os.path.join(td2, "wh"))).run(images)
            want = {(r["image_id"], r["component_id"])
                    for r in full.collect()}
        assert got == want


def test_fingerprint_value_validated():
    with pytest.raises(ValueError, match="fingerprint"):
        PipelineConfig(warehouse="/tmp/x", fingerprint="Full")


def test_incremental_append_is_crash_and_race_evident(spark, images):
    """Appends are not idempotent, so the append window must be exclusive
    and crash-evident: a leftover/concurrent _INC_PENDING sentinel makes
    run_incremental refuse loudly (never a silent double-append), and a
    subsequent run() force-rebuilds — clearing the sentinel — even though
    the stale markers still match the pre-batch input."""
    parity = F.substring("image_id", -1, 1).cast("int") % 2
    old, new = images.filter(parity == 0), images.filter(parity == 1)
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"))
        DedupPipeline(spark, cfg).run(old)

        p = DedupPipeline(spark, cfg)
        with open(p._pending(), "w") as fh:  # crashed / racing append
            fh.write("x")
        with pytest.raises(ValueError, match="partial or concurrent"):
            p.run_incremental(new)

        # run() with the same pre-batch input would normally resume every
        # stage — the sentinel must force a rebuild instead
        p2 = DedupPipeline(spark, cfg)
        p2.run(old)
        assert not any(m.get("resumed") for m in p2.metrics)
        assert not os.path.exists(p2._pending())

        # warehouse is consistent again: the append goes through and the
        # lock is dropped on success
        p3 = DedupPipeline(spark, cfg)
        comps = p3.run_incremental(new)
        assert comps.count() == N
        assert not os.path.exists(p3._pending())

        # lineage is an APPEND in incremental runs: the full-build records
        # written by the earlier run() (a different process in production)
        # must survive alongside the new '+append' audit rows
        lin_stages = {r["stage"] for r in spark.read.parquet(
            os.path.join(td, "wh", "lineage")).collect()}
        assert "signatures" in lin_stages
        assert "signatures+append" in lin_stages


def test_run_incremental_empty_batch_is_noop(spark, images):
    """An empty append batch must leave the assignment unchanged (and not
    crash any of the probe/append paths on zero rows)."""
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"))
        before = {(r["image_id"], r["component_id"])
                  for r in DedupPipeline(spark, cfg).run(images).collect()}
        empty = images.filter(F.lit(False))
        after = {(r["image_id"], r["component_id"])
                 for r in DedupPipeline(spark, cfg).run_incremental(empty)
                 .collect()}
        assert after == before


def test_mixed_multimodal_pipeline_incremental_matches_rebuild(spark):
    """use_video/use_audio branches: one pipeline over images + sibling AVI
    and WAV corpora (FIXTURES.md §A conventions). Base = even ids of every
    modality, then a MIXED append batch — every modality's persisted token
    /signature/bucket stages must be probed and appended (never re-decoded
    or re-signatured), and the single cross-modality assignment must equal
    a full rebuild over everything (cross-batch media copies r1 straddle
    the split)."""
    import glob

    images = datagen.make_images(spark, 60).cache()
    videos = datagen.make_videos(spark, 40).cache()
    audio = datagen.make_audio(spark, 40).cache()
    for df in (images, videos, audio):
        df.count()
    par_i = F.substring("image_id", -1, 1).cast("int") % 2
    par_m = F.substring("media_id", -1, 1).cast("int") % 2
    with tempfile.TemporaryDirectory() as td:
        cfg = PipelineConfig(warehouse=os.path.join(td, "wh"),
                             use_video=True, use_audio=True, video_every_n=1)
        p1 = DedupPipeline(spark, cfg)
        p1.run(images.filter(par_i == 0), videos.filter(par_m == 0),
               audio.filter(par_m == 0))
        tok_before = {f: os.path.getmtime(f) for f in glob.glob(
            os.path.join(td, "wh", "video_tokens", "*.parquet"))}
        p2 = DedupPipeline(spark, cfg)
        comps = p2.run_incremental(
            images.filter(par_i == 1), videos.filter(par_m == 1),
            audio.filter(par_m == 1))
        got = {(r["image_id"], r["component_id"]) for r in comps.collect()}
        # every family records its metrics under its own stage names
        stems = ("lsh", "video_lsh", "audio_lsh", "phash")
        assert {f"{s}_dropped_buckets" for s in stems} <= \
            {m["stage"] for m in p1.metrics}
        assert {f"inc_{s}_{m}" for s in stems
                for m in ("edges", "dropped_buckets")} <= \
            {m["stage"] for m in p2.metrics}

        cfg_full = PipelineConfig(warehouse=os.path.join(td, "wh_full"),
                                  use_video=True, use_audio=True,
                                  video_every_n=1)
        want = {(r["image_id"], r["component_id"]) for r in
                DedupPipeline(spark, cfg_full).run(images, videos, audio)
                .collect()}
        assert got == want and len(got) == 140

        # appended, never rebuilt: the base's token files are untouched
        for f, mt in tok_before.items():
            assert os.path.getmtime(f) == mt
        # the batch landed as APPENDS in every media stage family
        lin = {r["stage"] for r in spark.read.parquet(
            os.path.join(td, "wh", "lineage")).collect()}
        for st in ("video_tokens", "video_lsh_sigs", "video_lsh_buckets",
                   "video_lsh_edges", "audio_tokens", "audio_lsh_sigs",
                   "audio_lsh_buckets", "audio_lsh_edges"):
            assert f"{st}+append" in lin, st
        # media branches demand their corpora
        with pytest.raises(ValueError, match="needs a videos frame"):
            DedupPipeline(spark, cfg_full).run(images)
    for df in (images, videos, audio):
        df.unpersist()


def test_media_frame_without_flag_refuses(spark, tmp_path):
    """The flag/frame consistency check is two-way: a videos/audio frame
    passed to run() or run_incremental() while its use_* flag is off would
    silently drop a whole modality from the dedup output — the
    accounted-never-silent policy demands a loud refusal instead."""
    images = datagen.make_images(spark, 20)
    videos = datagen.make_videos(spark, 10)
    wh = str(tmp_path / "wh")
    cfg = PipelineConfig(warehouse=wh)  # use_video/use_audio default False
    with pytest.raises(ValueError, match="use_video=False"):
        DedupPipeline(spark, cfg).run(images, videos=videos)
    DedupPipeline(spark, cfg).run(images)
    with pytest.raises(ValueError, match="use_video=False"):
        DedupPipeline(spark, cfg).run_incremental(images.limit(0),
                                                  new_videos=videos)
    # the refusal happened before the append window opened
    assert not os.path.exists(os.path.join(wh, "_INC_PENDING"))
