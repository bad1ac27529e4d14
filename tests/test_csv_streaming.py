"""CSV round-trip contract + streaming incremental ingest."""

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from dupers_spark.operators import exact
from dupers_spark.sources import csvio, datagen
from dupers_spark.streaming import ingest


def test_csv_round_trip(spark):
    sigs = spark.createDataFrame(
        [
            ("bucket1/a.png", "bucket1", "ab" * 32),
            ("bucket1/sub/b.png", "bucket1", "cd" * 32),
            ("bucket2/c.png", "bucket2", "ef" * 32),
        ],
        ["image_id", "bucket", "sha256"],
    )
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "export")
        csvio.csv_export(sigs, "bucket1", path)
        back, bucket = csvio.csv_import(spark, path)
        assert bucket == "bucket1"
        rows = {r["image_id"]: r["sha256"] for r in back.collect()}
        assert rows == {"bucket1/a.png": "ab" * 32, "bucket1/sub/b.png": "cd" * 32}


def test_csv_import_rejects_bad_header(spark):
    import pytest

    with tempfile.TemporaryDirectory() as td:
        bad = os.path.join(td, "bad")
        spark.createDataFrame([("x", "y")], ["c1", "c2"]).write.option(
            "header", True
        ).csv(bad)
        with pytest.raises(ValueError):
            csvio.csv_import(spark, bad)


def test_csv_import_drops_invalid_digests(spark):
    sigs = spark.createDataFrame(
        [
            ("bucket1/ok.png", "bucket1", "ab" * 32),
            ("bucket1/evil.png", "bucket1", "nothex"),       # bad digest
            ("bucket1/short.png", "bucket1", "ab" * 31),     # 62 hex chars
        ],
        ["image_id", "bucket", "sha256"],
    )
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "export")
        csvio.csv_export(sigs, "bucket1", path)
        back, _ = csvio.csv_import(spark, path)
        rows = back.collect()
        assert len(rows) == 1  # 64-hex rule (csv.go:79-91)
        assert rows[0]["image_id"] == "bucket1/ok.png"


def test_csv_export_bucket_with_regex_metachars(spark):
    """Bucket names containing regex metacharacters must strip literally
    (the reference uses strings.TrimPrefix, io.go:115)."""
    bucket = "data (v1.2)+old"
    sigs = spark.createDataFrame(
        [(f"{bucket}/a.png", bucket, "ab" * 32)],
        ["image_id", "bucket", "sha256"],
    )
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "export")
        csvio.csv_export(sigs, bucket, path)
        back, b = csvio.csv_import(spark, path)
        assert b == bucket
        rows = back.collect()
        assert rows[0]["image_id"] == f"{bucket}/a.png"


def test_csv_import_trims_leading_slash_rel(spark):
    """Genuine dupers CSVs keep a leading '/' on rel paths — import must
    yield 'bucket/rel', never 'bucket//rel'."""
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "export")
        os.makedirs(path)
        with open(os.path.join(path, "part.csv"), "w") as fh:
            fh.write("sha256_sum,path#bucketX\n")
            fh.write(("ab" * 32) + ",/sub/f.png\n")
        back, bucket = csvio.csv_import(spark, path)
        assert bucket == "bucketX"
        assert back.collect()[0]["image_id"] == "bucketX/sub/f.png"


def test_backup_full_dump(spark):
    sigs = spark.createDataFrame(
        [("b1/a", "b1", "x"), ("b2/b", "b2", "y")], ["image_id", "bucket", "sha256"]
    )
    with tempfile.TemporaryDirectory() as td:
        csvio.backup(sigs, td)
        back = spark.read.parquet(os.path.join(td, "backup"))
        assert {tuple(r) for r in back.collect()} == {
            ("b1/a", "b1", "x"), ("b2/b", "b2", "y")
        }


def test_mv_rm_bucket(spark):
    sigs = spark.createDataFrame(
        [("b1/a", "b1", "x"), ("b2/b", "b2", "y")], ["image_id", "bucket", "sha256"]
    )
    moved = csvio.mv_bucket(sigs, "b1", "b9")
    assert {r["bucket"] for r in moved.collect()} == {"b9", "b2"}
    assert {r["image_id"] for r in moved.collect()} == {"b9/a", "b2/b"}
    assert csvio.rm_bucket(sigs, "b2").count() == 1


def test_streaming_incremental_signatures(spark, tmp_path):
    """New files are hashed; already-indexed ids are skipped (dupe.go:941-966).
    The first batch bootstraps an empty warehouse; the second wave
    re-delivers every old row in new files, and the replayed ids must not
    be appended again."""
    from dupers_spark.plans.pipeline import PipelineConfig

    inp = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(warehouse=wh, use_captions=False, use_phash=False)
    images = datagen.make_images(spark, 40).cache()
    images.filter(F.col("image_id") < "img_00000020").write.parquet(
        inp, mode="overwrite"
    )
    q = ingest.stream_pipeline_appends(spark, inp, cfg, ckpt)
    q.awaitTermination(300)
    n1 = spark.read.parquet(wh + "/signatures").count()
    assert n1 == 20  # zero-byte row (i=7) indexed under sha256('')

    # second wave: 20 new + all 20 old re-delivered in new files
    images.write.mode("append").parquet(inp)
    q2 = ingest.stream_pipeline_appends(spark, inp, cfg, ckpt)
    q2.awaitTermination(300)
    final = spark.read.parquet(wh + "/signatures")
    assert final.count() == 40  # dupes skipped, zero-byte row indexed
    assert final.select("image_id").distinct().count() == 40
    images.unpersist()


def test_windowed_event_counts_batch(spark):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 1, "click", 1.0, ""),
            (2, "2024-01-01 00:50:00", 1, "click", 2.0, ""),
            (3, "2024-01-01 01:10:00", 2, "view", 3.0, ""),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r["win_start"].hour, r["event_type"]): r["cnt"]
           for r in ingest.windowed_event_counts(events).collect()}
    assert out == {(0, "click"): 2, (1, "view"): 1}


@pytest.mark.parametrize("bootstrap", ["empty", "run_even_half"])
def test_stream_pipeline_appends_matches_full_rebuild(spark, tmp_path,
                                                      bootstrap):
    """Continuous full-pipeline maintenance: stream the odd half in two
    micro-batches through run_incremental onto a warehouse that is either
    built by run() on the even half, or empty — then the even half streams
    first and its batch bootstraps the warehouse. The final components
    stage must equal a full rebuild over everything (all three engines'
    cross-batch links straddle the splits)."""
    from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig

    images = datagen.make_images(spark, 100).cache()
    images.count()
    parity = F.substring("image_id", -1, 1).cast("int") % 2
    wh = str(tmp_path / "wh")
    cfg = PipelineConfig(warehouse=wh)
    in_dir = str(tmp_path / "in")
    if bootstrap == "empty":
        # one file → the first micro-batch at mFPT=1
        images.filter(parity == 0).coalesce(1).write.parquet(in_dir + "/q=0")
    else:
        DedupPipeline(spark, cfg).run(images.filter(parity == 0))

    quarter = F.substring("image_id", -1, 1).cast("int") % 4
    odd = images.filter(parity == 1)
    odd.filter(quarter == 1).coalesce(1).write.mode("append").parquet(
        in_dir + "/q=a")
    odd.filter(quarter == 3).coalesce(1).write.mode("append").parquet(
        in_dir + "/q=b")
    # maintain_every=1: the automated compaction hook runs after every
    # batch — the stream must stay correct THROUGH compaction swaps
    q = ingest.stream_pipeline_appends(
        spark, in_dir + "/q=*", cfg, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, maintain_every=1)
    q.awaitTermination(300)

    got = {(r["image_id"], r["component_id"]) for r in
           spark.read.parquet(wh + "/components").collect()}
    cfg_full = PipelineConfig(warehouse=str(tmp_path / "wh_full"))
    want = {(r["image_id"], r["component_id"]) for r in
            DedupPipeline(spark, cfg_full).run(images).collect()}
    assert got == want
    # and the hook really bounded the file counts (policy convergence)
    from dupers_spark.plans.pipeline import _stage_file_stats, maintain_warehouse
    rec2 = maintain_warehouse(spark, cfg)
    assert all(r["action"] == "ok" for r in rec2)
    for name in ("signatures", "lsh_sigs", "exact_edges"):
        n_files, n_parts = _stage_file_stats(wh + "/" + name)
        assert n_files <= 8 * max(1, n_parts), (name, n_files)
    images.unpersist()


def test_stateful_stream_first_seen_dedup(spark):
    """applyInPandasWithState first-seen dedup: duplicates suppressed
    within a micro-batch AND across query restarts (the digest→exemplar
    map is rebuilt from the state-store checkpoint, not from any index
    table)."""
    with tempfile.TemporaryDirectory() as td:
        inp = os.path.join(td, "in")
        out = os.path.join(td, "out")
        ckpt = os.path.join(td, "ckpt")
        images = datagen.make_images(spark, 20).cache()
        images.write.parquet(inp, mode="overwrite")

        q = ingest.stream_exact_dedup(spark, inp, out, ckpt,
                                      max_files_per_trigger=100)
        q.awaitTermination(120)
        first = {r["image_id"]: r for r in spark.read.parquet(out).collect()}
        assert len(first) == 20
        # planted exact pairs: {img0, img1} and {img10, img11} (r0/r1 byte
        # copies per group); everything else first-seen
        assert sum(r["is_first"] for r in first.values()) == 18
        assert not first["img_00000001"]["is_first"]
        assert first["img_00000001"]["dup_of"] == "img_00000000"
        assert first["img_00000001"]["seen_ordinal"] == 1
        assert first["img_00000011"]["dup_of"] == "img_00000010"

        # restart: 5 old payloads re-delivered under NEW ids — every one
        # must resolve to its original exemplar purely from restored state
        redeliver = (
            images.filter(F.col("image_id") < "img_00000005")
            .withColumn("image_id", F.concat(F.lit("re_"), F.col("image_id")))
        )
        redeliver.write.mode("append").parquet(inp)
        q2 = ingest.stream_exact_dedup(spark, inp, out, ckpt,
                                       max_files_per_trigger=100)
        q2.awaitTermination(120)
        rows = {r["image_id"]: r for r in spark.read.parquet(out).collect()}
        assert len(rows) == 25
        re_rows = {k: v for k, v in rows.items() if k.startswith("re_")}
        assert len(re_rows) == 5 and not any(
            r["is_first"] for r in re_rows.values())
        # img1's bytes equal img0's, so both re_img0 and re_img1 join the
        # img_00000000 group with the NEXT ordinals after run 1's dup
        assert re_rows["re_img_00000000"]["dup_of"] == "img_00000000"
        assert re_rows["re_img_00000001"]["dup_of"] == "img_00000000"
        assert {re_rows["re_img_00000000"]["seen_ordinal"],
                re_rows["re_img_00000001"]["seen_ordinal"]} == {2, 3}
        for k in ("2", "3", "4"):
            assert re_rows[f"re_img_0000000{k}"]["dup_of"] == \
                f"img_0000000{k}"


def test_stream_maintenance_failure_is_contained(spark, tmp_path, monkeypatch):
    """foreachBatch is at-least-once and pipeline appends are NOT
    idempotent: a maintenance failure AFTER run_incremental has committed
    must be contained (logged + retried at the next Nth batch), because
    raising would make Structured Streaming replay the micro-batch and
    silently double-append every row (round-6 review finding)."""
    from pyspark.sql import functions as F

    from dupers_spark.plans import pipeline as pl
    from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dupers_spark.sources import datagen
    from dupers_spark.streaming import ingest

    images = datagen.make_images(spark, 40).cache()
    images.count()
    parity = F.substring("image_id", -1, 1).cast("int") % 2
    wh = str(tmp_path / "wh")
    cfg = PipelineConfig(warehouse=wh)
    DedupPipeline(spark, cfg).run(images.filter(parity == 0))
    in_dir = str(tmp_path / "in")
    images.filter(parity == 1).coalesce(1).write.parquet(in_dir)

    def boom(*a, **k):
        raise RuntimeError("synthetic maintenance failure")

    monkeypatch.setattr(pl, "maintain_warehouse", boom)
    q = ingest.stream_pipeline_appends(
        spark, in_dir, cfg, str(tmp_path / "ckpt"),
        max_files_per_trigger=8, maintain_every=1)
    q.awaitTermination(300)  # raises if the query died on the failure

    sigs = spark.read.parquet(wh + "/signatures").groupBy("image_id").count()
    assert sigs.filter("count > 1").count() == 0  # appended exactly once
    assert sigs.count() == 40
    images.unpersist()
