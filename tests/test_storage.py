"""Storage shim: parquet fallback semantics (Iceberg jars absent here)."""

import os

from dupers_spark.sources.storage import StageStore, iceberg_available


def test_fallback_write_read_overwrite(spark, tmp_path):
    store = StageStore(spark, str(tmp_path))
    assert not store.exists("t1")
    df = spark.range(10).selectExpr("id", "id % 3 AS k")
    store.write("t1", df)
    assert store.exists("t1")
    assert store.read("t1").count() == 10
    # overwrite replaces atomically (staged swap)
    store.write("t1", spark.range(3).selectExpr("id", "id AS k"))
    assert store.read("t1").count() == 3
    assert not os.path.exists(store.path("t1") + ".staging")
    store.drop("t1")
    assert not store.exists("t1")


def test_partitioned_layout(spark, tmp_path):
    store = StageStore(spark, str(tmp_path))
    df = spark.range(20).selectExpr("id", "concat('b', id % 2) AS bucket")
    store.write("t2", df, partition_by=["bucket"])
    dirs = {d for d in os.listdir(store.path("t2")) if d.startswith("bucket=")}
    assert dirs == {"bucket=b0", "bucket=b1"}  # Iceberg identity layout
    assert store.read("t2").count() == 20


def test_iceberg_probe_is_honest(spark):
    # this container ships no Iceberg jars: the probe must say so (and the
    # store must have selected the parquet path)
    assert iceberg_available(spark) is False


def test_heal_restores_backup_after_crash_window(spark, tmp_path):
    """Crash between rename(final, .old) and rename(.staging, final): the
    only complete copy is .old — read/exists/write must restore it (and a
    subsequent write must not delete the backup before replacing it)."""
    store = StageStore(spark, str(tmp_path))
    store.write("t4", spark.range(7).selectExpr("id"))
    final = store.path("t4")
    os.rename(final, final + ".old")
    os.makedirs(final + ".staging")  # unverified leftover from the crash
    assert store.exists("t4")        # probe heals
    assert store.read("t4").count() == 7
    assert not os.path.exists(final + ".old")
    assert not os.path.exists(final + ".staging")
    # same crash state, then a write: backup must survive into the swap
    os.rename(final, final + ".old")
    store.write("t4", spark.range(2).selectExpr("id"))
    assert store.read("t4").count() == 2
    assert not os.path.exists(final + ".old")


def test_iceberg_branch_is_wired(spark, tmp_path):
    """The Iceberg write path can't fully run here (no jars), but the
    branch must at least be exercised to Spark's writeTo call: with the
    probe forced on, identifiers resolve and the failure comes from the
    MISSING CATALOG, not from our code path. jobs/iceberg_smoke.py runs
    the same five ops for real on a jar-equipped cluster."""
    import pytest
    from py4j.protocol import Py4JError
    from pyspark.errors import AnalysisException

    store = StageStore(spark, "/tmp/never_written", catalog="lake",
                       namespace="ns")
    assert store.use_iceberg is False  # honest probe in this sandbox
    store.use_iceberg = True           # force the branch
    assert store._ident("sigs") == "lake.ns.sigs"
    with pytest.raises((AnalysisException, Py4JError)):
        store.write("sigs", spark.range(3))


def test_iceberg_smoke_script_parquet_fallback(spark, tmp_path):
    """The cluster-side smoke script's operation sequence, run in-process
    against the parquet fallback (same code path the script takes here)."""
    store = StageStore(spark, str(tmp_path / "smoke_wh"))
    df = spark.range(10).selectExpr("id", "concat('b', id % 2) AS bucket")
    store.write("smoke", df)
    assert store.read("smoke").count() == 10
    store.write("smoke", df.limit(3))
    assert store.read("smoke").count() == 3
    store.write("smoke_p", df, partition_by=["bucket"])
    parts = sorted(r[0] for r in store.read("smoke_p")
                   .select("bucket").distinct().collect())
    assert parts == ["b0", "b1"]
    store.drop("smoke")
    store.drop("smoke_p")
    assert not store.exists("smoke") and not store.exists("smoke_p")


def test_iceberg_smoke_real_jars(spark, tmp_path):
    """The REAL Iceberg branch, end-to-end, when the runtime ships the jars
    (a jar-equipped cluster): CI twin of jobs/iceberg_smoke.py, so no code
    path is exercised only by a script. Skips with a reason in this sandbox
    (no Iceberg jars baked in — see test_iceberg_probe_is_honest).

    Covers the four StageStore ops over an Iceberg catalog plus the two
    properties the pipeline relies on for its bucket-index stages:
    snapshot APPEND (the incremental-`up` write) and partition PRUNING of
    a kb-partitioned read (a filtered scan must read a strict subset of
    the table's files)."""
    import pytest

    if not iceberg_available(spark):
        pytest.skip("Iceberg jars absent in this runtime; the Iceberg "
                    "branch is exercised by jobs/iceberg_smoke.py on a "
                    "jar-equipped cluster")
    catalog = "lake_test"
    if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
        try:  # hadoop catalog needs no external service — conf-only setup
            spark.conf.set(f"spark.sql.catalog.{catalog}",
                           "org.apache.iceberg.spark.SparkCatalog")
            spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
            spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse",
                           str(tmp_path / "iceberg_wh"))
        except Exception:
            pytest.skip("Iceberg jars present but catalog confs are "
                        "immutable in this session; run "
                        "jobs/iceberg_smoke.py via spark-submit instead")
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.smoke")
    store = StageStore(spark, str(tmp_path / "unused"), catalog=catalog,
                       namespace="smoke")
    assert store.use_iceberg is True

    df = spark.range(40).selectExpr("id", "concat('kb', id % 4) AS kb")
    store.write("buckets", df, partition_by=["kb"])
    assert store.read("buckets").count() == 40
    # snapshot append = the incremental-`up` write
    store.append("buckets", df.limit(4), partition_by=["kb"])
    assert store.read("buckets").count() == 44
    # partition pruning: a kb-filtered scan reads a strict subset of files
    all_files = set(store.read("buckets").inputFiles())
    one_kb = set(store.read("buckets").filter("kb = 'kb1'").inputFiles())
    assert one_kb and one_kb < all_files
    store.write("buckets", df.limit(3))  # snapshot replace
    assert store.read("buckets").count() == 3
    store.drop("buckets")
    assert not store.exists("buckets")
