"""Storage shim: Iceberg catalog when the runtime has it, parquet-directory
fallback with the identical layout otherwise (SURVEY §7 "What's hard").

The north_star frames stage tables as Iceberg; this sandbox ships no Iceberg
jars, so every write goes through this module and the choice is a runtime
probe, not a code path fork. Semantics kept identical:

  * overwrite = atomic swap (Iceberg: snapshot replace; parquet: staged
    directory rename)
  * a stage "table" is addressed by name under a warehouse root
  * partition columns map to partitionBy directories (identical layout to
    an Iceberg identity-partitioned table)
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable in this session."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — any failure means no Iceberg
        return False


class StageStore:
    """Named stage tables under a warehouse root.

    Iceberg mode uses `<catalog>.<namespace>.<name>` tables; parquet mode
    uses `<warehouse>/<name>` directories. Both expose the same four ops.
    """

    def __init__(self, spark: SparkSession, warehouse: str,
                 catalog: str = "spark_catalog", namespace: str = "dupers"):
        self.spark = spark
        self.warehouse = warehouse
        self.use_iceberg = iceberg_available(spark) and bool(
            spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        )
        self.catalog = catalog
        self.namespace = namespace

    # ------------------------------------------------------------ paths
    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _heal(self, name: str) -> None:
        """Recover from a crash inside the rename-aside window.

        The swap in :meth:`write` has one vulnerable instant: after
        ``rename(final, .old)`` but before ``rename(.staging, final)`` the
        only complete copy of the stage lives in ``.old``. If a crash landed
        there, every subsequent read/resume would fail until a rebuild —
        and the next write would delete the ``.old`` backup before the new
        data had replaced it. Detect "final missing but .old present" and
        restore the backup first; a leftover ``.staging`` from the same
        crash is unverified and discarded.
        """
        final = self.path(name)
        old = final + ".old"
        if not os.path.exists(final) and os.path.exists(old):
            tmp = final + ".staging"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            os.rename(old, final)

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    # ------------------------------------------------------------- ops
    def write(self, name: str, df: DataFrame,
              partition_by: list[str] | None = None) -> None:
        if self.use_iceberg:
            w = df.writeTo(self._ident(name)).using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        # parquet fallback: staged write + rename-aside swap (final → .old,
        # .staging → final, delete .old) — the stage is a complete old or
        # new directory at every instant except the two renames, so a crash
        # fails safe to a rebuild, never a half-written stage (the
        # Iceberg-snapshot-replace equivalent)
        self._heal(name)
        final = self.path(name)
        tmp = final + ".staging"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        old = final + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.exists(old):
            shutil.rmtree(old)

    def append(self, name: str, df: DataFrame,
               partition_by: list[str] | None = None) -> None:
        """Append rows to an existing stage (the incremental-`up` write).

        Iceberg: an atomic snapshot append. Parquet fallback: added files
        in the stage directory — NOT atomic across a crash; an incremental
        pipeline that dies mid-append should rebuild the stage (the
        resume markers are only refreshed after all appends succeed, so a
        crash leaves markers stale and the next run rebuilds).
        """
        if self.use_iceberg:
            df.writeTo(self._ident(name)).append()
            return
        self._heal(name)
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self._ident(name))
        self._heal(name)
        return self.spark.read.parquet(self.path(name))

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(name))
        self._heal(name)
        return os.path.exists(self.path(name))

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        if os.path.exists(self.path(name)):
            shutil.rmtree(self.path(name))
