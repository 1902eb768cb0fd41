"""Table-format seam for checkpointed lineage snapshots.

The pyramid loop and the grid-cluster loop persist one snapshot per level
(resumable lineage, BASELINE.json north rule) through one step, `snapshot`.
The storage format is isolated behind this interface so the same job runs
against plain parquet directories (default, always available) or an Iceberg
catalog (the north star's lakehouse deployment) without touching the plan
code. `guard_fingerprint` keeps a resumed workdir honest: snapshots are
reused only under the options and input that built them.

Selection: `resolve_format(spark)` returns IcebergSnapshotStore when an
Iceberg catalog is configured on the session (spark.sql.catalog.* set and
the runtime jars load), else ParquetSnapshotStore. Override explicitly via
the SPARK_GRAFT_TABLE_FORMAT env var ("parquet" | "iceberg").

At 100 TB the Iceberg path is what you want: per-level snapshots become
table snapshots (time travel = resume points), concurrent writers get
optimistic-commit safety, and compaction/expiry is managed by the catalog
instead of directory juggling. The parquet path keeps the identical
contract (a `_SUCCESS`-marked immutable directory per level) for
environments without a catalog — this sandbox included.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    """One named, immutable snapshot per checkpoint key."""

    def exists(self, name: str) -> bool:
        raise NotImplementedError

    def write(self, df: DataFrame, name: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, name: str, schema) -> DataFrame:
        raise NotImplementedError


class ParquetSnapshotStore(SnapshotStore):
    """Default impl: one parquet directory per snapshot under `root`.

    `_SUCCESS` is the commit marker — a killed write leaves no marker, so
    resume recomputes exactly the unfinished level (tests/test_resume.py)."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(self._path(name))

    def read(self, spark: SparkSession, name: str, schema) -> DataFrame:
        return spark.read.schema(schema).parquet(self._path(name))


class IcebergSnapshotStore(SnapshotStore):
    """Iceberg impl: one table per snapshot under a namespace.

    Snapshot names like "unified/z=04" map to table identifiers
    `<catalog>.<namespace>.unified_z_04`. Commit atomicity comes from the
    catalog (no _SUCCESS marker needed); `exists` is a catalog lookup.
    Requires the iceberg-spark-runtime jars and a configured catalog —
    absent in this sandbox, so this impl is exercised only through its unit
    seam (tests/test_table_format.py) and activates on real deployments."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
        )

    def _ident(self, name: str) -> str:
        safe = name.replace("/", "_").replace("=", "_").replace("-", "_")
        return f"{self.catalog}.{self.namespace}.{safe}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(name))

    def write(self, df: DataFrame, name: str) -> None:
        df.writeTo(self._ident(name)).using("iceberg").createOrReplace()

    def read(self, spark: SparkSession, name: str, schema) -> DataFrame:
        return spark.read.table(self._ident(name))


def _iceberg_catalog(spark: SparkSession) -> Optional[str]:
    """Name of a configured Iceberg catalog on this session, if any."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:  # noqa: BLE001 — connect-mode sessions
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and (
            "iceberg" in v.lower()
        ):
            return k.rsplit(".", 1)[-1]
    return None


def resolve_format(
    spark: SparkSession, root: Optional[str]
) -> Optional[SnapshotStore]:
    """Pick the snapshot store for a checkpoint root (None -> no store:
    callers fall back to localCheckpoint lineage truncation)."""
    if root is None:
        return None
    choice = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "").lower()
    if choice == "iceberg":
        cat = _iceberg_catalog(spark)
        if cat is None:
            raise RuntimeError(
                "SPARK_GRAFT_TABLE_FORMAT=iceberg but no Iceberg catalog is "
                "configured (set spark.sql.catalog.<name> to an Iceberg "
                "catalog impl and add the iceberg-spark-runtime jars)"
            )
        return IcebergSnapshotStore(spark, cat, _namespace_for(root))
    if choice in ("", "auto"):
        cat = _iceberg_catalog(spark)
        if cat is not None:
            return IcebergSnapshotStore(spark, cat, _namespace_for(root))
    return ParquetSnapshotStore(root)


def _namespace_for(root: str) -> str:
    return "ckpt_" + "".join(
        c if c.isalnum() else "_" for c in root.strip("/")
    )


def snapshot(
    df: DataFrame, workdir: Optional[str], name: str, resume: bool
) -> DataFrame:
    """The one per-level lineage checkpoint. With a workdir the level is a
    named snapshot in the configured table format, reused when `resume` is
    set and it exists; without, localCheckpoint truncates lineage."""
    if workdir:
        store = resolve_format(df.sparkSession, workdir)
        if not (resume and store.exists(name)):
            store.write(df, name)
        return store.read(df.sparkSession, name, df.schema)
    return df.localCheckpoint(eager=True)


def guard_fingerprint(
    spark: SparkSession, workdir: str, fingerprint: dict, resume: bool
) -> None:
    """Snapshots are only valid under the options (and input) that built
    them: record `fingerprint` (a JSON-able dict) in the workdir on a fresh
    run and REFUSE to resume under a different one — mixing levels built
    under old options would return a wrong result with no error. Stored as a
    1-row parquet so it works on any Hadoop-compatible filesystem
    (s3/hdfs/local), like the snapshots themselves."""
    from ..model import local_frame

    path = workdir.rstrip("/") + "/_options_fingerprint"

    def record():
        local_frame(spark, [(json.dumps(fingerprint),)], "fp string").write.mode(
            "overwrite"
        ).parquet(path)

    if not resume:
        record()
        return
    try:
        prev = json.loads(spark.read.parquet(path).collect()[0]["fp"])
    except Exception:  # noqa: BLE001 — first run: nothing recorded yet
        record()
        return
    if prev != fingerprint:
        diff = {
            k: (prev.get(k), fingerprint.get(k))
            for k in sorted(prev.keys() | fingerprint.keys())
            if prev.get(k) != fingerprint.get(k)
        }
        raise ValueError(
            f"--workdir {workdir} holds snapshots built under DIFFERENT "
            f"options/input (recorded vs requested: {diff}); resuming would "
            "mix them into a wrong result. Choose a new --workdir."
        )
