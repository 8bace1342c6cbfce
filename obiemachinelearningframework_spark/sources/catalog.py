"""Checkpointed stage catalog with per-partition lineage + metrics.

North-rule requirement: every stage checkpoints so the job resumes
idempotently, with per-partition lineage and extraction metrics recorded
alongside. On a production cluster each commit is an Iceberg snapshot
commit (snapshot isolation gives resume + time travel for free), which
records data files where they already are; this sandbox has no Iceberg
runtime, so the catalog emulates the same contract over parquet:

    <path>/...                         the stage data (optionally
                                       partitioned): ``<base>/<stage>/data``
                                       for ``write``, or any directory the
                                       caller already wrote, committed in
                                       place by ``commit`` (no copy)
    <base>/<stage>/_MANIFEST.json      path + schema + row count +
                                       partition_by + user meta;
                                       existence == stage committed
    <base>/<stage>/_lineage/...        one row per data file:
                                       (file, rows, stage)
    <base>/_metrics.jsonl              append-only metrics log

Resume = ``exists()`` checks the manifest; an interrupted write leaves no
manifest, so the stage re-runs — same idempotence contract as an Iceberg
snapshot commit. ``read()`` follows the manifest's recorded path, and
``verify()`` checks that the data there still is what was committed. The
reference's analog is its Java-serialized corpus / model files
(``corpus/BigramCorpusProvider.java:116-131``,
``scorer/LibLinearScorer.java:93-105``) which have no lineage or
atomicity; this is the part the north rule adds beyond the reference.
"""

from __future__ import annotations

import json
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def _location(path: str) -> str:
    """The canonical form of a data path, as manifests record it: local
    paths absolute, URIs as given without a trailing slash."""
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


class Checkpointer:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")
        os.makedirs(self.base, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return f"{self.base}/{stage}"

    def _manifest(self, stage: str) -> str:
        return f"{self._dir(stage)}/_MANIFEST.json"

    def exists(self, stage: str) -> bool:
        return os.path.exists(self._manifest(stage))

    def write(self, stage: str, df: DataFrame, partition_by: list[str] | None = None,
              meta: dict | None = None) -> DataFrame:
        """Write stage output to ``<base>/<stage>/data`` and commit it there.
        Returns the re-read DataFrame so downstream stages cut lineage at
        the checkpoint."""
        data = f"{self._dir(stage)}/data"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data)
        self.commit(stage, data, partition_by=partition_by, meta=meta)
        return self.read(stage)

    def commit(self, stage: str, path: str, partition_by: list[str] | None = None,
               meta: dict | None = None) -> dict:
        """Commit the data already at ``path`` as ``stage``, in place: write
        its lineage, then the manifest (manifest last = atomic commit
        point). The data is scanned once, by the lineage job; the row count
        is summed on the driver from the small lineage output, which lives
        under ``base`` like the manifest. Returns the manifest."""
        path = _location(path)
        data = self.spark.read.parquet(path)
        lineage = f"{self._dir(stage)}/_lineage"
        (
            data.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("stage", F.lit(stage))
            .write.mode("overwrite").parquet(lineage)
        )
        rows = pc.sum(pq.read_table(lineage, columns=["rows"])["rows"]).as_py() or 0

        manifest = {
            "stage": stage,
            "path": path,
            "rows": rows,
            "schema": data.schema.jsonValue(),
            "partition_by": partition_by or [],
            "meta": meta or {},
        }
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(stage))
        return manifest

    def read(self, stage: str) -> DataFrame:
        """The committed data, read at the manifest's recorded path with its
        recorded schema."""
        if not self.exists(stage):
            raise RuntimeError(f"stage {stage} not committed")
        m = self.manifest(stage)
        return self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(m["path"])

    def verify(self, stage: str, path: str) -> int:
        """Check that ``stage`` is committed at ``path`` and that the data
        there still holds the committed row count; returns that count.
        Raises when the manifest records no path or another one, or when
        the data was deleted or changed size since the commit."""
        m = self.manifest(stage)
        if "path" not in m:
            raise RuntimeError(
                f"committed {stage} manifest records no data path — refusing "
                f"to resume without knowing where the committed data lives")
        if m["path"] != _location(path):
            raise RuntimeError(
                f"{stage} is committed at {m['path']}, not at {_location(path)}")
        try:
            n = self.read(stage).count()
        except AnalysisException as e:
            raise RuntimeError(
                f"committed {stage} data at {m['path']} can no longer be read") from e
        if n != m["rows"]:
            raise RuntimeError(
                f"committed {stage} data at {m['path']} holds {n} rows, "
                f"the manifest committed {m['rows']}")
        return n

    def manifest(self, stage: str) -> dict:
        with open(self._manifest(stage)) as f:
            return json.load(f)

    def get_or_compute(self, stage: str, compute, partition_by=None, meta=None) -> DataFrame:
        """Idempotent stage execution: reuse the committed checkpoint or run
        ``compute()`` and commit it."""
        if self.exists(stage):
            return self.read(stage)
        return self.write(stage, compute(), partition_by=partition_by, meta=meta)

    def log_metrics(self, stage: str, metrics: dict) -> None:
        with open(f"{self.base}/_metrics.jsonl", "a") as f:
            f.write(json.dumps({"stage": stage, **metrics}) + "\n")

    def stage_metrics(self, stage: str) -> dict:
        """Latest metrics record logged for a stage ({} when none)."""
        path = f"{self.base}/_metrics.jsonl"
        out: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("stage") == stage:
                        out = rec
        return out
