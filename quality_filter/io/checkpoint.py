"""Partition-level checkpoint manifest + resume.

north_star: "resumes from a partition-level checkpoint manifest so a
killed run replays only incomplete splits."  A split = one warc_dt day
partition.  The manifest is a JSON-lines file, one record per completed
split.

One run = one Spark write job over every pending split: the scoring plan
is built once over the pages filtered to the pending splits (a partition
filter, so scan pruning still applies) and written with
``partitionBy(warc_dt)`` under per-write dynamic partition overwrite —
each pending split's ``{output}/warc_dt=<day>/`` is replaced, completed
splits' dirs are never touched.  The records of all the run's splits are
appended in one atomic manifest rewrite (tmp + rename) AFTER the job
commits.  The replay unit is therefore the run's pending set: a crash
before the manifest rewrite replays those splits, and since the output
commit is idempotent per partition the replay converges to the same
output.  A split is complete only once its record exists.

Each manifest record doubles as the per-partition lineage/metrics row
(the processing_time_ms + version envelope analog,
/root/reference/app/pydantic_models.py:90-106).  The per-split status
counts come from ONE observe() on the rows the write consumes (one
conditional sum per (split, status)), not from a scan per split;
``wall_sec`` is the job's wall time, shared by every split it wrote.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from quality_filter import __version__
from quality_filter.config import DEFAULT_ARTIFACT_DIR, RuleConfig
from quality_filter.io.pages import PARTITION_COL, read_pages, with_partition_col
from quality_filter.pipeline import tiered_scored

STATUSES = ("keep", "drop", "quarantine")


class Manifest:
    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed_splits(self) -> set[str]:
        return {r["split"] for r in self.records()}

    def mark_done(self, *records: dict) -> None:
        """Atomic append of one or more records: rewrite to tmp, rename
        over."""
        recs = self.records() + list(records)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for r in recs:
                f.write(json.dumps(r, sort_keys=True) + "\n")
        os.replace(tmp, self.path)


def list_splits(spark: SparkSession, input_path: str) -> list[str]:
    """Distinct day partitions of the input.  On the hive/Iceberg layout
    this is metadata-only (partition pruning / listing), not a data scan."""
    df = read_pages(spark, input_path)
    if PARTITION_COL in df.columns:
        col = F.col(PARTITION_COL).cast("string")
    else:
        col = F.to_date("warc_ts").cast("string")
    return sorted(
        r[0] for r in df.select(col.alias("s")).distinct().collect() if r[0] is not None
    )


def run_with_resume(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    cfg: RuleConfig | None = None,
    artifact_dir: str = DEFAULT_ARTIFACT_DIR,
) -> dict:
    """Process every pending day split in one write job; skip completed
    ones.  Returns a run summary.  Output layout: ``{output}/warc_dt=<day>/``
    parquet with the scored schema (status column included → downstream
    partition filters)."""
    manifest = Manifest(manifest_path)
    done = manifest.completed_splits()
    splits = list_splits(spark, input_path)
    pending = [s for s in splits if s not in done]
    if pending:
        t0 = time.perf_counter()
        pages = read_pages(spark, input_path)
        if PARTITION_COL not in pages.columns:
            pages = with_partition_col(pages)
        part = pages.filter(F.col(PARTITION_COL).isin(pending))
        # the split key of each output row is the table's own partition
        # transform over the scored warc_ts — the same expression that laid
        # out the input, so a row lands in the dir of the split it came from
        scored = with_partition_col(tiered_scored(part, cfg, artifact_dir))

        # lineage via observe(): metrics are collected ON the rows the
        # write consumes — same numbers as re-reading the committed
        # output, without a second read of the sink
        obs = Observation()
        observed = scored.observe(
            obs,
            *[
                F.sum(
                    F.when((F.col(PARTITION_COL) == s) & (F.col("status") == st), 1)
                    .otherwise(0)
                ).alias(f"{s}/{st}")
                for s in pending
                for st in STATUSES
            ],
        )
        (
            observed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL)
            .parquet(output_path)
        )
        metrics = obs.get  # blocks until the write action finishes
        wall_sec = round(time.perf_counter() - t0, 3)
        records = []
        for s in pending:
            by_status = {
                st: int(metrics[f"{s}/{st}"]) for st in STATUSES if metrics[f"{s}/{st}"]
            }
            records.append({
                "split": s,
                "rows_out": sum(by_status.values()),
                "by_status": by_status,
                "wall_sec": wall_sec,
                "engine_version": __version__,
                "input": input_path,
            })
        manifest.mark_done(*records)

    return {
        "splits_total": len(splits),
        "splits_skipped": len(splits) - len(pending),
        "splits_processed": pending,
    }


def partition_lineage(scored: DataFrame) -> DataFrame:
    """Per-Spark-partition metric rows (TaskContext-level lineage):
    partition id → rows per status.  Declarative, exact."""
    return (
        scored.groupBy(
            F.spark_partition_id().alias("partition_id"), "status"
        ).agg(F.count(F.lit(1)).alias("n_rows"))
    )
