"""Store maintenance: compaction, retention, and store migration.

The reference maintains its on-disk format with a write-ahead log and
versioned migrations (pkg/database/log.go, migration.go). The
distributed equivalents for a parquet event store:

- compact():   streaming ingest lands many small files per date
  partition; rewrite partitions to target-sized files so scans stay
  bandwidth-bound instead of open()-bound. Partition-at-a-time and
  atomic per partition (write temp, swap), so queries never see a
  half-compacted partition.
- expire():    drop partitions older than a retention horizon —
  pure directory-level deletes, no data rewrite.
- migrate():   copy a store to a new layout/schema version (the
  sanctioned place for column renames/type upgrades).
"""

from __future__ import annotations

import os
import shutil
from datetime import date

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fossil_spark.store import list_partitions


def small_file_report(spark: SparkSession, root: str,
                      small_bytes: int = 8 * 1024 * 1024) -> list[tuple[str, int, int]]:
    """(partition, n_files, n_small_files) per date partition."""
    out = []
    for part, _ in list_partitions(root):
        pdir = os.path.join(root, part)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        small = [
            f for f in files
            if os.path.getsize(os.path.join(pdir, f)) < small_bytes
        ]
        out.append((part, len(files), len(small)))
    return out


def compact(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> list[str]:
    """Rewrite fragmented date partitions into ~target-sized files.
    Returns the partitions compacted. Atomic per partition: the new
    files are written to a sibling temp dir, then swapped in.

    Output files are RANGE-partitioned and sorted on (topic, time):
    each rewritten file covers a narrow topic/time slice, so its
    parquet min/max column stats are tight and a `in /topic since T`
    scan skips whole files and row groups INSIDE a date partition —
    the difference between reading a day and reading a topic-hour at
    100 TB. A round-robin repartition here would scatter every topic
    across every file and quietly forfeit that pruning."""
    compacted = []
    for part, _ in list_partitions(root):
        pdir = os.path.join(root, part)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        if len(files) < min_files:
            continue
        total = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
        n_out = max(1, (total + target_file_bytes - 1) // target_file_bytes)
        df = spark.read.parquet(pdir)
        tmp = pdir + ".compact_tmp"
        (
            df.repartitionByRange(int(n_out), "topic", "time")
            .sortWithinPartitions("topic", "time")
            .write.mode("overwrite").parquet(tmp)
        )
        old = pdir + ".compact_old"
        os.rename(pdir, old)
        os.rename(tmp, pdir)
        shutil.rmtree(old)
        compacted.append(part)
    return compacted


def expire(root: str, older_than: date) -> list[str]:
    """Drop partitions strictly before the horizon (retention).
    Directory-level: no data is read or rewritten. The null-time
    partition and directories whose name is not a date are kept."""
    dropped = []
    for part, day in list_partitions(root):
        if day is not None and day < older_than:
            shutil.rmtree(os.path.join(root, part))
            dropped.append(part)
    return dropped


def migrate(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    transform=None,
) -> int:
    """Copy a store to a new root, optionally transforming rows
    (schema/version migration — reference: pkg/database/migration.go).
    Returns row count migrated."""
    df = spark.read.parquet(src_root).select("time", "topic", "value")
    if transform is not None:
        df = transform(df)
    out = df.withColumn("date", F.to_date("time"))
    out.write.mode("overwrite").partitionBy("date").parquet(dst_root)
    return spark.read.parquet(dst_root).count()
