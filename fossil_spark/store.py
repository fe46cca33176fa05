"""EventStore — the fossil data model on distributed storage.

The reference stores datum as fixed-width segments with per-segment
head times and an in-memory topic map (/root/reference/pkg/database/
segment.go, db.go). That design is single-node; the Spark-native
equivalent is a date-partitioned parquet layout:

    <root>/date=YYYY-MM-DD/part-*.parquet     columns: time, topic, value

  (timestamp, string, string: `append()` casts to these types)

- `since/before/between` read only the date partitions their window
  covers: the driver lists the root's `date=` directories once, keeps
  the dates inside the window and hands Spark just those paths with
  the store's fixed schema, so no listing job and no footer read runs
  (`EventStore._read_pruned`). Inside a partition, row-group min/max
  stats on `time` skip the rest — the same effect as the reference's
  binary search over segment head times. Unbounded queries, URI roots
  and roots written by a file sink (`_spark_metadata`) read the whole
  root instead.
- `topic` is a column with parquet dictionary encoding + min/max
  stats; topic-prefix filters push down into the scan.
- Appends are atomic new files (Spark append mode); no WAL needed
  because parquet commits are all-or-nothing per job.
"""

from __future__ import annotations

import json
import os
import re
from datetime import date, datetime, timezone
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fossil_spark.fql import ast

STORE_COLUMNS = ("time", "topic", "value")
# What append() writes: the columns plus the `date` partition column.
# Reading with it fixed spares Spark a footer read to infer it.
STORE_SCHEMA = "time timestamp, topic string, value string, date date"

_DATE_DIR = re.compile(r"date=(\d{4}-\d{2}-\d{2})")


def list_partitions(root: str) -> list[tuple[str, date | None]]:
    """The `date=` directories under a local store root, sorted, each
    with its date — None when the name is not a YYYY-MM-DD date
    (`__HIVE_DEFAULT_PARTITION__` holds the null-time rows). Empty when
    the root does not exist."""
    try:
        with os.scandir(root) as it:
            names = sorted(e.name for e in it if e.name.startswith("date=") and e.is_dir())
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        m = _DATE_DIR.fullmatch(name)
        try:
            day = date.fromisoformat(m.group(1)) if m else None
        except ValueError:  # e.g. date=2024-02-30
            day = None
        out.append((name, day))
    return out


class EventStore:
    """A fossil-style topic/time event store backed by partitioned parquet.

    Command parity with the reference CLI (docs/cli.md):
      APPEND -> append()       QUERY -> query() via FQL
      LIST topics -> topics()  STATS -> stats()
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # (sidecar version, TopicRegistry): APPEND and QUERY consult
        # the registry per request and must not re-read JSON each time
        self._registry_cache: tuple[tuple[int, int] | None, object] | None = None

    # -- topic schemas (CREATE <topic> <schema> — docs/schema.md) ----------
    @property
    def _schema_path(self) -> str:
        return os.path.join(self.root, "_schemas.json")

    def _read_schemas(self):
        """The sidecar's topic -> schema text map, in declaration order
        (the order a registry must be rebuilt in), and its registry."""
        from fossil_spark.schema import TopicRegistry

        try:
            with open(self._schema_path) as f:
                schemas = json.load(f)
        except FileNotFoundError:
            schemas = {}
        reg = TopicRegistry()
        for topic, text in schemas.items():
            reg.set(topic, text)
        return schemas, reg

    def _load_registry(self):
        """The topic registry, re-read only when the sidecar changed
        (another EventStore or process may have written it). set_schema
        swaps in a new file, whose inode differs from the one it
        replaces even when both writes land in one mtime tick."""
        try:
            st = os.stat(self._schema_path)
            version = (st.st_ino, st.st_mtime_ns)
        except FileNotFoundError:
            version = None
        if self._registry_cache is None or self._registry_cache[0] != version:
            self._registry_cache = (version, self._read_schemas()[1])
        return self._registry_cache[1]

    def set_schema(self, topic: str, schema_text: str) -> None:
        """Declare a topic schema (validated against the hierarchy
        rules — conflicting sub-topic schemas are rejected, mirroring
        db.go AddTopic + parentSchema). Persisted as a store sidecar."""
        schemas, reg = self._read_schemas()
        reg.set(topic, schema_text)  # raises on conflict
        schemas[topic] = schema_text
        os.makedirs(self.root, exist_ok=True)
        tmp = self._schema_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(schemas, f, indent=1)
        os.replace(tmp, self._schema_path)
        self._registry_cache = None  # the next lookup reads the new file

    def schema_for_topic(self, topic: str):
        """Effective schema for a topic (nearest ancestor, default
        string — db.go:414 SchemaForTopic)."""
        return self._load_registry().get(topic)

    # -- APPEND ------------------------------------------------------------
    def append(self, df: DataFrame, topic_col: str = "topic",
               time_col: str = "time", value_col: str = "value") -> None:
        # cast to STORE_SCHEMA: bounded queries read with it fixed, and
        # a parquet column of another type (say a double value) fails it
        out = df.select(
            F.col(time_col).cast("timestamp").alias("time"),
            F.col(topic_col).cast("string").alias("topic"),
            F.col(value_col).cast("string").alias("value"),
        ).withColumn("date", F.to_date("time"))
        # zstd: ~30-50% smaller than snappy at similar decode speed —
        # at 100 TB the scan is bandwidth-bound, so ratio wins.
        # sortWithinPartitions keeps each written file's (topic, time)
        # min/max stats tight so topic/time scans skip row groups;
        # compact() preserves the property for merged files.
        out.sortWithinPartitions("date", "topic", "time") \
            .write.mode("append").option("compression", "zstd") \
            .partitionBy("date").parquet(self.root)

    def append_rows(self, rows: list[tuple[datetime, str, str]]) -> None:
        """Small-batch append (the CLI `append <topic> <data>` path).
        Datum not conforming to the topic's declared schema are
        rejected (db.go:486: append-time validation)."""
        from fossil_spark.schema import SchemaError, validate

        df = self.spark.createDataFrame(rows, "time timestamp, topic string, value string")
        if os.path.exists(self._schema_path):
            reg = self._load_registry()
            topics = {t for _, t, _ in rows}
            for t in sorted(topics):
                schema = reg.get(t)
                if schema.text == "string":
                    continue
                part = validate(df.filter(F.col("topic") == t), schema)
                bad = part.filter(~F.col("valid")).select("value").limit(1).collect()
                if bad:
                    raise SchemaError(
                        f"datum {bad[0]['value']!r} does not conform to topic "
                        f"{t!r} schema {schema.text!r}"
                    )
        self.append(df)

    def query_typed(self, query: ast.Query | str, topic: str,
                    now: datetime | None = None) -> DataFrame:
        """Query a topic subtree with its declared schema applied: the
        raw string datum parses into the schema's Spark type before the
        FQL pipeline runs, so arithmetic is properly typed (the
        reference's MakeFromEntry path, types/value.go:98)."""
        from fossil_spark.fql import compile_query
        from fossil_spark.schema import validate

        schema = self.schema_for_topic(topic)
        q, now, src = self._read_pruned(query, now)
        src = src.filter(F.col("topic").startswith(topic))
        if schema.text != "string":
            src = (
                validate(src, schema)
                .filter(F.col("valid"))
                .select("time", "topic", F.col("parsed").alias("value"))
            )
        return compile_query(q, src, now=now)

    # -- read / QUERY --------------------------------------------------------
    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.root).select(*STORE_COLUMNS)

    def _read_pruned(self, query: ast.Query | str, now: datetime | None
                     ) -> tuple[ast.Query, datetime, DataFrame]:
        """Store scan limited to the date partitions the query's time
        window covers — the distributed analogue of the reference's
        per-segment head-time binary search (db.go:554 Retrieve).

        A bounded window lists the root's `date=` directories once on
        the driver and reads only those inside it, with STORE_SCHEMA
        fixed: Spark lists up to 32 paths on the driver, without a job,
        and needs no footer to infer the schema. The redundant `date`
        bounds stay as PartitionFilters. The whole root is read (and
        listed by Spark) when the query is unbounded, when the root is
        a URI, and when it holds `_spark_metadata`: a file sink's
        commit log, not the directory listing, says which files exist
        there. No listing is kept between queries, so appended and
        compacted partitions show on the next one.

        Returns the parsed query and the `now` it was pruned with, which
        compilation must share: a query straddling midnight could
        otherwise miss the new day's partition."""
        from fossil_spark.fql import parse
        from fossil_spark.fql.compiler import time_bounds

        q = parse(query) if isinstance(query, str) else query
        now = now or datetime.now(timezone.utc)
        lo, hi = time_bounds(q, now=now)
        lo_day = lo.date() if lo is not None else None
        hi_day = hi.date() if hi is not None else None
        if (lo is None and hi is None) or urlparse(self.root).scheme \
                or os.path.isdir(os.path.join(self.root, "_spark_metadata")):
            src = self.spark.read.parquet(self.root)
        else:
            paths = [
                os.path.join(self.root, name)
                for name, day in list_partitions(self.root)
                if day is not None
                and (lo_day is None or lo_day <= day)
                and (hi_day is None or day <= hi_day)
            ]
            src = (self.spark.read.schema(STORE_SCHEMA)
                   .option("basePath", self.root).parquet(*paths))
        if lo_day is not None:
            src = src.filter(F.col("date") >= F.lit(lo_day))
        if hi_day is not None:
            src = src.filter(F.col("date") <= F.lit(hi_day))
        return q, now, src.select(*STORE_COLUMNS)

    def query(self, query: ast.Query | str, now: datetime | None = None) -> DataFrame:
        from fossil_spark.fql import compile_query

        q, now, src = self._read_pruned(query, now)
        return compile_query(q, src, now=now)

    def save_bucketed(
        self,
        table: str,
        path: str,
        key: str = "topic",
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Materialize the store as a Hive-bucketed catalog table so
        entity-keyed joins and aggregations plan WITHOUT an Exchange
        (fossil_spark.bucketing — pay the shuffle once at write time).

        The date-partitioned layout serves the time axis (partition
        pruning); this serves the other recurring 100 TB cost: every
        topic/entity-keyed join re-shuffling the fact table. Read it
        back with bucketing.read_bucketed (THROUGH the catalog — a
        path read silently drops the bucket spec). Within each bucket
        file rows sort by (key, time) by default, keeping the
        co-located join's sort a no-op and time row-group stats
        tight."""
        from fossil_spark.bucketing import save_bucketed as _save

        _save(
            self.read(), table, path, key, n_buckets,
            sort_cols=sort_cols if sort_cols is not None else [key, "time"],
        )

    def sql(self, statement: str, view_name: str = "store") -> DataFrame:
        """Full ANSI SQL over the store (the engine is Spark, so SQL
        comes for free alongside FQL): the store is exposed as a temp
        view named `view_name`."""
        self.read().createOrReplaceTempView(view_name)
        return self.spark.sql(statement)

    # -- LIST topics ---------------------------------------------------------
    def topics(self) -> DataFrame:
        return self.read().select("topic").distinct().orderBy("topic")

    # -- STATS ---------------------------------------------------------------
    def stats(self) -> DataFrame:
        return (
            self.read()
            .groupBy("topic")
            .agg(
                F.count("*").alias("n"),
                F.min("time").alias("first_time"),
                F.max("time").alias("last_time"),
            )
            .orderBy("topic")
        )


def events_store_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's `events` table to the store contract:
    (time, topic, value) with hierarchical topics /events/<type>."""
    from fossil_spark.session import read_table

    return (
        read_table(spark, sf_dir, "events")
        .select(
            F.col("ts").alias("time"),
            F.concat(F.lit("/events/"), F.col("event_type")).alias("topic"),
            F.col("value").alias("value"),
        )
    )


# Deterministic "now" used by the registered queries so Spark and the
# DuckDB oracle resolve ~now identically (test data spans Jan 2024).
FIXED_NOW = datetime(2024, 2, 1, tzinfo=timezone.utc)
