"""Seeded input generators for the benchmark.

Everything the program receives is made here from the run's seed: the
event store the wire server serves (written straight in the store's
date-partitioned parquet layout), the FQL query texts with a SQL twin
for each, the ingest plan of the mixed workload, and the TPC-H-shaped
tables the batch keys read. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- wire store ---------------------------------------------------------

STORE_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
STORE_DAYS = 60
SITES, SENSORS = 8, 8
METRICS = ("temp", "hum", "power", "co2")
TOPICS = [f"/site{s}/sensor{m}/{k}" for s in range(SITES)
          for m in range(SENSORS) for k in METRICS]
US_PER_HOUR = 3_600_000_000


def _zipf_p(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write_store(root: str, seed: int, n_rows: int) -> int:
    """Write `n_rows` datum over STORE_DAYS daily partitions as
    <root>/date=YYYY-MM-DD/part-0.parquet (time, topic, value), each
    file sorted by (topic, time) like EventStore.append. Times are
    distinct, so every FQL ordering and sample bucket is unambiguous.
    Returns the user bytes written (topic + value text per datum)."""
    rng = np.random.default_rng([seed, 1])
    span_us = STORE_DAYS * 24 * US_PER_HOUR
    step = span_us // n_rows
    t_us = np.arange(n_rows, dtype=np.int64) * step + rng.integers(0, step, n_rows)
    topic_idx = rng.integers(0, len(TOPICS), n_rows)
    metric = topic_idx % len(METRICS)
    centre = np.array([22.0, 55.0, 800.0, 600.0])[metric]
    spread = np.array([6.0, 15.0, 300.0, 150.0])[metric]
    values = np.round(centre + spread * rng.standard_normal(n_rows), 2)
    value_txt = pc.cast(pa.array(values), pa.string())
    topics = pa.array(TOPICS, pa.string()).take(pa.array(topic_idx))
    start_us = int(STORE_START.timestamp() * 1_000_000)
    times = pa.array(t_us + start_us, pa.timestamp("us", tz="UTC"))
    table = pa.table({"time": times, "topic": topics, "value": value_txt})
    day = t_us // (24 * US_PER_HOUR)
    bounds = np.searchsorted(day, np.arange(STORE_DAYS + 1))
    for d in range(STORE_DAYS):
        part = table.slice(bounds[d], bounds[d + 1] - bounds[d])
        part = part.sort_by([("topic", "ascending"), ("time", "ascending")])
        date = (STORE_START + timedelta(days=d)).strftime("%Y-%m-%d")
        os.makedirs(os.path.join(root, f"date={date}"), exist_ok=True)
        pq.write_table(part, os.path.join(root, f"date={date}", "part-0.parquet"),
                       compression="zstd")
    return int(pc.sum(pc.binary_length(topics)).as_py()
               + pc.sum(pc.binary_length(value_txt)).as_py())


# --- query texts --------------------------------------------------------

@dataclass(frozen=True)
class QuerySpec:
    """One generated QUERY: its FQL text plus what the SQL twin needs."""

    prefix: str | None
    lo: datetime
    hi: datetime | None  # None: `since`, open to ~now
    sample_us: int | None
    stage: str  # raw | filter | map | avg | count

    @property
    def fql(self) -> str:
        quant = "all"
        if self.sample_us:
            minutes = self.sample_us // 60_000_000
            quant = "sample(@hour)" if minutes == 60 else f"sample(@minute * {minutes})"
        parts = [quant]
        if self.prefix:
            parts.append(f"in {self.prefix}")
        if self.hi is None:
            parts.append(f"since ~({_ts(self.lo)})")
        else:
            parts.append(f"between ~({_ts(self.lo)}), ~({_ts(self.hi)})")
        return " ".join(parts) + _STAGE_FQL[self.stage]


_STAGE_FQL = {
    "raw": "",
    "filter": " | filter x -> x > 40",
    "map": " | map x -> x * 1.8 + 32",
    "avg": " | map x -> 1, x | reduce a, b -> a[0] + b[0], a[1] + b[1]"
           " | map c, s -> s / c",
    "count": " | map x -> 1 | reduce a, b -> a + b",
}


def _ts(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


# rows per topic per hour in a store of n_rows
def _rate(n_rows: int) -> float:
    return n_rows / len(TOPICS) / (STORE_DAYS * 24)


# One block of 20 queries holds exactly these shares; each block pairs
# them up in its own seeded order. Every run thus sees the same mix of
# subtree depths, window lengths, stages and decimation, and only the
# topics, times and pairings change with the seed.
_BLOCK = {
    "depth": [0] * 2 + [1] * 6 + [2] * 6 + [3] * 6,
    "hours": [1] * 4 + [6] * 6 + [24] * 5 + [72] * 3 + [168] * 2,
    "stage": ["raw"] * 5 + ["filter"] * 4 + ["map"] * 4 + ["avg"] * 4 + ["count"] * 3,
    "sample_min": [10] * 2 + [60] * 2 + [0] * 16,
}


def make_queries(seed: int, n: int, n_rows: int, max_rows: int = 8000) -> list[QuerySpec]:
    """Seeded query texts over the store of `write_store`:
    topic-subtree depth 0-3 with Zipf-skewed popularity of sites,
    sensors and metrics; absolute since/between windows whose end is
    biased to the most recent days (the daemon has no ~now pin); and
    a stage of raw / filter / map / avg / count, some under sample(Δ),
    in the fixed shares of _BLOCK. Stages that would dump more than
    `max_rows` entries become aggregates or sampled dumps, so every
    response stays well under the server's row cap."""
    rng = np.random.default_rng([seed, 2])
    p_site, p_sensor, p_metric = _zipf_p(SITES), _zipf_p(SENSORS), _zipf_p(len(METRICS))
    rate = _rate(n_rows)
    out = []
    while len(out) < n:
        block = {k: rng.permutation(v) for k, v in _BLOCK.items()}
        for depth, hours, stage, sample_min in zip(*block.values()):
            depth, hours, stage = int(depth), int(hours), str(stage)
            parts = [f"site{rng.choice(SITES, p=p_site)}",
                     f"sensor{rng.choice(SENSORS, p=p_sensor)}",
                     METRICS[rng.choice(len(METRICS), p=p_metric)]][:depth]
            prefix = "/" + "/".join(parts) if parts else None
            n_topics = len(TOPICS) // (1, SITES, SITES * SENSORS, len(TOPICS))[depth]
            back_days = min(int(rng.geometric(0.3)) - 1, STORE_DAYS - 8)
            end = STORE_START + timedelta(days=STORE_DAYS - back_days)
            end -= timedelta(hours=int(rng.integers(0, 24)))
            lo = end - timedelta(hours=hours)
            hi = None if back_days == 0 and rng.random() < 0.5 else end
            sample_us = int(sample_min) * 60_000_000 or None
            window_h = hours if hi is not None else (
                STORE_START + timedelta(days=STORE_DAYS) - lo).total_seconds() / 3600
            est = rate * n_topics * window_h
            if sample_us:
                est = min(est, window_h * US_PER_HOUR / sample_us)
            if stage in ("raw", "filter", "map") and est > max_rows:
                if rng.random() < 0.5:
                    stage = "avg"
                else:
                    sample_us = 60 * 60_000_000
            out.append(QuerySpec(prefix, lo, hi, sample_us, stage))
    return out[:n]


def query_sql(spec: QuerySpec, table: str = "store") -> str:
    """DuckDB twin of one QuerySpec, producing (time, topic, value) in
    the server's response order; aggregates return one `value` row."""
    where = [f"time >= TIMESTAMPTZ '{spec.lo.isoformat()}'"]
    if spec.hi is not None:
        where.append(f"time <= TIMESTAMPTZ '{spec.hi.isoformat()}'")
    if spec.prefix:
        where.append(f"starts_with(topic, '{spec.prefix}')")
    src = f"SELECT time, topic, value FROM {table} WHERE {' AND '.join(where)}"
    if spec.sample_us:
        src = (f"SELECT time, topic, value FROM ({src}) QUALIFY row_number() OVER ("
               f"PARTITION BY epoch_us(time) // {spec.sample_us} "
               f"ORDER BY time, topic) = 1")
    num = "TRY_CAST(value AS DOUBLE)"
    if spec.stage == "raw":
        sel = f"SELECT time, topic, value FROM ({src})"
    elif spec.stage == "filter":
        sel = f"SELECT time, topic, value FROM ({src}) WHERE {num} > 40"
    elif spec.stage == "map":
        sel = f"SELECT time, topic, {num} * 1.8 + 32 AS value FROM ({src})"
    elif spec.stage == "avg":
        return (f"SELECT ROUND(SUM(CAST({num} AS DECIMAL(30, 8))), 4)::DOUBLE"
                f" / SUM(1) AS value FROM ({src})")
    else:  # like the FQL fold, an empty window sums to NULL, not 0
        return f"SELECT SUM(1) AS value FROM ({src})"
    return sel + " ORDER BY time, topic"


# --- mixed-workload ingest plan -----------------------------------------

TYPED_TOPIC = "/ingest/typed"
TYPED_SCHEMA = "int32"


def ingest_plan(seed: int, client: int, n: int) -> list[tuple[str, str]]:
    """(topic, datum text) for appender `client`: 90% to its own string
    topics, 10% to the int32-typed topic. String datum are unique, so a
    read-back proves which acked datum survived."""
    rng = np.random.default_rng([seed, 3, client])
    topics = [f"/ingest/c{client}/s{j}" for j in range(4)]
    pick = rng.integers(0, len(topics), n)
    typed = rng.random(n) < 0.1
    ints = rng.integers(-1000, 1000, n)
    return [
        (TYPED_TOPIC, str(int(ints[i]))) if typed[i]
        else (topics[pick[i]], f"c{client}-{i}-{int(ints[i]) & 0xff:02x}")
        for i in range(n)
    ]


# --- batch tables (sf-shaped, the layout of bench.prep_multirg) ---------

_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "spring"]
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def _dates(rng, lo: datetime, hi: datetime, n: int) -> pa.Array:
    days = (hi - lo).days
    us = int(lo.timestamp() * 1e6) + rng.integers(0, days + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the batch keys read, with the schemas, key ranges
    and value distributions of the shipped sf data: TPC-H-ish star
    schema, a month of events, near-duplicate-bearing documents and
    64-d unit embeddings."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(choices, n):
        return pa.array(choices, pa.string()).take(pa.array(rng.integers(0, len(choices), n)))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a in _ADJ for b in _NOUN]).take(
            pa.array(rng.integers(0, 64, n_part))),
        "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)]).take(
            pa.array(rng.integers(0, 25, n_part))),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _dates(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _dates(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_li)})
    ev_start = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_start + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 15), n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.046:  # near-dup of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centres = rng.standard_normal((10, 64))
    vec = rng.standard_normal((n_emb, 64)) + 0.6 * centres[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_batch_tables(out_dir: str, seed: int, sf: float, splits: dict) -> None:
    """Write each table as <out_dir>/<name>.parquet/part-NNNNN.parquet in
    the multi-file layout of bench.prep_multirg: `splits` maps a table
    to (order column or None, file count); ordered tables are split
    into contiguous ranges of that column so per-file min/max stay
    tight."""
    for name, table in batch_tables(seed, sf).items():
        order_col, n_files = splits.get(name, (None, 1))
        if order_col:
            table = table.sort_by(order_col)
        n_files = max(1, min(n_files, table.num_rows))
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        edges = np.linspace(0, table.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            pq.write_table(table.slice(edges[i], edges[i + 1] - edges[i]),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))
