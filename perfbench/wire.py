"""The two wire workloads: the daemon runs as its own process and one
load-generator process drives it over TCP with a closed loop.

- wire_read: 4 connections send QUERYs over a seeded ~1M-datum store.
- wire_mixed: 3 connections send acked APPENDs while 1 sends QUERYs
  over the topics being written.

The daemon is `python -m fossil_spark serve` with its default flags
`--flush-every 1000 --compact-every 50` stated explicitly; a traced run
starts the same daemon through launcher.py.
"""

from __future__ import annotations

import base64
import json
import os
import socket
import struct
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime

import common
import gen
import spans as spanlib
import sparkui

DAEMON_FLAGS = ["--flush-every", "1000", "--compact-every", "50"]
READ_ROWS = 1_000_000
READ_CLIENTS = 4
APPENDERS = 3
READ_WARMUP_S = 7.0
MIXED_WARMUP_S = 4.0


# --- wire client (framing of docs/server.md) ----------------------------

class Conn:
    """One protocol connection: [u32 len][8-byte command][data]."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rf = self.sock.makefile("rb")

    def call(self, command: str, data: bytes) -> bytes:
        cmd = command.encode().ljust(8, b"\x00")
        self.sock.sendall(struct.pack(">I", 8 + len(data)) + cmd + data)
        head = self.rf.read(4)
        if len(head) < 4:
            raise ConnectionError("connection closed")
        (n,) = struct.unpack(">I", head)
        buf = self.rf.read(n)
        if len(buf) < n:
            raise ConnectionError("connection closed")
        reply = buf[:8].rstrip(b"\x00").decode()
        if reply == "ERR":
            raise RuntimeError(buf[12:].decode(errors="replace"))
        return buf[8:]

    def query(self, text: str) -> list[tuple[str, str, bytes, str]]:
        """(RFC3339 time, topic, datum bytes, schema) per entry."""
        payload = memoryview(self.call("QUERY", text.encode()))
        (count,) = struct.unpack_from(">I", payload, 0)
        off, out = 4, []
        for _ in range(count):
            (n,) = struct.unpack_from(">I", payload, off)
            ts, topic, data, schema = bytes(payload[off + 4:off + 4 + n]).decode().split("\t")
            out.append((ts, topic, base64.b64decode(data), schema))
            off += 4 + n
        return out

    def append(self, topic: str, datum: str) -> None:
        t = topic.encode()
        self.call("APPEND", struct.pack(">I", len(t)) + t + datum.encode())

    def create(self, topic: str, schema: str) -> None:
        t = topic.encode()
        self.call("CREATE", struct.pack(">I", len(t)) + t + schema.encode())

    def close(self) -> None:
        try:  # wakes a thread still blocked reading a reply
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.rf.close()
        self.sock.close()


# --- the daemon process -------------------------------------------------

class Daemon:
    def __init__(self, work: str, data: str, traced: bool):
        self.work, self.data, self.traced = work, data, traced
        self.proc: subprocess.Popen | None = None

    def start(self) -> float:
        """Start the daemon; seconds until it answers VERSION."""
        self.port, self.mport = common.free_port(), common.free_port()
        flags = ["serve", "--data", self.data, "--databases", "default",
                 "--host", "127.0.0.1", "--port", str(self.port),
                 "--metrics-port", str(self.mport), *DAEMON_FLAGS]
        env = common.child_env(self.work)
        if self.traced:
            self.ui_file = os.path.join(self.work, "ui.txt")
            self.span_file = os.path.join(self.work, "spans.json")
            env.update(PERFBENCH_UI_FILE=self.ui_file, PERFBENCH_SPANS=self.span_file)
            cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "launcher.py"), *flags]
        else:
            cmd = [sys.executable, "-m", "fossil_spark", *flags]
        self.log_path = os.path.join(self.work, "daemon.log")
        t0 = time.perf_counter()
        with open(self.log_path, "w") as logf:
            self.proc = common.spawn(cmd, cwd=self.work, env=env,
                                     stdout=logf, stderr=subprocess.STDOUT)
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"daemon exited {self.proc.returncode}: {self.log_tail()}")
            try:
                c = Conn(self.port)
                try:
                    c.call("VERSION", b"v1.0.0")
                    common.log(f"daemon up in {time.perf_counter() - t0:.2f} s")
                    return time.perf_counter() - t0
                finally:
                    c.close()
            except OSError:
                pass
            if time.perf_counter() - t0 > 150:
                raise RuntimeError("daemon did not start within 150 s")
            time.sleep(0.05)

    def log_tail(self) -> str:
        with open(self.log_path, errors="replace") as f:
            return f.read()[-2000:]

    def metrics(self) -> dict[tuple[str, str], float]:
        """/metrics counters as {(name, cmd): value}."""
        url = f"http://127.0.0.1:{self.mport}/metrics"
        with urllib.request.urlopen(url, timeout=30) as r:
            text = r.read().decode()
        out = {}
        for line in text.splitlines():
            if line.startswith("#") or not line.strip():
                continue
            name, value = line.rsplit(" ", 1)
            cmd = name.split('cmd="', 1)[1].split('"', 1)[0] if 'cmd="' in name else ""
            out[(name.split("{", 1)[0], cmd)] = float(value)
        return out

    def ui(self) -> str:
        with open(self.ui_file) as f:
            return f.read().strip()

    def rss_mb(self) -> float:
        return common.peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        if self.proc is not None:
            t0 = time.perf_counter()
            common.stop_process(self.proc)
            self.proc = None
            common.log(f"daemon stopped in {time.perf_counter() - t0:.2f} s")

    def spans(self) -> list[dict]:
        with open(self.span_file) as f:
            return json.load(f)


def _server_ms(before: dict, after: dict, cmd: str) -> float:
    n = after.get(("fossil_requests", cmd), 0) - before.get(("fossil_requests", cmd), 0)
    ns = (after.get(("fossil_response_ns_sum", cmd), 0)
          - before.get(("fossil_response_ns_sum", cmd), 0))
    return ns / n / 1e6 if n else 0.0


# --- response checking ---------------------------------------------------

def _same_value(got: bytes, want) -> bool:
    text = got.decode()
    if want is None:
        return text == "None"
    if isinstance(want, str):
        return text == want
    try:
        g = float(text)
    except ValueError:
        return False
    return abs(g - float(want)) <= 1e-9 * max(1.0, abs(float(want)))


def check_read(store_root: str, specs: list, results: list) -> int:
    """Wrong responses among `results` [(spec index, entries)], each
    compared with its SQL twin run by DuckDB over the generated rows."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TABLE store AS SELECT time, topic, value FROM "
                f"read_parquet('{store_root}/*/*.parquet')")
    wrong = 0
    for idx, entries in results:
        spec = specs[idx]
        want = con.execute(gen.query_sql(spec)).fetchall()
        if spec.stage in ("avg", "count"):
            ok = len(entries) == 1 and _same_value(entries[0][2], want[0][0])
        else:
            ok = len(entries) == len(want) and all(
                topic == w[1] and datetime.fromisoformat(ts.replace("Z", "+00:00")) == w[0]
                and _same_value(data, w[2])
                for (ts, topic, data, _), w in zip(entries, want))
        wrong += not ok
    return wrong


def check_restart(work: str, data: str, acked: dict[str, list[str]]) -> int:
    """After the daemon has stopped: start a new one on the root it
    left and read every acked topic back through it. Acked datum
    missing from, or extra in, a topic's read-back; every acked datum
    must be there exactly once."""
    daemon = Daemon(work, data, traced=False)
    try:
        daemon.start()
        conn = Conn(daemon.port)
        try:
            # `map x -> x` answers typed datum as text too, as acked
            got = {t: sorted(e[2].decode() for e in conn.query(f"all in {t} | map x -> x"))
                   for t in acked}
        finally:
            conn.close()
    finally:
        daemon.stop()
    return sum(max(abs(len(got[t]) - len(want)), 1)
               for t, want in acked.items() if got[t] != sorted(want))


# --- closed loops ---------------------------------------------------------

def _run_threads(targets) -> None:
    # daemon threads: a run interrupted mid-phase exits without them
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _layers_common(spans: list[dict], window: tuple[int, int], n_ops: int,
                   n_queries: int, m0: dict, m1: dict, spark: dict) -> dict:
    """Per-layer numbers every wire workload reports: the daemon's spans
    inside the timed window, its /metrics deltas and its Spark UI
    deltas (`spark`, from sparkui.delta)."""
    lo, hi = window
    in_win = [s for s in spans if lo <= s["start"] and s["end"] <= hi]
    names = {s["id"]: s["name"] for s in spans}
    by: dict[str, list[dict]] = {}
    for s in in_win:
        by.setdefault(s["name"], []).append(s)

    def mean_ms(xs):
        return sum(s["end"] - s["start"] for s in xs) / len(xs) / 1e6 if xs else 0.0

    flushes = by.get("store.append_rows", [])
    # toPandas may collect internally: count only the outermost span
    collects = [s for s in by.get("spark.collect", [])
                if names.get(s["parent"]) != "spark.collect"]
    selfs = spanlib.self_times(in_win)
    reqs = [s for s in by.get("server.request", []) if s["cmd"] == "QUERY"]
    per, per_q = max(n_ops, 1), max(n_queries, 1)
    return {
        "fql.parse_ms": mean_ms(by.get("fql.parse", [])),
        "fql.compile_ms": mean_ms(by.get("fql.compile", [])),
        "store.plan_ms": mean_ms(by.get("store.query", []) + by.get("store.query_typed", [])),
        "store.files_read_per_query": spark["scan_files"] / per_q,
        "store.partitions_read_per_query": spark["scan_partitions"] / per_q,
        "store.bytes_read_per_query": spark["scan_bytes"] / per_q,
        "store.flush_ms": mean_ms(flushes),
        "store.flushes": float(len(flushes)),
        "store.rows_per_flush": (sum(s["rows"] for s in flushes) / len(flushes)
                                 if flushes else 0.0),
        "store.compactions": float(len(by.get("store.compact", []))),
        "server.query_ms": _server_ms(m0, m1, "QUERY"),
        "server.append_ms": _server_ms(m0, m1, "APPEND"),
        "server.self_ms": (sum(selfs[s["id"]] for s in reqs) / len(reqs) / 1e6
                           if reqs else 0.0),
        "spark.jobs_per_op": spark["jobs"] / per,
        "spark.stages_per_op": spark["stages"] / per,
        "spark.tasks_per_op": spark["tasks"] / per,
        "spark.task_ms_per_op": spark["task_ms"] / per,
        "spark.collect_ms": mean_ms(collects),
        "spark.shuffle_bytes_per_op": spark["shuffle_bytes"] / per,
        "spark.spill_bytes": float(spark["spill_bytes"]),
    }


def _store_files(root: str) -> dict:
    from fossil_spark.maintenance import small_file_report

    report = small_file_report(None, root)
    return {"store.files_total": float(sum(r[1] for r in report)),
            "store.small_files": float(sum(r[2] for r in report))}


def wire_read(seed: int, seconds: float, traced: bool, work: str,
              n_rows: int = READ_ROWS) -> dict:
    data = os.path.join(work, "data")
    root = os.path.join(data, "default")
    t0 = time.perf_counter()
    user_bytes = gen.write_store(root, seed, n_rows)
    specs = gen.make_queries(seed, 5000, n_rows)
    prep_s = time.perf_counter() - t0

    daemon = Daemon(work, data, traced)
    conns: list[Conn] = []
    try:
        start_s = daemon.start()
        conns += [Conn(daemon.port) for _ in range(READ_CLIENTS)]
        lock = threading.Lock()
        counter = iter(range(len(specs)))

        def phase(seconds: float, out: list) -> None:
            deadline = time.perf_counter_ns() + int(seconds * 1e9)

            def client(c: Conn) -> None:
                while time.perf_counter_ns() < deadline:
                    with lock:
                        idx = next(counter)
                    a = time.perf_counter_ns()
                    try:
                        got = c.query(specs[idx].fql)
                    except (RuntimeError, OSError) as ex:
                        got = ex
                    b = time.perf_counter_ns()
                    with lock:
                        out.append((idx, a, b, got))

            _run_threads([lambda c=c: client(c) for c in conns])

        # untimed warm-up: a fresh daemon's queries run several times
        # slower than its steady state while the JVM compiles hot paths
        phase(READ_WARMUP_S, [])
        m0 = daemon.metrics() if traced else {}
        ui0 = sparkui.snapshot(daemon.ui()) if traced else {}
        records: list[tuple[int, int, int, object]] = []
        start = time.perf_counter_ns()
        phase(seconds, records)
        end = max(r[2] for r in records)
        m1 = daemon.metrics() if traced else {}
        rss = daemon.rss_mb()
        ui_delta = sparkui.delta(daemon.ui(), ui0) if traced else None
    finally:
        for c in conns:
            c.close()
        daemon.stop()

    ok = [(r[0], r[3]) for r in records if not isinstance(r[3], Exception)]
    errors = len(records) - len(ok)
    wrong = check_read(root, specs, ok)
    common.log(f"checked {len(ok)} responses: {wrong} wrong")
    lat_ms = [(r[2] - r[1]) / 1e6 for r in records]
    tail_ms, pct, n = common.tail(lat_ms)
    out = {
        "attempted": len(records), "failed": errors + wrong,
        "e2e": {
            "setup_s": prep_s + start_s,
            "op_p50_ms": common.median(lat_ms),
            "op_tail_ms": tail_ms,
            "ops_per_s": len(records) / ((end - start) / 1e9),
            "peak_rss_mb": rss,
        },
        "report": {"op": "QUERY", "clients": READ_CLIENTS, "loop": "closed",
                   "tail_percentile": round(pct, 2), "n": n,
                   "store_rows": n_rows, "store_user_bytes": user_bytes,
                   "store_bytes": common.dir_bytes(root),
                   "session.start_s": start_s, "session.prep_s": prep_s},
    }
    if traced:
        q_ms = [(r[2] - r[1]) / 1e6 for r in records]
        layers = _layers_common(daemon.spans(), (start, end), len(records),
                                len(records), m0, m1, ui_delta)
        layers.update({
            "store.rows_returned_per_row_scanned":
                sum(len(e) for _, e in ok) / max(ui_delta["scan_rows"], 1.0),
            "server.wait_ms": sum(q_ms) / len(q_ms) - layers["server.query_ms"],
            "session.start_s": start_s, "session.prep_s": prep_s,
            **_store_files(root),
        })
        out["layers"] = layers
    return out


def wire_mixed(seed: int, seconds: float, traced: bool, work: str) -> dict:
    data = os.path.join(work, "data")
    root = os.path.join(data, "default")
    t0 = time.perf_counter()
    plans = [gen.ingest_plan(seed, c, 200_000) for c in range(APPENDERS)]
    read_topics = [f"/ingest/c{c}" for c in range(APPENDERS)] + [gen.TYPED_TOPIC]
    prep_s = time.perf_counter() - t0

    daemon = Daemon(work, data, traced)
    lock = threading.Lock()
    sent: dict[str, int] = {}
    acked: dict[str, list[str]] = {}
    records: list[tuple[str, int, int, bool]] = []
    warm_records: list[tuple[str, int, int, bool]] = []
    plans = [iter(p) for p in plans]
    conns: list[Conn] = []

    def subtree(topic: str) -> str:
        return next(t for t in read_topics if topic.startswith(t))

    def acked_in(t: str) -> int:
        return sum(len(v) for k, v in acked.items() if k.startswith(t))

    def appender(c: Conn, plan, deadline: int, out: list) -> None:
        for topic, datum in plan:
            with lock:
                sent[subtree(topic)] = sent.get(subtree(topic), 0) + 1
            a = time.perf_counter_ns()
            try:
                c.append(topic, datum)
                ok = True
            except (RuntimeError, OSError):
                ok = False
            b = time.perf_counter_ns()
            with lock:
                out.append(("APPEND", a, b, ok))
                if ok:
                    acked.setdefault(topic, []).append(datum)
            if b >= deadline:
                return

    def reader(c: Conn, deadline: int, out: list) -> None:
        # read-your-writes: a count over a subtree covers every datum
        # acked before the QUERY was sent and none not yet sent
        i = 0
        while time.perf_counter_ns() < deadline:
            t = read_topics[i % len(read_topics)]
            i += 1
            with lock:
                lo = acked_in(t)
            a = time.perf_counter_ns()
            try:
                got = c.query(f"all in {t} | map x -> 1 | reduce a, b -> a + b")
                # an empty store answers with no entries; a fold over
                # no datum answers None
                n = 0 if not got or got[0][2] == b"None" else int(got[0][2])
            except (RuntimeError, OSError, ValueError):
                n = -1
            b = time.perf_counter_ns()
            with lock:
                out.append(("QUERY", a, b, lo <= n <= sent.get(t, 0)))

    def phase(seconds: float, out: list) -> None:
        deadline = time.perf_counter_ns() + int(seconds * 1e9)
        _run_threads([lambda c=c, p=p: appender(c, p, deadline, out)
                      for c, p in zip(conns, plans)]
                     + [lambda: reader(conns[-1], deadline, out)])

    try:
        start_s = daemon.start()
        conns += [Conn(daemon.port) for _ in range(APPENDERS + 1)]
        conns[0].create(gen.TYPED_TOPIC, gen.TYPED_SCHEMA)
        # untimed warm-up: the first flushes and queries of a fresh JVM
        # are several times slower than the steady state
        phase(MIXED_WARMUP_S, warm_records)
        m0 = daemon.metrics() if traced else {}
        ui0 = sparkui.snapshot(daemon.ui()) if traced else {}
        start = time.perf_counter_ns()
        phase(seconds, records)
        end = max(r[2] for r in records)
        m1 = daemon.metrics() if traced else {}
        rss = daemon.rss_mb()
        ui_delta = sparkui.delta(daemon.ui(), ui0) if traced else None
    finally:
        for c in conns:
            c.close()
        daemon.stop()
    store_bytes = common.dir_bytes(root)
    user_bytes = sum(len(t.encode()) + len(d.encode())
                     for t, ds in acked.items() for d in ds)

    lost = check_restart(work, data, acked)
    common.log(f"restart check: {lost} acked datum missing or extra")

    appends = [(r[2] - r[1]) / 1e6 for r in records if r[0] == "APPEND"]
    queries = [(r[2] - r[1]) / 1e6 for r in records if r[0] == "QUERY"]
    n_acked = sum(1 for r in records if r[0] == "APPEND" and r[3])
    # Flush stalls are ~0.2% of appends (~1 per second), so the highest
    # percentile with ten samples beyond it flips between the stall and
    # the fast mode from run to run. The gated tail is p99; the stalls
    # are reported beside it and per layer (store.flush_ms).
    tail_ms, pct, n = common.tail(appends)
    stalls = [x for x in appends if x > 100]
    out = {
        "attempted": len(warm_records) + len(records),
        "failed": sum(1 for r in warm_records + records if not r[3]) + lost,
        "e2e": {
            "setup_s": prep_s + start_s,
            "op_p50_ms": common.median(appends),
            "op_tail_ms": common.percentile(appends, 99),
            "ops_per_s": n_acked / ((end - start) / 1e9),
            "peak_rss_mb": rss,
        },
        "report": {"op": "APPEND (acked)", "clients": APPENDERS + 1, "loop": "closed",
                   "tail_percentile": 99, "n": n,
                   "highest_tail_ms": tail_ms, "highest_tail_percentile": round(pct, 2),
                   "stalls_over_100ms": len(stalls), "stall_p50_ms": common.median(stalls) if stalls else 0.0,
                   "query_p50_ms": common.median(queries), "queries": len(queries),
                   "store_bytes_per_user_byte": store_bytes / max(user_bytes, 1),
                   "lost_after_restart": lost, "session.start_s": start_s,
                   "session.prep_s": prep_s},
    }
    if traced:
        layers = _layers_common(daemon.spans(), (start, end), len(records),
                                len(queries), m0, m1, ui_delta)
        layers.update({
            "store.rows_returned_per_row_scanned":
                len(queries) / max(ui_delta["scan_rows"], 1.0),
            "server.wait_ms": (sum(queries) / len(queries) - layers["server.query_ms"]
                               if queries else 0.0),
            "session.start_s": start_s, "session.prep_s": prep_s,
            **_store_files(root),
        })
        out["layers"] = layers
    return out
