"""TCP line-protocol server + client — wire parity with the reference
daemon (/root/reference/docs/protocol.md, pkg/server/server.go,
pkg/proto/message.go).

Framing: [4-byte BE length][8-byte zero-padded command][data], where
length counts command+data. Commands: VERSION / USE / QUERY / APPEND /
STATS / LIST / CREATE, responses OK / ERR / typed payloads — byte
formats mirror pkg/proto/message.go exactly, so a client written for
the reference talks to this server unchanged.

Spark-native serving model: the hand-rolled storage engine behind the
reference's daemon (segments, WAL, per-db file locks) is replaced by
EventStore's date-partitioned parquet. Appends micro-batch in memory
and flush as single atomic parquet commits (size- or command-driven),
the distributed analogue of the reference's in-memory segment that
flushes on rollover — a one-row-one-file pattern would melt the
namenode at real scale. Queries flush pending appends first
(read-your-writes), then run the FQL pipeline on the cluster.

Metrics parity (pkg/server/metrics.go, dbmetrics.go): per-(db, cmd)
request counters + response-time sums, client connections, per-db
segment/topic gauges — exposed in Prometheus text format over HTTP
/metrics and queryable in-process.
"""

from __future__ import annotations

import base64
import io
import os
import socket
import socketserver
import struct
import threading
import time as _time
from datetime import datetime, timezone

from pyspark.sql import SparkSession

LEN_WIDTH = 4
COMMAND_WIDTH = 8
MAX_MESSAGE = 100 * 1024 * 1024  # reference: 100 MiB guard

# --- wire framing (pkg/proto/message.go lineMessage) -----------------------


def write_message(sock: socket.socket, command: str, data: bytes) -> None:
    cmd = command.encode()[:COMMAND_WIDTH].ljust(COMMAND_WIDTH, b"\x00")
    sock.sendall(struct.pack(">I", COMMAND_WIDTH + len(data)) + cmd + data)


def read_message(f: io.BufferedReader) -> tuple[str, bytes]:
    head = f.read(LEN_WIDTH)
    if len(head) < LEN_WIDTH:
        raise ConnectionError("connection closed")
    (length,) = struct.unpack(">I", head)
    if length > MAX_MESSAGE:
        raise ConnectionError("message too large")
    buf = f.read(length)
    if len(buf) < length or length < COMMAND_WIDTH:
        raise ConnectionError("message format incorrect")
    command = buf[:COMMAND_WIDTH].rstrip(b"\x00").decode().upper()
    return command, buf[COMMAND_WIDTH:]


def _u32(n: int) -> bytes:
    return struct.pack(">I", n)


def _read_u32(buf: memoryview, off: int) -> tuple[int, int]:
    return struct.unpack_from(">I", buf, off)[0], off + 4


def marshal_ok(code: int = 200, message: str = "Ok") -> bytes:
    return _u32(code) + message.encode()


def marshal_err(code: int, err: str) -> bytes:
    return _u32(code) + (err or "error").encode()


def marshal_strings(items: list[str]) -> bytes:
    """ListResponse / QueryResponse share the count + len-prefixed
    entry layout."""
    out = [_u32(len(items))]
    for s in items:
        b = s.encode()
        out.append(_u32(len(b)) + b)
    return b"".join(out)


def unmarshal_strings(data: bytes) -> list[str]:
    mv = memoryview(data)
    count, off = _read_u32(mv, 0)
    items = []
    for _ in range(count):
        n, off = _read_u32(mv, off)
        items.append(bytes(mv[off:off + n]).decode())
        off += n
    return items


def _rfc3339(dt: datetime) -> str:
    """Go time.RFC3339Nano: fractional seconds without trailing zeros."""
    s = dt.strftime("%Y-%m-%dT%H:%M:%S")
    if dt.microsecond:
        s += "." + f"{dt.microsecond:06d}".rstrip("0")
    return s + "Z"


def _parse_rfc3339(s: str) -> datetime:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).replace(tzinfo=None)


# --- metrics (pkg/server/metrics.go parity) --------------------------------


class ServerMetrics:
    """fossil_requests / fossil_response_ns / fossil_client_connections
    counters plus per-db segment/topic gauges, Prometheus text format."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.client_connections = 0
        self.requests: dict[tuple[str, str], int] = {}
        self.response_ns: dict[tuple[str, str], int] = {}

    def inc_client_connection(self) -> None:
        with self._lock:
            self.client_connections += 1

    def observe(self, db: str, cmd: str, ns: int) -> None:
        with self._lock:
            key = (db, cmd)
            self.requests[key] = self.requests.get(key, 0) + 1
            self.response_ns[key] = self.response_ns.get(key, 0) + ns

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "client_connections": self.client_connections,
                "requests": dict(self.requests),
                "response_ns": dict(self.response_ns),
            }

    def prometheus_text(self, db_stats: dict[str, tuple[int, int]]) -> str:
        lines = [
            "# TYPE fossil_client_connections counter",
            f"fossil_client_connections {self.client_connections}",
            "# TYPE fossil_requests counter",
        ]
        snap = self.snapshot()
        for (db, cmd), n in sorted(snap["requests"].items()):
            lines.append(f'fossil_requests{{database="{db}",cmd="{cmd}"}} {n}')
        lines.append("# TYPE fossil_response_ns_sum counter")
        for (db, cmd), ns in sorted(snap["response_ns"].items()):
            lines.append(f'fossil_response_ns_sum{{database="{db}",cmd="{cmd}"}} {ns}')
        lines.append("# TYPE fossil_database_segments gauge")
        for db, (segments, _) in sorted(db_stats.items()):
            lines.append(f'fossil_database_segments{{db_name="{db}"}} {segments}')
        lines.append("# TYPE fossil_database_topics gauge")
        for db, (_, topics) in sorted(db_stats.items()):
            lines.append(f'fossil_database_topics{{db_name="{db}"}} {topics}')
        return "\n".join(lines) + "\n"


# --- server ----------------------------------------------------------------


class _Database:
    """One served database: an EventStore plus its append micro-batch.

    Durability: the APPEND ack means the datum is fsync'd to a
    write-ahead log BEFORE the response goes out (reference parity:
    pkg/database/log.go appends to the database log before the OK).
    Micro-batch flushes rotate the active WAL segment and delete it
    only after the parquet commit lands; a crash between ack and flush
    replays the segments on the next start (at-least-once, exactly the
    reference's crash contract). Parquet itself needs no WAL — its
    commits are all-or-nothing — so segments live only as long as the
    in-memory batch they cover."""

    def __init__(self, spark: SparkSession, name: str, root: str,
                 compact_every: int = 0):
        from fossil_spark.store import EventStore

        self.name = name
        self.spark = spark
        self.store = EventStore(spark, root)
        self.pending: list[tuple[datetime, str, str]] = []
        self.lock = threading.Lock()
        # continuous micro-batched appends accumulate small files; every
        # `compact_every` flushes, rewrite fragmented date partitions
        # (maintenance.compact — atomic per-partition swap). 0 = off.
        self.compact_every = compact_every
        self._flushes = 0
        self._stats_cache: tuple[float, tuple[int, int]] | None = None
        # flush serialization: concurrent Spark append jobs on the same
        # path share the _temporary staging dir and can clobber each
        # other's commit — one flush at a time per database
        self.flush_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        self._wal_active = os.path.join(root, "_wal.jsonl")
        self._wal_flushing = os.path.join(root, "_wal.flushing.jsonl")
        self._recover_wal()
        self._wal_fh = open(self._wal_active, "a", encoding="utf-8")

    def _recover_wal(self) -> None:
        """Replay datum acked before a crash but never flushed. Files
        are only deleted after a successful parquet commit, so a crash
        during recovery just replays again (at-least-once)."""
        import json

        rows: list[tuple[datetime, str, str]] = []
        for path in (self._wal_flushing, self._wal_active):
            if not os.path.exists(path):
                continue
            with open(path, encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        t, topic, value = json.loads(line)
                    except ValueError:
                        continue  # torn final write from the crash
                    rows.append((datetime.fromisoformat(t), topic, value))
        if rows:
            self.pending.extend(rows)

    def _wal_write(self, row: tuple[datetime, str, str]) -> None:
        import json

        self._wal_fh.write(
            json.dumps([row[0].isoformat(), row[1], row[2]]) + "\n"
        )
        self._wal_fh.flush()
        os.fsync(self._wal_fh.fileno())

    def _wal_rotate(self) -> None:
        """Move the active segment aside for the in-flight flush. A
        leftover .flushing segment (crashed flush) is merged, never
        clobbered."""
        self._wal_fh.close()
        if os.path.exists(self._wal_flushing):
            with open(self._wal_flushing, "a", encoding="utf-8") as dst, \
                    open(self._wal_active, encoding="utf-8") as src:
                dst.write(src.read())
            os.remove(self._wal_active)
        else:
            os.replace(self._wal_active, self._wal_flushing)
        self._wal_fh = open(self._wal_active, "a", encoding="utf-8")

    def append(self, topic: str, data: bytes, flush_every: int) -> None:
        from fossil_spark.encoding import (
            decode_python, to_storage_text, validate_bytes,
        )
        from fossil_spark.schema import SchemaError, conforms

        schema = self.store._load_registry().get(topic)
        if schema.text == "string":
            value = data.decode("utf-8", "replace")
        else:
            # Textual first: our text/JSON clients send the literal
            # itself, and a text datum whose UTF-8 length happens to
            # equal the schema's fixed width (e.g. "1234" to an int32
            # topic) must not be reinterpreted as binary — that's
            # silent corruption. Binary decode is the fallback for
            # reference-parity clients (append_literal, reference
            # pkg/repl/parser.go:55 → pkg/schema/encoding.go); their
            # encodings almost never also read as a conforming literal
            # (every byte would have to be an ASCII digit).
            try:
                text = data.decode("utf-8")
            except UnicodeDecodeError:
                text = None
            if text is not None and conforms(text, schema):
                value = text
            elif validate_bytes(data, schema):
                value = to_storage_text(decode_python(data, schema))
            else:
                # keep the conforms() gate the reference applies at
                # append (db.go:486)
                shown = text if text is not None else data.decode("utf-8", "replace")
                raise SchemaError(
                    f"datum {shown!r} does not conform to topic {topic!r} "
                    f"schema {schema.text!r}"
                )
        row = (datetime.now(timezone.utc).replace(tzinfo=None), topic, value)
        with self.lock:
            # WAL before ack: once append() returns (and the OK goes
            # out), the datum survives a process kill
            self._wal_write(row)
            self.pending.append(row)
            should_flush = len(self.pending) >= flush_every
        if should_flush:
            self.flush()

    def flush(self) -> None:
        with self.flush_lock:
            with self.lock:
                batch, self.pending = self.pending, []
                if batch:
                    self._wal_rotate()
            if batch:
                # one atomic parquet commit per micro-batch (schema
                # validation included — store.append_rows). If it
                # raises, the rotated WAL segment keeps the batch
                # recoverable on restart — but a LATER successful
                # flush merges that segment, commits only its own
                # batch, and deletes the file, so the failed batch
                # must also go back into pending or acked rows are
                # lost without any crash.
                try:
                    self.store.append_rows(batch)
                except BaseException:
                    with self.lock:
                        self.pending[0:0] = batch
                    raise
                self._flushes += 1
                try:
                    os.remove(self._wal_flushing)
                except FileNotFoundError:
                    pass
            if batch and self.compact_every and self._flushes % self.compact_every == 0:
                from fossil_spark.maintenance import compact

                compact(self.spark, self.store.root)

    def is_empty(self) -> bool:
        from fossil_spark.store import list_partitions

        return not list_partitions(self.store.root)

    def stats(self, ttl: float = 0.0) -> tuple[int, int]:
        """(segments, topics) — segments = parquet files, the direct
        analogue of the reference's fixed-width segment count. With
        ttl > 0, a recent result is reused — the metrics endpoint must
        not launch a Spark job (topic count) on every scrape."""
        if ttl > 0 and self._stats_cache is not None:
            at, cached = self._stats_cache
            if _time.monotonic() - at < ttl:
                return cached
        if self.is_empty():
            result = (0, 0)
        else:
            segments = sum(
                1
                for dirpath, _, files in os.walk(self.store.root)
                for f in files
                if f.endswith(".parquet")
            )
            result = (segments, self.store.topics().count())
        self._stats_cache = (_time.monotonic(), result)
        return result


class FossilServer:
    """Threaded TCP server speaking the reference wire protocol over
    EventStores. One Spark driver serves all connections; queries run
    distributed, protocol handling stays on the driver."""

    def __init__(
        self,
        spark: SparkSession,
        databases: dict[str, str],
        host: str = "127.0.0.1",
        port: int = 0,
        flush_every: int = 1000,
        now: datetime | None = None,
        max_query_rows: int = 100_000,
        compact_every: int = 0,
    ):
        self.spark = spark
        self.metrics = ServerMetrics()
        self.flush_every = flush_every
        self._compact_every = compact_every
        # the reference bounds responses by its 100 MiB wire guard; we
        # bound by rows so one QUERY can't pull a cluster-sized result
        # through the driver — analytics belong in FQL reduce/aggregate
        # stages, not raw entry dumps
        self.max_query_rows = max_query_rows
        self._now = now  # pin ~now for deterministic tests
        self.dbs = {
            name: _Database(spark, name, root, compact_every)
            for name, root in databases.items()
        }
        self._default_db = next(iter(self.dbs))
        self._active_conns: set = set()
        self._conn_lock = threading.Lock()
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                outer.metrics.inc_client_connection()
                with outer._conn_lock:
                    outer._active_conns.add(self.connection)
                try:
                    self._serve()
                finally:
                    with outer._conn_lock:
                        outer._active_conns.discard(self.connection)

            def _serve(self) -> None:
                current = outer.dbs[outer._default_db]
                while True:
                    try:
                        command, data = read_message(self.rfile)
                    except (ConnectionError, OSError):
                        break
                    t0 = _time.monotonic_ns()
                    try:
                        current = outer._dispatch(
                            self.connection, command, data, current
                        )
                    except (ConnectionError, OSError):
                        break
                    except Exception as ex:  # query/schema errors -> ERR
                        try:
                            write_message(
                                self.connection, "ERR", marshal_err(500, str(ex))
                            )
                        except OSError:
                            break
                    finally:
                        outer.metrics.observe(
                            current.name, command, _time.monotonic_ns() - t0
                        )

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread: threading.Thread | None = None
        self._http: object | None = None
        self._start_time = _time.monotonic()

    # -- command dispatch (pkg/server/server.go ServeDatabase wiring) -------
    def _dispatch(self, sock, command: str, data: bytes, current: _Database):
        if command == "VERSION":
            write_message(sock, "VERSION", _u32(200) + b"v1.0.0")
        elif command == "USE":
            name = data.decode()
            if name not in self.dbs:
                write_message(sock, "ERR", marshal_err(505, "unknown database"))
            else:
                current = self.dbs[name]
                write_message(sock, "OK", marshal_ok(201, "database changed"))
        elif command == "APPEND":
            mv = memoryview(data)
            tlen, off = _read_u32(mv, 0)
            topic = bytes(mv[off:off + tlen]).decode() or "/"
            current.append(topic, bytes(mv[off + tlen:]), self.flush_every)
            write_message(sock, "OK", marshal_ok())
        elif command == "QUERY":
            entries = self._run_query(current, data.decode())
            write_message(sock, "QUERY", marshal_strings(entries))
        elif command == "STATS":
            name = data.decode().strip()
            db = self.dbs.get(name, current)
            db.flush()
            segments, topics = db.stats()
            import resource

            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
            uptime_s = _time.monotonic() - self._start_time
            payload = struct.pack(">QQQQ", rss, rss, segments, topics)
            payload += f"{uptime_s:.3f}s".encode()
            write_message(sock, "STATS", payload)
        elif command == "LIST":
            obj = data.decode().strip() or "databases"
            if obj == "databases":
                items = sorted(self.dbs)
            elif obj == "topics":
                current.flush()
                items = ([] if current.is_empty() else
                         [r["topic"] for r in current.store.topics().collect()])
            elif obj == "schemas":
                reg = current.store._load_registry()
                items = [f"{t} {s}" for t, s in sorted(reg.items())]
            else:
                items = []
            write_message(sock, "LIST", marshal_strings(items))
        elif command == "CREATE":
            mv = memoryview(data)
            tlen, off = _read_u32(mv, 0)
            topic = bytes(mv[off:off + tlen]).decode()
            schema = bytes(mv[off + tlen:]).decode() or "string"
            current.store.set_schema(topic, schema)
            write_message(sock, "OK", marshal_ok())
        else:
            write_message(sock, "ERR", marshal_err(501, "command not found"))
        return current

    def _run_query(self, db: _Database, text: str) -> list[str]:
        """Execute FQL and serialize entries as the reference does:
        RFC3339Nano \\t topic \\t base64(data) \\t schema
        (database/result.go Entry.ToString)."""
        db.flush()
        if db.is_empty():
            return []
        # reference parity: a query scoped to a topic with a declared
        # schema decodes datum through that schema before the pipeline
        # (types/value.go MakeFromEntry); otherwise the compiler's
        # type-directed coercion handles bare numerics
        from fossil_spark.encoding import encode_python
        from fossil_spark.fql import parse

        q = parse(text)
        topic = q.topic
        has_pipeline = bool(q.pipeline)
        reg = db.store._load_registry()
        if topic and reg.get(topic).text != "string":
            out = db.store.query_typed(q, topic, now=self._now)
        else:
            out = db.store.query(q, now=self._now)
        # reference parity: entries stream back in time order
        # (db.go Retrieve walks segments chronologically)
        if "time" in out.columns:
            order = ["time"] + (["topic"] if "topic" in out.columns else [])
            out = out.orderBy(*order)
        rows = out.limit(self.max_query_rows).collect()
        out = []
        for r in rows:
            d = r.asDict()
            t = d.pop("time", None) or datetime(1970, 1, 1)
            topic = d.pop("topic", None) or "/"
            vals = list(d.values())
            schema = reg.get(topic) if topic != "/" else None
            if (schema is not None and schema.text != "string"
                    and not has_pipeline and len(vals) == 1):
                # raw entry dump of a typed topic: the wire carries the
                # schema-encoded BYTES, base64'd — exactly what the
                # reference returns (result.go Entry.ToString b64's
                # e.Data; the client decodes per schema for display)
                raw = encode_python(vals[0], schema)
                schema_text = schema.text
            else:
                # pipeline outputs are engine-typed values, not topic-
                # schema datums: serialize as text, labeled string
                datum = (
                    str(vals[0]) if len(vals) == 1
                    else "(" + ", ".join(str(v) for v in vals) + ")"
                )
                raw = datum.encode()
                schema_text = "string"
            out.append(
                "\t".join((
                    _rfc3339(t), topic,
                    base64.b64encode(raw).decode(), schema_text,
                ))
            )
        return out

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> "FossilServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="fossil-server", daemon=True
        )
        self._thread.start()
        return self

    def start_metrics_http(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Prometheus /metrics endpoint (pkg/server/metrics.go
        ServeMetrics parity). Returns the bound port."""
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        outer = self

        class MetricsHandler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:
                if self.path != "/metrics":
                    self.send_response(404)
                    self.end_headers()
                    return
                db_stats = {
                    name: db.stats(ttl=30.0) for name, db in outer.dbs.items()
                }
                body = outer.metrics.prometheus_text(db_stats).encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a) -> None:  # quiet test output
                pass

        self._http = ThreadingHTTPServer((host, port), MetricsHandler)
        threading.Thread(
            target=self._http.serve_forever, name="fossil-metrics", daemon=True
        ).start()
        return self._http.server_address[1]

    def stop(self) -> None:
        for db in self.dbs.values():
            db.flush()
        self._server.shutdown()
        self._server.server_close()
        # close live client connections so stop() behaves like a real
        # process exit (clients see EOF/reset, not a half-open socket)
        with self._conn_lock:
            conns = list(self._active_conns)
        for c in conns:
            try:
                c.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                c.close()
            except OSError:
                pass
        if self._http is not None:
            self._http.shutdown()
            self._http.server_close()


# --- client (api/remote.go parity) -----------------------------------------


class FossilClient:
    """Minimal client for the fossil wire protocol."""

    def __init__(self, host: str, port: int, timeout: float = 60.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._rfile = self.sock.makefile("rb")

    def _roundtrip(self, command: str, data: bytes) -> tuple[str, bytes]:
        write_message(self.sock, command, data)
        cmd, payload = read_message(self._rfile)
        if cmd == "ERR":
            (code,) = struct.unpack_from(">I", payload, 0)
            raise RuntimeError(f"server error {code}: {payload[4:].decode()}")
        return cmd, payload

    def version(self) -> str:
        _, payload = self._roundtrip("VERSION", b"v1.0.0")
        return payload[4:].decode()

    def use(self, db: str) -> str:
        _, payload = self._roundtrip("USE", db.encode())
        return payload[4:].decode()

    def append(self, topic: str, data: bytes | str) -> None:
        if isinstance(data, str):
            data = data.encode()
        t = topic.encode()
        self._roundtrip("APPEND", _u32(len(t)) + t + data)

    def append_literal(self, topic: str, literal: str,
                       schema: str | None = None) -> None:
        """Append a typed text literal the way the reference REPL does
        (pkg/repl/parser.go:55): binary-encode it per the topic schema
        before sending. With no explicit schema, the topic's declared
        schema is looked up via LIST schemas (nearest ancestor)."""
        from fossil_spark.encoding import encode_literal

        if schema is None:
            declared = self.schemas()
            t = topic.rstrip("/") or "/"
            schema = "string"
            while True:
                if t in declared:
                    schema = declared[t]
                    break
                if t == "/" or "/" not in t:
                    break
                t = t.rsplit("/", 1)[0] or "/"
        self.append(topic, encode_literal(literal, schema))

    def schemas(self) -> dict[str, str]:
        """Declared topic -> schema text (LIST schemas)."""
        out = {}
        for line in self.list("schemas"):
            t, _, s = line.partition(" ")
            out[t] = s
        return out

    def append_fire_and_forget(self, topic: str, data: bytes | str) -> None:
        """Fire-and-forget ingest (docs/overview.md): send without
        waiting for the OK. Responses are drained on the next
        round-trip call."""
        if isinstance(data, str):
            data = data.encode()
        t = topic.encode()
        write_message(self.sock, "APPEND", _u32(len(t)) + t + data)

    def drain(self, n: int) -> None:
        """Read n pending responses (after fire-and-forget appends)."""
        for _ in range(n):
            read_message(self._rfile)

    def query(self, text: str) -> list[dict]:
        _, payload = self._roundtrip("QUERY", text.encode())
        out = []
        for line in unmarshal_strings(payload):
            ts, topic, data64, schema = line.split("\t")
            raw = base64.b64decode(data64)
            if schema != "string":
                # typed entries carry schema-encoded bytes; decode for
                # display exactly as the reference client does
                # (proto/message.go:481 QueryResponse.Values)
                from fossil_spark.encoding import (
                    decode_python, decode_to_display,
                )

                data = decode_to_display(raw, schema)
                value = decode_python(raw, schema)
            else:
                data = raw.decode()
                value = data
            out.append({
                "time": _parse_rfc3339(ts),
                "topic": topic,
                "data": data,
                "value": value,
                "raw": raw,
                "schema": schema,
            })
        return out

    def stats(self, db: str = "") -> dict:
        _, payload = self._roundtrip("STATS", db.encode())
        alloc, total, segments, topics = struct.unpack_from(">QQQQ", payload, 0)
        return {
            "alloc_heap": alloc,
            "total_mem": total,
            "segments": segments,
            "topics": topics,
            "uptime": payload[32:].decode(),
        }

    def list(self, obj: str = "") -> list[str]:
        _, payload = self._roundtrip("LIST", obj.encode())
        return unmarshal_strings(payload)

    def create(self, topic: str, schema: str = "string") -> None:
        t = topic.encode()
        self._roundtrip("CREATE", _u32(len(t)) + t + schema.encode())

    def close(self) -> None:
        try:
            self._rfile.close()
            self.sock.close()
        except OSError:
            pass

    def __enter__(self) -> "FossilClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class FossilClientPool:
    """Reference client-pool parity (api/api.go:37 NewClientPool;
    api/remote.go RemoteClient): a bounded pool of `size` wire
    connections, each opened with the reference's connect() handshake
    (version advertisement + USE database, api/remote.go:27), checked
    out per request and returned afterwards — the Go channel pattern,
    thread-safe, built for high-volume ingest.

    Failure handling mirrors api/remote.go: on a dropped connection
    (peer reset / broken pipe on send, EOF on the response read) the
    checked-out connection reconnects with exponential backoff —
    sleep 2^i seconds then dial + handshake, up to `retries` attempts
    (1+2+4 s at the default 3; api/remote.go:63 reconnectWithBackoff,
    whose comment rounds it to six) — and the in-flight message is
    re-sent (the
    reference's goto-retry). Re-sends are capped at `retries` cycles
    (the Go code loops while reconnects succeed; a cap keeps a
    reset-on-send server from spinning us forever). Appends are
    therefore at-least-once across a server restart: a request whose
    response was lost may have landed, matching the reference's
    semantics. Server-reported errors (ERR responses) never retry.
    """

    def __init__(
        self,
        host: str,
        port: int,
        size: int = 1,
        db: str | None = None,
        timeout: float = 60.0,
        retries: int = 3,
        sleep=_time.sleep,
    ):
        """db=None targets the server's default database (no USE in
        the handshake); a name pins every connection — and every
        reconnect — to that database, erroring on open if it does not
        exist (the reference connect() behavior, api/remote.go:27)."""
        import queue

        self.host, self.port, self.db = host, port, db
        self.timeout, self.retries = timeout, retries
        self._sleep = sleep
        self._pool: "queue.Queue[FossilClient]" = queue.Queue()
        self._size = max(1, size)
        # eager open, fail fast — reference Open() dials all `size`
        # connections up front and errors out on the first failure
        for _ in range(self._size):
            self._pool.put(self._connect())

    def _connect(self) -> FossilClient:
        c = FossilClient(self.host, self.port, timeout=self.timeout)
        c.version()
        if self.db is not None:
            c.use(self.db)
        return c

    def _reconnect_with_backoff(self) -> FossilClient:
        err: Exception | None = None
        for i in range(self.retries):
            self._sleep(2**i)
            try:
                return self._connect()
            except OSError as e:
                err = e
        raise ConnectionError(
            f"unable to reconnect to {self.host}:{self.port} "
            f"after {self.retries} attempts"
        ) from err

    def _with_conn(self, fn):
        conn = self._pool.get()
        try:
            for attempt in range(self.retries + 1):
                try:
                    return fn(conn)
                except (ConnectionError, EOFError):
                    conn.close()
                    if attempt == self.retries:
                        raise
                    conn = self._reconnect_with_backoff()
        finally:
            self._pool.put(conn)

    # -- the reference Client interface (Send/Append/Query + extras) --------
    def send(self, command: str, data: bytes) -> tuple[str, bytes]:
        return self._with_conn(lambda c: c._roundtrip(command, data))

    def use(self, db: str) -> str:
        """Re-target every pooled connection (and future reconnects)
        at `db`. REPL convenience on top of the reference surface,
        where the database is fixed by the connection string."""
        conns = [self._pool.get() for _ in range(self._size)]
        try:
            out = ""
            for c in conns:
                out = c.use(db)
            self.db = db
            return out
        finally:
            for c in conns:
                self._pool.put(c)

    def append(self, topic: str, data: bytes | str) -> None:
        self._with_conn(lambda c: c.append(topic, data))

    def append_literal(
        self, topic: str, literal: str, schema: str | None = None
    ) -> None:
        self._with_conn(lambda c: c.append_literal(topic, literal, schema))

    def query(self, text: str) -> list[dict]:
        return self._with_conn(lambda c: c.query(text))

    def create(self, topic: str, schema: str = "string") -> None:
        self._with_conn(lambda c: c.create(topic, schema))

    def list(self, obj: str = "") -> list[str]:
        return self._with_conn(lambda c: c.list(obj))

    def stats(self, db: str = "") -> dict:
        return self._with_conn(lambda c: c.stats(db))

    def close(self) -> None:
        while not self._pool.empty():
            self._pool.get_nowait().close()

    def __enter__(self) -> "FossilClientPool":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
