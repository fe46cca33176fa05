"""Statistics and process helpers shared by the workloads."""

from __future__ import annotations

import ctypes
import math
import os
import signal
import socket
import statistics
import subprocess
import sys
import time

# the checkout root: perfbench/ sits directly below it
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, nearest-rank. With n samples that is the
    (n-10)-th smallest, i.e. percentile 100*(n-10)/n. Fewer than 11
    samples have no such percentile; the maximum stands in."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return float(s[-1]), 100.0, n
    return float(s[n - 11]), 100.0 * (n - 10) / n, n


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return float(s[max(math.ceil(p / 100 * len(s)) - 1, 0)])


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def descendants(pid: int) -> list[int]:
    """pid and every live process below it (Python -> spark-submit ->
    JVM), from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces; ppid follows the closing paren
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [pid], [pid]
    while frontier:
        nxt = [c for c, p in parent.items() if p in frontier]
        out += nxt
        frontier = nxt
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over pid and its descendants."""
    kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def child_env(work: str) -> dict:
    """Environment for every process the benchmark starts: the checkout
    on PYTHONPATH, Spark at local[$SPARK_GRAFT_CPUS] (default: all
    cores) with a 2 GB heap, UTC, and every scratch file (Spark local
    dirs, Python and JVM temp files) inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": REPO + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()),
        # A fixed 2 GB JVM heap (-Xmx from the driver memory, -Xms below).
        # With only a cap, G1 grew the heap by how much GC time it had
        # just measured, and the daemon's peak RSS moved by ±25% between
        # runs; with a fixed heap it moves with what lies outside the
        # heap (Python, metaspace, code, threads, direct buffers).
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        # no hsperfdata files under /tmp; JVM temp files in the work dir
        "SPARK_SUBMIT_OPTS": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONUNBUFFERED": "1",
    })
    return env


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


_libc = ctypes.CDLL(None, use_errno=True)
_libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
_libc.prctl.restype = ctypes.c_int
_PR_SET_PDEATHSIG, _PR_SET_CHILD_SUBREAPER = 1, 36


def _prctl(option: int, arg: int) -> None:
    if _libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def become_subreaper() -> None:
    """Adopt every process orphaned below this one (a JVM whose Python
    parent has exited, the spark-class helper shells), so that
    reap_all still finds and stops it."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def _die_with_parent() -> None:
    # runs in the child between fork and exec
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def spawn(cmd: list[str], **kwargs) -> subprocess.Popen:
    """Popen whose child is killed if this process dies first (its JVM
    then exits when its stdin pipe closes). preexec_fn forks: call it
    before any thread of this process starts."""
    return subprocess.Popen(cmd, preexec_fn=_die_with_parent, **kwargs)


def reap_all(grace: float = 5.0) -> None:
    """Stop every process still below this one and wait until each has
    ended and been reaped: SIGTERM, then SIGKILL after `grace` s. Call
    it last; it also reaps the children Popen objects would wait for.
    With become_subreaper no descendant can escape it."""
    deadline = time.monotonic() + grace
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, and orphans would be our children
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for p in descendants(os.getpid())[1:]:
            if _alive(p) and signalled.get(p) != sig:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
                signalled[p] = sig
        time.sleep(0.05)


def stop_process(proc: subprocess.Popen, timeout: float = 20.0) -> None:
    """SIGTERM the process and wait until it and every process below it
    (the JVM outlives its Python parent by its shutdown hooks) have
    ended; SIGKILL whatever is left after `timeout`."""
    tree = descendants(proc.pid)
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if proc.poll() is not None and not any(_alive(p) for p in tree[1:]):
            return
        time.sleep(0.05)
    for p in reversed(tree):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    proc.wait(30)
    while any(_alive(p) for p in tree[1:]):
        time.sleep(0.05)


def wait_tree(proc: subprocess.Popen, timeout: float) -> int:
    """Wait for a process that exits by itself, then for every process
    that was below it (its JVM outlives it by the shutdown hooks).
    On timeout the whole tree is killed and TimeoutExpired raised."""
    tree: set[int] = set()
    deadline = time.monotonic() + timeout
    while proc.poll() is None:
        tree.update(descendants(proc.pid)[1:])
        if time.monotonic() > deadline:
            stop_process(proc, 5)
            raise subprocess.TimeoutExpired(proc.args, timeout)
        time.sleep(0.5)
    while any(_alive(p) for p in tree):
        time.sleep(0.05)
    return proc.returncode


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)
