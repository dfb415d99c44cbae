"""Closed loops, verdict bookkeeping and process-level probes."""

from __future__ import annotations

import os
import signal
import threading
import time
import traceback


class Check:
    """One verdict per checked operation; every mismatch is kept."""

    def __init__(self):
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            with self._lock:
                self.failures.append(f"{name}: {detail}"[:500])


class OpLog:
    """Latencies of the operations that returned, and the ones that raised."""

    def __init__(self):
        self.spans: list[tuple[float, float]] = []
        self.failed_ops = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def run(self, op):
        t0 = time.perf_counter()
        try:
            out = op()
        except StopIteration:
            raise
        except Exception as exc:  # noqa: BLE001 - a failed operation is a measurement
            with self._lock:
                self.failed_ops += 1
                self.failures.append(f"{type(exc).__name__}: {exc}"[:500] + "\n" + traceback.format_exc(limit=3)[-800:])
            return None
        with self._lock:
            self.spans.append((t0, time.perf_counter()))
        return out

    @property
    def attempted(self) -> int:
        return len(self.spans) + self.failed_ops

    def latencies_ms(self) -> list[float]:
        return [(e - s) * 1e3 for s, e in self.spans]

    def per_s(self) -> float:
        if not self.spans:
            return 0.0
        start = min(s for s, _ in self.spans)
        end = max(e for _, e in self.spans)
        return len(self.spans) / (end - start)


def closed_loop(seconds: float, clients: int, op, log: OpLog, after=None, until=None) -> None:
    """Each client issues its next operation when the previous one has
    returned, until ``seconds`` have passed and it has run one, or until
    ``until()`` holds.  ``after`` runs on every result once the window has
    closed, outside the timing."""
    deadline = time.perf_counter() + seconds
    results = []

    def finished(done: int) -> bool:
        if until is not None:
            return until()
        return done >= 1 and time.perf_counter() >= deadline

    def client():
        done = 0
        while not finished(done):
            done += 1
            out = log.run(op)
            if out is not None and after is not None:
                results.append(out)

    threads = [threading.Thread(target=client, name=f"client{i}") for i in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    for out in results:
        after(out)


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """(p, value): the highest of p50/p90/p95/p99/p99.9 with at least ten
    samples beyond it, or the median when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    best = (50.0, median(xs))
    for p in (90.0, 95.0, 99.0, 99.9):
        if n * (100 - p) / 100 >= 10:
            best = (p, xs[min(n - 1, int(p / 100 * n))])
    return best


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


# -- files ------------------------------------------------------------------


def dir_stats(path: str, since: float | None = None, error_prefix: bytes | None = None) -> dict:
    """Data files under ``path`` (``_`` and ``.`` names skipped): count,
    bytes and partition directories; with ``since`` only files modified
    after it; with ``error_prefix`` also the files that start with it."""
    files = size = errors = 0
    parts = set()
    for d, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            p = os.path.join(d, name)
            st = os.stat(p)
            if since is not None and st.st_mtime < since - 0.01:
                continue
            files += 1
            size += st.st_size
            if d != path:
                parts.add(d)
            if error_prefix is not None:
                with open(p, "rb") as f:
                    errors += f.read(len(error_prefix)) == error_prefix
    out = {"files": files, "bytes": size, "partitions": len(parts)}
    if error_prefix is not None:
        out["failed_pages"] = errors
    return out


# -- processes --------------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may contain spaces; fields resume after ")"
    return data[data.rindex(")") + 2:].split()


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * page
    return total


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests so far, summed
    over this machine's cpus (0 where the kernel does not count them)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def python_worker_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the Python worker processes below this
    process (the JVM's pyspark daemon and its forked workers)."""
    root = os.getpid() if root is None else root
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
        except (FileNotFoundError, ProcessLookupError):
            continue
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


STOP_WAIT_S = 30.0


def stop_children() -> None:
    """End every process this one started and wait for each to end.

    The Spark driver JVM otherwise outlives us: it only exits once it sees
    end-of-file on its stdin, after this process is gone.  Closing that pipe
    ends it (its shutdown hooks stop the Python worker daemon); anything
    still below us after that is terminated, then killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(STOP_WAIT_S)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_WAIT_S
    sig = signal.SIGTERM
    while True:
        left = [pid for pid in process_tree(os.getpid())[1:] if _running(pid)]
        if not left:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        for pid in left:  # reap our own children; others are reaped by their parents
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
    while True:  # reap any child that ended on its own
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def _running(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Peak resident memory of this process tree, sampled every 100 ms."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
