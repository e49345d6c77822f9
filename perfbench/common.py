"""Shared pieces of the benchmark: session, progress listener, memory
sampler, stub process, span recorder and small statistics helpers.

Everything here measures the engine from outside: it calls the
engine's public entry points and reads what Spark reports about them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
#: Cores the engine runs on. SessionFactory reads SPARK_GRAFT_CPUS.
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")

# Deployment settings of the benchmark's local session (not engine
# defaults): a heap that fits a shared 4-core box, no web UI.
SESSION_CONF = {
    "spark.driver.memory": "2g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return None
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def iso_ms(ts: str) -> float:
    """Spark progress timestamp (ISO-8601, UTC) -> epoch ms."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def use_tmp(path: str) -> None:
    """Put the temporary files of this process, the Spark JVM and its
    Python workers under ``path``, inside the checkout."""
    fresh_dir(path)
    os.environ["TMPDIR"] = path
    os.environ["SPARK_LOCAL_DIRS"] = path
    tempfile.tempdir = None
    SESSION_CONF["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={path}"


def create_session(app: str, extra: dict | None = None, cpus: str = CPUS):
    """The engine's session entry point, pinned to ``cpus`` cores."""
    from scio_db_spark.session import SessionFactory

    os.environ["SPARK_GRAFT_CPUS"] = cpus
    try:
        spark = SessionFactory.create(
            app, extra_conf={**SESSION_CONF, **(extra or {})}
        )
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = CPUS
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Spans:
    """In-memory spans (name, start, end, parent), written once at exit."""

    def __init__(self) -> None:
        self.items: dict[int, dict] = {}
        self._lock = threading.Lock()

    def begin(self, name: str, parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.items) + 1
            self.items[sid] = {"id": sid, "parent": parent, "name": name,
                               "start_ms": time.time() * 1000.0,
                               "end_ms": None, **attrs}
        return sid

    def end(self, sid: int) -> float:
        """Close a span; returns its duration in ms."""
        s = self.items[sid]
        s["end_ms"] = time.time() * 1000.0
        return s["end_ms"] - s["start_ms"]

    def add(self, name, start_ms, end_ms, parent=None, **attrs) -> int:
        sid = self.begin(name, parent, **attrs)
        self.items[sid].update(start_ms=start_ms, end_ms=end_ms)
        return sid

    def span(self, name: str, parent: int | None = None, **attrs):
        spans = self

        class _Ctx:
            def __enter__(self):
                self.id = spans.begin(name, parent, **attrs)
                return self

            def __exit__(self, *exc):
                self.ms = spans.end(self.id)
                return False

        return _Ctx()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items.values() if s["name"] == name]

    def as_list(self) -> list[dict]:
        return list(self.items.values())


def make_listener(events: list, lock: threading.Lock, sink_path: str | None):
    """A StreamingQueryListener that keeps every progress event (parsed
    ``progress.json``) and appends it as one JSON line to ``sink_path``.
    Built lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with lock:
                events.append(p)
                if sink_path:
                    with open(sink_path, "a") as fh:
                        fh.write(json.dumps(p) + "\n")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


class Progress:
    """Progress events of every streaming query of one session."""

    def __init__(self, spark, sink_path: str | None = None) -> None:
        self.events: list[dict] = []
        self.lock = threading.Lock()
        self.listener = make_listener(self.events, self.lock, sink_path)
        spark.streams.addListener(self.listener)

    def of(self, query) -> list[dict]:
        """Events of one query (the engine leaves its queries unnamed,
        so they are told apart by id)."""
        qid = str(query.id)
        with self.lock:
            return [e for e in self.events if e.get("id") == qid]

    def wait_for(self, query, last_batch: int, timeout=30.0) -> None:
        """Listener delivery is asynchronous: wait until the query's
        last batch has been reported."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if any(e["batchId"] >= last_batch for e in self.of(query)):
                return
            time.sleep(0.05)
        raise RuntimeError(f"progress of batch {last_batch} missing")


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``host_cpu_ticks`` readings: other tenants' load on the host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the Spark JVM and its Python workers,
    sampled from /proc every ``interval`` seconds."""

    def __init__(self, jvm_pid: int, interval: float = 0.5) -> None:
        self.pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in _proc_tree(self.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak_kb / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


_TICK = os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds used by the Spark JVM, its Python workers (reaped
    ones included) and this process. Unlike wall time it does not grow
    when other tenants of the host take the CPUs away."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm

    def now(self) -> float:
        ticks = 0
        for pid in _proc_tree(self.jvm):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # u/s/cu/cs time
        own = os.times()
        return ticks / _TICK + own.user + own.system


class StubProcess:
    """The HTTP stub as its own process; ``stop`` returns its stats."""

    def __init__(self, workdir: str, seed: int) -> None:
        os.makedirs(workdir, exist_ok=True)
        self.log_path = os.path.join(workdir, "stub.log")
        self.stats_path = os.path.join(workdir, "stub.json")
        port_file = os.path.join(workdir, "stub.port")
        for stale in (port_file, self.log_path, self.stats_path):
            if os.path.exists(stale):
                os.remove(stale)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub.py"),
             "--seed", str(seed), "--port-file", port_file,
             "--log", self.log_path, "--stats", self.stats_path],
        )
        deadline = time.monotonic() + 20
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.stop()
                raise RuntimeError("stub did not start")
            time.sleep(0.02)
        with open(port_file) as fh:
            self.url = f"http://127.0.0.1:{int(fh.read())}/posts"

    def log(self) -> list[tuple[str, int, int, float]]:
        out = []
        with open(self.log_path) as fh:
            for line in fh:
                parts = line.rstrip("\n").split("\t")
                if len(parts) == 4:
                    out.append(
                        (parts[0], int(parts[1]), int(parts[2]),
                         float(parts[3]))
                    )
        return out

    def stop(self) -> dict:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        try:
            with open(self.stats_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pid: int) -> None:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


def _wait_gone(pids, timeout: float) -> list[int]:
    """Wait up to ``timeout`` s for ``pids`` to end; returns those left."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while True:
        for p in left:
            _reap(p)
        left = [p for p in left if _alive(p)]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_processes(timeout: float = 60.0) -> None:
    """Stop every process this one started and wait until each has
    ended: the Spark JVM (which otherwise outlives this process while
    it shuts down), its Python workers and anything else left over."""
    me = os.getpid()
    # Taken first: once the JVM has gone, its workers are no longer
    # this process's descendants.
    tree = [p for p in _proc_tree(me) if p != me]
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    if gateway is not None:
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            pass
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            try:
                proc.stdin.close()
                proc.wait(timeout=timeout)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
    left = [p for p in tree if _alive(p)]
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, timeout)):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, wait)
        if not left:
            return
    raise RuntimeError(f"processes did not end: {left}")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
