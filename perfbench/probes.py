"""Measurement probes of the repo benchmark: host facts, the session fitted to
the host, a ``/proc`` RSS sampler, spans and the executed plan's SQL metrics.

Everything here observes the engine from outside: it calls only public
functions and reads Spark's own metrics, so the engine needs no hooks.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * _PAGE


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's own clock, so
    interpreter start-up and imports count towards set-up time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    # the start time counts clock ticks since boot; CLOCK_BOOTTIME is that clock
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _HZ


def calibrate(n: int = 2_000_000) -> float:
    """Host canary: seconds for a fixed pure-Python loop. A reading well
    above its usual value says the CPU was throttled or shared."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def fit_environment(state_dir: str) -> dict:
    """Fit ``get_spark`` to the host through the environment it reads:
    ``local[nproc]`` with nproc shuffle partitions, and a driver heap of a
    quarter of RAM capped at 2 GiB (the 16g default exceeds small hosts).
    Spark and Python scratch space goes under ``state_dir``."""
    cpus = nproc()
    mem_gb = max(1, min(2, ram_bytes() // (4 << 30)))
    tmp = os.path.join(state_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_* from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {"nproc": cpus, "driver_mem_gb": mem_gb}


def session_conf(state_dir: str) -> dict[str, str]:
    """Session settings beyond ``get_spark``'s: scratch space under
    ``state_dir``, and a driver heap committed and touched at start
    (``-Xms`` = the heap limit), so that the JVM's share of peak RSS does not
    depend on when G1 chose to grow the heap."""
    tmp = os.path.join(state_dir, "tmp")
    heap = os.environ["SPARK_DRIVER_MEM"]
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(state_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def host_facts(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_bytes() / (1 << 30), 1),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
    }


# ---------------------------------------------------------------- RSS sampler


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(name)] = (int(fields[1]), comm, int(fields[21]) * _PAGE)
    return table


def descendants(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (comm, rss bytes) for every descendant of ``root``."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1:]
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples the summed RSS of this process's descendants (the Spark JVM
    and the Python workers it forks) every ``interval`` seconds and keeps the
    peaks since the last :meth:`reset`: of the sum, of the JVM alone and of
    the Python workers alone. ``psutil`` is not needed."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peaks = dict.fromkeys(("total", "jvm", "workers"), 0)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            procs = descendants(me)
            now = {
                "total": sum(rss for _, rss in procs.values()),
                "jvm": sum(rss for comm, rss in procs.values() if comm == "java"),
                "workers": sum(rss for comm, rss in procs.values() if comm.startswith("python")),
            }
            with self._lock:
                for k, v in now.items():
                    self.peaks[k] = max(self.peaks[k], v)

    def peaks_mb(self) -> dict[str, float]:
        with self._lock:
            return {k: v / 2**20 for k, v in self.peaks.items()}

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once by
    :meth:`dump` when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span whose bounds were observed from callbacks."""
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": self._open[-1] if self._open else None,
                "run_id": self.run_id,
                "start": start,
                "end": end,
                **attrs,
            }
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------- executed-plan metrics


def materialise(df) -> tuple[object, int]:
    """Execute ``df``'s own QueryExecution (``toRdd().count()``) so that its
    executed plan keeps the SQL metrics; a noop write would run a new
    QueryExecution and leave these at 0. Returns (executed plan, rows)."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    return qe.executedPlan(), rows


def _plan_nodes(plan):
    todo = [plan]
    while todo:
        p = todo.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        yield kind, p
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_metrics(executed_plan) -> dict[str, float]:
    """Exchange, MapInArrow and scan SQL metrics summed over the final
    (post-AQE) physical plan."""
    out = {
        "exchange_count": 0,
        "exchange_bytes": 0,
        "exchange_write_s": 0.0,
        "arrow_bytes_to_python": 0,
        "arrow_bytes_from_python": 0,
        "python_s": 0.0,
        "python_boot_s": 0.0,
        "scan_bytes": 0,
    }
    for kind, node in _plan_nodes(executed_plan):
        if kind == "ShuffleExchangeExec":
            m = _metric_values(node)
            out["exchange_count"] += 1
            out["exchange_bytes"] += m.get("dataSize", 0)
            out["exchange_write_s"] += m.get("shuffleWriteTime", 0) / 1e9
        elif kind == "MapInArrowExec":
            m = _metric_values(node)
            out["arrow_bytes_to_python"] += m.get("pythonDataSent", 0)
            out["arrow_bytes_from_python"] += m.get("pythonDataReceived", 0)
            out["python_s"] += m.get("pythonTotalTime", 0) / 1e3
            out["python_boot_s"] += m.get("pythonBootTime", 0) / 1e3
        elif kind == "FileSourceScanExec":
            out["scan_bytes"] += _metric_values(node).get("filesSize", 0)
    return out
