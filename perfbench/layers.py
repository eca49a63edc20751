"""Measurement plumbing: spans, /proc CPU and memory, Spark REST metrics.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into each layer, CPU and RSS come from /proc, and
the engine-level numbers come from Spark's REST API (enabled only in
traced runs).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end.

    Times are wall-clock epoch seconds so they line up with Spark's job
    and SQL submission times."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self_s": selfs[s["id"]]} for s in self.spans], f, indent=1)


@contextlib.contextmanager
def job_group(spark, label: str):
    """Label the Spark jobs this thread submits (visible in the UI/REST)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


@contextlib.contextmanager
def wrapped(module, names: list[str], tracer: Tracer, prefix: str):
    """Temporarily wrap public functions of `module` in spans, so calls
    the program makes into that layer are timed at its boundary."""
    saved = {n: getattr(module, n) for n in names}

    def wrap(n, fn):
        def inner(*a, **kw):
            with tracer.span(f"{prefix}.{n}"):
                return fn(*a, **kw)

        return inner

    for n, fn in saved.items():
        setattr(module, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


# ---------------------------------------------------------------------------
# /proc: CPU seconds and RSS of this process tree
# ---------------------------------------------------------------------------
def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return ppid, comm, cpu, int(fields[21]) * _PAGE


def process_tree(root: int | None = None) -> dict[int, tuple[int, str, float, int]]:
    """Every live process descending from `root` (default: this one)."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, st in stats.items():
            if pid not in keep and st[0] in keep:
                keep.add(pid)
                changed = True
    return {pid: stats[pid] for pid in keep if pid in stats}


def tree_cpu_s() -> float:
    """CPU seconds of this process, the driver JVM and the Python workers
    (live processes plus the children they have reaped)."""
    return sum(st[2] for st in process_tree().values())


class RssSampler:
    """Peak RSS of the driver JVM and of the Python workers, sampled
    from /proc on a background thread."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.jvm_peak = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm = workers = 0
            for pid, (_, comm, _, rss) in process_tree(me).items():
                if comm == "java":
                    jvm += rss
                elif pid != me and comm.startswith("python"):
                    workers += rss
            self.jvm_peak = max(self.jvm_peak, jvm)
            self.workers_peak = max(self.workers_peak, workers)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark REST: stage and SQL metrics of the jobs a span launched
# ---------------------------------------------------------------------------
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SQL_METRICS = {
    "size of files read": "scan_bytes",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_init_s",
    "time to initialize Python workers": "python_boot_init_s",
}


def parse_metric(value: str) -> float:
    """A Spark UI metric string ('20,000', '41.4 MiB', 'total (...)\\n5.5 s
    (...)') as a number in bytes, seconds or a plain count."""
    if "\n" in value:
        value = value.split("\n", 1)[1].split(" (", 1)[0]
    parts = value.strip().split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1:
        num *= _SIZE.get(parts[1], _TIME.get(parts[1], 1.0))
    return num


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkRest:
    """Reads the live application's REST API (traced runs only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store the REST API reads."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001

    def snapshot(self) -> dict:
        self.drain()
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&length=100000"),
        }

    def window(
        self, snap: dict, start: float, end: float, seq_rows: int, group: str | None = None
    ) -> dict:
        """Engine metrics of the jobs submitted in [start, end] (or, with
        `group`, of the jobs carrying that job-group label).

        Stage figures cover the stages that ran. Scan and Python figures
        are SQL operator metrics summed over tasks; they are exact for
        plans without cached relations (the per-family calls), because a
        plan that reads a cache also lists the cached plan's operators.
        ``sequences_scans`` counts the stages that read exactly
        `seq_rows` input records: full passes over the sequences table."""
        if group is not None:
            jobs = [j for j in snap["jobs"] if j.get("jobGroup") == group]
        else:
            jobs = [
                j for j in snap["jobs"]
                if "submissionTime" in j and start <= _epoch(j["submissionTime"]) <= end
            ]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in snap["stages"]
            if s["stageId"] in stage_ids and s["status"] not in ("SKIPPED", "PENDING")
        ]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "scan_bytes": 0.0,
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "max_task_s": 0.0,
            "python_sent_bytes": 0.0,
            "python_received_bytes": 0.0,
            "python_s": 0.0,
            "python_boot_init_s": 0.0,
            "sequences_scans": sum(s["inputRecords"] == seq_rows for s in stages),
        }
        for s in stages:
            summ = self.get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
            out["max_task_s"] = max(out["max_task_s"], summ["duration"][0] / 1e3)
        for ex in snap["sql"]:
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids or not ids <= job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _SQL_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_metric(m["value"])
        return out
