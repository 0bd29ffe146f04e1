"""Shared machinery of the benchmark: the work directory, the Spark
session lifecycle, statistics, spans, Spark's event log and the
streaming listener.

Everything here sits outside the package under test and reaches it
only through its public entry points (``get_spark``, the CLI's
``main``, the parser, sinks and views).
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import time
from contextlib import contextmanager
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parents[1]
WORK_ROOT = REPO / "perfbench" / "_work"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path, cpus: int) -> None:
    """Pin Spark to ``local[cpus]`` and keep every scratch file the
    JVM and Python write inside ``work``. Must run before the JVM
    starts."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # -XX:-UsePerfData: no /tmp/hsperfdata_* file outside the work dir.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"
        " -XX:-UsePerfData")


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s) - 1e-9) - 1)]


def rmtree(p: Path) -> None:
    shutil.rmtree(p, ignore_errors=True)


def dir_stats(root: Path) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under ``root``."""
    n = b = 0
    for p in root.rglob("*.parquet"):
        if p.is_file():
            n += 1
            b += p.stat().st_size
    return n, b


# --------------------------------------------------------------- session

class Session:
    """Owns the SparkSession for one benchmark run: starts it (timed),
    restarts it for a repeated set-up, tags jobs, and shuts the JVM
    down at the end so no process outlives the run."""

    def __init__(self, work: Path):
        self.work = work
        self.trace = False
        self.master = None
        self.eventlog_dir = work / "eventlog"
        self.spark = None

    def _conf(self) -> dict[str, str]:
        conf = {"spark.sql.warehouse.dir": str(self.work / "warehouse")}
        if self.trace:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.eventlog_dir.as_uri(),
            })
        return conf

    def start(self, master: str | None = None, trace: bool | None = None):
        from dump1090_db_stream_spark import get_spark

        if master is not None:
            self.master = master
        if trace is not None:
            self.trace = trace
        kw = {"master": self.master} if self.master else {}
        self.spark = get_spark("perfbench", extra_conf=self._conf(), **kw)
        return self.spark

    def restart(self, master: str | None = None, trace: bool | None = None):
        self.stop()
        return self.start(master, trace)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    @contextmanager
    def job_group(self, group: str):
        """Tag the jobs run inside with ``group`` while tracing."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants that are
    still alive (the Spark JVM), in MB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = own, list(children.get(me, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks so far, from /proc/stat; steal is time
    the hypervisor gave the virtual CPUs' hosts to other guests."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


# ----------------------------------------------------------------- spans

class Tracer:
    """Spans recorded by the benchmark around its calls into each layer:
    name, start, end and parent, kept in memory and written out at the
    end. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time(self, name: str) -> float:
        """Total duration of ``name`` spans minus their children's."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        total = sum(self.durations(name))
        child = sum(s["end"] - s["start"] for s in self.spans
                    if s["parent"] in ids and s["end"] is not None)
        return total - child


# ------------------------------------------------------------- event log

_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem",
    "internal.metrics.diskBytesSpilled": "spill_disk",
}


def read_eventlog(directory: Path) -> list[dict]:
    """Jobs from Spark's event log under ``directory``: one record per
    job with its group, description, submission time (s) and the
    summed counters of its completed stages."""
    events = []
    for p in sorted(directory.rglob("*")):
        if p.is_file() and not p.name.endswith(".inprogress.crc"):
            with open(p, errors="replace") as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        try:
                            events.append(json.loads(line))
                        except json.JSONDecodeError:
                            pass  # a line cut off by a live writer
    stages: dict[int, dict] = {}
    for e in events:
        if e.get("Event") == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            rec = {"tasks": info.get("Number of Tasks", 0), "cpu_ns": 0,
                   "shuffle_write_bytes": 0, "spill_mem": 0, "spill_disk": 0}
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key:
                    rec[key] += int(acc.get("Value", 0))
            stages[info["Stage ID"]] = rec
    jobs = []
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        sids = [s for s in e.get("Stage IDs", []) if s in stages]
        job = {"group": props.get("spark.jobGroup.id") or "",
               "description": props.get("spark.job.description") or "",
               "time": e.get("Submission Time", 0) / 1000.0,
               "stages": len(sids), "tasks": 0, "cpu_ns": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for s in sids:
            st = stages[s]
            job["tasks"] += st["tasks"]
            job["cpu_ns"] += st["cpu_ns"]
            job["shuffle_write_bytes"] += st["shuffle_write_bytes"]
            job["spill_bytes"] += st["spill_mem"] + st["spill_disk"]
        jobs.append(job)
    return jobs


def exec_counters(jobs: list[dict], n_ops: int) -> dict[str, float]:
    """``exec.*`` counters of ``jobs`` per operation."""
    n = max(1, n_ops)
    return {
        "exec.jobs": len(jobs) / n,
        "exec.stages": sum(j["stages"] for j in jobs) / n,
        "exec.tasks": sum(j["tasks"] for j in jobs) / n,
        "exec.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9 / n,
        "exec.shuffle_write_bytes":
            sum(j["shuffle_write_bytes"] for j in jobs) / n,
        "exec.spill_bytes": sum(j["spill_bytes"] for j in jobs) / n,
    }


# ------------------------------------------------------ streaming listener

def make_progress_listener(sink: list):
    """A StreamingQueryListener appending each micro-batch's progress
    (as a plain dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def parse_iso(ts: str) -> float:
    """Epoch seconds of a progress timestamp such as
    ``2026-03-01T12:00:00.123Z``."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def pipeline_metrics(progress: list[dict], window: tuple[float, float]
                     ) -> dict[str, float]:
    """``pipeline.*`` and ``sources.getbatch_s_p50`` from the listener's
    progress records of batches that read data."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        return {}

    def dur(p, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys) / 1000.0

    def p50(*keys):
        return median([dur(p, *keys) for p in data])

    busy = sum(dur(p, "triggerExecution") for p in data)
    span = max(1e-9, window[1] - window[0])
    last_state = next((p["stateOperators"][0] for p in reversed(data)
                       if p.get("stateOperators")), {})
    state_commit = [p["stateOperators"][0].get("commitTimeMs", 0) / 1000.0
                    for p in data if p.get("stateOperators")]
    return {
        "pipeline.batches": float(len(data)),
        "pipeline.trigger_s_p50": p50("triggerExecution"),
        "pipeline.plan_s_p50": p50("queryPlanning"),
        "pipeline.addbatch_s_p50": p50("addBatch"),
        "pipeline.commit_s_p50": p50("walCommit", "commitOffsets"),
        "pipeline.idle_share": max(0.0, 1.0 - busy / span),
        "pipeline.state_rows": float(last_state.get("numRowsTotal", 0)),
        "pipeline.state_bytes": float(last_state.get("memoryUsedBytes", 0)),
        "pipeline.state_commit_s_p50":
            median(state_commit) if state_commit else 0.0,
        "sources.getbatch_s_p50": p50("getBatch", "latestOffset"),
    }


# -------------------------------------------------- checkpoint inspection

def checkpoint_batches(ck: Path) -> tuple[dict[str, int], dict[int, float]]:
    """From a file-source query's checkpoint: the batch that read each
    source file (by file name) and the commit time of each batch (the
    mtime of ``commits/N``)."""
    file_batch: dict[str, int] = {}
    src = ck / "sources" / "0"
    if src.is_dir():
        for p in src.iterdir():
            if p.name.startswith(".") or p.name.endswith(".tmp"):
                continue
            with open(p, errors="replace") as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    rec = json.loads(line)
                    name = rec["path"].rsplit("/", 1)[-1]
                    file_batch[name] = int(rec["batchId"])
    commits: dict[int, float] = {}
    cdir = ck / "commits"
    if cdir.is_dir():
        for p in cdir.iterdir():
            if p.name.isdigit():
                commits[int(p.name)] = p.stat().st_mtime
    return file_batch, commits
