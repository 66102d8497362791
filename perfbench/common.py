"""Shared plumbing: the work directory, the Spark session, spans, the
event-log reader, peak RSS and small statistics helpers."""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import statistics
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")  # git-ignored; everything lands here
DATA = os.path.join(WORK, "data")
DRIVER_MEM = "2g"


def cpus() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def copy_tree(src: str, dst: str) -> str:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


def start_session(run_dir: str, eventlog: bool):
    """``get_spark()`` at ``local[nproc]``, with scratch space, Python and
    JVM temp files and (traced runs) the uncompressed, non-rolling event
    log all under ``run_dir``. Everything is set through the environment
    and launch arguments, so the session factory runs as shipped."""
    local = fresh_dir(os.path.join(run_dir, "spark-local"))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # JVM temp files (native-library extraction) go there too; no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    # The driver JVM only (not spark-submit's small launcher JVM). The heap
    # is committed and touched at start, so peak RSS is the fixed heap plus
    # what lives outside it, not how far G1 happened to grow the heap
    # before the run ended. JIT thresholds at a tenth: at the default ones
    # the stream's per-call fixed cost still fell by a third over 90 calls,
    # so a run's figures depended on how far its JIT had got; at a tenth it
    # levels off within about 20 calls, the warm state of a long-running
    # service.
    os.environ["SPARK_SUBMIT_OPTS"] = (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                       "-XX:CompileThresholdScaling=0.1")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    args = [f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false"]
    if eventlog:
        ev = fresh_dir(os.path.join(run_dir, "eventlog"))
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{ev}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    tempfile.tempdir = local
    from data_transform_make_spark.session import get_spark

    return get_spark("perfbench")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, their children, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces; fields after it are fixed
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until every process this run
    started has ended. The JVM exits when its stdin closes; whatever is
    still alive after a grace period is killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        kids = descendants(os.getpid())
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM side may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 10
        while any(_alive(p) for p in kids) and time.time() < deadline:
            time.sleep(0.05)
        for p in kids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        while any(_alive(p) for p in kids):
            time.sleep(0.05)
        for p in kids:  # reap our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests between
    two ``cpu_times()`` readings: context for reading wall-clock metrics."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def reset_peak_rss() -> None:
    """Reset this process's ``VmHWM``, so input generation (DuckDB
    oracle runs included) does not count in the run's peak."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident set size of this process plus its JVM (the sum of
    each process's ``VmHWM``)."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    total_kb = 0
    for pid in {os.getpid(), jvm}:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return float(statistics.median(values))


# ------------------------------------------------------------------ tracing

class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span is ``(id, name, layer, start, end, parent, run_id)``; spans
    are kept in memory and written out when the run ends. When ``enabled``
    each span also labels the Spark jobs it starts with the job group
    ``<layer>:<action>#<span id>``, so the event log maps jobs to layers.
    Disabled, a span costs two clock reads and sets nothing on Spark.
    """

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, action: str, phase: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "layer": layer, "action": action,
             "phase": phase or (parent["phase"] if parent else ""),
             "parent": parent["id"] if parent else None, "run_id": self.run_id,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self.sc.setJobGroup(f"{layer}:{action}#{s['id']}", f"{layer} {action}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(
                        f"{parent['layer']}:{parent['action']}#{parent['id']}",
                        f"{parent['layer']} {parent['action']}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self, phase: str) -> dict[str, float]:
        """Per layer: span duration minus the part its child spans cover."""
        spans = [s for s in self.spans if s["phase"] == phase and s["end"] is not None]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def read_event_log(ev_dir: str) -> dict:
    """Parse the (uncompressed) Spark event log into jobs, stages and
    per-stage task aggregates."""
    files = [f for f in glob.glob(os.path.join(ev_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": e.get("Submission Time", 0) / 1000.0,
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    scopes = []
                    for rdd in info.get("RDD Info", []):
                        try:
                            scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                        except ValueError:
                            pass
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["scopes"] = scopes
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    m = e.get("Task Metrics") or {}
                    ti = e.get("Task Info") or {}
                    st["tasks"] += 1
                    st["durations"].append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    st["shuffle_w_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "durations": [], "gc_ms": 0, "spill_b": 0,
            "shuffle_w_b": 0, "input_b": 0, "output_b": 0, "scopes": []}


def stages_by_span(log: dict, spans: list[dict]) -> dict[int, list[dict]]:
    """Stage records per span id. A job belongs to the span named in its
    job group; a job without one (a streaming query's own thread) belongs
    to the innermost span open when it was submitted."""
    out: dict[int, list[dict]] = {}
    seen: set[int] = set()
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        sid = None
        if job["group"] and "#" in job["group"]:
            sid = int(job["group"].rsplit("#", 1)[1])
        else:
            best = None
            for s in spans:
                if s["end"] is not None and s["start"] <= job["submit"] <= s["end"]:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        if sid is None:
            continue
        for st_id in job["stages"]:
            if st_id in seen or st_id not in log["stages"]:
                continue
            seen.add(st_id)
            out.setdefault(sid, []).append(log["stages"][st_id])
    return out


def layer_counters(log: dict, spans: list[dict], phase: str) -> dict[str, dict]:
    """Sum stage counters per layer over the spans of one phase."""
    by_span = stages_by_span(log, spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s["phase"] != phase:
            continue
        acc = out.setdefault(s["layer"], {"tasks": 0, "gc_ms": 0, "spill_b": 0, "shuffle_w_b": 0,
                                          "input_b": 0, "output_b": 0, "stages": []})
        for st in by_span.get(s["id"], []):
            for k in ("tasks", "gc_ms", "spill_b", "shuffle_w_b", "input_b", "output_b"):
                acc[k] += st[k]
            acc["stages"].append(st)
    return out
