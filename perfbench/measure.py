"""Measurements taken from outside the program.

- Process tree: CPU (user+system, reaped children included) and peak
  resident memory of this process and all its descendants (the Spark JVM
  and its Python workers), read from ``/proc``.
- Spark's own counters for a job group, from the status tracker and the
  app status store (jobs, stages, tasks, executor CPU, GC, shuffle,
  spill, result bytes), and per-node SQL metrics of the executions those
  jobs belong to (Python-worker time and Arrow bytes, Exchange count).
- ``Tracer``: spans kept in memory (name, start, end, parent) and written
  as one JSON trace at the end of a traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, each live process's
    own time plus the time of the children it has reaped."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree, MB."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / CLK_TCK


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt is not None and opt.isDefined() else None


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("12 ms", "1.5 KiB",
    "100,000", or "total (min, med, max ...)\\n9.0 s (...)") -> number in
    seconds / bytes / units."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class SparkCounters:
    """Reads counters for finished job groups out of the status store.
    Call ``collect`` after the timed passes: it only reads status-store
    metadata, O(jobs + stages + plan nodes)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._defaults = [getattr(self.store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
        self._exec_jobs: dict[int, set] | None = None

    def job_ids(self, groups: list[str]) -> list[int]:
        ids = []
        for g in groups:
            ids.extend(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(g))
        return sorted(set(ids))

    def _executions(self) -> dict[int, set]:
        if self._exec_jobs is None:
            self._exec_jobs = {}
            for e in _seq(self.sql.executionsList()):
                jobs = {int(str(j)) for j in _seq(e.jobs().keys().toSeq())}
                self._exec_jobs[int(e.executionId())] = jobs
        return self._exec_jobs

    def collect(self, groups: list[str]) -> dict:
        """Counters and job/stage intervals (epoch ms) for the jobs of
        ``groups``."""
        jids = self.job_ids(groups)
        c = dict(jobs=len(jids), stages=0, tasks=0, executor_cpu_s=0.0, gc_s=0.0,
                 shuffle_write_bytes=0, spill_bytes=0, result_bytes=0,
                 exchanges=0, python_run_s=0.0, python_boot_s=0.0,
                 arrow_bytes_sent=0.0, arrow_bytes_returned=0.0,
                 job_spans=[], stage_spans=[])
        for jid in jids:
            try:
                jd = self.store.job(jid)
            except Exception:  # evicted from the store: counted as missing
                continue
            sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if sub is not None:
                c["job_spans"].append((f"job {jid}", sub, done or sub))
            for sid in _seq(jd.stageIds()):
                try:
                    attempts = _seq(self.store.stageData(int(str(sid)), *self._defaults))
                except Exception:
                    continue
                for sd in attempts:
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped stages (shuffle reuse) did no work
                    c["stages"] += 1
                    c["tasks"] += int(sd.numTasks())
                    c["executor_cpu_s"] += int(sd.executorCpuTime()) / 1e9
                    c["gc_s"] += int(sd.jvmGcTime()) / 1e3
                    c["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                    c["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                    c["result_bytes"] += int(sd.resultSize())
                    ssub, sdone = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
                    if ssub is not None:
                        c["stage_spans"].append((f"stage {int(sd.stageId())}", ssub, sdone or ssub,
                                                 f"job {jid}"))
        wanted = set(jids)
        for eid, ejobs in self._executions().items():
            if not ejobs & wanted:
                continue
            values = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                if node.name().endswith("Exchange"):
                    c["exchanges"] += 1
                for m in _seq(node.metrics()):
                    key = {PY_RUN: "python_run_s", PY_BOOT: "python_boot_s",
                           PY_SENT: "arrow_bytes_sent", PY_RETURNED: "arrow_bytes_returned"}.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        c[key] += parse_metric(str(v.get()))
        return c


def planning_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last execution,
    from its QueryExecution's phase tracker."""
    total = 0
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        total += int(it.next()._2().durationMs())
    return total / 1e3


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one attribute
    check; enabled, it keeps (id, parent, name, start, end, attrs) with
    epoch-second times so Spark's job and stage intervals line up."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._epoch0 = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = dict(id=len(self.spans), parent=self._stack[-1] if self._stack else None,
                   name=name, start=self.now(), end=None, attrs=attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self.now()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int | None:
        """Record a finished span measured elsewhere (Spark job/stage);
        returns its id."""
        if not self.enabled:
            return None
        self.spans.append(dict(id=len(self.spans), parent=parent, name=name,
                               start=start, end=end, attrs=attrs))
        return self.spans[-1]["id"]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of it that its children cover (children's union, clipped)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, other: dict) -> None:
        """chrome://tracing / Perfetto JSON plus the raw spans."""
        events = [
            dict(name=s["name"], ph="X", ts=s["start"] * 1e6, dur=(s["end"] - s["start"]) * 1e6,
                 pid="perfbench", tid="spark" if s["name"].startswith(("job ", "stage ")) else "run",
                 args=dict(s["attrs"], id=s["id"], parent=s["parent"]))
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(traceEvents=events, spans=self.spans,
                           self_time_s=self.self_times(), otherData=other), f, indent=1)
