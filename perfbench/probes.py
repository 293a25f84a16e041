"""Measurement probes: process-tree CPU and memory from /proc, spans with
Spark job groups, and Spark's own per-stage metrics from the UI REST API.

Nothing here imports the program; the caller passes its SparkContext.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import signal
import time
import urllib.parse
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, user+system CPU seconds of the process and its reaped
    children) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(v) for v in fields[11:15]) / _TICK


def _tree() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _subtree(root: int, tree: dict[int, tuple[int, float]]) -> list[int]:
    """``root`` and every process below it in one /proc scan."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in tree.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def descendants(root: int) -> list[int]:
    """Pids of ``root`` and every process below it."""
    return _subtree(root, _tree())


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants: the
    calling Python process, the JVM and the Python workers it forks. A
    worker that exits is reaped into its parent's child time, so the sum
    only grows."""
    tree = _tree()
    return sum(tree[pid][1] for pid in _subtree(root, tree) if pid in tree)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_pid(root: int) -> int | None:
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if p != os.getpid()]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


class Tracer:
    """Spans around calls into the program's layers. Each span runs under
    its own Spark job group, so Spark's per-stage metrics can be summed per
    span afterwards. Disabled, a span is a no-op.

    A job group is a thread-local property. Threads the program starts
    itself do not inherit it (the forecast grid search fits on a thread
    pool), and Spark's streaming thread sets a group of its own. A span
    therefore also records the wall-clock window, in epoch milliseconds,
    in which its jobs were submitted; ``job_span`` gives every job without
    one of the spans' groups to the span it was submitted in. Spans run
    one after another, so the windows do not overlap."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        # seconds spent in span bookkeeping inside traced ops
        self.self_s = 0.0

    def record(self, name: str, layer: str, parent: str | None, start: float, end: float, **attrs):
        if self.enabled:
            self.spans.append(dict(name=name, layer=layer, parent=parent, start=start, end=end, **attrs))

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, f"{layer}:{name}")
        first_ms = math.floor(time.time() * 1e3)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            last_ms = math.ceil(time.time() * 1e3)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.record(name, layer, parent, start, end, group=group, window_ms=[first_ms, last_ms], **attrs)
            self.self_s += (start - t0) + (time.perf_counter() - end)


def submitted_ms(job: dict) -> int:
    """A REST job's submission time ("2026-01-02T03:04:05.678GMT") in
    epoch milliseconds."""
    stamp = dt.datetime.strptime(job["submissionTime"].replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return round(stamp.timestamp() * 1e3)


def job_span(job: dict, spans: list[dict]) -> dict | None:
    """The span a job ran for: the one whose group it carries or, for a job
    without a span's group, the one it was submitted in; None if neither."""
    group = job.get("jobGroup")
    own = next((sp for sp in spans if sp["group"] == group), None)
    if own is not None or "submissionTime" not in job:
        return own
    t = submitted_ms(job)
    return next((sp for sp in spans if sp["window_ms"][0] <= t <= sp["window_ms"][1]), None)


class SparkRest:
    """Reads the live application's jobs and stages from the UI REST API."""

    DONE_JOB = {"SUCCEEDED", "FAILED"}
    DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}

    def __init__(self, sc):
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is disabled; per-layer metrics need its REST API")
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def settled(self, spans: list[dict], timeout_s: float = 20.0) -> tuple[list[dict], dict]:
        """Jobs of ``spans`` and the stages they ran, once the status store
        has recorded all of them as finished."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("jobs") if job_span(j, spans) is not None]
            stages = {(s["stageId"], s["attemptId"]): s for s in self.get("stages")}
            ids = {sid for j in jobs for sid in j["stageIds"]}
            done = all(j["status"] in self.DONE_JOB for j in jobs) and all(
                s["status"] in self.DONE_STAGE for key, s in stages.items() if key[0] in ids
            )
            if done or time.monotonic() > deadline:
                return jobs, stages
            time.sleep(0.2)

    def failed_tasks(self) -> int:
        return sum(j.get("numFailedTasks", 0) for j in self.get("jobs"))


_STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "jvmGcTime",
)


def span_counters(spans: list[dict], jobs: list[dict], stages: dict) -> dict:
    """Per layer: jobs, executor CPU/run time, bytes in, shuffle, spill and
    GC, summed over the stages its spans' jobs ran. A stage shared by two
    jobs counts once, for the earliest job that lists it."""
    out = {sp["layer"]: {"jobs": 0, **dict.fromkeys(_STAGE_FIELDS, 0)} for sp in spans}
    owner: dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sp = job_span(job, spans)
        if sp is None:
            continue
        out[sp["layer"]]["jobs"] += 1
        for sid in job["stageIds"]:
            owner.setdefault(sid, sp["layer"])
    for (sid, _attempt), stage in stages.items():
        if sid in owner:
            for field in _STAGE_FIELDS:
                out[owner[sid]][field] += stage.get(field) or 0
    return out
