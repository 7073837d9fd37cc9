"""Spans and per-op counts for the traced benchmark run.

Spans are kept in memory and written out once, when the run ends.
Counts come from Spark's own status REST API
(``/api/v1/applications/<id>/{jobs,stages,sql}``), keyed by the job
groups this module sets around each phase of an op. They are fetched
right after each op, outside its timed window: the UI keeps only
``spark.ui.retainedJobs`` jobs, so counts fetched at the end of a run
would lose the early passes.
"""

from __future__ import annotations

import json
import re
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench"

# SQL-node metrics of the Python exec nodes (MapInPandas,
# ArrowEvalPython, ...), by their display name in the status API.
PYTHON_NODE_METRICS = {
    "time to run Python workers": "udf.python_run_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to start Python workers": "udf.python_start_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}

# stage field -> (count name, scale to seconds or 1)
STAGE_FIELDS = {
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "outputBytes": ("output_bytes", 1),
    "outputRecords": ("output_records", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "numCompleteTasks": ("tasks", 1),
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
    "TiB": 1024 ** 4,
}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric_value(text: str) -> float:
    """Total of one SQL-node metric as the status API renders it:
    either ``"12.5 MiB"`` or a header line followed by
    ``"1.2 s (10 ms, 20 ms, 30 ms (stage 3.0: task 7))"``."""
    last = text.strip().split("\n")[-1]
    m = _METRIC_RE.match(last)
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int


@dataclass
class Tracer:
    """Times phases of the benchmark. With ``enabled`` it also records
    spans and tags the Spark jobs of each phase with a job group; with
    it off the same code only reads the clock."""

    sc: object
    run_id: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next_id: int = 0

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id - 1

    @contextmanager
    def span(self, name: str, group: str | None = None):
        timing = Timing()
        if self.enabled:
            span_id = self._new_id()
            parent = self._stack[-1] if self._stack else None
            self._stack.append(span_id)
            if group is not None:
                self.sc.setJobGroup(group, name)
        timing.start = time.perf_counter()
        try:
            yield timing
        finally:
            timing.end = time.perf_counter()
            if self.enabled:
                if group is not None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._stack.pop()
                self.spans.append(Span(name, timing.start, timing.end,
                                       parent, self.run_id, span_id))

    def record(self, name: str, start: float, end: float) -> None:
        """Add a top-level span for an interval timed before the tracer
        existed (the session start)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, self.run_id,
                                   self._new_id()))

    def group(self, op_key: str, phase: str) -> str | None:
        if not self.enabled:
            return None
        return f"{GROUP_PREFIX}:{self.run_id}:{op_key}:{phase}"

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.span_id):
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class Timing:
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StatusApi:
    """Minimal client of Spark's status REST API on localhost."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())


# how long to wait for the status store to catch up with an op
SETTLE_TIMEOUT_S = 20.0
_DONE_JOB = ("SUCCEEDED", "FAILED")
_DONE_SQL = ("COMPLETED", "FAILED")


class OpCounter:
    """Counts the jobs, stages and SQL executions each op started.

    An op's jobs are the new jobs tagged with one of its groups, plus
    new jobs with a group this benchmark did not set: a streaming
    query runs its micro-batches under its own run id."""

    def __init__(self, api: StatusApi):
        self.api = api
        self.max_job = max((j["jobId"] for j in api.get("/jobs")),
                           default=-1)
        self.max_exec = max((e["id"] for e in self._executions()),
                            default=-1)

    def _executions(self):
        return self.api.get(
            "/sql?details=false&planDescription=false"
            "&offset=0&length=100000"
        )

    def _settled(self, fetch, key, done):
        """Poll until every new item has finished: the status store is
        filled by an asynchronous listener, so it can lag the call that
        ran the work."""
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            items = [x for x in fetch() if x[key[0]] > key[1]]
            if all(x["status"] in done for x in items) or \
                    time.monotonic() > deadline:
                return items
            time.sleep(0.02)

    def collect(self, groups: dict[str, str]) -> dict[str, dict[str, float]]:
        """``groups`` maps job group -> phase name. Returns per-phase
        counts; jobs outside the benchmark's groups go to ``exec``."""
        jobs = self._settled(lambda: self.api.get("/jobs"),
                             ("jobId", self.max_job), _DONE_JOB)
        execs = self._settled(self._executions, ("id", self.max_exec),
                              _DONE_SQL)
        self.max_job = max([self.max_job] + [j["jobId"] for j in jobs])
        self.max_exec = max([self.max_exec] + [e["id"] for e in execs])

        phases = sorted(set(groups.values()) | {"exec"})
        out = {p: _zero_counts() for p in phases}
        job_phase: dict[int, str] = {}
        stage_phase: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            if g in groups:
                phase = groups[g]
            elif g.startswith(GROUP_PREFIX + ":"):
                continue  # another op's job; cannot happen when sequential
            else:
                phase = "exec"
            job_phase[j["jobId"]] = phase
            c = out[phase]
            c["jobs"] += 1
            c["stages_skipped"] += j.get("numSkippedStages", 0)
            for sid in j.get("stageIds", []):
                stage_phase[sid] = phase

        for sid, phase in stage_phase.items():
            try:
                attempts = self.api.get(f"/stages/{sid}?details=false")
            except urllib.error.HTTPError as e:
                if e.code != 404:  # a skipped stage may never be stored
                    raise
                continue
            for st in attempts:
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                c = out[phase]
                c["stages"] += 1
                for fld, (name, scale) in STAGE_FIELDS.items():
                    c[name] += st.get(fld, 0) * scale

        for e in execs:
            ids = (e.get("successJobIds", []) + e.get("failedJobIds", [])
                   + e.get("runningJobIds", []))
            phase = next((job_phase[i] for i in ids if i in job_phase), None)
            if phase is None:
                continue
            detail = self.api.get(
                f"/sql/{e['id']}?details=true&planDescription=false")
            c = out[phase]
            for node in detail.get("nodes", []):
                for m in node.get("metrics", []):
                    name = PYTHON_NODE_METRICS.get(m.get("name"))
                    if name is not None:
                        c[name] += parse_metric_value(m.get("value", ""))
        return out


def _zero_counts() -> dict[str, float]:
    names = ["jobs", "stages", "stages_skipped"]
    names += [n for n, _ in STAGE_FIELDS.values()]
    names += list(PYTHON_NODE_METRICS.values())
    return dict.fromkeys(names, 0)
