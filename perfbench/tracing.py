"""Traced-run instrumentation, kept out of the timed runs.

Spans are recorded from the benchmark's own files, around calls into the
engine's modules; nothing inside ``table_demo_spark`` is changed. Each
span tags the Spark jobs it fires with its own job group, so the Spark
event log (enabled for traced runs only) attributes jobs, stages and
tasks to spans exactly. Spans stay in memory and are written out when
the run ends.
"""

from __future__ import annotations

import glob
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group each span sets while it is open."""

    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent=parent, run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s.sid)
        prev = self.sc.getLocalProperty(_GROUP) if self.sc else None
        if self.sc:
            self.sc.setJobGroup(f"span-{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc:
                self.sc.setLocalProperty(_GROUP, prev)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        child spans cover."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += (s.end - s.start) * 1000
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) * 1000 - child_ms[s.sid]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def patch_everywhere(module, name: str, replacement) -> None:
    """Rebind ``module.name`` and every ``from module import name`` copy
    in the engine's loaded modules, so calls from inside the engine go
    through ``replacement`` too."""
    original = getattr(module, name)
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("table_demo_spark") and getattr(mod, name, None) is original:
            setattr(mod, name, replacement)


# ---------------------------------------------------------------------------
# Spark event log reduction.
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False
    to_python: int = 0
    from_python: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageStats]]:
    """Jobs (with their job group and wall interval) and per-stage task
    totals from the event log files in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = defaultdict(StageStats)
    completed: set[int] = set()
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], props.get(_GROUP), e["Submission Time"],
                        stage_ids=list(e["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    st = stages[e["Stage ID"]]
                    st.tasks += 1
                    st.run_ms += m["Executor Run Time"]
                    st.cpu_ms += m["Executor CPU Time"] / 1e6
                    st.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages[info["Stage ID"]]
                    completed.add(info["Stage ID"])
                    for acc in info.get("Accumulables", []):
                        acc_name = acc.get("Name", "")
                        if "Python workers" not in acc_name:
                            continue
                        st.python = True
                        value = int(acc.get("Value") or 0)
                        if acc_name == "data sent to Python workers":
                            st.to_python += value
                        elif acc_name == "data returned from Python workers":
                            st.from_python += value
    # stages skipped because their shuffle output was reused never run
    return list(jobs.values()), {k: v for k, v in stages.items() if k in completed}


def busy_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(jobs: list[Job], stages: dict[int, StageStats]) -> dict[str, float]:
    """Counts and task totals over a set of jobs."""
    ids = {sid for j in jobs for sid in j.stage_ids if sid in stages}
    sts = [stages[i] for i in ids]
    py = [s for s in sts if s.python]
    return {
        "jobs": len(jobs),
        "stages": len(sts),
        "tasks": sum(s.tasks for s in sts),
        "task_run_ms": sum(s.run_ms for s in sts),
        "jvm_cpu_ms": sum(s.cpu_ms for s in sts),
        "shuffle_bytes": sum(s.shuffle_bytes for s in sts),
        "spill_bytes": sum(s.spill_bytes for s in sts),
        "python_ms": sum(max(0.0, s.run_ms - s.cpu_ms) for s in py),
        "to_python": sum(s.to_python for s in py),
        "from_python": sum(s.from_python for s in py),
        "busy_ms": busy_ms([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms]),
    }
