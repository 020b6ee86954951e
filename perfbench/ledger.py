"""Per-layer ledger: Python-side spans plus Spark event-log task metrics.

The traced run tags every Spark job it starts with a job group
``"<layer>:<call>"`` (``sc.setJobGroup``) and records one span per layer
boundary in memory.  After the session stops, :func:`parse_event_log`
reads the JSON-lines event log offline and sums the task metrics of every
job group; :func:`layer_metrics` joins those sums with the spans.

Attribution: a task belongs to the job group of the stage it ran in; the
stage's group is the ``spark.jobGroup.id`` property of its
``SparkListenerStageSubmitted`` event (falling back to the first
``SparkListenerJobStart`` that lists the stage).  Executor CPU time is the
JVM threads' only: time spent inside Python workers (the Arrow signature
kernel, ``mapInPandas`` union-find, the matchset replay) shows in
``task_s`` but not in ``cpu_s``.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

MB = 1_000_000

# task-metric sums kept per job group
_SUMS = (
    "task_s",
    "cpu_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)


@dataclass
class GroupStats:
    """Task-metric totals of one job group."""

    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    # stage id -> task run times (s), for the skew of the heaviest stage
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """max ÷ median task run time in the stage with the most task time
        (1.0 when the group ran no multi-task stage)."""
        multi = [ts for ts in self.stage_task_s.values() if len(ts) > 1]
        if not multi:
            return 1.0
        heaviest = max(multi, key=sum)
        med = statistics.median(heaviest)
        return max(heaviest) / med if med > 0 else 1.0


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Job group -> task-metric totals, from the lines of a Spark JSON
    event log.  Tasks of stages without a job group are dropped."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties"))
            if g is None:
                continue
            groups.setdefault(g, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = _group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = stage_group.get(sid)
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            st = groups.setdefault(g, GroupStats())
            run_s = m.get("Executor Run Time", 0) / 1000.0
            st.tasks += 1
            st.task_s += run_s
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics", {})
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            st.stage_task_s.setdefault(sid, []).append(run_s)
    return groups


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around layer calls, one job group per span.

    Spans are only appended while the run goes; :meth:`dump` writes them
    out once, after the measurement."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.call = 0

    def group(self, name: str) -> str:
        return f"{name}:{self.call}"

    def span(self, name: str):
        """A layer span of the current call, its work in its own job group;
        the call itself is the span named ``call`` (parent None)."""
        return _SpanCtx(self, name, None if name == "call" else "call")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: str | None):
        self.t = tracer
        self.name = name
        self.parent = parent

    def __enter__(self):
        self.t.sc.setJobGroup(self.t.group(self.name), self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t.spans.append(
            Span(self.name, self.start, end, self.parent, self.t.group("call"))
        )
        self.t.sc.setJobGroup(self.t.group("_probe"), "probe")
        return False


LAYERS = ("signatures", "lsh", "verify", "components", "grouping", "sigstore")
LAYER_FIELDS = (
    "wall_s", "task_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "jobs", "tasks", "task_skew", "rows_in", "rows_out",
)


def layer_metrics(
    spans: list[Span],
    groups: dict[str, GroupStats],
    run_id: str,
    rows: dict[str, tuple[int, int]],
) -> dict[str, float]:
    """``<layer>.<field>`` for one traced call (``run_id``): the layer's
    span wall time plus the task metrics of its job group.  A layer the
    call does not use reports zeros.  ``rows`` maps layer -> (rows_in,
    rows_out) as counted by the caller."""
    call_idx = run_id.rsplit(":", 1)[1]
    out: dict[str, float] = {}
    for layer in LAYERS:
        wall = sum(s.wall_s for s in spans if s.run_id == run_id and s.name == layer)
        st = groups.get(f"{layer}:{call_idx}", GroupStats())
        r_in, r_out = rows.get(layer, (0, 0))
        vals = {
            "wall_s": wall,
            "jobs": st.jobs,
            "tasks": st.tasks,
            "task_skew": st.task_skew if st.tasks else 0.0,
            "rows_in": r_in,
            "rows_out": r_out,
            **{k: getattr(st, k) for k in _SUMS},
        }
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = vals[f]
    return out
