"""Spans around calls into the program's layers, with Spark attribution.

A ``Tracer`` times each call the harness makes into a layer. With tracing
on, each span also runs under its own Spark job group, so the jobs it
triggered can be read back from Spark's status tracker and status store:
job and task counts, executor time, shuffle, spill, scan input, and the
part of the span's wall no running job covered (driver-side planning and
Python orchestration). Spans live in memory until ``layer_metrics``
summarises them at the end of the run. With tracing off a span only
measures its wall time, so end-to-end runs pay nothing for attribution.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "operators", "caching", "state", "sinks")
PER_LAYER = (
    "wall_s", "self_s", "jobs", "tasks", "failed_tasks",
    "executor_s", "shuffle_bytes", "spill_bytes", "driver_gap_s",
)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: int | None
    group: str | None
    end: float = 0.0
    action: bool = False  # an action consuming operator output
    child_s: float = 0.0
    stats: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _seq(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _millis(option_date) -> float | None:
    return option_date.get().getTime() / 1000.0 if option_date.isDefined() else None


class Tracer:
    """Records spans. ``spark`` is re-read through ``get_spark`` because
    set-up rebuilds the session between repetitions."""

    def __init__(self, enabled: bool, get_spark):
        self.enabled = enabled
        self.get_spark = get_spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.bookkeeping_s = 0.0
        self.t0 = time.perf_counter()
        # perf_counter -> epoch offset, to compare span bounds with Spark's
        # job submission/completion timestamps
        self.epoch_offset = time.time() - self.t0

    @contextmanager
    def span(self, layer: str, name: str, action: bool = False):
        parent = self.stack[-1] if self.stack else None
        sp = Span(layer, name, 0.0, parent, None, action=action)
        idx = len(self.spans)
        self.spans.append(sp)
        self.stack.append(idx)
        if self.enabled:
            b0 = time.perf_counter()
            sp.group = f"perfbench-{idx}-{layer}-{name}"
            self._set_group(sp.group)
            self.bookkeeping_s += time.perf_counter() - b0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.wall
            if self.enabled:
                b0 = time.perf_counter()
                self._collect(sp)
                self._set_group(self.spans[parent].group if parent is not None else None)
                self.bookkeeping_s += time.perf_counter() - b0

    def _set_group(self, group: str | None) -> None:
        spark = self.get_spark()
        if spark is None:
            return
        sc = spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def _collect(self, sp: Span) -> None:
        """Attribute the span's jobs: waits for the listener bus so the
        status store has seen every job end, then sums stage metrics."""
        spark = self.get_spark()
        stats = dict.fromkeys(
            ("jobs", "tasks", "failed_tasks", "executor_s", "shuffle_bytes",
             "spill_bytes", "rows_in", "input_bytes", "covered_s"), 0.0)
        sp.stats = stats
        if spark is None or sp.group is None:
            return
        jsc = spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - stopped context: nothing to attribute
            return
        store = jsc.statusStore()
        job_ids = spark.sparkContext.statusTracker().getJobIdsForGroup(sp.group)
        lo, hi = sp.start + self.epoch_offset, sp.end + self.epoch_offset
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            stats["jobs"] += 1
            sub, done = _millis(job.submissionTime()), _millis(job.completionTime())
            if sub is not None:
                intervals.append((max(lo, sub), min(hi, done if done is not None else hi)))
            for sid in _seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage never attempted
                    continue
                stats["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                stats["failed_tasks"] += st.numFailedTasks()
                stats["executor_s"] += st.executorRunTime() / 1000.0
                stats["shuffle_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.diskBytesSpilled()
                stats["rows_in"] += st.inputRecords()
                stats["input_bytes"] += st.inputBytes()
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(intervals):
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        stats["covered_s"] = max(0.0, covered)

    # -- summary ---------------------------------------------------------

    def layer_metrics(self, wall_s: float) -> dict[str, float]:
        """Per-layer totals over every span; ``wall_s`` is the traced
        run's wall, against which top-level spans are accounted."""
        out = {f"{layer}.{key}": 0.0 for layer in LAYERS for key in PER_LAYER}
        rows_in = input_bytes = 0.0
        top_level_s = harness_s = exec_s = 0.0
        for sp in self.spans:
            st = sp.stats
            if sp.parent is None:
                top_level_s += sp.wall
            if sp.action:
                exec_s += sp.wall
            self_s = sp.wall - sp.child_s
            if sp.layer not in LAYERS:
                harness_s += self_s
                continue
            rows_in += st.get("rows_in", 0.0)
            input_bytes += st.get("input_bytes", 0.0)
            add = {key: st.get(key, 0.0) for key in PER_LAYER}
            add.update(wall_s=sp.wall, self_s=self_s,
                       driver_gap_s=max(0.0, self_s - st.get("covered_s", 0.0)))
            for key, v in add.items():
                out[f"{sp.layer}.{key}"] += v
        out["sources.rows_in"] = rows_in
        out["sources.input_bytes"] = input_bytes
        out["operators.build_s"] = sum(
            sp.wall for sp in self.spans if sp.layer == "operators" and not sp.action
        )
        out["operators.exec_s"] = exec_s
        out["tracing.harness_s"] = harness_s
        out["tracing.unattributed_s"] = max(0.0, wall_s - top_level_s)
        out["tracing.overhead_share"] = self.bookkeeping_s / wall_s
        return out
