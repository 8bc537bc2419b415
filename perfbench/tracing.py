"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the engine from outside: spans around the
benchmark's own calls into each module, a span-recording wrapper
installed over ``sources.batch.load_table``, Spark job groups, and a roll-up of
the Spark event log. Untraced runs use ``NullTracer``, which records
nothing.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from collections import defaultdict
from pathlib import Path


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield

    def job_group(self, spark, group: str) -> None:
        pass


class Tracer:
    """In-memory spans (name, start, end, parent), written by ``dump``."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def job_group(self, spark, group: str) -> None:
        spark.sparkContext.setJobGroup(group, group)

    def _select(self, name: str, under: str | None) -> list[dict]:
        """Spans called ``name``, only those inside an ``under`` span
        when given."""
        picked = []
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while under is not None and p is not None and self.spans[p]["name"] != under:
                p = self.spans[p]["parent"]
            if under is None or p is not None:
                picked.append(s)
        return picked

    def total(self, name: str, under: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self._select(name, under))

    def count(self, name: str, under: str | None = None) -> int:
        return len(self._select(name, under))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def wrap_load_table(tracer: Tracer):
    """Route every module's ``load_table`` through a span; returns an
    undo callable. Operator modules bind the function by name at import
    time, so each binding is replaced, not only ``sources.batch``'s."""
    from big_data_2021_spark_streaming_spark.sources import batch

    original = batch.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("load_table", table=name):
            return original(spark, sf_dir, name)

    patched = [
        mod
        for mod in list(sys.modules.values())
        if getattr(mod, "load_table", None) is original
    ]
    for mod in patched:
        mod.load_table = load_table

    def undo() -> None:
        for mod in patched:
            mod.load_table = original

    return undo


def eventlog_conf(log_dir: Path) -> dict[str, str]:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_MB = 1024 * 1024


def rollup_eventlog(log_dir: Path) -> dict[str, dict[str, float]]:
    """Task-end metrics of every finished application's event log,
    summed per job group. Call after the sessions have stopped, when
    Spark has flushed and closed the logs."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    logs = [
        p for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    for path in sorted(logs):
        stage_group.clear()
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    g["tasks"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                    r = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (
                        r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    ) / _MB
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / _MB
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return {k: dict(v) for k, v in out.items()}


def sum_groups(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
    total: dict[str, float] = defaultdict(float)
    for name, metrics in groups.items():
        if keep(name):
            for k, v in metrics.items():
                total[k] += v
    return dict(total)


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    query execution, forced here. The noop write plans a separate
    command, so this costs the traced run one extra planning pass."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
