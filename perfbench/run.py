"""The repository's benchmark: the paper's RSVP stream and a registry
pass, timed end to end and per module.

Run from the repository root:

    python3 perfbench/run.py --workload stream_q3_window --seed 1 \
        --seconds 20 --trace 0

Workloads (closed loops driven from this one process):

- ``stream_q3_window``: a seeded RSVP backlog (perfbench/feed.py)
  drained through ``pipeline.rsvp_file_stream`` →
  ``q3_cities_per_minute`` (watermark, tumbling window, ``collect_set``,
  RocksDB state) → noop sink with an ``availableNow`` trigger, one file
  per micro-batch. The first ``workloads.WARMUP_FILES`` batches are not
  timed; ``wall_s`` runs from the next batch's trigger to the end of
  the last batch.
- ``batch_registry``: a fixed pass of registry queries at sf0.1
  (perfbench/workloads.py ``PASS``), sorted, each written to the noop
  sink. A first, untimed pass collects every query for the output check
  and warms the JVM; then each timed pass runs in a fresh session, and
  ``wall_s`` is the median pass. The tables are the seed-42 sf0.1
  tables the registry is graded on, committed under perfbench/data/;
  the seed does not change them.

``--seconds`` sets the amount of timed work at the seed code's speed:
the stream times ``round(1.25 * seconds)`` files (at least 8) and the
registry workload ``round(seconds / 15)`` passes (at least 1).

Every run first sets a session up from process start, then rebuilds it
``WARM_SETUPS`` times by stopping it and calling ``get_session`` again
in the running JVM. ``setup_s`` is the median of the rebuilds; the
cold set-up, which includes the JVM launch and swings far more from
run to run, is the per-layer ``session.cold_setup_s``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` reports the per-layer metrics: it
times the body (one pass, or one drain) untraced, then in a traced
session (spans, Spark job groups, the event log), then untraced again;
``trace.overhead_s`` is the traced wall minus the median of the two
untraced ones. It writes the spans and a per-query record under
perfbench/.work/traces/.
Every file a run writes stays under perfbench/.work/.
"""

from __future__ import annotations

import time

# process start, as near as Python allows: the imports that follow
# count toward the first set-up
T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SF_DIR = HERE / "data" / "sf0.1"
PKG = "big_data_2021_spark_streaming_spark"

WORKLOADS = ("stream_q3_window", "batch_registry")
WARM_SETUPS = 5
RUN_DEADLINE_S = 165.0

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}
PER_LAYER = {
    "session.cold_setup_s": "s",
    "session.get_session_s": "s",
    "session.first_action_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "plans.queries": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_ms": "ms",
    "plans.query_p50_s": "s",
    "plans.query_p90_s": "s",
    "plans.analytics.wall_s": "s",
    "plans.rsvp.wall_s": "s",
    "operators.dedup.wall_s": "s",
    "operators.similarity.wall_s": "s",
    "operators.multimodal.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.write_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.deser_s": "s",
    "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB",
    "exec.spill_mb": "MiB",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.output_rows": "rows",
    "streaming.first_batch_ms": "ms",
    "streaming.trigger_p50_ms": "ms",
    "streaming.trigger_p90_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.state.rows_total": "rows",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.commit_ms": "ms",
    "streaming.state.rows_updated": "rows",
    "streaming.state.rows_dropped_by_watermark": "rows",
    "streaming.replay.send_batch_s": "s",
    "streaming.replay.bytes": "bytes",
    "host.cpus": "count",
    "host.sentinel_s": "s",
    "host.sentinel_drift": "ratio",
    "host.peak_rss_mb": "MiB",
    "trace.overhead_s": "s",
}
# The per-layer prefixes each workload exercises. A traced run reports
# every per-layer metric; one under a prefix its workload does not
# exercise reads 0 (no micro-batch, no registry query), and one under a
# prefix it does exercise but that was not measured fails the run.
MEASURED = {
    "stream_q3_window": ("session.", "host.", "trace.", "exec.", "streaming."),
    "batch_registry": ("session.", "host.", "trace.", "exec.", "sources.", "plans.",
                       "operators."),
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sentinel() -> float:
    """A fixed pure-Python CPU loop; the same figure at the start and
    end of a run says the host did not drift while it ran."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def percentile(xs: list[float], q: int) -> float:
    """The q-th percentile (exclusive method); the value itself for one
    sample."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100)[q - 1])


def confine(run_dir: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write under run_dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # every JVM, the spark-submit launcher included: no hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}


def descendants(root: int) -> list[int]:
    """Live processes below ``root``: the JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and every process
    it started. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    def __init__(self, args, run_dir: Path) -> None:
        self.args = args
        self.run_dir = run_dir
        self.deadline = T_START + RUN_DEADLINE_S
        self.cpus = len(os.sched_getaffinity(0))
        self.conf = confine(run_dir)
        self.spark = None
        self.sentinel: list[float] = []
        self.log_dir = run_dir / "eventlog"

    def setup(self, tracer, conf: dict[str, str]) -> tuple[float, float, float]:
        """Stop the live session, if any, and build a ready one:
        ``get_session`` plus one trivial read. Returns the start and the
        times ``get_session`` and the read ended."""
        from big_data_2021_spark_streaming_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with tracer.span("get_session"):
            self.spark = get_session("perfbench", cpus=self.cpus, extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("first_action"):
            self.spark.read.parquet(str(SF_DIR / "nation.parquet")).count()
        return t0, t1, time.perf_counter()

    def traced_conf(self) -> dict[str, str]:
        import tracing

        return {**self.conf, **tracing.eventlog_conf(self.log_dir)}

    def run(self) -> dict:
        import tracing

        t = time.perf_counter()
        self.sentinel.append(sentinel())
        excluded = time.perf_counter() - t
        null = tracing.NullTracer()
        # the cold set-up counts from process start, less the sentinel
        self.cold_setup_s = self.setup(null, self.conf)[2] - T_START - excluded
        warm = [self.setup(null, self.conf) for _ in range(WARM_SETUPS)]
        self.setups = [t2 - t0 for t0, _, t2 in warm]
        self.get_s = [t1 - t0 for t0, t1, _ in warm]
        self.first_s = [t2 - t1 for _, t1, t2 in warm]
        log(f"set-ups: cold {self.cold_setup_s:.2f}s, warm "
            f"{[round(x, 3) for x in self.setups]}")

        tracer = tracing.Tracer() if self.args.trace else null
        body = self.batch if self.args.workload == "batch_registry" else self.stream
        res, traced = body(tracer)
        log(f"workload body done at {time.perf_counter() - T_START:.1f}s")
        peak_rss = tracing.peak_rss_mb([os.getpid(), *descendants(os.getpid())])
        self.close()
        self.sentinel.append(sentinel())
        log(f"sentinel {self.sentinel[0]:.3f}s at start, {self.sentinel[1]:.3f}s at end")

        attempted, failed = res.attempted, res.failed
        if traced is not None:
            attempted += traced.attempted
            failed += traced.failed
            layers = self.layers(tracer, traced, self.log_dir)
            layers["host.peak_rss_mb"] = peak_rss
            layers["trace.overhead_s"] = traced.wall_s - res.wall_s
            exercised = MEASURED[self.args.workload]
            missing = [k for k in PER_LAYER if k.startswith(exercised) and k not in layers]
            if missing:
                log(f"not measured: {missing}")
                attempted += 1
                failed += 1
            metrics = {
                k: float(layers.get(k, 0)) if k.startswith(exercised) else 0.0
                for k in PER_LAYER
            }
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": statistics.median(self.setups),
                "wall_s": res.wall_s,
            }
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def close(self) -> None:
        """Stop the session and the JVM, if still running."""
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def left(self, share: int = 1) -> float:
        """Seconds to give a step: the time left to the run's deadline,
        split over ``share`` steps still to run."""
        return max(5.0, (self.deadline - time.perf_counter()) / share)

    # ------------------------------------------------------------ bodies
    # Each returns the untraced result, which the end-to-end metrics and
    # trace.overhead_s come from, and in a traced run the traced result
    # the per-layer metrics come from (else None). A traced run times the
    # body three times in one JVM: untraced, in a traced session, and
    # untraced again, so that the JVM warming up from one to the next
    # does not count as tracing overhead.

    def stream(self, tracer):
        """Write the backlog, then drain it; a traced run drains the same
        files twice more, each time with a new query."""
        import tracing
        import workloads

        null = tracing.NullTracer()
        feed_dir = self.run_dir / "feed"
        stats, gen_s = workloads.make_feed(self.args.seed, self.args.seconds,
                                           feed_dir, tracer)

        def drain(name, how, share):
            return workloads.drain(self.spark, feed_dir, stats, gen_s,
                                   self.run_dir / name, how, self.left(share))

        if not self.args.trace:
            return drain("untraced", null, 1), None
        before = drain("before", null, 2)
        self.setup(tracer, self.traced_conf())
        traced = drain("traced", tracer, 2)
        self.setup(null, self.conf)
        return workloads.pair(before, drain("after", null, 1)), traced

    def batch(self, tracer):
        """An untimed first pass that checks every query and warms the
        JVM, then timed passes."""
        import tracing
        import workloads

        null = tracing.NullTracer()
        passed = workloads.check_pass(self.spark, str(SF_DIR), self.deadline)
        log(f"first pass (output check) done at {time.perf_counter() - T_START:.1f}s")
        if not self.args.trace:
            n = max(1, round(self.args.seconds / workloads.PASS_NOMINAL_S))
            return self.passes(n, null, self.conf, passed), None
        before = self.passes(1, null, self.conf, passed)
        undo = tracing.wrap_load_table(tracer)
        try:
            traced = self.passes(1, tracer, self.traced_conf(), passed)
        finally:
            undo()
        return workloads.pair(before, self.passes(1, null, self.conf, passed)), traced

    def passes(self, n: int, tracer, conf: dict[str, str], passed: set[str]):
        """``n`` registry passes, each in a fresh session so each pays
        the first-touch costs (the session memos key on the
        application); ``wall_s`` is their median."""
        import workloads

        res = workloads.Result()
        walls = []
        for _ in range(n):
            self.setup(tracer, conf)
            t0 = time.perf_counter()
            res.records += workloads.run_pass(
                self.spark, str(SF_DIR), tracer, self.deadline
            )
            walls.append(time.perf_counter() - t0)
        log(f"pass walls {[round(w, 2) for w in walls]}")
        res.wall_s = statistics.median(walls)
        workloads.finish_batch(res, passed)
        return res

    # ----------------------------------------------------------- metrics

    def layers(self, tracer, traced, log_dir: Path) -> dict[str, float]:
        import tracing
        import workloads

        groups = tracing.rollup_eventlog(log_dir)
        out: dict[str, float] = dict(traced.layers)
        out.update({
            "session.cold_setup_s": self.cold_setup_s,
            "session.get_session_s": statistics.median(self.get_s),
            "session.first_action_s": statistics.median(self.first_s),
            "host.cpus": self.cpus,
            "host.sentinel_s": statistics.mean(self.sentinel),
            "host.sentinel_drift": self.sentinel[1] / self.sentinel[0],
            "sources.load_table.calls": tracer.count("load_table", under="query"),
            "sources.load_table.s": tracer.total("load_table", under="query"),
        })
        if traced.records:
            recs = traced.records
            query_s = [r.build_s + r.write_s for r in recs if r.ok]
            out["plans.queries"] = len(recs)
            out["plans.build_s"] = sum(r.build_s for r in recs)
            out["plans.plan_ms"] = sum(r.plan_ms for r in recs)
            out["plans.query_p50_s"] = percentile(query_s, 50)
            out["plans.query_p90_s"] = percentile(query_s, 90)
            out["plans.build_jobs"] = sum(
                g.get("jobs", 0) for k, g in groups.items() if k.endswith("|build")
            )
            for fam, layer in workloads.FAMILY_LAYER.items():
                out[f"{layer}.wall_s"] = sum(
                    r.build_s + r.write_s for r in recs if r.family == fam
                )
            out["exec.write_s"] = sum(r.write_s for r in recs)
            ex = tracing.sum_groups(
                groups, lambda k: k.endswith("|build") or k.endswith("|write")
            )
            self.write_records(recs, groups)
        else:
            ex = tracing.sum_groups(groups, lambda k: k == traced.run_id)
        for k, v in ex.items():
            out[f"exec.{k}"] = v
        if "tasks" in ex:
            out["exec.offcpu_s"] = ex["task_run_s"] - ex["task_cpu_s"]
        tracer.dump(self.trace_path("spans"))
        return out

    def trace_path(self, kind: str) -> Path:
        return WORK / "traces" / f"{self.args.workload}-seed{self.args.seed}-{kind}.json"

    def write_records(self, recs, groups) -> None:
        """The per-query side record: layer times and task metrics."""
        rows = []
        for r in recs:
            g = {}
            for part in ("build", "write"):
                for k, v in groups.get(f"{r.name}|{part}", {}).items():
                    g[k] = g.get(k, 0) + v
            rows.append({
                "query": r.name, "family": r.family, "ok": r.ok,
                "build_s": r.build_s, "plan_ms": r.plan_ms, "write_s": r.write_s,
                "build_jobs": groups.get(f"{r.name}|build", {}).get("jobs", 0),
                **g,
            })
        path = self.trace_path("queries")
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    for need in (ROOT / PKG / "session.py", ROOT / "tools" / "check_oracle.py"):
        if not need.is_file():
            print(f"error: {need.relative_to(ROOT)} not found; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"finished at {time.perf_counter() - T_START:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
