"""Workload bodies and their output checks.

Each body runs on a live session handed in by ``run.py`` and returns a
``Result``: operations attempted and failed, the timings the
end-to-end metrics are computed from, and the layer figures the traced
run reports. Output checks run outside every timed region.
"""

from __future__ import annotations

import datetime as dt
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import feed

# ---------------------------------------------------------------- streams

# One file per micro-batch, 2,000 envelopes each. The first
# WARMUP_FILES batches are not timed: the first takes 2-6 s while the
# query compiles, and the next ones still speed up as the JVM warms. On
# the seed code a 4-core host drains a warm file in 0.3-0.9 s, so
# --seconds S writes WARMUP_FILES + round(S * FILES_PER_S) files.
ROWS_PER_FILE = 2_000
FILES_PER_S = 1.25
WARMUP_FILES = 6
MIN_TIMED_FILES = 8

WATERMARK_S = 60.0  # q3_cities_per_minute's watermark delay

PHASES = ("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit",
          "commitOffsets")


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0  # stream: the timed drain; batch: see run.py
    op_ms: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    run_id: str = ""  # the stream's runId, which is also its Spark job group
    records: list = field(default_factory=list)  # batch: one QueryRecord per run


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Every micro-batch's progress (``recentProgress`` keeps only
        the last 100) and each query's end, by run id. Events arrive on
        Spark's listener bus, after the calls that caused them return."""

        def __init__(self) -> None:
            self.progress = []
            self.ended: dict[str, object] = {}  # runId -> exception or None

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.ended[str(event.runId)] = event.exception

        def of(self, run_id: str, timeout: float) -> list:
            """The run's progress in batch order, once its end arrived."""
            deadline = time.monotonic() + timeout
            while run_id not in self.ended and time.monotonic() < deadline:
                time.sleep(0.05)
            if self.ended.get(run_id):
                print(f"stream {run_id} failed: {self.ended[run_id]}", file=sys.stderr)
            mine = [p for p in self.progress if str(p.runId) == run_id]
            return sorted(mine, key=lambda p: p.batchId)

    return ProgressLog()


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def make_feed(seed: int, seconds: float, feed_dir: Path, tracer):
    """Write the seeded backlog; returns its ``FeedStats`` and the
    seconds the generator took."""
    from big_data_2021_spark_streaming_spark.streaming.replay import (
        FileEnvelopeProducer,
    )

    files = WARMUP_FILES + max(MIN_TIMED_FILES, round(seconds * FILES_PER_S))
    producer = FileEnvelopeProducer(feed_dir)
    stats = feed.FeedStats()

    def send(rows):
        with tracer.span("send_batch"):
            return producer.send_batch(rows)

    t = time.perf_counter()
    feed.write_feed(send, seed, files, ROWS_PER_FILE, stats)
    return stats, time.perf_counter() - t


def drain(spark, feed_dir: Path, stats, gen_s: float, run_dir: Path, tracer,
          timeout: float) -> Result:
    """Drain the backlog through Q3 into the noop sink with an
    ``availableNow`` trigger, one file per micro-batch. Each call starts
    a new query with its own checkpoint, so a backlog can be drained
    more than once."""
    from big_data_2021_spark_streaming_spark.plans.reference_queries import (
        q3_cities_per_minute,
    )
    from big_data_2021_spark_streaming_spark.streaming.pipeline import rsvp_file_stream

    end = time.perf_counter() + timeout
    files = stats.files
    log = _progress_listener()
    spark.streams.addListener(log)
    res = Result(attempted=files)
    try:
        df = q3_cities_per_minute(rsvp_file_stream(spark, str(feed_dir)))
        with tracer.span("stream"):
            t0 = time.perf_counter()
            with tracer.span("start"):
                q = (
                    df.writeStream.format("noop")
                    .option("checkpointLocation", str(run_dir / "checkpoint"))
                    .trigger(availableNow=True)
                    .start()
                )
            with tracer.span("awaitTermination"):
                done = q.awaitTermination(max(5.0, end - t0))
            drain_s = time.perf_counter() - t0
        if not done:
            q.stop()
            print("stream: not drained in time", file=sys.stderr)
        res.run_id = str(q.runId)
        progress = log.of(res.run_id, 30)
    except Exception:
        traceback.print_exc()
        res.failed = files
        return res
    finally:
        spark.streams.removeListener(log)

    data = [p for p in progress if p.numInputRows > 0]
    timed = data[WARMUP_FILES:]
    if timed:
        # from the first timed batch's trigger to the end of the last
        # batch, the no-data batches between them included
        last = progress[-1]
        res.wall_s = (
            _epoch_s(last.timestamp) + last.durationMs["triggerExecution"] / 1e3
            - _epoch_s(timed[0].timestamp)
        )
    res.op_ms = [float(p.durationMs["triggerExecution"]) for p in timed]
    print(f"perfbench: drain {drain_s:.1f}s, timed {res.wall_s:.2f}s, trigger ms "
          f"{[int(p.durationMs['triggerExecution']) for p in data]}", file=sys.stderr)
    res.failed = files if not timed else _check_stream(progress, stats)
    res.layers = _stream_layers(progress, data, res, stats, gen_s)
    return res


def pair(before: Result, after: Result) -> Result:
    """The untraced results run before and after a traced body, as one:
    their operations added, their median wall."""
    return Result(
        attempted=before.attempted + after.attempted,
        failed=before.failed + after.failed,
        wall_s=statistics.median([before.wall_s, after.wall_s]),
    )


def _check_stream(progress, stats) -> int:
    """Failed micro-batches. Each file must arrive as one micro-batch
    with all its rows. Each batch's watermark must be the newest event
    time of the files before it less Q3's one-minute delay, and each
    batch must emit the windows closed between the previous batch's
    watermark and its own, so that all batches together emit every
    window the final watermark closes. A no-data batch's emission counts
    with the batch before."""
    base = feed.base_epoch_s()
    got: list[list[int]] = []  # per data batch: input rows, sink rows
    want: list[list[int]] = []
    prev_wm = float("-inf")
    newest = None  # newest event time of the files read so far
    failed = 0
    for p in progress:
        wm = _epoch_s(p.eventTime["watermark"]) - base
        if newest is not None and abs(wm - (newest - WATERMARK_S)) > 1e-3:
            print(f"check batch {p.batchId}: watermark {wm:.3f}s, expected "
                  f"{newest - WATERMARK_S:.3f}s", file=sys.stderr)
            failed += 1
        closing = sum(1 for w in stats.windows if prev_wm < w + 60 <= wm)
        prev_wm = wm
        if p.numInputRows > 0:
            i = len(got)
            got.append([p.numInputRows, p.sink.numOutputRows])
            if i < stats.files:
                want.append([stats.file_rows[i], closing])
                newest = max(newest or 0.0, stats.file_newest_s[i])
        elif got:
            got[-1][1] += p.sink.numOutputRows
            want[-1][1] += closing
    failed += abs(stats.files - len(got))
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            print(f"check data batch {i}: input/sink rows {g}, expected {w}",
                  file=sys.stderr)
            failed += 1
    return min(failed, stats.files)


def _stream_layers(progress, data, res, stats, gen_s) -> dict:
    """The streaming layer's figures. A figure with no sample (no data
    batch, no state operator) is left out, so the caller sees it as
    not measured."""
    layers: dict[str, float] = {
        "streaming.batches": len(data),
        "streaming.input_rows": sum(p.numInputRows for p in progress),
        "streaming.output_rows": sum(p.sink.numOutputRows for p in progress),
        # the generator: encode and write every file of the backlog
        "streaming.replay.send_batch_s": gen_s,
        "streaming.replay.bytes": stats.bytes,
    }
    timed = data[WARMUP_FILES:]
    if data:
        layers["streaming.first_batch_ms"] = data[0].durationMs["triggerExecution"]
    if len(res.op_ms) > 1:
        layers["streaming.trigger_p50_ms"] = statistics.median(res.op_ms)
        layers["streaming.trigger_p90_ms"] = statistics.quantiles(res.op_ms, n=10)[8]
    if timed:
        for phase in PHASES:
            layers[f"streaming.{phase}_ms"] = statistics.median(
                p.durationMs.get(phase, 0) for p in timed
            )
        layers["streaming.overhead_ms"] = statistics.median(
            p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)
            for p in timed
        )
        layers["exec.write_s"] = sum(p.durationMs.get("addBatch", 0) for p in data) / 1e3
    ops = [p.stateOperators[0] for p in progress if p.stateOperators]
    if ops:
        layers["streaming.state.rows_total"] = ops[-1].numRowsTotal
        layers["streaming.state.memory_bytes"] = ops[-1].memoryUsedBytes
        layers["streaming.state.commit_ms"] = statistics.median(o.commitTimeMs for o in ops)
        layers["streaming.state.rows_updated"] = sum(o.numRowsUpdated for o in ops)
        layers["streaming.state.rows_dropped_by_watermark"] = sum(
            o.numRowsDroppedByWatermark for o in ops
        )
    return layers


# ------------------------------------------------------------------ batch

# The registry pass: relational queries from plans.analytics, the
# paper's Q2 lineage over its inline fixture, and shared-frame queries
# from operators.{dedup,similarity,multimodal}, run sorted in one fresh
# session at sf0.1. Each is here for a layer:
PASS = {
    # scan + grouped aggregate over lineitem (TPC-H Q1 shape)
    "pricing_summary": "analytics",
    # join chain with broadcast dimensions
    "revenue_by_nation": "analytics",
    # window ranking per segment
    "top3_per_segment": "analytics",
    # Q2 in batch: decode, broadcast states join, double to_json
    "rsvp_q2_payload": "rsvp",
    # exact fingerprint dedup: the functions.hashing md5 kernels
    "dedup_exact": "dedup",
    # exact top-k: a _TOPK_MEMO producer with an eager builder
    "similarity_topk": "similarity",
    # mapInPandas decode kernel (Arrow, Python-worker time)
    "multimodal_decode": "multimodal",
}
FAMILY_LAYER = {
    "analytics": "plans.analytics",
    "rsvp": "plans.rsvp",
    "dedup": "operators.dedup",
    "similarity": "operators.similarity",
    "multimodal": "operators.multimodal",
}
# The first pass in a JVM takes 11-26 s on the seed code on a 4-core
# host and is not timed; each later one, in a fresh session of the same
# JVM, takes 7-15 s. --seconds S times max(1, round(S / PASS_NOMINAL_S))
# passes after the first. Passes of one run agree within a few percent;
# what spreads is the figure from one run (one JVM) to the next, which
# more passes in a run do not narrow.
PASS_NOMINAL_S = 15.0


@dataclass
class QueryRecord:
    name: str
    family: str
    build_s: float = 0.0
    write_s: float = 0.0
    plan_ms: float = 0.0
    ok: bool = True


def run_pass(spark, sf_dir: str, tracer, deadline: float) -> list[QueryRecord]:
    """Build each registry query and write it to the noop sink."""
    from big_data_2021_spark_streaming_spark.plans.registry import all_queries

    from tracing import plan_ms

    specs = all_queries()
    records = []
    for name in sorted(PASS):
        rec = QueryRecord(name, PASS[name])
        records.append(rec)
        if time.perf_counter() > deadline:
            rec.ok = False
            continue
        try:
            with tracer.span("query", query=name):
                tracer.job_group(spark, f"{name}|build")
                t0 = time.perf_counter()
                with tracer.span("build"):
                    df = specs[name].build(spark, sf_dir)
                t1 = time.perf_counter()
                if tracer.enabled:
                    rec.plan_ms = plan_ms(df)
                tracer.job_group(spark, f"{name}|write")
                t2 = time.perf_counter()
                with tracer.span("save"):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            rec.build_s, rec.write_s = t1 - t0, t3 - t2
            print(f"perfbench: {name} build {rec.build_s:.2f}s write {rec.write_s:.2f}s",
                  file=sys.stderr)
        except Exception:
            traceback.print_exc()
            rec.ok = False
    return records


def check_pass(spark, sf_dir: str, deadline: float) -> set[str]:
    """The pass queries whose result hash-matches their DuckDB oracle
    (``tools/check_oracle``'s canonical multiset). This is the first,
    untimed pass of a run: it builds and collects every query, so it
    also warms the JVM for the timed passes."""
    import duckdb
    from big_data_2021_spark_streaming_spark.plans.registry import all_queries
    from tools.check_oracle import frame_to_multiset

    specs = all_queries()
    con = duckdb.connect()
    for path in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    passed: set[str] = set()
    for name in sorted(PASS):
        if time.perf_counter() > deadline:
            continue
        try:
            got = specs[name].build(spark, sf_dir).toPandas()
            want = con.execute(specs[name].oracle).df()
            if (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and frame_to_multiset(got) == frame_to_multiset(want)
            ):
                passed.add(name)
            else:
                print(f"check {name}: differs from its DuckDB oracle",
                      file=sys.stderr)
        except Exception:
            traceback.print_exc()
    con.close()
    return passed


def finish_batch(res: Result, passed: set[str]) -> None:
    """Fold the output check into a batch result: a query execution
    fails if it raised or its query missed the check."""
    res.attempted = len(res.records)
    res.failed = sum(1 for r in res.records if not r.ok or r.name not in passed)
