"""The workloads: inputs, measured window, correctness, metrics.

Each workload class has the same shape:

* ``prepare()``  — write the seeded inputs (not part of set-up time);
* ``warmup()``   — the work that ends set-up, timed into ``setup_s``;
* ``verify()``   — check the outputs the warm-up left (for the query
  mix: one more pass that collects and checks every result), after
  ``setup_s`` is taken and before the window;
* ``measure(tag, tracer)`` — the measured window, ``seconds`` long;
* ``end_to_end(window)`` / ``layers(window, tracer)`` — metrics,
  computed after the window, outside any timed region.

Correctness is checked on every run and counted into
``attempted`` / ``failed``.
"""

from __future__ import annotations

import glob
import json
import multiprocessing
import os
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

from perfbench import corpus as corpus_mod
from perfbench.stats import Summary, median_or, percentile, summarize
from perfbench.trace import add_trigger_spans, progress_start_ns
from perfbench.transport import AckTransport, account, read_acks

ORIGIN = "perfbench"
HERE = os.path.dirname(os.path.abspath(__file__))

E2E_UNITS = {
    "setup_s": "s",
    "throughput_rps": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_min": "1/min",
    "peak_rss_mb": "MB",
}

QUERY_MIX = (
    "stats_tumbling", "session_windows", "event_funnel", "json_props",
    "pricing_summary", "revenue_by_nation", "shipping_priority",
    "top3_orders_per_customer", "dedup_minhash_lsh",
    "line_dedup_pipeline", "cosine_topk", "heavy_hitters",
)
_OP_METRICS = (("latency_p50_s", "s"), ("shuffle_write_bytes", "B"),
               ("stages", "count"), ("task_cpu_s", "s"),
               ("rows_out", "count"))

LAYER_UNITS: dict[str, str] = {
    "session.create_s": "s",
    "session.warmup_s": "s",
    "tailer.poll_p50_s": "s",
    "tailer.poll_p99_s": "s",
    "tailer.lines_per_poll": "count",
    "tailer.spool_files": "count",
    "pipeline.batches": "count",
    "pipeline.rows_per_batch": "count",
    "pipeline.trigger_p50_s": "s",
    "pipeline.trigger_p99_s": "s",
    "pipeline.get_batch_s": "s",
    "pipeline.latest_offset_s": "s",
    "pipeline.query_planning_s": "s",
    "pipeline.wal_commit_s": "s",
    "pipeline.commit_offsets_s": "s",
    "pipeline.add_batch_s": "s",
    "envelope.serialize_s": "s",
    "envelope.bytes_per_record": "B",
    "sink.deliver_s": "s",
    "sink.pages": "count",
    "sink.records_per_page": "count",
    "sink.records_sent": "count",
    "sink.records_dropped": "count",
    "sink.request_errors": "count",
    "sink.record_attempts": "count",
    "sink.sent_per_attempt": "ratio",
    "sink.send_calls": "count",
    "sink.send_s": "s",
    **{f"operators.{q}.{m}": u for q in QUERY_MIX for m, u in _OP_METRICS},
    "load.lines_written": "count",
    "load.generator_lag_p99_s": "s",
    "self.pipeline.trigger_s": "s",
    "self.sink.deliver_s": "s",
    "self.sink.send_s": "s",
    "self.tailer.poll_s": "s",
    "self.envelope.plan_s": "s",
    "trace.spans": "count",
    "trace.overhead_ratio": "ratio",
}

# recentProgress durationMs key -> per-layer metric
_PROGRESS_KEYS = {
    "getBatch": "pipeline.get_batch_s",
    "latestOffset": "pipeline.latest_offset_s",
    "queryPlanning": "pipeline.query_planning_s",
    "walCommit": "pipeline.wal_commit_s",
    "commitOffsets": "pipeline.commit_offsets_s",
    "addBatch": "pipeline.add_batch_s",
}


@dataclass
class Checks:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def add(self, attempted: int, failed: int, note: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if note:
            self.notes.append(note)


@dataclass
class Context:
    spark_run: object          # harness.SparkRun
    work: str
    seed: int
    seconds: float
    checks: Checks
    details: list[str] = field(default_factory=list)   # report lines

    @property
    def spark(self):
        return self.spark_run.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _data_progress(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def pipeline_layers(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch medians of the trigger phases (data batches)."""
    data = _data_progress(progress)
    out = {"pipeline.batches": float(len(data)),
           "pipeline.rows_per_batch":
               median_or([p["numInputRows"] for p in data])}
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in data]
    out["pipeline.trigger_p50_s"] = percentile(trig, 50) if trig else 0.0
    out["pipeline.trigger_p99_s"] = percentile(trig, 99) if trig else 0.0
    for key, name in _PROGRESS_KEYS.items():
        out[name] = median_or([p["durationMs"].get(key, 0) / 1e3
                               for p in data])
    return out


def sink_layers(acks_list, tracer) -> dict[str, float]:
    sent = sum(int(a.ok.sum()) for a in acks_list)
    offered = sum(a.offered for a in acks_list)
    rows = tracer.sink_rows
    pages = sum(int(r["pages"]) for r in rows)
    dropped = sum(int(r["records_dropped"]) for r in rows)
    delivers = [(s["end_ns"] - s["start_ns"]) / 1e9
                for s in tracer.of("sink.deliver")]
    send_s = [x for a in acks_list for x in a.send_s]
    return {
        "sink.deliver_s": median_or(delivers),
        "sink.pages": float(pages),
        "sink.records_per_page": (sum(int(r["records_sent"]) for r in rows)
                                  + dropped) / pages if pages else 0.0,
        "sink.records_sent": float(sum(int(r["records_sent"])
                                       for r in rows)),
        "sink.records_dropped": float(dropped),
        "sink.request_errors": float(sum(int(r["request_errors"])
                                         for r in rows)),
        "sink.record_attempts": float(offered),
        "sink.sent_per_attempt": sent / offered if offered else 0.0,
        "sink.send_calls": float(sum(a.send_calls for a in acks_list)),
        "sink.send_s": float(sum(send_s)),
    }


def add_send_spans(tracer, acks) -> None:
    for end, dur in zip(acks.send_end_ns, acks.send_s):
        tracer.add("sink.send", end - int(dur * 1e9), end)


def envelope_layers(spark, src_dir: str) -> dict[str, float]:
    """Projection + serialization alone, written to ``noop`` over the
    workload's input (median of three)."""
    from pyspark.sql import functions as F

    from cga_logs_to_kinesis_spark.streaming.envelope import (
        envelope_projection,
        envelope_to_json,
    )

    def frame():
        lines = spark.read.text(os.path.join(src_dir, "*.log"))
        return envelope_to_json(envelope_projection(lines, ORIGIN))

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        frame().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    size = frame().agg(F.avg(F.length("data"))).first()[0] or 0.0
    return {"envelope.serialize_s": median_or(times),
            "envelope.bytes_per_record": float(size)}


# ---------------------------------------------------------------------------
# warm-up drains of the log pipeline
# ---------------------------------------------------------------------------

WARM_RECORDS = 20_000
WARM_FILES = 8
DRAIN_TIMEOUT_S = 90


def drain(ctx: Context, src_dir: str, out_dir: str) -> str:
    """One ``available_now`` run of the reference pipeline over
    ``src_dir``, delivering into a fresh receipt directory, which is
    returned."""
    from cga_logs_to_kinesis_spark.streaming import pipeline

    acks_dir = os.path.join(out_dir, "acks")
    cfg = pipeline.PipelineConfig(
        watch_dir=src_dir, origin=ORIGIN, available_now=True,
        checkpoint_dir=os.path.join(out_dir, "ckpt"))
    query, _stats = pipeline.build_pipeline(ctx.spark, cfg,
                                            AckTransport(acks_dir))
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise RuntimeError(f"drain of {src_dir} exceeded "
                           f"{DRAIN_TIMEOUT_S}s")
    if query.exception() is not None:
        raise RuntimeError(f"drain failed: {query.exception()}")
    return acks_dir


def _check_delivery(ctx: Context, acks, expected: int, what: str):
    """Count one delivery run into the checks; note any shortfall."""
    res = account(acks, expected)
    note = ""
    if res.failed or res.duplicates:
        note = (f"{what}: {res.missing} missing, {res.foreign} foreign, "
                f"{res.duplicates} duplicate of {expected}")
    ctx.checks.add(expected, res.failed + res.duplicates, note)
    return res


# ---------------------------------------------------------------------------
# log_tail_live
# ---------------------------------------------------------------------------

TAIL_RATE = 1000          # lines/s, open loop, over loadgen.FILES files
START_OFFSET_S = 1.0      # generator starts this long after a trigger


@dataclass
class TailWindow:
    start_ns: int
    lines: int
    load: dict
    progress: list[dict]
    acks_dir: str
    spool_dir: str


class LogTailLive:
    name = "log_tail_live"
    primary = "latency_p50_s"
    event_log = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self._warm_runs = 0

    def prepare(self) -> None:
        self.warm = corpus_mod.write_corpus(
            self.ctx.path("warm-corpus"), self.ctx.seed + 1, WARM_RECORDS,
            WARM_FILES)

    def trace_warmup(self) -> None:
        """Re-warm the fresh SparkContext the traced window runs in."""
        self.warmup()
        self.verify()

    def warmup(self) -> None:
        """One drain of a 20k-line corpus through the batch pipeline."""
        self._warm_runs += 1
        self._warm_acks = drain(self.ctx, self.warm.root,
                                self.ctx.path(f"warm-{self._warm_runs}"))

    def verify(self) -> None:
        _check_delivery(self.ctx, read_acks(self._warm_acks),
                        self.warm.records, "warm-up")

    def measure(self, tag: str, tracer=None) -> TailWindow:
        from cga_logs_to_kinesis_spark.streaming import pipeline
        from cga_logs_to_kinesis_spark.streaming.envelope import (
            FLUSH_INTERVAL_S,
        )

        root = self.ctx.path(tag)
        watch, spool = os.path.join(root, "watch"), os.path.join(root,
                                                                 "spool")
        acks_dir = os.path.join(root, "acks")
        os.makedirs(watch, exist_ok=True)
        cfg = pipeline.PipelineConfig(
            watch_dir=watch, origin=ORIGIN,
            checkpoint_dir=os.path.join(root, "ckpt"))
        query, stats, tailer = pipeline.build_tailed_pipeline(
            self.ctx.spark, cfg, AckTransport(acks_dir), spool_dir=spool)
        gen = None
        try:
            _wait(lambda: query.lastProgress is not None, 60,
                  "streaming query never reported progress")
            # Triggers fire on epoch multiples of the interval; starting
            # at a fixed phase keeps the latency distribution seed-only.
            step = FLUSH_INTERVAL_S * 1_000_000_000
            now = time.time_ns()
            start_ns = (now // step) * step + int(START_OFFSET_S * 1e9)
            while start_ns < now + 800_000_000:
                start_ns += step
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "loadgen.py"),
                 "--watch-dir", watch, "--seed", str(self.ctx.seed),
                 "--rate", str(TAIL_RATE), "--seconds",
                 str(self.ctx.seconds), "--start-ns", str(start_ns)],
                stdout=subprocess.PIPE, text=True)
            out, _ = gen.communicate(timeout=self.ctx.seconds + 60)
            if gen.returncode != 0:
                raise RuntimeError(f"load generator exited "
                                   f"{gen.returncode}")
            load = json.loads(out.strip().splitlines()[-1])
            lines = load["lines_written"]
            # A trigger's progress is posted after its sink call returns,
            # so wait for both, or the last batch can miss the figures.
            _wait(lambda: stats.records_sent >= lines and sum(
                      p["numInputRows"] for p in query.recentProgress
                  ) >= lines,
                  3 * FLUSH_INTERVAL_S + 20, None)
        finally:
            if gen is not None and gen.poll() is None:
                gen.kill()
                gen.wait()
            query.stop()
            tailer.stop()
        return TailWindow(start_ns, lines, load, query.recentProgress,
                          acks_dir, spool)

    def end_to_end(self, w: TailWindow) -> dict[str, Summary]:
        acks = read_acks(w.acks_dir)
        res = _check_delivery(self.ctx, acks, w.lines, "tail")
        good = acks.ok
        lat = (acks.accepted_ns[good] - acks.created_ns[good]) / 1e9
        span_s = (acks.accepted_ns.max() - w.start_ns) / 1e9
        data = _data_progress(w.progress)   # all from the generator
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in data]
        ends = [progress_start_ns(p)
                + p["durationMs"]["triggerExecution"] * 1_000_000
                for p in data]
        # Completion rate from the spacing of batch ends: ~12/min while
        # every trigger fits its 5 s interval, lower once they overrun.
        # Counting batches in a fixed window instead would jump by a
        # whole batch with the window's phase.
        rate = (60e9 * (len(ends) - 1) / (ends[-1] - ends[0])
                if len(ends) > 1 else 0.0)
        return {
            "throughput_rps": Summary(res.delivered / span_s, res.delivered),
            "latency_p50_s": Summary(percentile(lat, 50), lat.size),
            "latency_p99_s": Summary(percentile(lat, 99), lat.size),
            "query_p50_s": summarize(trig, 50),
            "query_p90_s": summarize(trig, 90),
            "queries_per_min": Summary(rate, len(ends)),
        }

    def layers(self, w: TailWindow, tracer) -> dict[str, float]:
        acks = read_acks(w.acks_dir)
        add_send_spans(tracer, acks)
        add_trigger_spans(tracer, w.progress)
        polls = tracer.of("tailer.poll")
        poll_s = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in polls]
        spool_files = glob.glob(os.path.join(w.spool_dir, "*.log"))
        spooled_lines = 0
        for p in spool_files:
            with open(p, "rb") as f:
                spooled_lines += f.read().count(b"\n")
        busy = sum(1 for s in polls if s.get("spool_files"))
        return {
            **pipeline_layers(w.progress),
            **sink_layers([acks], tracer),
            **envelope_layers(self.ctx.spark, w.spool_dir),
            "tailer.poll_p50_s": percentile(poll_s, 50) if poll_s else 0.0,
            "tailer.poll_p99_s": percentile(poll_s, 99) if poll_s else 0.0,
            "tailer.lines_per_poll": spooled_lines / busy if busy else 0.0,
            "tailer.spool_files": float(len(spool_files)),
            "load.lines_written": float(w.lines),
            "load.generator_lag_p99_s": float(w.load["lag_p99_s"]),
        }


def _wait(cond, timeout_s: float, error: str | None) -> None:
    deadline = time.perf_counter() + timeout_s
    while not cond():
        if time.perf_counter() > deadline:
            if error:
                raise RuntimeError(error)
            return
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

QUERY_SF = 0.01
_JOB_GROUP = "perfbench|"


def _mix_inputs(data: str, sf: float, seed: int) -> dict:
    """Write the seeded tables under ``data``; the oracle digest of
    every query in the mix."""
    from perfbench.tables import write_tables
    from perfbench.verify import oracle_digests

    from cga_logs_to_kinesis_spark.registry import all_queries

    write_tables(data, sf, seed)
    return oracle_digests(data, {q: all_queries()[q] for q in QUERY_MIX})


@dataclass
class MixWindow:
    samples: dict[str, list[float]]
    wall_s: float


class QueryMix:
    name = "query_mix"
    primary = "query_p50_s"
    event_log = True      # per-query task metrics for the traced run

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rows_out: dict[str, int] = {}

    def prepare(self) -> None:
        """Tables and oracle digests are built in a child process, so
        the driver's peak RSS is the engine's, not the harness's."""
        from cga_logs_to_kinesis_spark.registry import all_queries

        self.data = self.ctx.path("data")
        spawn = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(1, mp_context=spawn) as pool:
            self.expected = pool.submit(_mix_inputs, self.data, QUERY_SF,
                                        self.ctx.seed).result()
        self.specs = {q: all_queries()[q] for q in QUERY_MIX}

    def warmup(self) -> None:
        """One pass run as measured (``noop``)."""
        for q in QUERY_MIX:
            self._run(q)

    def verify(self) -> None:
        """A second pass that collects every result and compares it
        with its DuckDB oracle.  It also warms the JVM further: it is
        still compiling after one pass, and the pass right after it runs
        ~25% slower than the fourth, and varies as much."""
        from perfbench.verify import spark_digest

        for q, spec in self.specs.items():
            try:
                digest = spark_digest(spec.fn(self.ctx.spark, self.data))
            except Exception as e:  # noqa: BLE001 — a failing query is
                # a counted failure, the run goes on
                self.ctx.checks.add(1, 1, f"{q}: error {str(e)[:200]}")
                continue
            self.rows_out[q] = digest[0]
            ok = digest == self.expected[q]
            self.ctx.checks.add(1, 0 if ok else 1, "" if ok else (
                f"{q}: spark {digest[0]} rows/{digest[2][:12]} vs oracle "
                f"{self.expected[q][0]} rows/{self.expected[q][2][:12]}"))

    def trace_warmup(self) -> None:
        """Nothing: the JVM stays warm across the context restart, and
        two more passes would double the run."""

    def _run(self, q: str) -> float | None:
        """Materialise one query in full; seconds taken, or None (and a
        counted failure) if it raised."""
        t0 = time.perf_counter()
        try:
            (self.specs[q].fn(self.ctx.spark, self.data).write
             .format("noop").mode("overwrite").save())
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            self.ctx.checks.add(1, 1, f"{q}: error {str(e)[:200]}")
            return None
        self.ctx.checks.add(1, 0)
        return time.perf_counter() - t0

    def measure(self, tag: str, tracer=None) -> MixWindow:
        """Closed loop, one client: the queries in a fixed cycle until
        the window ends (counts per query differ by at most one)."""
        sc = self.ctx.spark.sparkContext
        samples: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        t_start = time.perf_counter()
        deadline = t_start + self.ctx.seconds
        i = 0
        while i < len(QUERY_MIX) or time.perf_counter() < deadline:
            q = QUERY_MIX[i % len(QUERY_MIX)]
            i += 1
            if tracer is not None:
                sc.setJobGroup(f"{_JOB_GROUP}{q}|{i}", q)
            took = self._run(q)
            if took is not None:
                samples[q].append(took)
        return MixWindow(samples, time.perf_counter() - t_start)

    def end_to_end(self, w: MixWindow) -> dict[str, Summary]:
        """``query_*``, ``throughput_rps`` and ``queries_per_min`` weigh
        every query once, through its median (a window ends mid-cycle,
        so raw counts would favour the queries at the cycle's start);
        ``latency_*`` pool every execution."""
        flat = [x for xs in w.samples.values() for x in xs]
        medians = {q: median_or(xs) for q, xs in w.samples.items() if xs}
        self.ctx.details.extend(
            f"{q:<26} median {median_or(xs):8.4f} s  n={len(xs)}"
            for q, xs in w.samples.items())
        cycle_s = sum(medians.values())
        rows = sum(self.rows_out.get(q, 0) for q in medians)
        return {
            "throughput_rps": Summary(rows / cycle_s, len(flat)),
            "latency_p50_s": summarize(flat, 50),
            "latency_p99_s": summarize(flat, 99),
            "query_p50_s": summarize(list(medians.values()), 50),
            "query_p90_s": summarize(list(medians.values()), 90),
            "queries_per_min": Summary(60.0 * len(medians) / cycle_s,
                                       len(flat)),
        }

    def layers(self, w: MixWindow, tracer) -> dict[str, float]:
        from perfbench.trace import read_event_log

        # the event log is complete only once the context has stopped
        self.ctx.spark_run.stop()
        per_group = read_event_log(self.ctx.path("eventlog"), _JOB_GROUP)
        out: dict[str, float] = {}
        for q in QUERY_MIX:
            runs = [v for k, v in per_group.items()
                    if k.split("|")[0] == q]
            out[f"operators.{q}.latency_p50_s"] = median_or(w.samples[q])
            for m in ("shuffle_write_bytes", "stages", "task_cpu_s"):
                out[f"operators.{q}.{m}"] = median_or([r[m] for r in runs])
            out[f"operators.{q}.rows_out"] = float(self.rows_out.get(q, 0))
        return out


WORKLOADS = {cls.name: cls for cls in (LogTailLive, QueryMix)}
