"""Benchmark of the reference cron run, in both forms the engine ships.

    python3 perfbench/run.py --workload cron_batch --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. One invocation is one pass in a fresh
process on local[nproc] (SPARK_GRAFT_CPUS=nproc, 2g driver heap):

1. Load the inputs (inputs.py): the sf0.1 `events` feed cut at two
   seeded times per simulated day, and the sf0.001 table for warm-up.
2. Set up once: import the package, get_spark, then one warm-up op of
   the workload's form on the whole sf0.001 table (for cron_stream this
   is the throwaway query that pays the first streaming trigger). Its
   time, from a fresh interpreter, is setup_s.
3. Settle: SETTLE_OPS more ops over the sf0.001 table, untimed, so the
   measured ops run on compiled code (the JIT otherwise keeps speeding
   ops up for about ten ops). A traced pass also runs one op of the
   other form here, so its probe at the end is warm.
4. A closed loop, one client: each op starts when the previous one
   ended. A pass runs a fixed number of cuts, round(--seconds /
   REF_OP_S), from the first, so every commit runs the same ops over the
   same data; the loop is cut short only past CAP_FACTOR x --seconds.
   Then RERUNS no-new-data reruns.
5. Check every op's output, untimed (checks.py).

It prints two JSON lines: the run record (nproc, SPARK_GRAFT_CPUS, load
average and canary before and after the pass, per-op latencies, failed
ops with reasons), then the result {"correct", "attempted", "failed",
"metrics"}. Every file the pass writes (TMPDIR, spark.local.dir,
java.io.tmpdir, feeds, sinks, checkpoints) lives under
.perfbench_work/<pass>/, which is removed after its leftovers are
measured.

Workloads (an op is one cron invocation):
  cron_batch   op = plans.pipeline.incremental_run over the cumulative
               single-file feed into one parquet sink: resample, session
               split and label, back-adjust, drop the open session, then
               the Gate-2 scalar-watermark append.
  cron_stream  op = streaming.incremental.available_now_bar_stream after
               one new feed file lands, checkpoint carried over
               (watermarked state store, gated_idempotent_sink).
An op fails when it raises, passes OP_TIMEOUT_S, or its output check
fails. Each cron_batch op must append exactly the bars of
bar_pipeline_5m over its feed (run by DuckDB from the registry's oracle
SQL) that are newer than the sink's newest bar before it; how many bars
the final sink differs from one pipeline run over the final feed is
recorded as divergent_bars, not gated. cron_stream's sink must equal
the OHLCV of the feed for every window the final watermark closed. A
rerun must append nothing.

The metric names and units are those of BENCHMARK.json. End to end
(--trace 0): setup_s, op_p50_s (median op latency; an op that raised
counts as missing every limit) and wall_s (sum of the op latencies).

--trace 1 turns Spark's UI on for its status REST API, adds a
StreamingQueryListener, records spans around each call into a layer's
public functions (written to .perfbench_out/spans-<workload>-<seed>.jsonl)
and prints the per-layer metrics, each a median over the pass's ops.
The bar operators are lazy, so their self times come from materializing
cumulative prefixes of the pipeline to `noop` after each op: read_table,
+tumbling_ohlcv, +split_and_label, +backadjust, then bar_pipeline_5m
itself (+drop_open_session); plans.remainder_s is the op's wall minus
the whole pipeline's, i.e. what the Gate-2 append adds. Each traced pass
ends with one warm op of the other form over its final feed, so every
layer has a reading on both workloads. Tracing overhead: trace.op_p50_s
minus the untraced op_p50_s.

Layer (metric prefix) -> the end-to-end metric it should move, on which
workload ("little" where the workload barely uses the layer):
  session.*    setup_s (both)
  sources.*    op_p50_s, wall_s (cron_batch; little cron_stream)
  operators.*  op_p50_s, wall_s (cron_batch; little cron_stream)
  plans.*      op_p50_s, wall_s (cron_batch; little cron_stream)
  streaming.*  op_p50_s, wall_s (cron_stream; little cron_batch)
  spark.*      jobs, stages and driver_s move op_p50_s (both);
               task_failures moves `failed`
  trace.*      the op loop as the traced pass sees it
  host.*       none: they mark a throttled pass
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "txf_continuous_data_pipeline_spark"
WORKLOADS = ("cron_batch", "cron_stream")
SETTLE_OPS = 6
# Op latency of both forms on the commit that defined the benchmark
# (4-core x86 host): sets how many cuts --seconds stands for.
REF_OP_S = 1.6
CAP_FACTOR = 3.0
RERUNS = 1
OP_TIMEOUT_S = 60.0
DRIVER_MEMORY = "2g"
OP_SPAN = {True: "plans.incremental_run", False: "streaming.available_now_bar_stream"}


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's `end_to_end` or `per_layer`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def planned_ops(seconds: float, n_cuts: int) -> int:
    return max(1, min(n_cuts, round(seconds / REF_OP_S)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of this process, the JVM and its
    Python workers at the pass's own root, and let workers import the
    package from the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # both JVMs spark-submit starts (launcher and driver): temp files
        # under the pass root, and no hsperfdata file, which HotSpot
        # always writes to /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


class Lane:
    """One cron feed: seeded events and cut times, and the directory the
    ops over it read and write (feed, sink, checkpoint)."""

    def __init__(self, events, cuts, root: str, batch: bool) -> None:
        self.events, self.cuts, self.root, self.batch = events, cuts, root, batch
        self.sink = os.path.join(root, "sink")
        self.ckpt = os.path.join(root, "ckpt")
        self.feed = os.path.join(root, "feed")
        self.files: list[set[str]] = []  # sink files after each op
        os.makedirs(self.feed)

    def upto(self, i: int):
        return self.events[self.events["ts"] <= self.cuts[i]]

    def land(self, i: int) -> str:
        """Make cut i's input; returns the directory the op reads: a
        cumulative single-file feed for the batch form, one new file of
        the events since the previous cut for the stream form."""
        import inputs

        if self.batch:
            d = os.path.join(self.root, f"cut{i:03d}")
            os.makedirs(d)
            inputs.write_events(self.upto(i), os.path.join(d, "events.parquet"))
            if i:
                shutil.rmtree(os.path.join(self.root, f"cut{i - 1:03d}"))
            return d
        new = self.events["ts"] <= self.cuts[i]
        if i:
            new &= self.events["ts"] > self.cuts[i - 1]
        land_file(self.feed, i, self.events[new])
        return self.feed

    def appended(self, i: int):
        """Rows op i added to the sink (None: none)."""
        import checks

        before = self.files[i - 1] if i else set()
        return checks.read_parquet_files(sorted(self.files[i] - before))


def land_file(feed_dir: str, i: int, part) -> None:
    """One new feed file; mtimes ascend so the file source replays the
    feed in arrival order."""
    import inputs

    path = os.path.join(feed_dir, f"part-{i:05d}.parquet")
    inputs.write_events(part, path)
    stamp = time.time() + i
    os.utime(path, (stamp, stamp))


class CronPass:
    """One pass of a cron workload: set-up, settle, op loop, checks."""

    def __init__(self, args, work: str) -> None:
        import inputs

        self.args = args
        self.work = work
        self.batch = args.workload == "cron_batch"
        self.traced = bool(args.trace)
        self.events = inputs.events()
        self.cuts = inputs.cuts(args.seed)
        self.warm_events = inputs.events(inputs.WARM_FEED)
        step = len(self.cuts) // SETTLE_OPS
        self.warm_cuts = self.cuts[step - 1 :: step][:SETTLE_OPS]
        self.spark = None
        self.tracer = self.rest = self.listener = None
        self.op_s: list[float] = []
        self.op_errors: dict[int, str] = {}
        self.layer: dict[str, list[float]] = {}
        self.record: dict = {"phases_s": {}}

    def lane(self, name: str, events, cuts) -> Lane:
        return Lane(events, cuts, os.path.join(self.work, name), self.batch)

    # -- session -------------------------------------------------------
    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update(
                {
                    "spark.ui.enabled": "true",
                    "spark.ui.port": "0",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.retainedTasks": "1000",
                }
            )
        return conf

    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op) if self.tracer else contextlib.nullcontext({})

    def setup(self) -> tuple[float, float]:
        """Import the package, get_spark, then one warm-up op on the whole
        warm table; returns (start_s, warm_s)."""
        t0 = time.perf_counter()
        with self.span("session.get_spark", op=-1):
            from txf_continuous_data_pipeline_spark.session import get_spark

            self.spark = get_spark("perfbench", extra_conf=self.conf())
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm = self.lane("warm", self.warm_events, [self.warm_events["ts"].max()])
        with self.span("session.warm", op=-1):
            self.run_op(warm, warm.land(0))
        return t1 - t0, time.perf_counter() - t1

    def settle(self) -> None:
        lane = self.lane("settle", self.warm_events, self.warm_cuts)
        for i in range(len(lane.cuts)):
            self.run_op(lane, lane.land(i))
        if self.traced:
            other = Lane(
                self.warm_events,
                [self.warm_events["ts"].max()],
                os.path.join(self.work, "settle-other"),
                not self.batch,
            )
            self.run_op(other, other.land(0))

    # -- ops -----------------------------------------------------------
    def run_op(self, lane: Lane, feed_dir: str) -> None:
        if lane.batch:
            from txf_continuous_data_pipeline_spark.plans.pipeline import incremental_run

            incremental_run(self.spark, feed_dir, lane.sink)
        else:
            from txf_continuous_data_pipeline_spark.streaming.incremental import (
                available_now_bar_stream,
            )

            available_now_bar_stream(self.spark, feed_dir, lane.sink, lane.ckpt)

    def timed_op(self, lane: Lane, i: int, feed_dir: str) -> None:
        """Run op i of the measured lane and record its latency, its sink
        files and, in a traced pass, its runtime and streaming metrics."""
        import checks

        n = len(self.op_s)
        known = self.rest.job_ids() if self.rest else None
        n_term = len(self.listener.terminated) if self.listener else 0
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.span(OP_SPAN[lane.batch], op=n) as s:
                self.run_op(lane, feed_dir)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.op_errors[n] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            self.op_s.append(time.perf_counter() - t0)
            timer.cancel()
        lane.files.append(checks.sink_files(lane.sink))
        if self.rest:
            for k, v in self.rest.op_metrics(known, s["start"], s["end"]).items():
                self.add(f"spark.{k}", v)
        if self.listener:
            self.add_stream_progress(self.listener, n_term, s["end"] - s["start"])

    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def add_stream_progress(self, listener, n_term: int, wall: float) -> None:
        listener.wait_terminated(n_term + 1)
        prog = listener.for_runs(listener.terminated[n_term:])

        def dur(key: str) -> float:
            return float(sum(p["durationMs"].get(key, 0) for p in prog))

        self.add("streaming.start_s", wall - dur("triggerExecution") / 1000.0)
        for key, name in (
            ("triggerExecution", "trigger_ms"),
            ("addBatch", "add_batch_ms"),
            ("getBatch", "get_batch_ms"),
            ("queryPlanning", "planning_ms"),
            ("walCommit", "wal_commit_ms"),
        ):
            self.add(f"streaming.{name}", dur(key))
        self.add("streaming.batches", len(prog))
        self.add("streaming.input_rows", sum(p["input_rows"] for p in prog))
        self.add("streaming.state_rows", prog[-1]["state_rows"] if prog else 0)

    # -- the pass ------------------------------------------------------
    def run(self) -> None:
        import measure

        rec, phase = self.record, self.record["phases_s"]
        rec.update(
            workload=self.args.workload,
            seed=self.args.seed,
            trace=self.args.trace,
            nproc=len(os.sched_getaffinity(0)),
            spark_graft_cpus=os.environ["SPARK_GRAFT_CPUS"],
            load1_before=os.getloadavg()[0],
            canary_before_s=measure.canary_s(),
        )
        if self.traced:
            self.tracer = measure.Tracer()
        t = time.perf_counter()
        self.start_s, self.warm_s = self.setup()
        # the benchmark's own start-up (loading inputs, the canary) is
        # kept out of setup_s and recorded as before_setup_s
        self.setup_s = self.start_s + self.warm_s
        rec.update(setup_s=self.setup_s, before_setup_s=t - T_START)
        phase["setup"], t = time.perf_counter() - t, time.perf_counter()
        self.settle()
        phase["settle"], t = time.perf_counter() - t, time.perf_counter()
        if self.traced:
            self.rest = measure.SparkRest(self.spark)
            if not self.batch:
                self.listener = measure.progress_listener()
                self.spark.streams.addListener(self.listener)
        lane = self.lane("data", self.events, self.cuts)
        planned = planned_ops(self.args.seconds, len(self.cuts))
        rec["ops_planned"] = planned
        i = 0
        while i < planned and (i == 0 or time.perf_counter() - t < CAP_FACTOR * self.args.seconds):
            feed_dir = lane.land(i)
            self.timed_op(lane, i, feed_dir)
            if self.traced and self.batch:
                full_s, produced = self.probe_layers(i, feed_dir, lane.sink)
                self.add("plans.remainder_s", self.op_s[i] - full_s)
                rows = lane.appended(i)
                self.add("plans.useful_ratio", (0 if rows is None else len(rows)) / max(produced, 1))
            i += 1
        self.n_ops = i
        for _ in range(RERUNS):
            self.timed_op(lane, len(self.op_s), feed_dir)
        phase["ops"], t = time.perf_counter() - t, time.perf_counter()
        with self.span("host.canary"):
            rec.update(load1_after=os.getloadavg()[0], canary_after_s=measure.canary_s())
        if self.rest:
            self.add("spark.retained_cache_bytes", self.rest.cached_bytes())
        self.bad = self.check(lane)
        phase["check"] = time.perf_counter() - t
        if self.traced:
            self.cross_probe(lane.upto(self.n_ops - 1))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            self.tracer.write(
                os.path.join(out, f"spans-{self.args.workload}-{self.args.seed}.jsonl")
            )

    # -- traced-only probes ---------------------------------------------
    def probe_layers(self, i: int, feed_dir: str, sink: str) -> tuple[float, int]:
        """Per-layer times of the batch pipeline over feed_dir: the Gate-2
        watermark read of `sink`, then each cumulative prefix. Returns the
        whole pipeline's time and row count."""
        import measure
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from txf_continuous_data_pipeline_spark.operators.adjust import backadjust
        from txf_continuous_data_pipeline_spark.operators.resample import tumbling_ohlcv
        from txf_continuous_data_pipeline_spark.operators.sessions import split_and_label
        from txf_continuous_data_pipeline_spark.plans import pipeline
        from txf_continuous_data_pipeline_spark.sources import read_table, sink_watermark

        spark = self.spark
        with self.span("sources.sink_watermark", op=i) as s:
            sink_watermark(spark, sink, ts_col="bar_ts")
        self.add("sources.watermark_s", s["end"] - s["start"])

        def chain():
            events = read_table(spark, feed_dir, "events")
            yield "sources.scan", events
            bars = tumbling_ohlcv(
                events, ts_col="ts", price_col="value", width="5 minutes",
                closed="right", out_ts="bar_ts",
            ).drop("n_rows")
            yield "operators.resample", bars
            labeled = split_and_label(bars, "bar_ts")
            yield "operators.sessions", labeled
            cfg = pipeline.weekly_settle_config(events)
            yield "operators.adjust", pipeline.with_mxf_code(
                backadjust(labeled, cfg, ts_col="bar_ts", end_inclusive=False)
            )
            with self.span("plans.bar_pipeline_5m", op=i) as b:
                full = pipeline.bar_pipeline_5m(spark, feed_dir)
            self.add("plans.build_s", b["end"] - b["start"])
            yield "operators.quality", full

        prefixes, rows = [], {}
        for name, df in chain():
            obs = Observation(name)
            with self.span(f"prefix:{name}", op=i) as s:
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
            prefixes.append((name, s["end"] - s["start"]))
            rows[name] = obs.get["n"]
        pipeline.release_materialized()
        for name, secs in measure.prefix_self_times(prefixes).items():
            self.add(f"{name}_s", secs)
            if name.startswith("operators."):
                self.add(f"{name}_rows", rows[name])
        return prefixes[-1][1], rows["operators.quality"]

    def cross_probe(self, feed) -> None:
        """One op of the other form (warmed in settle) over this pass's
        final feed, so every layer has a reading on both workloads."""
        import checks
        import measure

        probe = Lane(feed, [feed["ts"].max()], os.path.join(self.work, "probe"), not self.batch)
        feed_dir = probe.land(0)
        if probe.batch:
            with self.span(OP_SPAN[True], op=-1) as s:
                self.run_op(probe, feed_dir)
            full_s, produced = self.probe_layers(-1, feed_dir, probe.sink)
            self.add("plans.remainder_s", (s["end"] - s["start"]) - full_s)
            probe.files.append(checks.sink_files(probe.sink))
            rows = probe.appended(0)
            self.add("plans.useful_ratio", (0 if rows is None else len(rows)) / max(produced, 1))
        else:
            listener = measure.progress_listener()
            self.spark.streams.addListener(listener)
            with self.span(OP_SPAN[False], op=-1) as s:
                self.run_op(probe, feed_dir)
            self.add_stream_progress(listener, 0, s["end"] - s["start"])
            self.spark.streams.removeListener(listener)

    # -- checks and result ---------------------------------------------
    def check(self, lane: Lane) -> dict[int, str]:
        """op index -> reason, for every failed op."""
        import checks

        appended = [lane.appended(i) for i in range(len(lane.files))]
        final = lane.files[-1]
        sink = checks.read_parquet_files(sorted(final))
        if self.batch:
            produced = [
                checks.oracle_bars(lane.upto(min(i, self.n_ops - 1)))
                for i in range(len(appended))
            ]
            expected = produced[-1]
            bad = checks.gate2_failed_ops(appended, produced)
            # measured, not gated: see checks.py
            diffs = checks.bar_diffs(sink, expected)
            self.divergent_bars = len(diffs)
            self.record.update(divergent_bars=len(diffs), divergent_first=diffs[:5])
        else:
            expected = checks.stream_expected(lane.upto(self.n_ops - 1))
            bad = checks.failed_ops(
                appended, expected.sort_values(checks.KEY).reset_index(drop=True)
            )
        if expected.empty:
            bad.setdefault(self.n_ops - 1, "no bar expected: the pass checked nothing")
        for r in range(self.n_ops, len(appended)):
            if appended[r] is not None:
                bad.setdefault(r, "rerun with no new data appended rows")
        bad.update(self.op_errors)
        self.sink_rows = 0 if sink is None else len(sink)
        self.sink_bytes = sum(os.path.getsize(f) for f in final)
        self.sink_file_count = len(final)
        self.op_rows = [0 if a is None else len(a) for a in appended]
        return bad

    def result(self) -> dict:
        import measure

        ops = self.op_s[: self.n_ops]
        lat = [float("inf") if j in self.op_errors else s for j, s in enumerate(ops)]
        p50 = measure.quantile(lat, 0.5)
        if p50 == float("inf"):
            p50 = sum(ops)
        self.record.update(
            ops=self.n_ops,
            op_s=[round(s, 4) for s in self.op_s],
            op_rows=self.op_rows,
            failed_ops={str(k): v for k, v in sorted(self.bad.items())},
            sink_rows=self.sink_rows,
        )
        if not self.traced:
            metrics = {"setup_s": self.setup_s, "op_p50_s": p50, "wall_s": sum(ops)}
            units = metric_units("end_to_end")
        else:
            self.add("trace.op_p50_s", p50)
            self.add("trace.ops_per_s", (self.n_ops - len(self.op_errors)) / sum(ops))
            self.add("trace.rerun_s", measure.median(self.op_s[self.n_ops :]))
            self.add("session.start_s", self.start_s)
            self.add("session.warm_s", self.warm_s)
            self.add("sources.sink_files", self.sink_file_count)
            self.add("sources.sink_bytes_per_row", self.sink_bytes / max(self.sink_rows, 1))
            if self.batch:
                self.add("plans.divergent_bars", self.divergent_bars)
            for k in ("canary_before_s", "canary_after_s", "load1_before", "load1_after"):
                self.add(f"host.{k}", self.record[k])
            units = metric_units("per_layer")
            metrics = {k: measure.median(self.layer.get(k, [])) for k in units}
        return {
            "correct": not self.bad,
            "attempted": len(self.op_s),
            "failed": len(self.bad),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def stop(self) -> None:
        """Stop the session, measure what it left behind, then end the JVM
        and wait for it."""
        import measure
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if self.traced and proc is not None:
            self.add("session.jvm_peak_rss_mb", measure.peak_rss_mb(proc.pid))
        self.spark.stop()
        self.spark = None
        self.add(
            "session.residue_bytes",
            measure.tree_bytes(os.path.join(self.work, "tmp"))
            + measure.tree_bytes(os.path.join(self.work, "local")),
        )
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    t0 = time.perf_counter()
    p = CronPass(args, work)
    p.record["phases_s"]["inputs"] = time.perf_counter() - t0
    try:
        p.run()
    finally:
        t0 = time.perf_counter()
        p.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)
        p.record["phases_s"]["stop"] = time.perf_counter() - t0
    result = p.result()
    print(json.dumps(p.record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
