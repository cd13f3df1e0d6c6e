#!/usr/bin/env python3
"""Benchmark of the log pipeline engine, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run starts a Spark session on
``local[N]`` (N = usable cores), writes the seeded inputs as parquet and
runs two warm-up batches (together, the set-up).  Then it issues batches
back to back until ``S`` seconds of batch time have passed, at least two
batches (a closed loop with one caller), and reports their median.  After
each batch, outside the timed window, it checks the batch's output
against DuckDB computations over the same input files, releases
persisted storage and removes sink output.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a separate
run that reports per-layer metrics instead: it times each cumulative
prefix of the job as its own action, reads the Spark status stores around
every action, and writes its spans to ``.perfbench/trace/``.

Workloads:
  pages_pipeline  pages scan -> parse -> enrich -> derive -> route, then the
                  (sink, geo) interval rollup and the sink fan-out commit
  wire_crawl      forward/msgpack and Jaeger/thrift round trips, then host
                  link edges, redirect resolution, the robots permission
                  join and WARC/HTTP parsing (the traced run adds the
                  OTLP-JSON round trip)
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentelemetry_collector_components_spark"
WORKLOAD_NAMES = ("pages_pipeline", "wire_crawl")
CRAWL_METRICS = {"webgraph": "webgraph.host_edges_s", "redirects": "redirects.resolve_s",
                 "robots": "robots.filter_s", "warc": "warc.parse_s"}
SLICES = 2  # input slices; batches alternate between them
# The first warm-up batch compiles; the second still runs slower than the
# ones after it.  Both read full slices: a small first slice leaves more of
# the per-row code cold for the batches after it.
WARMUP_BATCHES = 2
MIN_TIMED_BATCHES = 2
JVM_OPTS = "-XX:-UsePerfData"  # no hsperfdata files outside the checkout


def parse_args(argv):
    p = argparse.ArgumentParser(
        prog="perfbench/run.py",
        description="Run one benchmark workload and print its metrics as JSON.",
    )
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1 or args.seed < 0:
        p.error("--seconds must be >= 1 and --seed >= 0")
    return args


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Keep every file the run makes inside ``work`` and let Python
    workers import the package from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{JVM_OPTS} -Djava.io.tmpdir={work}/tmp"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def start_session(cores: int, work: str):
    from opentelemetry_collector_components_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # a small fixed heap keeps the JVM's resident memory, a reported
            # metric, from following G1's heap growth from run to run
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, args):
        self.work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
        prepare_environment(self.work)
        from perfbench import inputs, reference, sparkstats, workloads

        self.args = args
        self.inputs, self.ref, self.stats, self.wl = inputs, reference, sparkstats, workloads
        self.spec = workloads.WORKLOADS[args.workload]
        self.cores = usable_cores()
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.slice_ix = 0
        self.batch_ix = itertools.count()
        self.memory = None

    # -- set-up -------------------------------------------------------------
    def setup(self) -> float:
        """Session start, seeded input materialization and the warm-up
        batches; returns the seconds they took.  The warm-up batches'
        output checks and clean-up are not counted."""
        t0 = time.perf_counter()
        self.spark = start_session(self.cores, self.work)
        self.memory = self.stats.PeakMemory(self.spark.sparkContext._gateway.proc.pid)
        self.slices = self.inputs.write_slices(
            os.path.join(self.work, "inputs"), self.args.seed, SLICES,
            self.spec["write_inputs"], self.spec["sizes"],
        )
        setup_s = time.perf_counter() - t0
        self.con = self.ref.connect(self.cores)
        warm = []
        for _ in range(WARMUP_BATCHES):
            warm.append(self.batch())
            self.clean(warm[-1])
        self.warmup_failed = any(rec["error"] for rec in warm)
        return setup_s + sum(rec["seconds"] for rec in warm)

    # -- one batch ------------------------------------------------------------
    def next_slice(self) -> dict:
        """Batches cycle over the input slices."""
        sl = self.slices[self.slice_ix % len(self.slices)]
        self.slice_ix += 1
        return sl

    def batch(self, span=None, observe: bool = False) -> dict:
        """Run one batch on the next slice and check its output; returns its
        wall time, outcome and bookkeeping.  Only the batch itself is
        timed; the check follows it, and ``clean`` releases what it left."""
        ix = next(self.batch_ix)
        out_dir = self.wl.out_dir_for(self.work, ix)
        sl = self.next_slice()
        t0 = time.perf_counter()
        try:
            result = self.spec["batch"](self.spark, sl["dir"], out_dir, self.run_id,
                                        span or quiet_span, observe=observe)
            error = None
        except Exception:  # a failed batch is counted, and the loop goes on
            result, error = None, traceback.format_exc()
        seconds = time.perf_counter() - t0
        rec = {"seconds": seconds, "rows": sl["rows"], "result": result, "out_dir": out_dir,
               "persisted_after": self.stats.persisted_rdds(self.spark)}
        if error is None:
            bad = self.spec["check"](self.con, sl["dir"], result, out_dir)
            error = f"output differs from the reference: {bad}" if bad else None
        rec["error"] = error
        if error:
            print(f"batch {ix} failed: {error}", file=sys.stderr)
        return rec

    def clean(self, rec: dict) -> None:
        """Release what a batch left behind, outside the timed window."""
        self.stats.release_storage(self.spark)
        shutil.rmtree(rec["out_dir"], ignore_errors=True)
        rec.pop("result", None)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()  # lets Spark drop dead shuffle files

    # -- untraced run -----------------------------------------------------------
    def run_untraced(self) -> dict:
        setup_s = self.setup()
        recs = []
        while len(recs) < MIN_TIMED_BATCHES or sum(r["seconds"] for r in recs) < self.args.seconds:
            rec = self.batch()
            self.clean(rec)
            recs.append(rec)
        peak_mb = self.memory.stop()
        times = [r["seconds"] for r in recs]
        failed = sum(1 for r in recs if r["error"])
        done_rows = sum(r["rows"] for r in recs if not r["error"])
        print(f"workload={self.args.workload} seed={self.args.seed} cores={self.cores} "
              f"rows_per_batch={recs[0]['rows']} batch_s={[round(t, 3) for t in times]}")
        print(f"failed_ratio={failed / len(times):.4f} ({failed}/{len(times)})")
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (done_rows / sum(times), "1/s"),
            "batch_p50_s": (statistics.median(times), "s"),
            "peak_rss_mb": (peak_mb, "MiB"),
        }
        correct = failed == 0 and not self.warmup_failed
        return result_json(correct, len(times), failed, metrics)

    # -- traced run -------------------------------------------------------------
    def run_traced(self) -> dict:
        """One untraced batch, one traced batch, then the job's cumulative
        prefixes, each timed as its own action.  The prefixes first run
        once, unrecorded, so the timed pass does not pay their first compile
        or JIT warm-up."""
        self.setup()
        self.run_chain(self.next_slice()["dir"], quiet_span)
        plain = self.batch()
        self.clean(plain)
        spans = self.stats.Spans(self.run_id)
        cached = [0]

        def span(name):
            return _SampledSpan(spans(name), lambda: cached.append(
                self.stats.cached_bytes(self.spark)))

        first = len(spans.items)
        with spans("batch"), self.stats.ActionStats(self.spark) as st:
            traced = self.batch(span=span, observe=True)
        traced["stats"], traced["spans"] = st.values, spans.items[first:]
        traced["layer"] = {} if traced["error"] else self.spec["layer_counts"](
            self.con, traced["result"], traced["out_dir"])
        self.clean(traced)
        chain = self.run_chain(self.next_slice()["dir"], spans)
        m = layer_metrics(self.spec, plain["seconds"], traced, chain, max(cached))
        m["scaling.eff_1_to_n"] = (self.scaling(plain["seconds"]), "ratio")
        spans.write(os.path.join(ROOT, ".perfbench", "trace", f"{self.run_id}.json"))
        failed = bool(plain["error"]) + bool(traced["error"])
        return result_json(failed == 0 and not self.warmup_failed, 2, failed, m)

    def run_chain(self, slice_dir: str, span) -> dict:
        """Prefix name -> (seconds, ActionStats values)."""
        out = {}
        for name, fn in self.spec["chain"](self.spark, slice_dir):
            with span(name) as sp, self.stats.ActionStats(self.spark) as st:
                fn()
            out[name] = (sp.seconds, st.values)
            self.stats.release_storage(self.spark)
        return out

    def scaling(self, seconds_n: float) -> float:
        """Parallel efficiency from local[1] to local[N], (t1 / tN) / N,
        where tN is the untraced batch above and t1 a batch on a new
        local[1] session after one warm-up batch there; 0 for a workload
        whose entry does not ask for it."""
        if not self.spec["scaling"]:
            return 0.0
        self.spark.stop()
        self.spark = start_session(1, self.work)
        self.clean(self.batch())
        rec = self.batch()
        self.clean(rec)
        return rec["seconds"] / seconds_n / self.cores

    def close(self) -> None:
        """Stop Spark, end the JVM and the Python workers below it, and
        remove the run's files."""
        from pyspark import SparkContext

        if self.memory is not None:
            self.memory.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        below = self.stats.descendants(proc.pid) if proc is not None else []
        try:
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
                self.stats.wait_gone(below, timeout=30)
            shutil.rmtree(self.work, ignore_errors=True)


class _Quiet:
    seconds = 0.0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def quiet_span(name):
    return _Quiet()


class _SampledSpan:
    """A span that also samples cached storage when it ends."""

    def __init__(self, span, sample):
        self.span, self.sample = span, sample

    def __enter__(self):
        self.span.__enter__()
        return self.span

    def __exit__(self, *exc):
        self.sample()
        return self.span.__exit__(*exc)


def layer_metrics(spec, untraced_s, traced, chain, cached_peak) -> dict:
    """Per-layer metrics from the traced batch and the prefix chain.  A
    layer's self time is its prefix's time minus the previous prefix's."""
    from perfbench.workloads import WIRE_CODECS

    t = {name: seconds for name, (seconds, _) in chain.items()}

    def stat(name, key):
        return chain[name][1][key] if name in chain else 0

    def self_s(name, prev):
        return t[name] - t[prev] if name in t else 0.0

    def span_s(name):
        return sum(sp["end"] - sp["start"] for sp in traced["spans"] if sp["name"] == name)

    def count(name):
        return traced["layer"].get(name, 0)

    m = {
        "sources.scan_s": (t.get("sources.scan", 0.0), "s"),
        "sources.rows_read": (stat("sources.scan", "input_records"), "count"),
        "sources.bytes_read": (stat("sources.scan", "input_bytes"), "B"),
        "parse.self_s": (self_s("parse", "sources.scan"), "s"),
        "parse.rows_out": (count("parse.rows_out"), "count"),
        "parse.malformed_rows": (count("parse.malformed_rows"), "count"),
        "enrich.self_s": (self_s("enrich", "parse"), "s"),
        "enrich.unknown_dim_rows": (count("enrich.unknown_dim_rows"), "count"),
        "enrich.broadcast_bytes": (stat("enrich", "broadcast_bytes"), "B"),
        "route.self_s": (self_s("route", "enrich"), "s"),
        "route.error_rows": (count("route.error_rows"), "count"),
        "route.sinks": (count("route.sinks"), "count"),
        "aggregate.self_s": (self_s("aggregate", "route"), "s"),
        "aggregate.base_groups": (count("aggregate.base_groups"), "count"),
        "aggregate.shuffle_bytes": (stat("aggregate", "shuffle_write_bytes"), "B"),
        "aggregate.spill_bytes": (stat("aggregate", "spill_bytes"), "B"),
        "caching.persisted_after": (traced["persisted_after"], "count"),
        "caching.cached_bytes_peak": (cached_peak, "B"),
        "sinks.write_s": (span_s("sinks.write"), "s"),
        "sinks.lineage_s": (span_s("sinks.lineage"), "s"),
        "sinks.bytes_written": (count("sinks.bytes_written"), "B"),
        "sinks.files_written": (count("sinks.files_written"), "count"),
        "checkpoint.commit_s": (span_s("checkpoint.unit") - span_s("sinks.write")
                                - span_s("sinks.lineage"), "s"),
        "checkpoint.units_done": (count("checkpoint.units_done"), "count"),
    }
    for codec in WIRE_CODECS:
        m[f"{codec}.encode_s"] = (self_s(f"{codec}.encode", "wire.scan"), "s")
        m[f"{codec}.decode_s"] = (self_s(f"{codec}.decode", f"{codec}.encode"), "s")
    m["pyudf.rows"] = (traced["stats"]["python_rows"], "count")
    for op, metric in CRAWL_METRICS.items():
        m[metric] = (self_s(f"{op}.op", f"{op}.scan"), "s")
    m["joins.shuffle_bytes"] = (sum(stat(f"{op}.op", "shuffle_write_bytes")
                                    for op in CRAWL_METRICS), "B")
    for key, metric, unit in (("tasks", "exec.tasks", "count"),
                              ("failed_tasks", "exec.task_retries", "count"),
                              ("shuffle_write_bytes", "exec.shuffle_write_bytes", "B"),
                              ("spill_bytes", "exec.spill_bytes", "B"),
                              ("peak_exec_memory_bytes", "exec.peak_exec_memory_bytes", "B")):
        m[metric] = (traced["stats"][key], unit)
    m["trace.overhead_ratio"] = (traced["seconds"] / untraced_s, "ratio")
    # the untraced batch time the traced layers do not account for
    m["trace.remainder_s"] = (untraced_s - spec["accounted"](m, t), "s")
    return m


def result_json(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    runner = Runner(args)
    try:
        out = runner.run_traced() if args.trace else runner.run_untraced()
    finally:
        runner.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
