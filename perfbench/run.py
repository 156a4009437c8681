#!/usr/bin/env python3
"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload warehouse_stream --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` under ``perfbench/.work``,
sets up once (cold session start, input registration, warm-up passes),
then runs closed-loop passes for ``--seconds`` and checks every pass.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import harness
from gen import GENERATORS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Checked passes run as warm-up before measuring, the cold pass
# included. From a cold JVM the pass time falls steeply over the first
# two passes (class loading, Spark's codegen cache) and by a few percent
# more over the next two or three (JIT). Three keep the longest run
# near 50 s, so that 22 runs of each listed workload fit in an hour.
WARMUP_PASSES = 3
MIN_PASSES = 3  # per kind (untraced, traced) of measured pass

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "success_frac": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.jobs": "count", "session.stages": "count",
    "session.tasks": "count", "session.task_s": "s", "session.busy_frac": "ratio",
    "session.shuffle_write_bytes": "bytes", "session.shuffle_read_bytes": "bytes",
    "session.spill_bytes": "bytes", "session.gc_s": "s", "session.task_retries": "count",
    "io.scan_s": "s", "io.bytes_read": "bytes", "io.write_s": "s",
    "io.bytes_written": "bytes", "io.files_written": "count",
    "queries.build_s": "s", "plans.optimize_s": "s", "plans.exchanges": "count",
    "plans.broadcast_joins": "count", "plans.codegen_stages": "count",
    "operators.dedup_s": "s", "operators.dedup.pairs_emitted": "count",
    "operators.dedup.precision": "ratio", "operators.dedup.recall": "ratio",
    "pipeline.corpus_build_s": "s", "pipeline.basetable_s": "s",
    "ml.featurize_s": "s", "ml.fit_lr_s": "s", "ml.fit_rf_s": "s", "ml.fit_gbt_s": "s",
    "ml.eval_s": "s", "ml.test_auc": "ratio",
    "streaming.batch_s": "s", "streaming.sink_s": "s", "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "trace.overhead_frac": "ratio",
}
# span name -> per-layer metric (seconds per pass)
SPAN_METRICS = {
    "queries.build": "queries.build_s", "plans.optimize": "plans.optimize_s",
    "operators.dedup": "operators.dedup_s", "pipeline.corpus_build": "pipeline.corpus_build_s",
    "pipeline.basetable": "pipeline.basetable_s", "ml.featurize": "ml.featurize_s",
    "ml.fit_lr": "ml.fit_lr_s", "ml.fit_rf": "ml.fit_rf_s", "ml.fit_gbt": "ml.fit_gbt_s",
    "ml.eval": "ml.eval_s",
}
# pass-level values that are guards: report the worst pass, not the mean
WORST_OF = {"operators.dedup.precision", "operators.dedup.recall", "ml.test_auc"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args, self.work = args, work
        self.env = harness.pin_environment(work)
        t0 = time.perf_counter()
        truth = GENERATORS[args.workload](args.seed, os.path.join(work, "data"))
        self.gen_s = time.perf_counter() - t0
        self.wl = WORKLOADS[args.workload](os.path.join(work, "data"), truth, args.seed, work)
        self.log_dir = os.path.join(work, "eventlog") if args.trace else None
        self.tracer = harness.Tracer(False)
        self.spark = None
        self.ops = []
        self.record: dict = {}
        self.detail: dict = {}

    def setup(self) -> tuple[float, float, list[float]]:
        """Cold session start (JVM launch included), input registration
        and WARMUP_PASSES checked warm-up passes. Returns (set-up time,
        session start time, warm-up pass times)."""
        from big_data_tools_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               extra_conf=harness.session_conf(self.work, self.log_dir))
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        self.wl.register(self.spark, self.tracer)
        warm: list[float] = []
        while self.wl.has_next() and len(warm) < WARMUP_PASSES:
            p = self.wl.run_pass(self.spark, self.tracer)
            self.ops += p.ops
            warm.append(p.seconds)
        return time.perf_counter() - t0, start_s, warm

    def measure(self) -> tuple[list, list, float]:
        """Closed-loop passes until ``--seconds`` have elapsed and at
        least MIN_PASSES ran. In a traced run passes alternate
        untraced/traced, so warm-up drift cancels out of the tracing
        overhead. Returns (untraced passes,
        traced passes, peak RSS in MB over the measurement)."""
        untraced, traced = [], []
        ticks = harness.cpu_ticks()
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            while self.wl.has_next() and (
                time.perf_counter() - t0 < self.args.seconds
                or len(untraced) < MIN_PASSES
                or (self.args.trace and len(traced) < MIN_PASSES)
            ):
                on = bool(self.args.trace) and len(untraced) > len(traced)
                self.tracer.enabled = on
                self.tracer.new_pass()
                gc0 = self._gc_ms()
                p = self.wl.run_pass(self.spark, self.tracer)
                # driver and executors share the local-mode JVM, so its
                # collectors' total covers GC outside task time too
                p.layer["session.gc_s"] = (self._gc_ms() - gc0) / 1000
                (traced if on else untraced).append(p)
                self.ops += p.ops
        self.tracer.enabled = False
        self.record["steal_frac"] = harness.steal_frac(ticks, harness.cpu_ticks())
        print(f"# host steal during measurement: {self.record['steal_frac']:.3f} of CPU time")
        return untraced, traced, rss.peak_mb

    def _gc_ms(self) -> int:
        mx = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())

    def end_to_end(self, setup_s: float, passes: list, peak_mb: float) -> dict:
        samples = [s for p in passes for s in p.samples]
        n_min = sum(len(p.samples) for p in passes[:MIN_PASSES])
        q, tail = harness.tail_percentile(samples, n_min)
        print(f"# op samples n={len(samples)} (at least {n_min}); op_p90_s is the "
              f"p{q * 100:.0f} (highest percentile <= p90 with >= 10 samples beyond "
              f"in {n_min} samples; p90 when that is fewer than 20)")
        failed = sum(not o.ok for o in self.ops)
        return {
            "setup_s": setup_s,
            "wall_s": statistics.median(p.seconds for p in passes),
            "op_p50_s": statistics.median(samples),
            "op_p90_s": tail,
            "success_frac": 1.0 - failed / len(self.ops),
            "peak_rss_mb": peak_mb,
        }

    def per_layer(self, start_s: float, untraced: list, traced: list) -> dict:
        self.spark.stop()  # flushes the event log
        self.spark = None
        ev = harness.parse_event_log(self.log_dir)
        tr, n = self.tracer, len(traced)
        wall = sum(p.seconds for p in traced)
        cores = int(self.env["SPARK_GRAFT_CPUS"])
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update({
            "session.start_s": start_s,
            "session.jobs": ev["jobs"] / n, "session.stages": ev["stages"] / n,
            "session.tasks": ev["tasks"] / n, "session.task_s": ev["task_ms"] / 1000 / n,
            "session.busy_frac": ev["task_ms"] / 1000 / (wall * cores),
            "session.shuffle_write_bytes": ev["shuffle_write_bytes"] / n,
            "session.shuffle_read_bytes": ev["shuffle_read_bytes"] / n,
            "session.spill_bytes": ev["spill_bytes"] / n,
            "session.task_retries": ev["task_retries"],
            "io.scan_s": ev["scan_task_ms"] / 1000 / n, "io.bytes_read": ev["bytes_read"] / n,
            "io.write_s": ev["write_task_ms"] / 1000 / n,
            "io.bytes_written": ev["bytes_written"] / n,
            "io.files_written": ev["files_written"] / n,
            "trace.overhead_frac": statistics.median(p.seconds for p in traced)
            / statistics.median(p.seconds for p in untraced) - 1.0,
        })
        for span, metric in SPAN_METRICS.items():
            m[metric] = tr.total(span) / n
        for key in {k for p in traced for k in p.layer}:
            vals = [p.layer[key] for p in traced if key in p.layer]
            m[key] = min(vals) if key in WORST_OF else sum(vals) / len(vals)
        self.detail = {"self_s": tr.self_times(), "per_span": ev["per_span"],
                       "traced_passes": n, "untraced_passes": len(untraced),
                       "spans": tr.spans}
        return {k: m[k] for k in PER_LAYER}

    def run(self) -> dict:
        setup_s, start_s, warm = self.setup()
        self.record = {**harness.machine_info(self.spark), **self.env,
                       "gen_s": self.gen_s, "setup_s": setup_s, "warmup_pass_s": warm}
        print("# env " + json.dumps(self.record))
        if self.args.trace:
            self.wl.trace_hooks(self.tracer)
        untraced, traced, peak_mb = self.measure()
        if self.args.trace:
            metrics, units = self.per_layer(start_s, untraced, traced), PER_LAYER
        else:
            metrics, units = self.end_to_end(setup_s, untraced, peak_mb), END_TO_END
        for o in self.ops:
            if not o.ok:
                print(f"# FAILED {o.name}: {o.detail}", file=sys.stderr)
        failed = sum(not o.ok for o in self.ops)
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit (its
        Python workers exit with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import big_data_tools_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(big_data_tools_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the program must come from {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    bench = None
    try:
        bench = Bench(args, work)
        result = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    # the full record (environment, every operation, spans) outlives the
    # run's work area; stdout ends with the result line
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**result, "env": bench.record, "ops": [o.__dict__ for o in bench.ops],
                   "trace": bench.detail}, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
