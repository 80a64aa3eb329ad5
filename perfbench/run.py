#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pbf_pip --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. Generates the workload's inputs
from the seed (cached under ``.perfbench/cache``), then starts one
``local[N]`` session, sets up, warms up, and runs passes for
``--seconds`` and checks every pass against an independent oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates a
fused pass with a staged pass whose layers are timed one by one and
prints the per-layer metrics, also written with the spans to
``.perfbench/traces/``. The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
See ``perfbench/README.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 3

END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "1/s",
                    "peak_rss_mb": "MiB", "store_mb": "MiB"}

PER_LAYER_UNITS = {
    "ingest.s": "s", "ingest.blobs": "count", "ingest.mb": "MiB",
    "ingest.jobs": "count",
    "decode.s": "s", "decode.elements": "count",
    "decode.elements_per_s": "1/s", "decode.jobs": "count",
    "decode.tasks": "count", "decode.failed_tasks": "count",
    "grid.s": "s", "grid.rows": "count",
    "pip.cover_s": "s", "pip.cover_rows": "count", "pip.join_s": "s",
    "pip.matches": "count", "pip.match_ratio": "ratio",
    "pip.jobs": "count",
    "knn.s": "s", "knn.rows": "count", "knn.jobs": "count",
    "knn.tasks": "count",
    "store.write_s": "s", "store.scan_s": "s", "store.files": "count",
    "store.mb": "MiB",
    "trace.overhead_s": "s", "host.load_1m": "tasks", "host.steal_pct": "%",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes (benchmark tests only)")
    p.add_argument("--plant-fault", action="store_true",
                   help="corrupt each answer by one before checking, to "
                        "prove the checks count it (benchmark tests only)")
    return p.parse_args(argv)


def _engine_importable() -> bool:
    return os.path.isfile(os.path.join(ROOT, "osmpbf_spark", "__init__.py"))


class Run:
    """One process, one workload, one seed."""

    def __init__(self, args):
        import workloads

        self.args = args
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        self.sizes = workloads.TINY if args.tiny else workloads.FULL
        self.run_id = uuid.uuid4().hex[:8]
        self.work = os.path.join(ROOT, ".perfbench")
        self.run_dir = os.path.join(self.work, f"run-{self.run_id}")
        # two cores: on a shared 4-core host local[4] oversubscribes
        # (task threads, Python workers, JVM, driver) and every
        # co-tenant burst stretches the passes; an interleaved A/B read
        # local[2] faster and no noisier
        self.cores = min(2, os.cpu_count() or 1)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, fn, *a):
        """One checked operation: a wrong answer or an exception counts
        as a failed operation, never as a timing."""
        self.attempted += 1
        try:
            bad = fn(*a)
        except Exception:  # noqa: BLE001 - the run reports it and goes on
            traceback.print_exc()
            bad = [f"{getattr(fn, '__name__', fn)} raised"]
        if bad:
            self.failed += 1
            self.failures.extend(bad)
            print("perfbench check failed: " + "; ".join(bad),
                  file=sys.stderr, flush=True)

    def timed_op(self, fn) -> float:
        t0 = time.perf_counter()
        self.op(fn)
        return time.perf_counter() - t0

    def execute(self) -> tuple[dict, dict]:
        """Values of the metrics this mode prints, and the run context."""
        import workloads

        args = self.args
        cache = os.path.join(self.work, "cache")
        os.makedirs(self.run_dir, exist_ok=True)
        context = {"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "run_id": self.run_id,
                   "nproc": os.cpu_count(), "local_n": self.cores,
                   "sizes": dataclasses.asdict(self.sizes),
                   **harness.source_revision(ROOT)}
        inputs, context["generated"] = workloads.ensure_inputs(
            cache, self.sizes, args.seed)
        t0 = time.perf_counter()
        spark = harness.start_spark(self.cores, self.run_dir)
        session_s = time.perf_counter() - t0
        try:
            with harness.MemorySampler() as mem:
                t0 = time.perf_counter()
                wl = workloads.WORKLOADS[args.workload](
                    spark, self.sizes, inputs, self.run_dir,
                    args.plant_fault)
                context["init_s"] = time.perf_counter() - t0
                try:
                    if args.trace:
                        out = self._traced(spark, wl, context)
                    else:
                        out = self._measured(wl, session_s, context)
                finally:
                    wl.close()
            context.update(peak_rss_mb=mem.peak / 2**20,
                           memory_at_peak=mem.at_peak)
            if not args.trace:
                out["peak_rss_mb"] = context["peak_rss_mb"]
        finally:
            t0 = time.perf_counter()
            harness.stop_spark(spark)
        context.update({"stop_s": time.perf_counter() - t0,
                        "pass_failures": self.failures[:20]})
        return out, context

    def _warmup(self, wl) -> list[float]:
        return [self.timed_op(wl.run_pass) for _ in range(wl.warmup_passes)]

    def _check_setup(self, wl, context: dict) -> None:
        # after the passes: on pbf_pip the check decodes the whole file,
        # which costs a cold session ~12 s and a warm one ~3 s
        context["check_setup_s"] = self.timed_op(wl.check_setup)

    def _measured(self, wl, session_s: float, context: dict) -> dict:
        setup_s = self.timed_op(wl.setup)
        warm = self._warmup(wl)
        load = os.getloadavg()[0]
        ticks = harness.cpu_ticks()
        passes = []
        t_end = time.perf_counter() + self.args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(self.timed_op(wl.run_pass))
        self._check_setup(wl, context)
        context.update({
            "host.load_1m": load,
            "host.steal_pct": harness.steal_pct(ticks, harness.cpu_ticks()),
            "session_s": session_s, "workload_setup_s": setup_s,
            "warmup_pass_s": warm, "pass_s": passes})
        return {
            "setup_s": session_s + setup_s + sum(warm),
            "items_per_s": wl.items / statistics.median(passes),
            "store_mb": wl.at_rest_bytes() / 2**20,
        }

    def _traced(self, spark, wl, context: dict) -> dict:
        tr = harness.Tracer(spark, self.run_id)
        with tr.span("setup"):
            wl.setup()
        layer = {**dict.fromkeys(PER_LAYER_UNITS, 0.0), **wl.setup_layers()}
        self._warmup(wl)
        load = os.getloadavg()[0]
        ticks = harness.cpu_ticks()
        fused, staged, sums = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        while len(staged) < 2 or time.perf_counter() < t_end:
            with tr.span("pass.fused") as s:
                self.op(wl.run_pass)
            fused.append(s.rec["seconds"])
            n0 = len(tr.spans)
            counters: dict = {}

            def staged_pass():
                got, bad = wl.staged_pass(tr)
                counters.update(got)
                return bad
            with tr.span("pass.staged") as s:
                self.op(staged_pass)
            staged.append(counters)
            sums.append(sum(c["seconds"] for c in tr.spans[n0:]
                            if c["parent"] == s.group))
        self._check_setup(wl, context)
        for k in PER_LAYER_UNITS:
            vals = [c[k] for c in staged if k in c]
            if vals:
                layer[k] = statistics.median(vals)
        layer["trace.overhead_s"] = (statistics.median(sums)
                                     - statistics.median(fused))
        layer["host.load_1m"] = load
        layer["host.steal_pct"] = harness.steal_pct(ticks,
                                                    harness.cpu_ticks())
        tr.dump(os.path.join(self.work, "traces",
                             f"{self.args.workload}-s{self.args.seed}-"
                             f"{self.run_id}.json"),
                {"context": context, "layers": layer,
                 "fused_pass_s": fused})
        return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _engine_importable():
        print(f"perfbench: no osmpbf_spark package under {ROOT}; run from "
              f"the root of a source tree", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        values, context = run.execute()
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units.items()}
    record = {"context": context, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    os.makedirs(os.path.join(run.work, "runs"), exist_ok=True)
    with open(os.path.join(run.work, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{run.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench context: " + json.dumps(context), file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
