#!/usr/bin/env python3
"""Repo benchmark: end-to-end and per-layer metrics of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  Workloads (BENCHMARK.json says why each
exists):

* ``stream_backfill``  closed loop, one client: availableNow drains of
                       staged token files through
                       ``streaming.pipeline.single_pass_pipeline``;
* ``curation_dedup``   closed loop, one client: near-dup grouping, line
                       dedup and contamination report over a replicated
                       corpus.

Each run generates its inputs from ``--seed`` under ``.perfbench_work/``,
sets up three times (the median is ``setup_s``), measures for at least
``--seconds``, checks every output, and prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from spans the benchmark records around each call into a
layer.  ``.perfbench_work/<workload>/record.json`` (untraced) or
``trace.json`` (traced: spans, self times, tracing overhead) holds the
full run record, including the environment.  The default seed's output
digest is pinned in ``perfbench/digests.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
SETUP_REPS = 3
RUN_LIMIT_S = 170.0
# workload -> (module, function)
WORKLOADS = {
    "stream_backfill": ("wl_stream", "run_backfill"),
    "curation_dedup": ("wl_curation", "run"),
}


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, harness) -> None:
        self.args = args
        self.h = harness
        self.cpus = harness.nproc()
        self.dir = os.path.join(harness.WORK, args.workload)
        self.tr = harness.Tracer(bool(args.trace))
        self.spark = None
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.record: dict = {}
        self.gen_s = 0.0
        self.t0 = time.perf_counter()

    def time_left(self) -> float:
        """Seconds left before the run limit; optional diagnostics of the
        traced run are skipped rather than overrun it."""
        return RUN_LIMIT_S - (time.perf_counter() - self.t0)

    # -- session ---------------------------------------------------------
    def start(self, cpus: int | None = None):
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.h.build_spark(cpus or self.cpus, self.dir)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, generate, prepare) -> float:
        """``SETUP_REPS`` set-ups, each from the session being ready to the
        end of ``prepare`` (state load plus warm-up); the first also
        launches the session and runs ``generate``, whose time is input
        generation and is excluded.  Returns the median set-up time."""
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            gen = 0.0
            if rep == 0:
                self.start()
                g = time.perf_counter()
                with self.tr.span("sources.synth.gen"):
                    generate()
                gen = time.perf_counter() - g
                self.gen_s = gen
            with self.tr.span("setup", op=rep):
                prepare(rep)
            reps.append(time.perf_counter() - t0 - gen)
        self.record["setup_reps_s"] = reps
        self.record["gen_s"] = self.gen_s
        self.record["env"] = self.h.env_record(self.spark, self.args,
                                               os.path.join(self.dir, "in"))
        return statistics.median(reps)

    def measure(self, op, min_ops: int) -> list[float]:
        """The timed window: ``op`` in a closed loop for ``--seconds`` and
        at least ``min_ops`` times; also records the minor page faults the
        window cost (the host's page-fault weather shows there)."""
        f0 = self.h.minor_faults()
        times = self.h.run_for(self.args.seconds, op, min_ops)
        f1 = self.h.minor_faults()
        self.record["timed_minor_faults"] = {
            k: v - f0.get(k, 0) for k, v in f1.items()}
        return times

    # -- outcomes --------------------------------------------------------
    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks.append({"name": name, "ok": bool(ok),
                            "detail": detail})

    def op(self, fn, *a, **kw):
        """Count one attempted operation; a raising op counts as failed
        and yields ``None``."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 - a failed op is a result
            self.failed += 1
            self.record.setdefault("op_errors", []).append(
                traceback.format_exc()[-2000:])
            return None

    def pin_digest(self, value: str) -> None:
        path = os.path.join(HERE, "digests.json")
        with open(path) as f:
            pinned = json.load(f)
        self.record["digest"] = value
        if self.args.seed == DEFAULT_SEED:
            self.check("digest_pinned", pinned.get(self.args.workload)
                       == value, {"pinned": pinned.get(self.args.workload),
                                  "got": value})


def _watchdog(limit_s: float) -> None:
    """A run that would overrun ``limit_s`` (a run must end within 180 s)
    stops every process it started and exits without a result."""
    import harness

    def fire():
        sys.stderr.write(f"perfbench: run exceeded {limit_s:.0f} s\n")
        for pid in harness.descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT,
                                      "hidden_characters_detector_spark")):
        sys.stderr.write("perfbench: run from a checkout of the repo; the "
                         "engine package is missing\n")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    import harness

    _watchdog(RUN_LIMIT_S)
    run = Run(args, harness)
    harness.fresh_dir(run.dir)
    harness.prepare_process_env(run.dir)
    mod_name, fn_name = WORKLOADS[args.workload]
    workload = getattr(__import__(mod_name), fn_name)
    t_run = time.perf_counter()
    with harness.RssSampler() as rss:
        try:
            workload(run)
        finally:
            run.record["workload_wall_s"] = time.perf_counter() - t_run
            if run.spark is not None:
                harness.stop_spark(run.spark)
    run.e2e["peak_rss_mb"] = rss.peak_mb
    run.record["rss"] = rss.summary()
    run.record["run_wall_s"] = time.perf_counter() - t_run

    if args.trace:
        # a layer this workload never calls did zero work
        run.record["layers_not_called"] = [
            m["name"] for m in wanted if m["name"] not in run.layers]
        for name in run.record["layers_not_called"]:
            run.layers[name] = 0.0
    metrics = run.layers if args.trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    mismatches = sum(not c["ok"] for c in run.checks)
    run.record.update({
        "checks": run.checks, "output_mismatches": mismatches,
        "attempted": run.attempted, "failed": run.failed,
        "failed_frac": run.failed / max(run.attempted, 1),
        "end_to_end": run.e2e, "per_layer": run.layers})
    if args.trace:
        run.record["spans"] = run.tr.spans
        run.record["self_times"] = run.tr.by_name()
    harness.write_json(os.path.join(run.dir, "trace.json" if args.trace
                                    else "record.json"), run.record)
    if missing:
        sys.stderr.write(f"perfbench: workload did not report {missing}\n")
        return 4
    for c in run.checks:
        if not c["ok"]:
            sys.stderr.write(f"perfbench: check failed: {c}\n")
    print(json.dumps({k: v for k, v in run.record.items()
                      if k not in ("spans", "checks", "env")},
                     default=str), file=sys.stderr)
    print(json.dumps({
        "correct": mismatches == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
