"""stream_backfill: closed loop, one client.

Each op is an availableNow drain of the same staged token files through
``streaming.pipeline.single_pass_pipeline`` with a cold checkpoint and a
fresh output directory.  Input carries the sparse 0.2% marker rate and
~0.5% bad rows, so the quarantine sink writes real rows.  Per-row cost
through the kernel, the ``sinks.exactly_once`` write, the quarantine raw
re-scan and the density rewrite does the work, with the per-micro-batch
fixed cost (planning, WAL, listing) on top.

The traced run adds the open-loop view of the same pipeline: a rate
ladder where a scheduler thread renames the staged files into a live
source directory at fixed rates while the pipeline runs with its default
processing-time trigger.  A file's latency runs from the moment it was
due to the commit of the micro-batch holding it (``<ck>/commits/<n>``).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from urllib.parse import urlparse

import inputs
import probes

N_ROWS = 20000
N_FILES = 100
MARKER_RATE = 0.002
BAD_PER_MILLE = 5
LATENCY_LIMIT_S = 10.0
LADDER_SEQ_S = (2000, 4000, 8000)   # offered loads of the traced ladder
LADDER_S = 2.5


# -- checkpoint log reader ---------------------------------------------------------

def read_stream_log(ck: str) -> dict:
    """File -> micro-batch from the file source's log, and each batch's
    start (offset log write) and commit time, from file mtimes.

    Spark writes ``sources/0/<n>`` per batch and, every
    ``compactInterval`` (10) batches, ``<n>.compact`` instead: a
    cumulative log whose entries carry their own ``batchId``."""
    src = os.path.join(ck, "sources", "0")
    file_batch: dict[str, int] = {}
    for name in os.listdir(src) if os.path.isdir(src) else []:
        stem, _, ext = name.partition(".")
        if not stem.isdigit() or ext not in ("", "compact"):
            continue
        with open(os.path.join(src, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:          # line 0 is the format version
            if line.strip():
                e = json.loads(line)
                b = int(e.get("batchId", stem)) if ext else int(stem)
                file_batch[os.path.basename(urlparse(e["path"]).path)] = b

    def mtimes(sub: str) -> dict[int, float]:
        d = os.path.join(ck, sub)
        if not os.path.isdir(d):
            return {}
        return {int(n): os.path.getmtime(os.path.join(d, n))
                for n in os.listdir(d) if n.isdigit()}

    return {"file_batch": file_batch, "commits": mtimes("commits"),
            "offsets": mtimes("offsets")}


# -- ops ------------------------------------------------------------------------

def drain(run, src: str, base: str, name: str) -> str:
    """One availableNow drain of ``src`` into a fresh ``base``; returns
    the output directory."""
    from hidden_characters_detector_spark.streaming.pipeline import (
        single_pass_pipeline)

    run.h.fresh_dir(base)
    out = os.path.join(base, "out")
    q = single_pass_pipeline(run.spark, src, out, os.path.join(base, "ck"),
                             query_name=name)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"pipeline failed: {q.exception()}")
    return out


def run_schedule(run, names: list[str], stage: str, base: str,
                 rate: float) -> dict:
    """Open loop: ``names`` renamed from a pending copy into a live source
    directory at ``rate`` files/s, whatever the pipeline does; then wait
    up to ``LATENCY_LIMIT_S`` for the last commits.  A file not committed
    by then has latency ``inf``."""
    from hidden_characters_detector_spark.streaming.pipeline import (
        single_pass_pipeline)

    pending = os.path.join(base, "pending")
    src = os.path.join(base, "src")
    ck = os.path.join(base, "ck")
    run.h.fresh_dir(base)
    os.makedirs(pending)
    for n in names:
        shutil.copy(os.path.join(stage, n), pending)
    os.makedirs(src)
    q = single_pass_pipeline(run.spark, src, os.path.join(base, "out"), ck,
                             trigger_available_now=False,
                             query_name=os.path.basename(base))
    due, lag = [], []
    t0 = time.time() + 1.0

    def generate():
        for i, name in enumerate(names):
            d = t0 + i / rate
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(pending, name), os.path.join(src, name))
            lag.append(time.time() - d)
            due.append(d)

    gen = threading.Thread(target=generate, daemon=True)
    gen.start()
    gen.join()
    log = read_stream_log(ck)
    backlog = sum(log["file_batch"].get(n) not in log["commits"]
                  for n in names)
    deadline = time.time() + LATENCY_LIMIT_S
    while time.time() < deadline and not all(
            log["file_batch"].get(n) in log["commits"] for n in names):
        time.sleep(0.1)
        log = read_stream_log(ck)
    q.stop()
    log = read_stream_log(ck)
    lat = []
    for n, d in zip(names, due):
        c = log["commits"].get(log["file_batch"].get(n))
        lat.append(c - d if c is not None and c <= deadline else math.inf)
    batch_s = [log["commits"][b] - log["offsets"][b]
               for b in set(log["file_batch"].values())
               if b in log["commits"] and b in log["offsets"]]
    return {"latency_s": lat, "batch_s": batch_s,
            "backlog_files_end": backlog, "gen_lag_max_s": max(lag)}


# -- workload ---------------------------------------------------------------------

def run_backfill(run) -> None:
    in_dir = os.path.join(run.dir, "in")
    stage = os.path.join(run.dir, "stage")
    good = os.path.join(in_dir, "good.parquet")
    st: dict = {}

    def generate():
        os.makedirs(in_dir, exist_ok=True)
        st["names"] = inputs.stage_token_files(
            stage, seed=run.args.seed, n_rows=N_ROWS, n_files=N_FILES,
            marker_rate=MARKER_RATE, bad_per_mille=BAD_PER_MILLE)
        st["expect"] = inputs.expected_quarantine(stage, st["names"], good)

    def prepare(rep):
        # warm-up drains: two on the fresh session, one on later set-ups
        for i in range(2 if rep == 0 else 1):
            drain(run, stage, os.path.join(run.dir, "warm"), f"warm{i}")

    run.e2e["setup_s"] = run.setup(generate, prepare)
    recorder = None
    if run.tr.on:
        from hidden_characters_detector_spark.streaming.metrics import (
            ProgressRecorder)
        recorder = ProgressRecorder()
        run.spark.streams.addListener(recorder)
    outs: list[str] = []

    def timed(i):
        def op():
            with run.tr.span("streaming.pipeline.drain", op=i):
                return drain(run, stage, os.path.join(run.dir, f"d{i}"),
                             f"drain{i}")
        out = run.op(op)
        if out is not None:
            outs.append(out)

    drains = run.measure(timed, min_ops=2)
    rows = st["expect"]["rows"]
    run.e2e["job_s_p50"] = statistics.median(drains)
    run.e2e["throughput_seq_per_s"] = rows * len(outs) / sum(drains)
    run.record.update({"drains_s": drains, "job_s_max": max(drains),
                       "staged_rows": rows, "files": len(st["names"])})
    check_outputs(run, outs, st)
    if run.tr.on:
        run.spark.streams.removeListener(recorder)
        stream_layers(run, st, recorder.progress, stage, good, drains)


def manifest_rows(d: str) -> int:
    if not os.path.isdir(d):
        return 0
    total = 0
    for f in os.listdir(d):
        if f.startswith("_manifest_batch_") and f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                total += json.load(fh)["rows"]
    return total


def check_outputs(run, outs: list[str], st: dict) -> None:
    """Every drain: sink + quarantine manifests account for every staged
    row.  The first drain in full: quarantine holds exactly the injected
    bad rows, no doc_id twice in the sink, the sink's totals equal batch
    ``clean_detect`` and the kernel over the same rows, the density
    totals equal the sink's detections, and no codepoint the clean always
    removes is left in ``tokens_clean``."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.functions.kernel import FULL_CLEAN
    from hidden_characters_detector_spark.operators.clean import clean_detect
    from hidden_characters_detector_spark.sinks.exactly_once import read_sink
    from hidden_characters_detector_spark.streaming.pipeline import (
        TOKEN_STREAM_SCHEMA, read_density, read_quarantine)

    expect, spark = st["expect"], run.spark
    accounted = [manifest_rows(os.path.join(o, "cleaned"))
                 + manifest_rows(os.path.join(o, "quarantine"))
                 for o in outs]
    run.check("rows_accounted_every_drain",
              bool(outs) and all(a == expect["rows"] for a in accounted),
              {"staged": expect["rows"], "drains": accounted})
    if not outs:
        return
    out = outs[0]
    removable = probes.removable_markers()
    sink = read_sink(spark, os.path.join(out, "cleaned")).agg(
        F.count("*").alias("rows"),
        F.countDistinct("doc_id").alias("ids"),
        F.sum("n_detected").alias("detected"),
        F.sum("n_tok_clean").alias("tok_clean"),
        F.sum(F.arrays_overlap("tokens_clean", F.array(
            *[F.lit(c) for c in removable])).cast("long")).alias(
            "left_removable")).collect()[0].asDict()
    quar = {r[0]: r[1] for r in read_quarantine(spark, out)
            .groupBy("quarantine_reason").count().collect()}
    dens = read_density(spark, out).agg(
        F.sum("n_detections")).collect()[0][0]
    good = os.path.join(run.dir, "in", "good.parquet")
    ref = probes.kernel_reference(run.tr, [good])
    st["kernel_ref"] = ref
    bc = clean_detect(spark.read.schema(TOKEN_STREAM_SCHEMA).parquet(good),
                      FULL_CLEAN).agg(
        F.count("*").alias("rows"),
        F.sum("n_detected").alias("detected"),
        F.sum("n_tok_clean").alias("tok_clean")).collect()[0].asDict()
    detail = {"sink": sink, "quarantine": quar, "density": dens,
              "expect": expect, "batch_clean": bc,
              "kernel": {k: ref[k] for k in ("n", "detected", "tok_clean")}}
    run.check("quarantine_equals_injected",
              {k: quar.get(k, 0) for k in expect["bad"]} == expect["bad"]
              and sum(quar.values()) == expect["bad_total"], detail)
    run.check("sink_ids_unique", sink["ids"] == sink["rows"], detail)
    run.check("sink_totals_equal_batch_clean",
              (sink["rows"], sink["detected"], sink["tok_clean"])
              == (bc["rows"], bc["detected"], bc["tok_clean"]), detail)
    run.check("sink_totals_equal_kernel",
              (sink["rows"], sink["detected"], sink["tok_clean"])
              == (ref["n"], ref["detected"], ref["tok_clean"]), detail)
    run.check("density_equals_sink", dens == sink["detected"], detail)
    run.check("no_removable_marker_left", sink["left_removable"] == 0,
              detail)
    run.pin_digest(run.h.digest({
        "rows": expect["rows"], "sink": [sink["rows"], sink["detected"],
                                         sink["tok_clean"]],
        "quarantine": sorted(quar.items()), "density": dens}))


# -- traced run: per-layer numbers ----------------------------------------------------

def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


def progress_layers(run, progress: list[dict], drains: list[float]) -> None:
    """Per-micro-batch ``StreamingQueryProgress`` durations of the timed
    drains (recorded by ``streaming.metrics.ProgressRecorder``) as spans,
    and the ``streaming.pipeline.*`` numbers."""
    from datetime import datetime

    data = [p for p in progress if int(p.get("numInputRows", 0)) > 0]
    clock = time.perf_counter() - time.time()
    # a trigger's parent is the timed drain of the query that ran it
    drain_span = {f"drain{s['op']}": s["id"] for s in run.tr.spans
                  if s["name"] == "streaming.pipeline.drain"}
    for p in data:
        d = p["durationMs"]
        ts = datetime.fromisoformat(p["timestamp"].replace(
            "Z", "+00:00")).timestamp() + clock
        sid = run.tr.add("streaming.pipeline.trigger", ts,
                         ts + d.get("triggerExecution", 0) / 1000,
                         op=p["name"], rows=p["numInputRows"],
                         parent=drain_span.get(p["name"]))
        pre = sum(d.get(k, 0) for k in ("latestOffset", "walCommit",
                                         "getBatch", "queryPlanning"))
        a0 = ts + pre / 1000
        run.tr.add("streaming.pipeline.add_batch", a0,
                   a0 + d.get("addBatch", 0) / 1000, op=p["name"],
                   parent=sid)
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in data]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in data]
    run.layers.update({
        "streaming.pipeline.batches": len(data),
        "streaming.pipeline.rows_per_batch_p50": _p50(
            [int(p["numInputRows"]) for p in data]),
        "streaming.pipeline.trigger_s_p50": _p50(trig),
        "streaming.pipeline.add_batch_s_p50": _p50(add),
        "streaming.pipeline.fixed_s_p50": _p50(
            [t - a for t, a in zip(trig, add)]),
        "streaming.pipeline.busy_share": sum(trig) / sum(drains),
        "streaming.pipeline.batches_retried": len(data) - len(
            {(p["name"], p["batchId"]) for p in data}),
    })


def replay_batch(run, stage: str, good_path: str) -> None:
    """The drain's micro-batch replayed step by step through the public
    functions the pipeline calls, each in its own span: the quarantine
    raw re-scan, clean + the exactly-once sink write, and the density
    re-read of the committed partition; then the clean layer, the kernel
    and the Arrow-boundary floor over the same rows."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.functions.kernel import FULL_CLEAN
    from hidden_characters_detector_spark.operators.clean import (
        clean_detect, detect_events)
    from hidden_characters_detector_spark.operators.quarantine import (
        QUARANTINE_REASON_COL, with_quarantine_reason)
    from hidden_characters_detector_spark.sinks.exactly_once import (
        parquet_dir_rows, write_batch_partition)
    from hidden_characters_detector_spark.streaming.pipeline import (
        TOKEN_STREAM_SCHEMA, clean_stream)

    tr, L, h, spark = run.tr, run.layers, run.h, run.spark
    base = h.fresh_dir(os.path.join(run.dir, "replay"))
    reason = F.col(QUARANTINE_REASON_COL)
    raw = spark.read.schema(TOKEN_STREAM_SCHEMA).parquet(stage)
    plan: dict = {}

    qpath = os.path.join(base, "quarantine", "batch_id=0")
    with tr.span("operators.quarantine.rescan"):
        (with_quarantine_reason(raw).where(reason.isNotNull())
         .repartition(1).write.mode("overwrite").parquet(qpath))
    L["operators.quarantine.rescan_s"] = tr.durations(
        "operators.quarantine.rescan")[-1]
    L["operators.quarantine.rows"] = parquet_dir_rows(qpath)

    sink = os.path.join(base, "cleaned")
    cleaned = (clean_stream(with_quarantine_reason(raw), FULL_CLEAN)
               .where(reason.isNull()).drop(QUARANTINE_REASON_COL))
    with tr.span("sinks.exactly_once.write_batch_partition"):
        write_batch_partition(cleaned, 0, sink)
    part = os.path.join(sink, "batch_id=0")
    files = [os.path.join(part, f) for f in os.listdir(part)
             if f.endswith(".parquet")]
    L["sinks.exactly_once.write_s"] = tr.durations(
        "sinks.exactly_once.write_batch_partition")[-1]
    L["sinks.exactly_once.files"] = len(files)
    L["sinks.exactly_once.bytes"] = sum(os.path.getsize(f) for f in files)

    dens = (spark.read.parquet(part)
            .groupBy(F.window("event_time", "1 minute"), "source")
            .agg(F.sum("n_detected"), F.sum("n_hidden"), F.count("*")))
    with tr.span("sinks.exactly_once.read"):
        dens.collect()
    L["sinks.exactly_once.read_s"] = tr.durations(
        "sinks.exactly_once.read")[-1]
    h.add_plan_metrics(plan, h.plan_metrics(dens))

    good = spark.read.schema(TOKEN_STREAM_SCHEMA).parquet(good_path)
    plans = {}
    for i in range(2):
        # a fresh DataFrame each time: re-collecting one would reuse its
        # finished adaptive query stages instead of running them again
        plans["cd"] = cd = clean_detect(good, FULL_CLEAN).agg(
            F.sum("n_detected"))
        with tr.span("operators.clean.clean_detect", op=i):
            cd.collect()
        plans["ev"] = ev = (detect_events(good, FULL_CLEAN, keep=[],
                                          event_cols=["marker_type"])
                            .groupBy("marker_type").count())
        with tr.span("operators.clean.detect_events", op=i):
            n_events = sum(r[1] for r in ev.collect())
    cd_plan = h.plan_metrics(plans["cd"])
    h.add_plan_metrics(plan, cd_plan)
    h.add_plan_metrics(plan, h.plan_metrics(plans["ev"]))
    floor = probes.boundary_floor(tr, good)
    cd_s = _p50(tr.durations("operators.clean.clean_detect"))
    L.update({
        "operators.clean.clean_detect_s": cd_s,
        "operators.clean.detect_events_s": _p50(
            tr.durations("operators.clean.detect_events")),
        "operators.clean.events": n_events,
        "operators.clean.over_floor_s": cd_s - floor,
        "spark.arrow_boundary.floor_s": floor,
        "spark.arrow_boundary.py_bytes_in": cd_plan["py_bytes_in"] or 0,
        "spark.arrow_boundary.py_bytes_out": cd_plan["py_bytes_out"] or 0,
        "spark.exchange.shuffle_write_bytes":
            plan["shuffle_write_bytes"] or 0,
        "spark.exchange.spill_bytes": plan["spill_bytes"] or 0,
    })
    run.record["plan_metrics"] = plan


def rate_ladder(run, names: list[str], stage: str, rows: int) -> float:
    """Highest offered load (sequences/s) whose open-loop schedule commits
    every file, keeps p90 latency within the limit and shows no growing
    backlog (median latency of the last third within 1.5x that of the
    first third plus half a second)."""
    per_file = rows / len(names)
    best, steps = 0.0, []
    for seq_s in LADDER_SEQ_S:
        if run.time_left() < 40:
            steps.append({"seq_s": seq_s, "skipped": "run time limit"})
            continue
        rate = seq_s / per_file
        n = min(len(names), math.ceil(rate * LADDER_S))
        with run.tr.span("streaming.pipeline.ladder_step", op=seq_s):
            s = run_schedule(run, names[:n], stage,
                             os.path.join(run.dir, f"ladder{seq_s}"), rate)
        lat = s["latency_s"]
        third = max(1, n // 3)
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1]
        ok = (math.inf not in lat and p90 <= LATENCY_LIMIT_S
              and statistics.median(lat[-third:])
              <= 1.5 * statistics.median(lat[:third]) + 0.5)
        steps.append({
            "seq_s": seq_s, "files": n, "ok": ok,
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": p90,
            "over_limit_frac": sum(x > LATENCY_LIMIT_S for x in lat) / n,
            "batch_s_p50": _p50(s["batch_s"]),
            "micro_batches": len(s["batch_s"]),
            "backlog_files_end": s["backlog_files_end"],
            "gen_lag_max_s": s["gen_lag_max_s"]})
        if ok:
            best = max(best, float(seq_s))
    run.record["rate_ladder"] = steps
    return best


def stream_layers(run, st, progress, stage, good, drains) -> None:
    L = run.layers
    progress_layers(run, [p for p in progress
                          if str(p.get("name", "")).startswith("drain")],
                    drains)
    ref = st["kernel_ref"]
    L.update(probes.kernel_layers(run.tr, ref))
    replay_batch(run, stage, good)
    n_events = sum(n for n, _ in ref["events"].values())
    run.check("detect_events_equals_kernel",
              L["operators.clean.events"] == n_events,
              {"spark": L["operators.clean.events"], "kernel": ref["events"]})
    L["streaming.pipeline.max_rate_within_limit"] = rate_ladder(
        run, st["names"], stage, st["expect"]["rows"])
    L["sources.synth.gen_s"] = run.gen_s

    # tracing overhead: the same drains with span recording and the
    # progress listener off (run after the traced ones, so it also
    # carries whatever warm-up drift remains)
    run.tr.on = False
    untraced = run.h.run_for(0, lambda i: drain(
        run, stage, os.path.join(run.dir, "u"), f"untraced{i}"), min_ops=2)
    run.tr.on = True
    L["trace.overhead_s"] = statistics.median(drains) - statistics.median(
        untraced)
    run.record["untraced_drains_s"] = untraced
    # single-threaded baseline of the same drain, on a cold local[1]
    # session (N -> 1 scaling diagnostic)
    if run.time_left() < 45:
        run.record["drain_local1_s"] = "skipped: run time limit"
        return
    run.start(cpus=1)
    with run.tr.span("streaming.pipeline.drain_local1"):
        drain(run, stage, os.path.join(run.dir, "d_local1"), "local1")
    d1 = run.tr.durations("streaming.pipeline.drain_local1")[-1]
    run.record.update({"drain_local1_s": d1,
                       "local1_over_localN": d1 / statistics.median(drains)})
