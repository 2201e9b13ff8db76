"""curation_dedup: closed loop, one client.

One pass runs the three corpus-curation operators over a replicated
document corpus (see ``inputs.curation_corpus``):
``operators.dedup.dedup_groups(bands=8, jaccard_threshold=0.85)``,
``operators.line_dedup.dedup_lines`` and
``operators.decontam.contamination_report(k=20)``.  Shuffles, joins and
the dedup kernels do the work; the clean kernel is not involved.
"""

from __future__ import annotations

import os
import statistics

import inputs
import probes

N_BASE = 800
REPLICAS = 4            # ~3.3k docs
BANDS = 8
THRESHOLD = 0.85
DECONTAM_K = 20


def ops(corpus, evals, planted_bp_ids: list[int]):
    """name -> (span name, callable returning a small, checkable result)."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import (decontam, dedup,
                                                            line_dedup)

    def groups():
        g = dedup.dedup_groups(corpus, bands=BANDS,
                               jaccard_threshold=THRESHOLD)
        rows = g.select("doc_id", "group_id").collect()
        g.unpersist()
        return {int(r[0]): int(r[1]) for r in rows}

    def lines():
        planted = F.col("doc_id").isin(planted_bp_ids)
        r = line_dedup.dedup_lines(corpus).agg(
            F.sum("n_lines_dropped").alias("dropped"),
            F.count("*").alias("docs"),
            F.collect_list(F.when(planted, F.struct(
                "doc_id", "text_dedup"))).alias("planted")).collect()[0]
        return {"dropped": int(r["dropped"]), "docs": int(r["docs"]),
                "planted": {int(x[0]): x[1] for x in r["planted"]}}

    def contamination():
        rows = decontam.contamination_report(corpus, evals,
                                             k=DECONTAM_K).collect()
        return {int(r[0]): int(r[1]) for r in rows}

    return {
        "groups": ("operators.dedup.dedup_groups", groups),
        "lines": ("operators.line_dedup.dedup_lines", lines),
        "contamination": ("operators.decontam.contamination_report",
                          contamination),
    }


def run(run) -> None:
    in_dir = os.path.join(run.dir, "in")
    corpus_path = os.path.join(in_dir, "corpus.parquet")
    eval_path = os.path.join(in_dir, "eval.parquet")
    st: dict = {}

    def generate():
        os.makedirs(in_dir, exist_ok=True)
        st["planted"] = inputs.curation_corpus(
            corpus_path, eval_path, run.args.seed, N_BASE, REPLICAS)

    def prepare(rep):
        corpus = run.spark.read.parquet(corpus_path)
        evals = run.spark.read.parquet(eval_path)
        bp_ids = sorted({d for d, _ in st["planted"]["bp_docs"]})
        st.update(corpus=corpus, evals=evals,
                  ops=ops(corpus, evals, bp_ids))
        for span, fn in st["ops"].values():      # warm-up pass
            fn()

    run.e2e["setup_s"] = run.setup(generate, prepare)
    results: dict = {}

    def one_pass(i):
        with run.tr.span("pass", op=i):
            for name, (span, fn) in st["ops"].items():
                def op():
                    with run.tr.span(span, op=i):
                        return fn()
                r = run.op(op)
                if r is not None:
                    results[name] = r

    passes = run.measure(one_pass, min_ops=2)
    n_docs = st["planted"]["docs"]
    run.e2e["job_s_p50"] = statistics.median(passes)
    run.e2e["throughput_seq_per_s"] = n_docs * len(passes) / sum(passes)
    run.record.update({"passes_s": passes, "job_s_max": max(passes),
                       "docs": n_docs})
    check_outputs(run, st["planted"], results)
    if run.tr.on:
        curation_layers(run, st, results, passes)


def check_outputs(run, planted: dict, results: dict) -> None:
    groups = results.get("groups", {})
    missed = [p for p in planted["dup_pairs"]
              if p[0] not in groups or groups.get(p[0]) != groups.get(p[1])]
    run.check("planted_near_dups_grouped", not missed,
              {"pairs": len(planted["dup_pairs"]), "missed": missed[:10]})
    lines = results.get("lines", {"planted": {}, "dropped": 0})
    kept = [d for d, line in planted["bp_docs"]
            if d not in lines["planted"]
            or line in lines["planted"][d].split("\n")]
    run.check("planted_boilerplate_dropped", not kept,
              {"planted": len(planted["bp_docs"]), "kept": kept[:10]})
    hits = results.get("contamination", {})
    not_hit = [d for d in planted["eval_src"] if d not in hits]
    run.check("planted_eval_sources_hit", not not_hit,
              {"planted": len(planted["eval_src"]), "missed": not_hit[:10]})
    run.pin_digest(run.h.digest({
        "groups": sorted(groups.items()),
        "lines_dropped": lines["dropped"],
        "hits": sorted(hits.items())}))


def curation_layers(run, st, results, passes) -> None:
    """Per-layer numbers: the pass's own op spans, plus the near-dup
    pipeline decomposed through its public stages (signatures, LSH
    candidates, verified pairs), the Arrow-boundary floor and plan
    metrics, and the tracing overhead."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import dedup

    tr, L, h = run.tr, run.layers, run.h
    corpus = st["corpus"]

    def p50(name):
        return statistics.median(tr.durations(name))

    L["operators.dedup.groups_s"] = p50("operators.dedup.dedup_groups")
    L["operators.dedup.grouped_docs"] = len(results["groups"])
    L["operators.line_dedup.s"] = p50("operators.line_dedup.dedup_lines")
    L["operators.line_dedup.lines_dropped"] = results["lines"]["dropped"]
    L["operators.decontam.s"] = p50(
        "operators.decontam.contamination_report")
    L["operators.decontam.docs_hit"] = len(results["contamination"])

    sig = dedup.minhash_signatures(corpus).agg(F.count("*"))
    with tr.span("operators.dedup.minhash_signatures"):
        sig.collect()
    # aggregate on the benchmark's own DataFrame (DataFrame.count() would
    # run a fresh plan whose metrics this DataFrame never sees)
    cand = dedup.minhash_lsh_pairs(corpus, bands=BANDS,
                                   jaccard_threshold=0.0).agg(F.count("*"))
    with tr.span("operators.dedup.minhash_lsh_pairs"):
        n_cand = cand.collect()[0][0]
    ver = dedup.verified_near_dups(corpus, bands=BANDS,
                                   jaccard_threshold=THRESHOLD
                                   ).agg(F.count("*"))
    with tr.span("operators.dedup.verified_near_dups"):
        n_ver = ver.collect()[0][0]
    L["operators.dedup.minhash_s"] = tr.durations(
        "operators.dedup.minhash_signatures")[-1]
    L["operators.dedup.lsh_candidates"] = n_cand
    L["operators.dedup.verified_pairs"] = n_ver
    L["operators.dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
    sig_plan = h.plan_metrics(sig)
    plan: dict = {}
    for df in (sig, cand, ver):
        h.add_plan_metrics(plan, h.plan_metrics(df))
    run.record["plan_metrics"] = plan
    L["spark.arrow_boundary.floor_s"] = probes.boundary_floor(tr, corpus)
    L["spark.arrow_boundary.py_bytes_in"] = sig_plan["py_bytes_in"] or 0
    L["spark.arrow_boundary.py_bytes_out"] = sig_plan["py_bytes_out"] or 0
    L["spark.exchange.shuffle_write_bytes"] = plan["shuffle_write_bytes"] or 0
    L["spark.exchange.spill_bytes"] = plan["spill_bytes"] or 0
    L["sources.synth.gen_s"] = run.gen_s

    tr.on = False
    untraced = h.run_for(0, lambda i: [fn() for _, fn in st["ops"].values()],
                         min_ops=2)
    tr.on = True
    L["trace.overhead_s"] = statistics.median(passes) - statistics.median(
        untraced)
    run.record["untraced_passes_s"] = untraced
