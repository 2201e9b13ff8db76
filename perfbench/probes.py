"""Layer probes shared by the workloads: the clean kernel called directly,
the Arrow-boundary floor, and the codepoints a full clean must remove."""

from __future__ import annotations

import statistics

import numpy as np
import pyarrow.parquet as pq

from harness import ARROW_BATCH


def identity(batches):
    """Identity ``mapInArrow`` body: the Python-boundary floor."""
    yield from batches


def removable_markers() -> list[int]:
    """Injected codepoints the full clean removes in every context tried
    (mid-line, alone, after a newline, at row start)."""
    from hidden_characters_detector_spark.functions import kernel
    from hidden_characters_detector_spark.sources import synth

    out = []
    for c in synth.INJECT_POOL.tolist():
        rows = [[97, c, 98], [c], [97, 10, c, 98], [c, 97]]
        toks = np.array([t for r in rows for t in r], dtype=np.int64)
        offs = np.cumsum([0] + [len(r) for r in rows]).astype(np.int64)
        res = kernel.clean_flat(toks, offs, kernel.FULL_CLEAN)
        if c not in set(res.out_tokens.tolist()):
            out.append(int(c))
    return out


def kernel_reference(tr, paths: list[str]) -> dict:
    """``functions.kernel.clean_flat`` called directly, single-threaded,
    over the ``tokens`` of parquet files in ``ARROW_BATCH``-row Arrow
    batches (the batch size Spark hands the kernel): per-run totals and
    events by (type, action), each call in a span."""
    from hidden_characters_detector_spark.functions import kernel

    agg = {"n": 0, "detected": 0, "tok_clean": 0, "had_marker": 0,
           "tokens": 0}
    events: dict[str, list[int]] = {}
    for path in paths:
        pf = pq.ParquetFile(path)
        for batch in pf.iter_batches(batch_size=ARROW_BATCH,
                                     columns=["tokens"]):
            col = batch.column(0)
            vals = col.flatten().to_numpy()
            offs = np.concatenate([[0], np.cumsum(
                col.value_lengths().fill_null(0).to_numpy(),
                dtype=np.int64)])
            with tr.span("functions.kernel.clean_flat",
                         tokens=int(vals.size)):
                res = kernel.clean_flat(vals, offs, kernel.FULL_CLEAN,
                                        emit_events=True)
            agg["n"] += len(offs) - 1
            agg["tokens"] += int(vals.size)
            agg["detected"] += int(res.n_detected.sum())
            agg["tok_clean"] += int(res.out_offsets[-1])
            agg["had_marker"] += int(res.had_marker.sum())
            key = res.ev_type.astype(np.int64) * 8 + res.ev_action
            for k in np.unique(key).tolist():
                sel = key == k
                name = (f"{kernel.TYPE_NAMES[k // 8]}|"
                        f"{kernel.ACTION_NAMES[k % 8]}")
                e = events.setdefault(name, [0, 0])
                e[0] += int(sel.sum())
                e[1] += int(res.ev_token[sel].astype(np.int64).sum())
    agg["events"] = dict(sorted(events.items()))
    return agg


def kernel_layers(tr, ref: dict) -> dict:
    busy = tr.total("functions.kernel.clean_flat")
    return {"functions.kernel.busy_s": busy,
            "functions.kernel.tokens": ref["tokens"],
            "functions.kernel.markers": ref["detected"],
            "functions.kernel.tokens_per_s": ref["tokens"] / busy}


def boundary_floor(tr, df) -> float:
    """Median of three identity ``mapInArrow`` round trips over ``df``."""
    from pyspark.sql import functions as F

    for i in range(3):
        q = df.mapInArrow(identity, df.schema).agg(F.count("*"))
        with tr.span("spark.arrow_boundary.identity", op=i):
            q.collect()
    return statistics.median(
        tr.durations("spark.arrow_boundary.identity")[-3:])
