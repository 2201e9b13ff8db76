"""Seeded input generators.  The same seed gives byte-identical inputs.

Documents are word sequences over the small vocabulary of the repo's
synthetic corpus (8 to 96 words, some word gaps are line breaks).  Token
files carry their codepoints with hidden markers injected by the engine's
own ``sources.synth.inject_flat``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split(), dtype=object)


def _texts(rng: np.random.Generator, n: int, newline_p: float,
           lo: int = 8, hi: int = 96) -> list[str]:
    n_words = rng.integers(lo, hi + 1, n)
    total = int(n_words.sum())
    words = VOCAB[rng.integers(0, len(VOCAB), total)]
    sep = np.where(rng.random(total) < newline_p, "\n", " ").astype(object)
    ends = np.cumsum(n_words)
    sep[ends - 1] = ""
    toks = words + sep
    starts = ends - n_words
    return ["".join(toks[s:e]) for s, e in zip(starts, ends)]


# -- stream inputs --------------------------------------------------------------

# the engine's quarantine rules, in their documented order; each bad row
# breaks exactly one of them
BAD_KINDS = ("null_doc_id", "null_tokens", "null_event_time", "null_n_tok",
             "n_tok_mismatch")


def stage_token_files(stage_dir: str, *, seed: int, n_rows: int,
                      n_files: int, marker_rate: float,
                      bad_per_mille: int) -> list[str]:
    """Token-table parquet files for the streaming workload, in the
    engine's stream schema.  Texts are seeded documents; markers are
    injected by the engine's own ``sources.synth.inject_flat`` at
    ``marker_rate``; ``bad_per_mille`` rows per thousand break exactly
    one quarantine rule each.  Generated driver-side, with no Spark job.
    Returns the staged file names, in schedule order."""
    from hidden_characters_detector_spark.sources import synth

    rng = np.random.default_rng([seed, 3])
    texts = pa.array(_texts(rng, n_rows, newline_p=0.0), pa.string())
    flat, offsets = synth.strings_to_flat_tokens(texts)
    doc_seed = rng.integers(0, 2**63, n_rows, dtype=np.int64).astype(
        np.uint64)
    flat, offsets = synth.inject_flat(flat, offsets, doc_seed,
                                      rate=marker_rate, seed=seed)
    lens = np.diff(offsets)
    doc_id = np.array([f"doc{i}" for i in range(n_rows)], dtype=object)
    event_us = (synth.BASE_TS.astype(np.int64)
                + np.arange(n_rows, dtype=np.int64) * 137_000)
    # one broken rule per bad row, in the order the rules are listed
    kind = np.where(rng.random(n_rows) < bad_per_mille / 1000,
                    rng.integers(0, len(BAD_KINDS), n_rows), -1)
    n_tok = np.where(kind == 4, lens + 1, lens).astype(np.int32)
    # a null token list must hold no values
    flat = flat[np.repeat(kind != 1, lens)]
    lens = np.where(kind == 1, 0, lens)
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.string(), mask=kind == 0),
        "tokens": pa.ListArray.from_arrays(
            pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32()),
            pa.array(flat, pa.int32()), mask=pa.array(kind == 1)),
        "n_tok": pa.array(n_tok, pa.int32(), mask=kind == 3),
        "source": pa.array(rng.choice(synth.SOURCES, n_rows,
                                      p=[.55, .2, .12, .08, .05]),
                           pa.string()),
        # Spark reads a parquet timestamp only as UTC-adjusted microseconds
        "event_time": pa.array(event_us, pa.timestamp("us", tz="UTC"),
                               mask=kind == 2),
    })
    os.makedirs(stage_dir, exist_ok=True)
    names = []
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for i in range(n_files):
        name = f"f{i:05d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(stage_dir, name))
        names.append(name)
    return names


def expected_quarantine(stage_dir: str, names: list[str],
                        good_path: str) -> dict:
    """The quarantine rules evaluated independently of the engine, with
    pyarrow, over the staged files: row count and bad rows per reason.
    The rows that pass every rule are written to ``good_path``."""
    import pyarrow.compute as pc

    t = pa.concat_tables(pq.read_table(os.path.join(stage_dir, n))
                         for n in names)
    doc_id, tokens = t["doc_id"], t["tokens"]
    rules = (
        pc.fill_null(pc.or_kleene(pc.is_null(doc_id),
                                  pc.equal(doc_id, "")), True),
        pc.is_null(tokens),
        pc.is_null(t["event_time"]),
        pc.is_null(t["n_tok"]),
        pc.fill_null(pc.not_equal(t["n_tok"], pc.cast(
            pc.list_value_length(tokens), pa.int32())), False),
    )
    taken = pa.chunked_array([pa.array(np.zeros(t.num_rows, bool))])
    reasons = {}
    for kind, rule in zip(BAD_KINDS, rules):
        reasons[kind] = pc.sum(pc.and_(rule, pc.invert(taken))).as_py() or 0
        taken = pc.or_(taken, rule)
    pq.write_table(t.filter(pc.invert(taken)), good_path)
    return {"rows": t.num_rows, "bad": reasons,
            "bad_total": sum(reasons.values())}


# -- curation inputs --------------------------------------------------------------

def curation_corpus(path: str, eval_path: str, seed: int, n_base: int,
                    replicas: int) -> dict:
    """Replicated document corpus with planted structure.

    Each replica is the base corpus with every space replaced by its own
    private-use character (``chr(0xE000 + replica)``): substring equality
    inside a replica is kept exactly, so each replica carries the base
    corpus' natural near-duplicate structure, while no near-duplicate or
    20-gram crosses replicas.  Planted per replica:

    * near-dup copies: a doc plus one appended word (Jaccard > 0.95);
    * boilerplate lines, each appended to 6..10 docs;
    * eval items: 60-char substrings of docs, which contamination must
      find (plus decoys in another alphabet that match nothing).

    Returns the planted structure for the output checks.
    """
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, n_base, newline_p=0.1)
    bp_lines = [" ".join(VOCAB[rng.integers(0, len(VOCAB), 8)])
                for _ in range(max(4, n_base // 500))]
    for line in bp_lines:
        for d in rng.choice(n_base, int(rng.integers(6, 11)), replace=False):
            texts[d] = texts[d] + "\n" + line
    long_docs = np.nonzero(np.array([len(t) for t in texts]) > 300)[0]
    origs = rng.choice(long_docs, max(2, n_base // 50), replace=False)
    dup_pairs = []
    for o in origs:
        dup_pairs.append((int(o), len(texts)))
        texts.append(texts[o] + " " + VOCAB[rng.integers(0, len(VOCAB))])
    n = len(texts)
    stride = 10 ** len(str(n))
    ids, out, evals, eval_src = [], [], [], []
    for r in range(replicas):
        pua = chr(0xE000 + r)
        for i, t in enumerate(texts):
            ids.append(r * stride + i)
            out.append(t.replace(" ", pua))
        for d in rng.choice(long_docs, max(2, n_base // 250), replace=False):
            t = out[r * n + int(d)]
            start = int(rng.integers(0, len(t) - 60))
            evals.append(t[start:start + 60])
            eval_src.append(r * stride + int(d))
    n_planted = len(evals)
    for _ in range(n_planted):
        evals.append(" ".join(w.upper() for w in
                              VOCAB[rng.integers(0, len(VOCAB), 12)]))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(out, pa.string())}), path)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(evals)), pa.int64()),
        "text": pa.array(evals, pa.string())}), eval_path)
    bp_docs = []  # (doc id, planted line as it reads in that replica)
    for r in range(replicas):
        pua = chr(0xE000 + r)
        for line in bp_lines:
            lr = line.replace(" ", pua)
            for i, t in enumerate(texts):
                if line in t.split("\n"):
                    bp_docs.append((r * stride + i, lr))
    return {
        "docs": len(ids),
        "dup_pairs": [(r * stride + a, r * stride + b)
                      for r in range(replicas) for a, b in dup_pairs],
        "bp_docs": bp_docs,
        "eval_src": eval_src,
    }
