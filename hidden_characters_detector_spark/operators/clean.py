"""Spark operators: vectorized clean/detect over ``tokens: array<int>``.

The reference's fused scan→classify→transform→aggregate pass
(``/root/reference/hidden-characters-detector.py:648-779``) becomes a single
``mapInArrow`` operator: each Arrow RecordBatch's ``tokens`` ListArray is
processed as one flat numpy array (values + offsets, zero-copy from Arrow),
so the Python side is pure whole-batch numpy — no per-row Python, per
BASELINE.json ``input_hint``.

Two operators:

* :func:`clean_detect` — per-sequence output (FileProcessResult analog,
  ref :534-542): passthrough cols + ``tokens_clean`` + counters.
* :func:`detect_events` — detection-event rows (MarkerReport analog,
  ref :524-532), emitted directly from the kernel masks with Arrow ``take``
  fan-out; no intermediate nested lists, no ``explode`` shuffle.

Their text-corpus twins :func:`clean_documents` and :func:`document_events`
share the same core and differ only in decoding ``string`` rows instead of
token lists (:mod:`..functions.codec`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from .. import markers as mk
from ..functions import kernel
from ..functions.codec import (flat_to_list, flat_to_strings, list_to_flat,
                               strings_to_flat)
from ..functions.kernel import DetectorConfig, FULL_CLEAN

_COUNTER_COLS = (("n_tok_clean", "int"), ("n_detected", "int"),
                 ("n_processed", "int"), ("had_marker", "boolean"),
                 ("n_hidden", "int"), ("n_ivs", "int"), ("n_typo", "int"))
CLEAN_OUTPUT_COLS = ("tokens_clean",) + tuple(n for n, _ in _COUNTER_COLS)

EVENT_COL_TYPES = (("line_no", "int"), ("idx", "int"), ("token", "int"),
                   ("marker_type", "string"), ("description", "string"),
                   ("action", "string"), ("replacement", "array<int>"))

# code -> name lookup arrays, applied with vectorized Arrow `take`
_TYPE_LUT = pa.array([None] + [kernel.TYPE_NAMES[i] for i in (1, 2, 3)],
                     type=pa.string())
_ACT_LUT = pa.array([None] + [kernel.ACTION_NAMES[i] for i in (1, 2, 3, 4, 5)],
                    type=pa.string())
_DESC_LUT = pa.array(kernel.DESC_STRINGS, type=pa.string())


def _passthrough(df: DataFrame, col: str, keep: list[str] | None = None
                 ) -> list[tuple[str, str]]:
    """(name, type) of the passthrough columns: schema order, without the
    input ``col``, filtered by ``keep``.  The DDL and the output arrays
    both follow this one list, so they cannot disagree on column order."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields
            if f.name != col and (keep is None or f.name in keep)]


def _ddl(cols: list[tuple[str, str]]) -> str:
    return ", ".join(f"{n} {t}" for n, t in cols)


def _counters(res) -> list[pa.Array]:
    """Arrays for :data:`_COUNTER_COLS`, in that order."""
    return [pa.array(np.diff(res.out_offsets), type=pa.int32()),
            pa.array(res.n_detected, type=pa.int32()),
            pa.array(res.n_processed, type=pa.int32()),
            pa.array(res.had_marker, type=pa.bool_()),
            pa.array(res.n_hidden, type=pa.int32()),
            pa.array(res.n_ivs, type=pa.int32()),
            pa.array(res.n_typo, type=pa.int32())]


def clean_schema(df: DataFrame) -> str:
    """Output DDL: input columns (tokens replaced by cleaned) + counters."""
    return _ddl(_passthrough(df, "tokens") + [("tokens_clean", "array<int>")]
                + list(_COUNTER_COLS))


def clean_detect(df: DataFrame, cfg: DetectorConfig = FULL_CLEAN) -> DataFrame:
    """Clean + per-sequence stats; Arrow-batched, passthrough other columns."""
    passthrough = [n for n, _ in _passthrough(df, "tokens")]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            toks, offsets = list_to_flat(batch.column("tokens"))
            res = kernel.clean_flat(toks, offsets, cfg)
            arrays = [batch.column(c) for c in passthrough] + [
                flat_to_list(res.out_tokens, res.out_offsets)] + _counters(res)
            yield pa.RecordBatch.from_arrays(
                arrays, names=passthrough + list(CLEAN_OUTPUT_COLS))

    return df.mapInArrow(run, clean_schema(df))


def _event_types(event_cols: list[str] | None) -> list[tuple[str, str]]:
    if event_cols is None:
        return list(EVENT_COL_TYPES)
    unknown = set(event_cols) - {n for n, _ in EVENT_COL_TYPES}
    if unknown:
        raise ValueError(f"unknown event columns: {sorted(unknown)}")
    return [(n, t) for n, t in EVENT_COL_TYPES if n in event_cols]


def event_schema(df: DataFrame, keep: list[str] | None = None,
                 event_cols: list[str] | None = None) -> str:
    return _ddl(_passthrough(df, "tokens", keep) + _event_types(event_cols))


def _replacements(res) -> pa.ListArray:
    """replacement col: [] for removals/BOM, codepoints for Replaced,
    null for detect-only (mirrors ref :532 Optional)."""
    acts, toks = res.ev_action, res.ev_token
    replaced = acts == kernel.ACT_REPLACED
    lens = np.where(replaced, kernel.REPL_LEN_LUT[toks], 0).astype(np.int64)
    cum = np.concatenate([[0], np.cumsum(lens)])
    flat = np.empty(int(cum[-1]), dtype=np.int64)
    rp = np.nonzero(replaced)[0]
    if rp.size:
        starts = cum[rp]
        ridx, rl = kernel.REPL_IDX_LUT[toks[rp]], lens[rp]
        for k in range(mk.MAX_REPLACEMENT_LEN):
            sel = rl > k
            flat[starts[sel] + k] = kernel.REPL_FLAT[ridx[sel] + k]
    return flat_to_list(flat, cum, mask=acts == kernel.ACT_DETECTED)


_EVENT_BUILDERS = {
    "line_no": lambda res: pa.array(res.ev_line_no, type=pa.int32()),
    "idx": lambda res: pa.array(res.ev_idx, type=pa.int32()),
    "token": lambda res: pa.array(res.ev_token, type=pa.int32()),
    "marker_type": lambda res: _TYPE_LUT.take(
        pa.array(res.ev_type.astype(np.int64))),
    "description": lambda res: _DESC_LUT.take(pa.array(
        kernel.DESC_IDX_LUT[res.ev_token].astype(np.int64))),
    "action": lambda res: _ACT_LUT.take(
        pa.array(res.ev_action.astype(np.int64))),
    "replacement": _replacements,
}


def _events(df: DataFrame, col: str, decode, cfg: DetectorConfig,
            keep: list[str] | None, event_cols: list[str] | None
            ) -> DataFrame:
    """Event rows for the ``col`` rows that ``decode`` turns into
    (flat tokens, offsets); see :func:`detect_events`."""
    fields = _passthrough(df, col, keep)
    passthrough = [n for n, _ in fields]
    ev_types = _event_types(event_cols)
    ev_names = [n for n, _ in ev_types]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            toks, offsets = decode(batch.column(col))
            res = kernel.clean_flat(toks, offsets, cfg, emit_events=True)
            counts = np.diff(res.ev_offsets)
            row_idx = np.repeat(np.arange(len(counts)), counts)
            take = pa.array(row_idx, type=pa.int64())
            arrays = [batch.column(c).take(take) for c in passthrough]
            arrays += [_EVENT_BUILDERS[n](res) for n in ev_names]
            yield pa.RecordBatch.from_arrays(
                arrays, names=passthrough + ev_names)

    return df.mapInArrow(run, _ddl(fields + ev_types))


def detect_events(df: DataFrame, cfg: DetectorConfig = FULL_CLEAN, *,
                  keep: list[str] | None = None,
                  event_cols: list[str] | None = None) -> DataFrame:
    """One output row per MarkerReport; passthrough columns fanned out.

    ``keep`` prunes the passthrough columns and ``event_cols`` the event
    payload columns — mapInArrow blocks Catalyst column pruning, so
    projection must be pushed to the operator boundary (e.g. a count-by-type
    aggregate doesn't need the description strings materialized per event).
    Replacement column carries the applied replacement codepoints (empty for
    removals, null when no replacement applied — mirrors ref :532 Optional).
    """
    return _events(df, "tokens", list_to_flat, cfg, keep, event_cols)


def clean_documents(df: DataFrame, text_col: str = "text",
                    cfg: DetectorConfig = FULL_CLEAN, *,
                    keep: list[str] | None = None,
                    emit_text: bool = True) -> DataFrame:
    """FUSED text-corpus cleaner: string -> tokens -> kernel -> cleaned
    string/stats in ONE Arrow pass (one Python worker hop instead of the
    tokenize → clean_detect → detokenize chain — one serialization of the
    corpus instead of three).
    """
    fields = _passthrough(df, text_col, keep)
    payload = (("text_clean", "string") if emit_text
               else ("tokens_clean", "array<int>"))
    encode = flat_to_strings if emit_text else flat_to_list
    cols = fields + [payload, ("n_tok", "int")] + list(_COUNTER_COLS)
    passthrough = [n for n, _ in fields]
    names = [n for n, _ in cols]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = strings_to_flat(batch.column(text_col))
            res = kernel.clean_flat(flat, offsets, cfg)
            arrays = [batch.column(c) for c in passthrough] + [
                encode(res.out_tokens, res.out_offsets),
                pa.array(np.diff(offsets), type=pa.int32())] + _counters(res)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(run, _ddl(cols))


def document_events(df: DataFrame, text_col: str = "text",
                    cfg: DetectorConfig = FULL_CLEAN, *,
                    keep: list[str] | None = None,
                    event_cols: list[str] | None = None) -> DataFrame:
    """FUSED text-corpus event emitter: string -> tokens -> events in one
    Arrow pass (vs tokenize → detect_events)."""
    return _events(df, text_col, strings_to_flat, cfg, keep, event_cols)
