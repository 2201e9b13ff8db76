"""Text <-> token-array conversion operators (Arrow-vectorized).

The engine's native input is ``tokens: array<int32>`` (BASELINE.json
``input_hint``); these operators bridge string corpora (the driver's
``documents`` table) into that model and back through the token-list
codec (:mod:`..functions.codec`) — one encode per Arrow batch, no per-row
Python in the conversion hot path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..functions.codec import (flat_to_list, flat_to_strings, list_to_flat,
                               strings_to_flat)


def tokenize(df: DataFrame, text_col: str = "text",
             out_col: str = "tokens") -> DataFrame:
    """Add ``out_col: array<int>`` = codepoints of ``text_col`` (dropped)."""
    keep = [f.name for f in df.schema.fields if f.name != text_col]
    ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != text_col] + [f"{out_col} array<int>", "n_tok int"])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = strings_to_flat(batch.column(text_col))
            arrays = [batch.column(c) for c in keep] + [
                flat_to_list(flat, offsets),
                pa.array(np.diff(offsets), type=pa.int32())]
            yield pa.RecordBatch.from_arrays(
                arrays, names=keep + [out_col, "n_tok"])

    return df.mapInArrow(run, ddl)


def detokenize(df: DataFrame, list_col: str = "tokens_clean",
               out_col: str = "text_clean") -> DataFrame:
    """Add ``out_col: string`` built from codepoint list ``list_col``
    (dropped from the output)."""
    keep = [f.name for f in df.schema.fields if f.name != list_col]
    ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != list_col] + [f"{out_col} string"])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = flat_to_strings(*list_to_flat(batch.column(list_col)))
            arrays = [batch.column(c) for c in keep] + [texts]
            yield pa.RecordBatch.from_arrays(arrays, names=keep + [out_col])

    return df.mapInArrow(run, ddl)
