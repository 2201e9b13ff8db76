"""The token-list format at the Arrow boundary, owned in one place.

Every operator that reads or writes a token column uses these four
functions, so the format decision lives here only: a token list is a
``list<int32>`` with int32 offsets, and a NULL list (or NULL text) counts
as empty.  Inside a batch a column becomes ``(flat values, offsets)`` —
row ``i`` is ``values[offsets[i]:offsets[i+1]]`` — which the numpy
kernels process whole, with no per-row Python.

Text <-> token conversion uses the UTF-32 trick: a whole Arrow batch of
strings is joined, encoded to ``utf-32-le`` and reinterpreted as one
``uint32`` numpy array (and back).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_TOKEN_T = pa.int32()


def list_to_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """ListArray -> (flat values, offsets int64), slice- and null-safe.

    NULL token lists count as empty (``flatten()`` already skips null slots,
    so filling their lengths with 0 keeps offsets aligned with the values).
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lengths_arr = col.value_lengths()
    if lengths_arr.null_count:
        lengths_arr = pc.fill_null(lengths_arr, 0)
    lengths = lengths_arr.to_numpy(zero_copy_only=False)
    offsets = np.concatenate([[0], np.cumsum(lengths, dtype=np.int64)])
    values = col.flatten().to_numpy(zero_copy_only=False)  # native int32
    return values, offsets


def flat_to_list(values: np.ndarray, offsets: np.ndarray,
                 mask: np.ndarray | None = None) -> pa.ListArray:
    """(flat values, offsets) -> ``list<int32>``; ``mask`` marks NULL rows."""
    if offsets[-1] >= 2**31:
        # pa.ListArray requires int32 offsets; Spark's Arrow batches are
        # bounded by maxRecordsPerBatch well below this — reaching it means
        # the batch size config is broken, so fail loudly instead of
        # emitting a large_list that wouldn't match the declared schema.
        raise ValueError(
            f"Arrow batch too large for list<int32> offsets "
            f"({int(offsets[-1])} values); lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int64()).cast(pa.int32()),
        pa.array(values).cast(_TOKEN_T),
        mask=None if mask is None else pa.array(mask, type=pa.bool_()))


def strings_to_flat(texts: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Arrow string array -> (flat codepoints int64, offsets int64).

    NULL text values are treated as empty strings (explicit fill at the
    operator boundary, so a null row can't crash the whole job with an
    opaque ``TypeError`` from ``str.join``).
    """
    if texts.null_count:
        texts = pc.fill_null(texts, "")
    joined = "".join(texts.to_pylist())  # single allocation per batch
    flat = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
        np.int64)
    lens = pc.utf8_length(texts).to_numpy(zero_copy_only=False)
    offsets = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    return flat, offsets


def flat_to_strings(flat: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """(flat codepoints, offsets) -> Arrow string array, vectorized."""
    joined = np.ascontiguousarray(flat, dtype="<u4").tobytes().decode(
        "utf-32-le")
    # slice the single decoded string back into rows by codepoint offsets
    return pa.array([joined[offsets[i]:offsets[i + 1]]
                     for i in range(len(offsets) - 1)], type=pa.string())
