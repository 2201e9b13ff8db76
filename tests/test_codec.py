"""Token-list codec tests: round-trips, the offset limit, text/token parity.

No reference detector needed.  The codec owns the one format decision at
the Arrow boundary (``list<int32>``, int32 offsets, NULL counts as empty),
so these tests pin it directly, then check that the text-corpus operators
(which decode strings) agree with the token operators (which decode token
lists) column for column.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hidden_characters_detector_spark.functions.codec import (
    flat_to_list, flat_to_strings, list_to_flat, strings_to_flat)

_LIST_T = pa.list_(pa.int32())
_rows = st.lists(st.none() | st.lists(
    st.integers(-2**31, 2**31 - 1), max_size=6), max_size=12)
# arbitrary unicode minus surrogates (not encodable to UTF-32 text)
_texts = st.lists(st.none() | st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12),
    max_size=10)


@settings(max_examples=200, deadline=None)
@given(rows=_rows, data=st.data())
def test_list_round_trip(rows, data):
    """NULL slots decode as empty and come back via ``mask``; sliced and
    chunked inputs decode like the plain array; empty batches work."""
    arr = pa.array(rows, type=_LIST_T)
    lo = data.draw(st.integers(0, len(rows)))
    hi = data.draw(st.integers(lo, len(rows)))
    split = data.draw(st.integers(lo, hi))
    want = rows[lo:hi]
    for col in (arr.slice(lo, hi - lo),
                pa.chunked_array([arr[lo:split], arr[split:hi]], _LIST_T)):
        values, offsets = list_to_flat(col)
        assert offsets.dtype == np.int64 and offsets.shape == (len(want) + 1,)
        assert flat_to_list(values, offsets).to_pylist() == [
            r or [] for r in want]
        nulls = np.array([r is None for r in want], dtype=bool)
        back = flat_to_list(values, offsets, mask=nulls)
        assert back.type == _LIST_T and back.to_pylist() == want


@settings(max_examples=200, deadline=None)
@given(texts=_texts)
@example(texts=["a\U0001F600b", "\U000E0100", "x\r\ny\r\n", None, ""])
def test_string_round_trip(texts):
    """Astral-plane codepoints stay one token each, CRLF survives, and
    NULL text decodes as ``""``; the token path sees the same codepoints."""
    arr = pa.array(texts, type=pa.string())
    flat, offsets = strings_to_flat(arr)
    plain = [t or "" for t in texts]
    assert flat.tolist() == [ord(c) for t in plain for c in t]
    assert np.diff(offsets).tolist() == [len(t) for t in plain]
    assert flat_to_strings(flat, offsets).to_pylist() == plain
    values, off2 = list_to_flat(flat_to_list(flat, offsets))
    assert values.tolist() == flat.tolist()
    assert off2.tolist() == offsets.tolist()


def test_flat_to_list_rejects_offsets_past_int32():
    with pytest.raises(ValueError, match="list<int32> offsets"):
        flat_to_list(np.zeros(0, dtype=np.int64),
                     np.array([0, 2**31], dtype=np.int64))


def test_only_the_codec_builds_list_arrays():
    """The token-list format is decided in ``functions/codec.py`` alone."""
    import hidden_characters_detector_spark as pkg

    root = os.path.dirname(pkg.__file__)
    owner = os.path.join(root, "functions", "codec.py")
    offenders = []
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            if f.endswith(".py") and path != owner:
                with open(path, encoding="utf-8") as fh:
                    if "pa.ListArray.from_arrays" in fh.read():
                        offenders.append(os.path.relpath(path, root))
    assert offenders == []


def _text_df(spark):
    from hidden_characters_detector_spark.sources import synth

    pool = [chr(c) for c in synth.INJECT_POOL.tolist()]
    texts = ["plain", None, "", "\ufeffbom lead\r\nsecond line",
             "astral \U0001F600 and \U000E0100 ivs"]
    texts += [f"row {i}{pool[i % len(pool)]} word\n"
              f"next{pool[(7 * i) % len(pool)]} \u201cq\u201d\n"
              for i in range(2 * len(pool))]
    return spark.createDataFrame(
        [(i, f"s{i % 3}", t) for i, t in enumerate(texts)],
        "doc_id int, src string, text string")


def test_text_operators_match_token_operators(spark):
    """``document_events`` == ``detect_events ∘ tokenize`` on all seven
    event columns, and ``clean_documents(emit_text=False)`` ==
    ``clean_detect ∘ tokenize`` — the contract queries read only some of
    these columns from the text path."""
    from hidden_characters_detector_spark.operators.clean import (
        EVENT_COL_TYPES, clean_detect, clean_documents, detect_events,
        document_events)
    from hidden_characters_detector_spark.operators.text_ops import tokenize

    df = _text_df(spark)
    tok = tokenize(df)

    def rows(out):
        return sorted((tuple(tuple(v) if isinstance(v, list) else v
                             for v in r) for r in out.collect()), key=repr)

    ev_cols = ["doc_id"] + [n for n, _ in EVENT_COL_TYPES]
    text_ev = document_events(df, keep=["doc_id"])
    tok_ev = detect_events(tok, keep=["doc_id"])
    assert text_ev.columns == tok_ev.columns == ev_cols
    got = rows(text_ev)
    assert got == rows(tok_ev)
    actions = {r[ev_cols.index("action")] for r in got}
    assert {"Removed", "Replaced", "Processed (BOM)"} <= actions
    assert max(r[ev_cols.index("line_no")] for r in got) > 1

    text_cl = clean_documents(df, emit_text=False)
    tok_cl = clean_detect(tok)
    assert sorted(text_cl.columns) == sorted(tok_cl.columns)
    cols = sorted(tok_cl.columns)
    assert rows(text_cl.select(cols)) == rows(tok_cl.select(cols))


def test_text_operators_keep_follows_schema_order(spark):
    """``keep`` listed out of schema order: the DDL and the Arrow arrays
    both follow schema order (they used to disagree and fail in the JVM)."""
    from hidden_characters_detector_spark.operators.clean import (
        clean_documents, document_events)

    df = _text_df(spark).coalesce(1)
    cl = clean_documents(df, keep=["src", "doc_id"])
    assert cl.columns[:3] == ["doc_id", "src", "text_clean"]
    assert cl.where("doc_id = 0").select("src", "text_clean").collect()[0] \
        == ("s0", "plain")
    ev = document_events(df, keep=["src", "doc_id"],
                         event_cols=["token"])
    assert ev.columns == ["doc_id", "src", "token"]
    assert ev.where("doc_id = 3").collect() == [(3, "s0", 0xFEFF)]
