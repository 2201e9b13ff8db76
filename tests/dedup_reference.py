"""Reference formulations of the dedup operators, kept as test oracles.

The package runs the vectorized / aggregated versions; these are the
straightforward ones they must agree with.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from hidden_characters_detector_spark.operators import dedup


def shingle_hashes(texts: list[str], k: int = 5) -> list[np.ndarray]:
    """Per-doc arrays of DISTINCT 64-bit k-shingle hashes (char shingles),
    one naive Horner loop per doc — the reference for
    ``dedup._flat_shingle_hashes`` and the kernels built on it."""
    out = []
    for t in texts:
        cps = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
            np.uint64)
        if cps.size < k:
            out.append(np.zeros(0, dtype=np.uint64))
            continue
        n = cps.size - k + 1
        acc = np.zeros(n, dtype=np.uint64)
        for j in range(k):  # k is a small constant (5)
            acc = acc * dedup._HASH_BASE + cps[j:j + n]
        out.append(np.unique(acc))
    return out


def band_join_candidates(df, id_col: str = "doc_id", text_col: str = "text",
                         *, num_perm: int = 64, bands: int = 16,
                         seed: int = 42):
    """LSH candidate pairs as a band self-join: two docs pair when they
    share a ``(band, band_hash)`` bucket, ``doc_a < doc_b``, deduplicated —
    the reference for ``dedup._lsh_candidates``."""
    sig = dedup.signature_index(df, id_col, text_col,
                                num_perm=num_perm, seed=seed)
    banded = dedup._band_hashes(sig, id_col, num_perm=num_perm, bands=bands)
    left, right = banded.alias("l"), banded.alias("r")
    return (left.join(right,
                      (F.col("l.band") == F.col("r.band"))
                      & (F.col("l.band_hash") == F.col("r.band_hash"))
                      & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("doc_a"),
                    F.col(f"r.{id_col}").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
