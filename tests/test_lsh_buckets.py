"""LSH candidate generation by bucket aggregation.

``dedup._lsh_candidates`` forms each ``(band, band_hash)`` bucket with one
``groupBy`` and emits the bucket's pairs with JVM generators.  These tests
hold it to the band self-join it replaced (kept in ``dedup_reference``),
and pin what the change buys: ``dedup_groups`` runs the MinHash kernel
once and spends fewer Spark jobs.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup_reference import band_join_candidates
from hidden_characters_detector_spark.operators import dedup

HOT = 1000   # identical docs: one bucket of HOT members in every band


def _corpus(spark, id_type: str):
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(300)]

    def text(n: int) -> list[str]:
        return [str(w) for w in rng.choice(vocab, n)]

    hot = " ".join(text(40))
    rows = [(i, hot) for i in range(HOT)]
    nid = HOT
    for _ in range(20):                 # near-dup families: 1-word edits
        words = text(30)
        for v in range(4):
            w = list(words)
            w[int(rng.integers(len(w)))] = f"edit{v}"
            rows.append((nid, " ".join(w)))
            nid += 1
    fam = rows[-1][1]
    rows += [(nid, fam), (nid, fam + " tail"),       # duplicated doc_id
             (None, hot), (None, fam),               # NULL ids
             (nid + 1, "ab"), (nid + 2, ""),         # shingle-less
             (nid + 3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return df.selectExpr(f"cast(doc_id as {id_type}) AS doc_id", "text")


def _one_sided(a, b) -> list:
    """Pairs present in exactly one of two deduplicated pair sets."""
    tagged = (a.select("doc_a", "doc_b", F.lit(1).alias("side"))
              .unionByName(b.select("doc_a", "doc_b",
                                    F.lit(2).alias("side"))))
    return (tagged.groupBy("doc_a", "doc_b")
            .agg(F.sum("side").alias("sides"))
            .where(F.col("sides") != 3)
            .limit(5).collect())


@pytest.mark.parametrize("bands", [8, 16])
@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_lsh_candidates_match_band_self_join(spark, id_type, bands):
    """Same pair set as the band self-join on a hot bucket, a duplicated
    id (never paired with itself), NULL ids (never paired) and
    shingle-less docs (never candidates), under string order and numeric
    order alike."""
    docs = _corpus(spark, id_type)
    cand, _ = dedup._lsh_candidates(docs, "doc_id", "text", num_perm=64,
                                    bands=bands, seed=42,
                                    materialize=False)
    ref = band_join_candidates(docs, bands=bands)
    assert cand.dtypes == ref.dtypes
    assert _one_sided(cand, ref) == []
    assert cand.count() >= HOT * (HOT - 1) // 2


_BASE = ("the streaming engine cleans token sequences and aggregates "
         "window densities per source with salted two phase plans "
         "under watermarks and exactly once sinks at corpus scale " * 3)
_GROUP_ROWS = [
    ("g1", _BASE + "tail one"), ("g2", _BASE + "tail two"),
    ("g3", _BASE + "tail three"),
    ("h1", _BASE.replace("engine", "motor") + "x"),
    ("h2", _BASE.replace("engine", "motor") + "y"),
    ("solo", "completely unrelated text about nothing in particular "
             "that matches no other document in this tiny corpus")]

# Spark jobs for dedup_groups' driver path plus the caller's collect, on
# group_docs at the conftest session conf (local[4], 8 shuffle
# partitions, AQE on).  The band self-join with a count() probe before
# the collect took 8 here; a re-added count() adds one (a second kernel
# pass is caught by the kernel-row count below).  Lower this constant if
# a change saves jobs.
DEDUP_GROUPS_DRIVER_JOBS = 7


@pytest.fixture(scope="module")
def group_docs(spark, tmp_path_factory):
    """Parquet-backed like a real corpus: over an in-memory RDD scan,
    AQE reuses the band exchange across self-join sides, which would hide
    a second kernel pass."""
    path = str(tmp_path_factory.mktemp("group_docs") / "docs.parquet")
    spark.createDataFrame(_GROUP_ROWS, "doc_id string, text string") \
        .write.parquet(path)
    return spark.read.parquet(path)


def _job_ids(spark) -> set:
    # the status tracker is fed by the asynchronous listener bus: drain it
    # first, or the previous action's last job can land in the next count
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_dedup_groups_driver_path_job_count(spark, group_docs):
    before = _job_ids(spark)
    out = dedup.dedup_groups(group_docs, jaccard_threshold=0.8)
    rows = out.collect()
    out.unpersist()
    n_jobs = len(_job_ids(spark) - before)
    assert len(rows) == 5
    assert 0 < n_jobs <= DEDUP_GROUPS_DRIVER_JOBS


@pytest.mark.parametrize("driver_cc_max_pairs", [2_000_000, 0])
def test_dedup_groups_runs_signature_kernel_once(group_docs, tmp_path,
                                                 monkeypatch,
                                                 driver_cc_max_pairs):
    """Every document passes through the MinHash kernel exactly once, on
    the driver path and on the distributed path (whose CC rounds re-read
    the persisted pair set, never LSH+verify)."""
    log = str(tmp_path / "kernel_rows.txt")
    kernel = dedup._minhash_batch

    def counted(texts, a, b, k):
        with open(log, "a") as f:
            f.write(f"{len(texts)}\n")
        return kernel(texts, a, b, k)

    # the Arrow batch function is pickled with its globals, so the
    # executors run the counting wrapper
    monkeypatch.setattr(dedup, "_minhash_batch", counted)
    out = dedup.dedup_groups(group_docs, jaccard_threshold=0.8,
                             driver_cc_max_pairs=driver_cc_max_pairs)
    assert len(out.collect()) == 5
    out.unpersist()
    with open(log) as f:
        assert sum(int(n) for n in f) == len(_GROUP_ROWS)
