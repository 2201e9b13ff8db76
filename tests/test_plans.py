"""Physical-plan shape assertions: the plans we rely on at 100 TB scale.

These lock in the *physical* strategy, not just results: broadcast joins
stay broadcast, filters reach the parquet scan, column pruning reaches the
reader, and bucketed tables join without an Exchange.  A regression here
is a silent 100x cost at scale even when small-SF results stay correct.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_order_customer_join_is_broadcast(spark):
    plan = _plan(entrymod.q_order_customer_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = _plan(entrymod.q_pricing_summary(spark, SF_DIR))
    # the shipdate predicate reaches the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters: [", 1)[1][:200]
    # the scan reads only the aggregate's columns, not the full table
    # (Spark truncates the ReadSchema string, so assert on the visible
    # prefix: pruned scans list exactly the needed columns in order)
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read_schema.startswith(
        "struct<l_quantity:double,l_extendedprice:double,"
        "l_returnflag:string,l_linestatus:string,l_shipdat")
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema


def test_events_window_agg_partial_aggregation(spark):
    """The tumbling-window aggregate must plan a partial (map-side) agg
    before the shuffle — the property that makes skewed sources cheap."""
    plan = _plan(entrymod.q_events_tumbling(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_anti_join_no_cartesian(spark):
    plan = _plan(entrymod.q_customers_without_orders(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-partitioned on the join key join WITHOUT an
    Exchange on either side — the co-located-join strategy for repeated
    large-table joins at scale."""
    db = "bucketdemo"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} "
              f"LOCATION '{tmp_path / 'wh'}'")
    try:
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
         .mode("overwrite").saveAsTable(f"{db}.orders_b"))
        (c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .mode("overwrite").saveAsTable(f"{db}.customer_b"))
        ob = spark.table(f"{db}.orders_b")
        cb = spark.table(f"{db}.customer_b")
        # disable broadcast so the join strategy is the bucketed SMJ
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = ob.join(cb, ob.o_custkey == cb.c_custkey) \
                .groupBy("c_mktsegment").count()
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            # no Exchange feeding the join (bucketing co-partitions it);
            # the only exchange is the post-join groupBy
            assert "Exchange hashpartitioning(o_custkey" not in plan
            assert "Exchange hashpartitioning(c_custkey" not in plan
            # and the result matches the unbucketed join
            plain = (o.join(c, o.o_custkey == c.c_custkey)
                     .groupBy("c_mktsegment").count())
            assert sorted(map(tuple, j.collect())) == \
                sorted(map(tuple, plain.collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_exact_dedup_single_shuffle_with_partial_agg(spark):
    """exact_dedup shuffles once on the digest AND gets genuine map-side
    partial aggregation (partial min/count before the exchange) — duplicate
    groups collapse to one row per map partition, no post-shuffle sort."""
    from hidden_characters_detector_spark.operators import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    plan = _plan(dedup.exact_dedup(docs))
    assert plan.count("Exchange hashpartitioning(content_hash") == 1
    # partial (map-side) + final aggregate; Spark plans SortAggregate here
    # because min(string) needs an immutable buffer — the scale property is
    # the partial_min/partial_count BEFORE the exchange
    assert plan.count("Aggregate(key=[content_hash") >= 2
    assert "partial_min" in plan
    assert "Window" not in plan  # no window formulation (no partial agg)


def test_lsh_band_join_carries_no_signatures(spark):
    """The 64-value signature array must not ride any shuffle/broadcast:
    it is consumed inside the band-hash Generate; every Exchange in the
    candidate plan carries only ids/band columns."""
    from hidden_characters_detector_spark.operators.dedup import (
        _lsh_candidates)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    cand, _ = _lsh_candidates(docs, "doc_id", "text", num_perm=64,
                              bands=16, seed=42)
    plan = _plan(cand)
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines  # the pair-dedup shuffle at least
    assert all("minhash" not in ln for ln in exchange_lines)
    # the generator emits only (band, band_hash), not the signature
    gen_lines = [ln for ln in plan.splitlines()
                 if "Generate posexplode" in ln]
    assert gen_lines
    for ln in gen_lines:
        out_cols = ln.rsplit("[", 1)[1]
        assert "minhash" not in out_cols


def test_verified_near_dups_runs_minhash_kernel_once(spark):
    """LSH buckets form by one aggregation, so the executed verify plan
    holds exactly two Arrow kernels: the MinHash signatures once (a band
    self-join plans them on both join sides) and the exact-Jaccard
    verify."""
    from hidden_characters_detector_spark.operators import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    ver = dedup.verified_near_dups(docs, jaccard_threshold=0.85, bands=8)
    ver.collect()
    final = _plan(ver).split("== Initial Plan ==", 1)[0]
    assert "isFinalPlan=true" in final
    arrow = [ln for ln in final.splitlines() if "MapInArrow" in ln]
    assert len(arrow) == 2
    assert sum("minhash#" in ln for ln in arrow) == 1
    assert sum("jaccard#" in ln for ln in arrow) == 1


def test_sampling_is_zero_shuffle_projection(spark):
    """Deterministic hash sampling must plan as a pure codegen projection
    over the scan — no Exchange, no UDF: at 100 TB a sampling decision
    that shuffled (or left codegen) would dominate the job."""
    from hidden_characters_detector_spark.operators import sampling
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "source")
    for df in (sampling.train_test_split(docs),
               sampling.stratified_sample(docs, {"src0": 0.5})):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        # '*(n)' prefixes mark whole-stage-codegen stages in the tree
        # string: split is a codegen Project, sample a codegen Filter
        assert "*(1) Project" in plan or "*(1) Filter" in plan


def test_connected_components_round_count_on_cliques(spark):
    """Near-dup clusters are cliques (mutual similarity), so min-label
    propagation must converge in 2 rounds (1 propagating + 1 fixpoint
    check) regardless of clique size — the property that keeps the
    iterative shuffle count constant at corpus scale."""
    from hidden_characters_detector_spark.operators import dedup
    rows = [(f"k{i}", f"k{j}") for i in range(8) for j in range(i + 1, 8)]
    pairs = spark.createDataFrame(rows, "doc_a string, doc_b string")
    comp = dedup.connected_components(pairs, max_iter=2)  # must suffice
    assert {r["component"] for r in comp.collect()} == {"k0"}


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A source-partitioned table scanned with a source filter prunes
    partitions at plan time (PartitionFilters, not a post-scan Filter) —
    the layout the cleaned-corpus sink uses at scale."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    part_dir = str(tmp_path / "by_source")
    docs.write.partitionBy("source").mode("overwrite").parquet(part_dir)
    scan = (spark.read.parquet(part_dir)
            .where("source = 'web'").select("doc_id", "n_chars"))
    plan = _plan(scan)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1][:120]
    assert "source" in pf
    # and the data filter list carries nothing (no row-level source filter)
    n_all = docs.where("source = 'web'").count()
    assert scan.count() == n_all


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew-join handling: a zipf-skewed fact joined to a dim with
    broadcast disabled gets its hot partition split (skew=true in the final
    adaptive plan) once the skew thresholds are exceeded."""
    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        # hot key 0 carries ~90% of 300k fact rows; the payload must be
        # incompressible — skew detection reads COMPRESSED map-output
        # sizes, so a repeated-char payload never crosses the threshold
        fact = spark.range(0, 300_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 100 END AS k",
            "sha2(cast(id as string), 256) AS payload")
        dim = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
        j = fact.join(dim, "k")
        assert len(j.collect()) == 300_000  # AQE decides at runtime
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_quantiles_plan_is_partial_agged_bounded_sketch(spark):
    """length_quantiles' DEFAULT must be the at-scale plan: map-side
    partial + final ObjectHashAggregate over approx_percentile's BOUNDED
    sketch buffer.  Exact percentile plans the same agg shape but its
    partial buffer is the full per-group value list — every value still
    crosses the exchange to one reducer per group, the 100 TB killer —
    so the default plan must contain approx_percentile and no exact
    percentile() call."""
    from hidden_characters_detector_spark.operators import text_analysis

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("source", "text")
    plan = _plan(text_analysis.length_quantiles(docs))
    assert "partial_approx_percentile" in plan   # map-side sketch
    assert "approx_percentile" in plan.split("Exchange")[0]  # final merge
    assert "partial_percentile(" not in plan     # unbounded value buffer
    assert "SortAggregate" not in plan


def test_dict_join_broadcasts_dictionary_side(spark):
    """The batch confusable-dict interval join must broadcast the rule
    table: it is a few hundred rows at ANY corpus scale, so the (huge)
    events side must never shuffle or sort-merge for it."""
    plan = _plan(entrymod.q_dict_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # equi-key on token=marker_cp


def test_quarantine_reason_is_pure_codegen_projection(spark):
    """The validity gate must stay a zero-shuffle, zero-Python projection:
    at 100 TB it runs on every row of every batch, so an Exchange or a
    Python eval here would be a silent order-of-magnitude regression."""
    from hidden_characters_detector_spark.operators.quarantine import (
        with_quarantine_reason)

    tok = spark.range(0, 10).selectExpr(
        "cast(id as string) AS doc_id", "array(1, 2) AS tokens",
        "2 AS n_tok", "'web' AS source",
        "timestamp'2024-01-01' AS event_time")
    plan = with_quarantine_reason(tok)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.lstrip().startswith("*(")   # whole-stage codegen stage


def test_select_representatives_corpus_side_is_broadcast_probe(spark):
    """Keeper election: the corpus-side scored relation joins the (tiny)
    groups table via BROADCAST — the big side never shuffles for
    membership; every Exchange operates on the grouped sliver.  No window
    formulation (a mega-cluster would single-task sort)."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    scored = docs.select(
        "doc_id", F.length("text").cast("long").alias("score"))
    groups = spark.createDataFrame(
        [("1", "1", 2), ("2", "1", 2)],
        "doc_id string, group_id string, group_size long")
    plan = _plan(dedup.select_representatives(scored, groups,
                                              score_col="score"))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    assert "Window" not in plan
    # partial agg before both sliver shuffles (scale under giant groups)
    assert "partial_max" in plan
    # the corpus parquet scan feeds a broadcast join, never an Exchange:
    # no exchange keyed on the corpus id column
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("hashpartitioning(doc_id" not in ln
               for ln in exchange_lines)


def test_incremental_dedup_index_side_never_shuffles(spark):
    """Batch-vs-index LSH probe: the batch's band rows are BROADCAST, so
    the index side is a pure scan — no SortMergeJoin, no Cartesian, and
    no Exchange carrying the 64-value signature array (same discipline as
    the full LSH band join)."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    new = docs.where(F.length("text") >= 15).selectExpr(
        "concat(doc_id, '000000') doc_id", "substr(text, 11) text")
    idx = dedup.signature_index(docs)
    plan = _plan(dedup.incremental_near_dups(new, idx,
                                             jaccard_threshold=0.5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    shuffle_lines = [ln for ln in plan.splitlines()
                     if "Exchange hashpartitioning" in ln]
    # the only real shuffle is the candidate-pair dedup
    assert all("doc_a" in ln for ln in shuffle_lines)
    assert all("minhash" not in ln for ln in shuffle_lines)


def test_unigram_logprob_model_broadcast_partial_agg(spark):
    """Unigram LM scoring: the model lookup is a BROADCAST join against
    the exploded words (the corpus side never shuffles for the lookup),
    and the per-doc reduce partial-aggregates map-side before the one
    doc-keyed shuffle."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import text_analysis
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    model = spark.createDataFrame([("the", 100), ("and", 50)],
                                  "word string, cnt long")
    plan = _plan(text_analysis.unigram_logprob(docs, model,
                                               total_words=1000))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "Cartesian" not in plan
    assert "SortMergeJoin" not in plan      # no spine join back
    # exactly one exchange keyed on doc_id (the per-doc reduce)
    doc_exchanges = [ln for ln in plan.splitlines()
                     if "Exchange hashpartitioning(doc_id" in ln]
    assert len(doc_exchanges) == 1


def test_substr_dedup_spans_plan(spark):
    """Exact-substring span detection (default mark="window"): exactly
    TWO exchanges — the hash-keyed verdict shuffle (the algorithm's
    Θ(n) price) and the per-document island merge over duplicated
    positions only — and no raw text column ever rides an exchange
    (the kernel reduces text to (id, pos, hash) before the first
    shuffle)."""
    from hidden_characters_detector_spark.operators import substr_dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    plan = _plan(substr_dedup.duplicated_spans(docs, k=40))
    exchange_lines = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln]
    assert len(exchange_lines) == 2
    assert any("(h" in ln or " h#" in ln for ln in exchange_lines)
    assert all("text" not in ln for ln in exchange_lines)
    # the final span aggregate reuses the per-doc partitioning — no
    # third exchange between the island window and the groupBy
    assert "Cartesian" not in plan


def test_substr_dedup_spans_join_mark_plan(spark):
    """mark="join" (the skew-proof strategy for corpora with mega-hot
    boilerplate k-grams): the first-occurrence min(struct) is
    partial-aggregated BEFORE its exchange (hot hashes collapse
    map-side), no window runs partitioned by h (windows are not
    AQE-splittable), and the mark join is broadcast when the
    duplicated-hash table is small (stats/AQE decide; a heavy-dup
    corpus falls back to an AQE-skew-splittable SMJ)."""
    from hidden_characters_detector_spark.operators import substr_dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    plan = _plan(substr_dedup.duplicated_spans(docs, k=40, mark="join"))
    assert "partial_min(struct(" in plan
    assert not any("windowspecdefinition(h" in ln for ln in
                   plan.splitlines())
    assert "BroadcastHashJoin [h" in plan
    exchange_lines = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln]
    assert all("text" not in ln for ln in exchange_lines)
    assert "Cartesian" not in plan


def test_substr_dedup_remove_broadcasts_spans(spark):
    """The rebuild join broadcasts the per-document span lists — the
    corpus side never shuffles to receive its spans."""
    from hidden_characters_detector_spark.operators import substr_dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    plan = _plan(substr_dedup.remove_duplicated_spans(docs, k=40))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_logprob_plan_broadcast_single_doc_exchange(spark):
    """Bigram LM scoring keeps the unigram plan contract with THREE
    model lookups: all broadcast joins against the exploded word stream
    (corpus never shuffles for a lookup), partial agg before the single
    doc-keyed exchange, no spine join back."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import text_analysis
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text")
    uni = spark.createDataFrame([("the", 100), ("and", 50)],
                                "word string, cnt long")
    bi = spark.createDataFrame([("the", "and", 10)],
                               "word_a string, word_b string, cnt long")
    plan = _plan(text_analysis.bigram_logprob(docs, uni, bi,
                                              total_words=1000))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "partial_sum" in plan
    assert "Cartesian" not in plan
    assert "SortMergeJoin" not in plan
    doc_exchanges = [ln for ln in plan.splitlines()
                     if "Exchange hashpartitioning(doc_id" in ln]
    assert len(doc_exchanges) == 1
