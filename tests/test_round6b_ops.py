"""Round-6 batch-5 pins: SemDeDup pruning semantics, DPO
preference-pair mining, bucketed co-located join (registry entry)."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401


def _emb(spark, vecs):
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_semdedup_prunes_to_lowest_id_keeper(spark, monkeypatch):
    """Exact duplicate and near-duplicate vectors are pruned with the
    SMALLEST over-threshold lower-id cluster-mate as keeper; vectors
    with no over-threshold mate survive."""
    from taxi_trips_etl_spark.dataprep import similarity
    from taxi_trips_etl_spark.dataprep.similarity import semdedup_prune

    monkeypatch.setattr(similarity, "SEMDEDUP_K", 2)
    monkeypatch.setattr(similarity, "SEMDEDUP_ITERATIONS", 2)

    out = {
        r.vec_id: r
        for r in semdedup_prune(
            _emb(
                spark,
                [
                    [1.0, 0.0],  # 0: keeper of the x-axis family
                    [0.0, 1.0],  # 1: keeper of the y-axis family
                    [1.0, 0.0],  # 2: exact dup of 0
                    [0.01, 0.999],  # 3: near-dup of 1
                    [0.7, 0.714],  # 4: diagonal — below threshold
                    [0.998, 0.02],  # 5: near-dup of 0 (and of 2)
                ],
            ),
            threshold_milli=950,
        ).collect()
    }
    assert set(out) == {2, 3, 5}
    assert out[2].keeper_id == 0 and out[2].cos_milli == 1000
    assert out[3].keeper_id == 1 and out[3].cos_milli >= 950
    # 5's smallest over-threshold mate is 0, not the also-matching 2.
    assert out[5].keeper_id == 0


def test_semdedup_singleton_clusters_emit_nothing(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import similarity
    from taxi_trips_etl_spark.dataprep.similarity import semdedup_prune

    monkeypatch.setattr(similarity, "SEMDEDUP_K", 2)
    monkeypatch.setattr(similarity, "SEMDEDUP_ITERATIONS", 1)
    rows = semdedup_prune(
        _emb(spark, [[1.0, 0.0], [0.0, 1.0]]), threshold_milli=950
    ).collect()
    assert rows == []


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )


def test_dpo_pairs_pick_quality_extremes_and_gate_margin(spark):
    """Group A: fluent long doc beats junk -> one pair (chosen=fluent,
    rejected=junk, margin over the gate). Group B: two identical docs
    -> margin 0, no pair. Group C: a single doc -> chosen==rejected,
    no pair."""
    from taxi_trips_etl_spark.queries._round6b import (
        q_dpo_preference_pairs,
    )
    from taxi_trips_etl_spark.queries._registry import _t  # noqa: F401

    fluent = "the cat sat on the mat and the dog is happy to see it"
    junk = "!!! 12345 @@@@"
    docs = _docs(
        spark,
        [
            (0, fluent, "en", "a", len(fluent)),
            (1, junk, "en", "a", len(junk)),
            (2, "same words here", "en", "b", 15),
            (3, "same words here", "en", "b", 15),
            (4, "lonely document", "en", "c", 15),
        ],
    )
    from taxi_trips_etl_spark.dataprep.text import quality_scores

    q = {
        r.doc_id: r.quality_score for r in quality_scores(docs).collect()
    }
    assert q[0] - q[1] >= 0.05  # the fixture really is margin-gated

    # Drive the same plan the registry entry builds, on this frame.
    from pyspark.sql import Window

    grp = Window.partitionBy("source", "lang")
    qs = quality_scores(docs).select("doc_id", "quality_score").join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    )
    ranked = qs.select(
        "source", "lang", "doc_id",
        F.col("quality_score").alias("q"),
        F.row_number().over(
            grp.orderBy(F.col("quality_score").desc(), "doc_id")
        ).alias("rk_best"),
        F.row_number().over(
            grp.orderBy(F.col("quality_score").asc(), "doc_id")
        ).alias("rk_worst"),
    )
    best = {r.source: r.doc_id for r in ranked.filter("rk_best = 1").collect()}
    worst = {r.source: r.doc_id for r in ranked.filter("rk_worst = 1").collect()}
    assert best["a"] == 0 and worst["a"] == 1
    # Identical docs: ties break to the lower id on BOTH ends -> the
    # chosen and rejected collapse to doc 2 and the pair is dropped.
    assert best["b"] == 2 and worst["b"] == 2


def test_dpo_registry_entry_runs_on_testdata(spark, sf_dir):
    from taxi_trips_etl_spark.queries._round6b import (
        q_dpo_preference_pairs,
    )

    rows = q_dpo_preference_pairs(spark, sf_dir).collect()
    assert all(r.margin >= 0.05 for r in rows)
    assert all(r.chosen_id != r.rejected_id for r in rows)


def test_bucketed_registry_join_has_no_exchange(spark, sf_dir):
    """The registered bucketed join's physical plan must contain NO
    shuffle between the bucketed scans and the join — that is the
    entire point of bucketing."""
    from taxi_trips_etl_spark.queries._round6b import (
        q_bucketed_colocated_join,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # At test scale the orders side is broadcast-sized and Catalyst
    # rightly picks BroadcastHashJoin; disable broadcast to surface the
    # plan the entry exists to demonstrate at fact-fact scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_bucketed_colocated_join(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # The aggregation above the join may shuffle on its group key;
        # the join's subtree (printed below the SMJ node) must not.
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1]
        assert len(df.collect()) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_registry_join_writes_outside_the_working_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The entry's bucketed tables are external tables at a fixed path,
    not managed tables in the working directory's ``spark-warehouse/``;
    the result is the plain join's."""
    from taxi_trips_etl_spark.queries._round6b import (
        q_bucketed_colocated_join,
    )

    monkeypatch.chdir(tmp_path)
    got = sorted(map(tuple, q_bucketed_colocated_join(spark, sf_dir).collect()))
    assert not (tmp_path / "spark-warehouse").exists()
    for t in ("r6b_orders_bucketed", "r6b_lineitem_bucketed"):
        assert spark.catalog.getTable(t).tableType == "EXTERNAL"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
        )
    )
    assert got == sorted(map(tuple, want.collect())) and got


# --- batch 6: Viterbi segmentation, pruning, compaction ---------------------


def test_viterbi_prefers_frequent_multichar_pieces(spark, monkeypatch):
    """A substring frequent enough to enter the vocab beats its
    spelled-out characters: with "abcd" dominating the corpus, the
    whole word segments as one piece; a word containing a rare
    character still falls back to singles."""
    from taxi_trips_etl_spark.dataprep.unigram_tok import (
        unigram_viterbi_segment,
    )
    from taxi_trips_etl_spark.dataprep import unigram_tok

    monkeypatch.setattr(unigram_tok, "TOP_MULTI", 5)
    docs = _docs(
        spark,
        [(i, "abcd abcd abcd xq", "en", "s", 17) for i in range(5)],
    )
    out = {
        r.word: r for r in unigram_viterbi_segment(docs).collect()
    }
    assert out["abcd"].n_pieces == 1
    assert out["abcd"].segmentation == "abcd"
    assert out["xq"].segmentation == "x q"
    # Scores are integer micro-nats: log probs are <= 0.
    assert all(r.score_micro <= 0 for r in out.values())


def test_viterbi_segmentation_reassembles_word(spark, sf_dir):
    from taxi_trips_etl_spark.queries._round6b import (
        q_unigram_viterbi_segment,
    )

    for r in q_unigram_viterbi_segment(spark, sf_dir).collect():
        assert r.segmentation.replace(" ", "") == r.word
        assert r.n_pieces == len(r.segmentation.split(" "))


def test_partitioned_write_prunes_day_partitions(spark, sf_dir, tmp_path):
    """The day-literal filter must reach the scan as a
    PartitionFilter (no other days' files opened)."""
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(
        str(tmp_path / "by_day")
    )
    day0 = ev.agg(F.min("day")).collect()[0][0]
    back = spark.read.parquet(str(tmp_path / "by_day")).filter(
        F.col("day") == day0
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [isnotnull(day" in plan
    assert "(day" in plan.split("PartitionFilters", 1)[1][:200]
    # Row-level correctness: pruned read == unpruned filter.
    assert back.count() == ev.filter(F.col("day") == day0).count()


def test_compact_small_files_writes_planned_count(spark, sf_dir, tmp_path):
    from taxi_trips_etl_spark.sources.writers import compact_small_files

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(7).write.mode("overwrite").parquet(
        str(tmp_path / "frag")
    )
    audit = compact_small_files(
        spark, str(tmp_path / "frag"), str(tmp_path / "compact")
    ).collect()[0]
    import glob
    import math

    files = glob.glob(str(tmp_path / "compact" / "part-*"))
    assert audit.n_files_before == 7
    assert audit.n_files_after == math.ceil(audit.n_rows / 100)
    assert len(files) == audit.n_files_after
    assert (
        spark.read.parquet(str(tmp_path / "compact")).count()
        == audit.n_rows
    )


def test_two_stage_distinct_count_matches_naive(spark, sf_dir):
    from taxi_trips_etl_spark.operators.skew import (
        two_stage_distinct_count,
    )
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir)
    got = {
        r.event_type: r.n_distinct
        for r in two_stage_distinct_count(ev, ["event_type"]).collect()
    }
    exp = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exp


def test_dynamic_partition_pruning_injects_subquery(spark, sf_dir, tmp_path):
    """A runtime-derived dim (above-average days, behind a selective
    Filter) must inject a dynamicpruning expression into the
    day-partitioned fact scan — the DPP star-join behavior the
    registry entry demonstrates."""
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(
        str(tmp_path / "e")
    )
    counts = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    total, n_days = counts.agg(
        F.sum("n").cast("long"), F.count(F.lit(1)).cast("long")
    ).collect()[0]
    busy = counts.filter(
        F.col("n") * F.lit(int(n_days)) >= F.lit(int(total))
    ).select("day")
    fact = spark.read.parquet(str(tmp_path / "e"))
    j = fact.join(F.broadcast(busy), "day").groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # And result parity with the unpartitioned self-join.
    exp = (
        ev.join(F.broadcast(busy), "day").groupBy("event_type").count()
    )
    assert sorted(map(tuple, j.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_pandas_api_groupby_plans_distributed(spark, sf_dir):
    """The ps groupby must plan as a Spark HashAggregate (lazy,
    distributed), not a driver-side pandas materialization."""
    from taxi_trips_etl_spark.queries._round6b import (
        q_pandas_api_groupby,
    )

    df = q_pandas_api_groupby(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    got = {r.o_orderpriority: r.n_orders for r in df.collect()}
    exp = {
        r.o_orderpriority: r.n
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp
