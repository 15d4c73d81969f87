# Round-6 batch: corpus-frequency boilerplate removal, KN-perplexity
# quality gating, physical-layout planners (range split points, skew
# salt factors), tokenizer fertility audit, packing fragmentation
# audit. Every entry oracle-bearing from birth (the registry's
# no-rows-only invariant as of round 6).
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.queries._registry import TOKS_SQL, _t, register


@register(
    "boilerplate_chunk_removal",
    f"""
    WITH toks AS (
        SELECT doc_id, {TOKS_SQL} AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS chunk_idx,
               array_to_string(
                   list_slice(t, (i - 1) * 2 + 1, (i - 1) * 2 + 2), ' '
               ) AS chunk
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, ((len(t) - 1) // 2) + 1)) AS i
              FROM toks)
    ),
    cut AS (SELECT greatest(CAST(3 AS BIGINT),
                            (count(*) + 19) // 20) AS df_cut
            FROM documents),
    dfreq AS (
        SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM chunks GROUP BY 1
    ),
    marked AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk,
               CASE WHEN d.df < cut.df_cut THEN 1 ELSE 0 END AS keep
        FROM chunks c JOIN dfreq d USING (chunk) CROSS JOIN cut
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep = 1 THEN chunk END, ' '
                               ORDER BY chunk_idx), '') AS text_clean,
           CAST(count(*) FILTER (WHERE keep = 1) AS BIGINT)
               AS n_chunks_kept,
           CAST(count(*) FILTER (WHERE keep = 0) AS BIGINT)
               AS n_chunks_dropped
    FROM marked GROUP BY doc_id
    """,
)
def q_boilerplate_chunk_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-frequency boilerplate removal (dataprep/dedup.py:
    boilerplate_chunk_removal — the C4/CCNet line-dedup pass on
    aligned 2-token chunks): a chunk appearing in >= max(3,
    ceil(n_docs/20)) DISTINCT docs is dropped from EVERY document —
    unlike chunk_dedup's first-wins rule, which keeps one copy. All
    threshold arithmetic integer, so the oracle lands on the same
    cut."""
    from taxi_trips_etl_spark.dataprep.dedup import (
        boilerplate_chunk_removal,
    )

    return boilerplate_chunk_removal(_t(spark, sf_dir, "documents"))


def _kn_xent_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.lm import (
        kneser_ney_doc_xent_oracle_sql,
    )

    return kneser_ney_doc_xent_oracle_sql(TOKS_SQL)


@register("kn_doc_xent_filter", _kn_xent_oracle())
def q_kn_doc_xent_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality gate with the interpolated-KN bigram
    estimator (dataprep/lm.py:kneser_ney_doc_xent) — the CCNet filter
    upgraded from the unigram proxy (unigram_logprob_buckets). The
    model trains on the same corpus, so every doc bigram scores by the
    exact-integer KN formula; per-bigram logs quantize to int64
    micro-nats before the (order-free) sum, and the mean is one
    division of two exact integers."""
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_doc_xent

    return kneser_ney_doc_xent(_t(spark, sf_dir, "documents"))


@register(
    "range_partition_plan",
    """
    WITH r AS (
        SELECT l_orderkey AS k,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber)
                   AS rn
        FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem)
    SELECT CAST((rn - 1) * 16 // n AS BIGINT) AS bucket,
           CAST(min(k) AS BIGINT) AS lo,
           CAST(max(k) AS BIGINT) AS hi,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM r CROSS JOIN n
    GROUP BY 1 ORDER BY 1
    """,
)
def q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth split points for repartitionByRange(l_orderkey)
    over 16 target partitions (dataprep/layout.py:range_partition_plan)
    — the pinned-boundary layout table that makes rerun/backfill file
    ranges stable where Spark's own RangePartitioner re-samples per
    run. Audit-grade exact rank here; the 100 TB path applies the same
    integer arithmetic to a deterministic sample."""
    from taxi_trips_etl_spark.dataprep.layout import range_partition_plan

    return range_partition_plan(_t(spark, sf_dir, "lineitem"))


@register(
    "adaptive_salt_plan",
    """
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows,
           least(CAST(32 AS BIGINT),
                 (count(*) + 399) // 400) AS salt_factor
    FROM lineitem GROUP BY 1
    HAVING (count(*) + 399) // 400 > 1
    ORDER BY n_rows DESC, l_suppkey
    """,
)
def q_adaptive_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation planner (dataprep/layout.py:adaptive_salt_plan):
    per join key the ceil(count/target) salt factor the salted-join
    builder (see skew_salted_join) uses to split a hot key across
    sub-partitions. Only the heavy tail is emitted — light keys ride
    the unsalted path — so the plan table is broadcastable by
    construction."""
    from taxi_trips_etl_spark.dataprep.layout import adaptive_salt_plan

    return adaptive_salt_plan(_t(spark, sf_dir, "lineitem"))


def _fertility_oracle() -> str:
    from taxi_trips_etl_spark.queries._round5 import _BPE_ORACLE

    return f"""
    WITH perdoc AS ({_BPE_ORACLE})
    SELECT d.source,
           CAST(sum(p.n_words) AS BIGINT) AS n_words,
           CAST(sum(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST((2000 * sum(p.n_bpe_tokens) + sum(p.n_words))
               // (2 * sum(p.n_words)) AS BIGINT) AS fertility_milli
    FROM perdoc p JOIN documents d USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """


@register("tokenizer_fertility_by_source", _fertility_oracle())
def q_tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-QA fertility audit: BPE subword tokens per word, by
    source, under the frozen merge table of bpe_apply_encode — the
    number that decides whether a tokenizer is fair to a domain (high
    fertility = that source pays more sequence length per word, trains
    slower, truncates sooner). fertility_milli is the integer
    round-half-up of 1000·tokens/words — (2000·t + w) div (2·w) — so
    no float division enters the hash."""
    from taxi_trips_etl_spark.queries._round5 import q_bpe_apply_encode

    perdoc = q_bpe_apply_encode(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        perdoc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility_milli",
            F.expr(
                "(2000 * n_bpe_tokens + n_words) div (2 * n_words)"
            ).cast("long"),
        )
        .orderBy("source")
    )


def _frag_sql(seq_len: int) -> str:
    return f"""
    SELECT CAST({seq_len} AS BIGINT) AS seq_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_seqs > 1) AS BIGINT)
               AS n_docs_split,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
           CAST((max(start_offset + n_tokens) - 1) // {seq_len} + 1
                AS BIGINT) AS n_sequences,
           (2000 * count(*) FILTER (WHERE n_seqs > 1) + count(*))
               // (2 * count(*)) AS split_frac_milli
    FROM (
        SELECT doc_id, n_tokens, start_offset,
               (start_offset + n_tokens - 1) // {seq_len}
                   - start_offset // {seq_len} + 1 AS n_seqs
        FROM (
            SELECT doc_id, n_tokens,
                   CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS start_offset
            FROM (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT)
                             AS n_tokens
                  FROM documents)
        )
    )
    """


@register(
    "packing_fragmentation_audit",
    f"{_frag_sql(128)} UNION ALL {_frag_sql(512)} ORDER BY seq_len",
)
def q_packing_fragmentation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence-packing fragmentation audit at seq_len 128 and 512:
    how many documents straddle a training-sequence boundary under
    concatenate-and-split packing (dataprep/packing.py), total
    sequences produced, and the split fraction in integer milli units
    — the table that prices a seq_len choice (every split doc loses
    attention context at the cut). Reuses pack_sequences' bucketed
    two-pass plan; the audit agg is a handful of scalars per
    seq_len."""
    from taxi_trips_etl_spark.dataprep.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    outs = []
    for seq_len in (128, 512):
        p = pack_sequences(docs, seq_len=seq_len)
        outs.append(
            p.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum((F.col("n_seqs") > 1).cast("long"))
                .cast("long")
                .alias("n_docs_split"),
                F.sum("n_tokens").cast("long").alias("tokens_total"),
                F.expr(
                    f"CAST((max(start_offset + n_tokens) - 1)"
                    f" div {seq_len} + 1 AS BIGINT)"
                ).alias("n_sequences"),
            ).select(
                F.lit(seq_len).cast("long").alias("seq_len"),
                "n_docs",
                "n_docs_split",
                "tokens_total",
                "n_sequences",
                F.expr(
                    "(2000 * n_docs_split + n_docs) div (2 * n_docs)"
                ).cast("long").alias("split_frac_milli"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("seq_len")


_HNIVF_COS = """
    list_sum(list_transform(generate_series(1, len({a})),
                            i -> {a}[i] * {b}[i]))
    / (sqrt(list_sum(list_transform(generate_series(1, len({a})),
                                    i -> {a}[i] * {a}[i])))
       * sqrt(list_sum(list_transform(generate_series(1, len({b})),
                                      i -> {b}[i] * {b}[i]))))
"""


@register(
    "hard_negative_mining_ivf",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
               FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, emb AS cent_vec
              FROM e WHERE vec_id < 8),
    scored_cells AS (
        SELECT a.vec_id, a.emb, a.label, cents.cent_id,
               {_HNIVF_COS.format(a="a.emb", b="cents.cent_vec")} AS ccos
        FROM e a CROSS JOIN cents
    ),
    ranked_cells AS (
        SELECT vec_id, emb, label, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cent_id)
                   AS cell_rank
        FROM scored_cells
    ),
    assignment AS (
        SELECT vec_id AS neighbor_id, emb AS c_vec, label AS c_label,
               cent_id
        FROM ranked_cells WHERE cell_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, emb AS q_vec, label AS q_label,
               cent_id
        FROM ranked_cells WHERE cell_rank <= 2
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               {_HNIVF_COS.format(a="p.q_vec", b="a.c_vec")} AS cos
        FROM probes p JOIN assignment a USING (cent_id)
        WHERE p.q_label != a.c_label
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS r
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(r AS BIGINT) AS hn_rank
    FROM ranked WHERE r <= 2
    """,
)
def q_hard_negative_mining_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB hard-negative plan: IVF coarse quantizer in front
    (probe 2 of 8 cells, inverted-list contraction of the pair count)
    + exact per-cell matmul rerank (dataprep/similarity.py:
    hard_negative_topk_ivf). The exact all-pairs miner
    (hard_negative_mining) stays as the truth/audit twin; this entry
    pins the approximation ITSELF — the oracle replays assignment,
    probing and rerank, so any recall drift from the exact answer is
    a property of IVF, not a bug."""
    from taxi_trips_etl_spark.dataprep.similarity import (
        hard_negative_topk_ivf,
    )

    return hard_negative_topk_ivf(_t(spark, sf_dir, "embeddings"))


@register(
    "streaming_late_dupes_dropped",
    """
    WITH b AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events)
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN b
    WHERE ts < d0 + INTERVAL 3 DAY
    GROUP BY 1, 2
    """,
)
def q_streaming_late_dupes_dropped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark LATENESS pinned end-to-end (streaming/late_data.py):
    batch 3 re-delivers every day-1 row two batches after its window
    expired (the flush heartbeat co-rides that batch — round 9 merged
    the final two trigger cycles; the drop decision uses batch 2's
    watermark either way), so the engine must DROP all of them —
    append-mode output equals the plain batch per-day count (the
    oracle). A single accepted late duplicate double-counts day 1 and
    breaks the hash.
    The staging deliberately encodes Spark's one-batch watermark lag
    (late-event filtering uses batch N−1's watermark, eviction uses
    batch N's — a replay in the IMMEDIATELY following batch is still
    accepted; measured, see the module docstring). Distinct from the
    explicit keyed-state dedup entries: this is the implicit
    replay-dedup a 100 TB ingest gets from bounded lateness."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.queries._registry import _events
    from taxi_trips_etl_spark.streaming.late_data import (
        run_late_data_drain,
        stage_late_replay,
    )

    ev_all = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # deliberate 1-value collect: day0 is a Python argument to the
    # replay stager (it names staged files and literal timestamps),
    # not a plan column
    day0 = ev_all.agg(
        F.date_trunc("day", F.min("ts")).alias("d")
    ).collect()[0]["d"]
    d0 = day0.strftime("%Y-%m-%d %H:%M:%S")
    ev = ev_all.filter(
        F.col("ts") < F.expr(f"TIMESTAMP '{d0}' + INTERVAL 3 DAYS")
    )
    with tempfile.TemporaryDirectory(
        prefix="late_data_q_", ignore_cleanup_errors=True
    ) as work:
        src = stage_late_replay(spark, ev, day0, work)
        schema = spark.read.parquet(f"{src}/a_ontime.parquet").schema
        run_late_data_drain(
            spark,
            src,
            schema,
            out_path=f"{work}/out",
            checkpoint_path=f"{work}/ckpt",
        )
        out = materialize(
            spark.read.parquet(f"{work}/out").select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                "event_type",
                "n_events",
            ),
            eager=True,
        )
    return out


def _weighted_minhash_oracle() -> str:
    from taxi_trips_etl_spark.queries._dedup_sim_text import (
        _MINHASH_BANDS_SQL,
        _MINHASH_SIG_SQL,
    )

    return f"""
    WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
    tf AS (
        SELECT doc_id, tok, CAST(least(count(*), 2) AS BIGINT) AS tf
        FROM (SELECT doc_id, concat_ws(' ', t[i], t[i + 1]) AS tok
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2))
        GROUP BY 1, 2
    ),
    reps AS (
        SELECT doc_id, tok || '#' || CAST(i AS VARCHAR) AS item
        FROM (SELECT doc_id, tok,
                     unnest(generate_series(1, CAST(tf AS INTEGER)))
                         AS i
              FROM tf)
    ),
    shingled AS (SELECT doc_id, list(item) AS grams
                 FROM reps GROUP BY 1),
    sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} FROM shingled),
    bands0 AS ({_MINHASH_BANDS_SQL}),
    bands AS (
        SELECT doc_id, band_id, band_key FROM (
            SELECT doc_id, band_id, band_key,
                   count(*) OVER (PARTITION BY band_id, band_key) AS bsz
            FROM bands0
        ) WHERE bsz <= 50
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_id_a, c.doc_id_b,
               CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS num
        FROM cand c
        JOIN tf ta ON ta.doc_id = c.doc_id_a
        JOIN tf tb ON tb.doc_id = c.doc_id_b AND tb.tok = ta.tok
        GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot
            FROM tf GROUP BY 1)
    SELECT i.doc_id_a, i.doc_id_b,
           (2000 * i.num + (a.tot + b.tot - i.num))
               // (2 * (a.tot + b.tot - i.num)) AS wjacc_milli
    FROM inter i
    JOIN tot a ON a.doc_id = i.doc_id_a
    JOIN tot b ON b.doc_id = i.doc_id_b
    WHERE (2000 * i.num + (a.tot + b.tot - i.num))
              // (2 * (a.tot + b.tot - i.num)) >= 250
    """


@register("dedup_weighted_jaccard", _weighted_minhash_oracle())
def q_dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Jaccard (capped-tf multiset) near-dup pairs via
    replica-expansion MinHash/LSH + exact integer min/max verify
    (dataprep/dedup.py:weighted_minhash_pairs) — the tf-aware miner
    that separates same-vocabulary-different-proportions docs from
    true repeated-content clones, which set-Jaccard cannot."""
    from taxi_trips_etl_spark.dataprep.dedup import weighted_minhash_pairs

    return weighted_minhash_pairs(_t(spark, sf_dir, "documents"))


@register(
    "trend_slope_by_event_type",
    """
    WITH d AS (
        SELECT event_type,
               CAST(date_diff('day',
                    (SELECT min(CAST(ts AS DATE)) FROM events),
                    CAST(ts AS DATE)) AS BIGINT) AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM d GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
               AS slope_cents_per_day
    FROM s WHERE n * sxx - sx * sx != 0
    ORDER BY event_type
    """,
)
def q_trend_slope_by_event_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group OLS trend: slope of daily revenue-cents against the
    day index, per event type — the drift detector a pipeline puts on
    every metric. Closed form (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) over
    EXACT integers (x = days since the feed's first day, y = integer
    cents; every sum int64-bounded), so the only float is the final
    division, rounded to 6 — no regression library, no Python, one
    corpus scan plus a per-group aggregate."""
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir)
    # feed-epoch rides as a 1-row broadcast (dedup.py chunk-dedup
    # pattern), not a driver collect — one fewer job per run.
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return (
        s.filter(F.expr("n * sxx - sx * sx != 0"))
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(
                F.expr("CAST(n * sxy - sx * sy AS DOUBLE)")
                / F.expr("CAST(n * sxx - sx * sx AS DOUBLE)"),
                6,
            ).alias("slope_cents_per_day"),
        )
        .orderBy("event_type")
    )


@register(
    "streaming_full_outer_attribution",
    """
    WITH bound AS (SELECT min(ts) + INTERVAL 3 DAY AS cutoff FROM events),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'
            AND ts < (SELECT cutoff FROM bound)),
    c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
          FROM events WHERE event_type = 'click'
            AND ts < (SELECT cutoff FROM bound))
    SELECT coalesce(p.user_id, c.user_id) AS user_id,
           p.purchase_id,
           CAST(epoch_us(p.p_ts) AS BIGINT) AS purchase_us,
           c.click_id,
           CAST(epoch_us(c.c_ts) AS BIGINT) AS click_us
    FROM p FULL JOIN c
      ON c.user_id = p.user_id
     AND c.c_ts <= p.p_ts
     AND c.c_ts >= p.p_ts - INTERVAL 2 HOUR
    """,
)
def q_streaming_full_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join (streaming/
    outer_join.py:attribution_full_outer_stream): completes the
    join-family matrix — inner (click attribution), LEFT OUTER
    (unattributed purchases), and now both negative emissions at once
    (purchases with no prior click AND clicks with no following
    purchase, each proven by the watermark). Same co-delivered
    feed+heartbeat staging as the LEFT OUTER entry (round 9: one
    staged file, one trigger cycle; the no-data micro-batch still
    carries the watermark-proof flush across a batch boundary); the
    heartbeat pair matches itself and is dropped by the
    user_id >= 0 read filter."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.queries._registry import _events
    from taxi_trips_etl_spark.streaming.outer_join import (
        run_streaming_full_outer_attribution,
    )
    from taxi_trips_etl_spark.streaming.state import stage_file

    ev_all = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # deliberate 1-value collect: the cutoff is ALSO a driver-side
    # literal (it parameterizes the staged heartbeat timestamp below),
    # so it cannot ride as a broadcast column
    cutoff = ev_all.agg(
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("c")
    ).collect()[0]["c"]
    ev = ev_all.filter(F.col("ts") < F.lit(cutoff))
    with tempfile.TemporaryDirectory(
        prefix="full_outer_q_", ignore_cleanup_errors=True
    ) as work:
        hb_ts = cutoff.strftime("%Y-%m-%d %H:%M:%S")
        heartbeat = spark.sql(
            f"""
            SELECT CAST(-1 AS BIGINT) AS event_id,
                   TIMESTAMP '{hb_ts}' + INTERVAL 30 DAYS AS ts,
                   CAST(-1 AS BIGINT) AS user_id,
                   event_type,
                   CAST(0.0 AS DOUBLE) AS value,
                   CAST(NULL AS STRING) AS props
            FROM VALUES ('click'), ('purchase') AS t(event_type)
            """
        )
        # single staged file: feed + heartbeat co-delivered (docstring)
        src = f"{work}/src"
        staged = stage_file(ev.unionByName(heartbeat), src, "a_events")
        run_streaming_full_outer_attribution(
            spark,
            src,
            spark.read.parquet(staged).schema,
            out_path=f"{work}/out",
            checkpoint_path=f"{work}/ckpt",
        )
        out = materialize(
            spark.read.parquet(f"{work}/out")
            .filter(F.col("user_id") >= 0)
            .select(
                "user_id",
                "purchase_id",
                F.unix_micros("purchase_ts").alias("purchase_us"),
                "click_id",
                F.unix_micros("click_ts").alias("click_us"),
            ),
            eager=True,
        )
    return out


def _rouge_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.lcs import rouge_l_oracle_sql
    from taxi_trips_etl_spark.queries._registry import GRAMS_SQL

    return rouge_l_oracle_sql(
        TOKS_SQL, GRAMS_SQL, jaccard_threshold=0.7
    )


@register("rouge_l_decontaminate", _rouge_oracle())
def q_rouge_l_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (LCS-F) scoring of near-dup candidate pairs
    (dataprep/lcs.py:rouge_l_pairs) — the decontamination criterion
    that catches lightly-EDITED eval copies n-gram rules miss (token
    order survives paraphrase; long n-grams do not). Quadratic DP runs
    ONLY on the bounded Jaccard-prefiltered candidate set; the oracle
    replays the DP by anti-diagonal recursion with integer state, so
    the hash pins both the pair selection and every DP cell."""
    from taxi_trips_etl_spark.dataprep.lcs import rouge_l_pairs

    # 0.7 keeps the identical 25-pair survivor set on this corpus
    # (checked 0.5-0.7 at sf0.001/0.01) while the PPJoin prefix index
    # shrinks from half the grams to ~30% — the candidate join is the
    # entry's whole cost, the DP is 12 pairs regardless.
    return rouge_l_pairs(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.7,
    )


@register(
    "sampled_range_partition_plan",
    """
    WITH samp AS (
        SELECT l_orderkey AS k_, l_linenumber AS tb
        FROM lineitem
        WHERE CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)
                  || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10 = 0
    ),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM samp),
    ranked AS (
        SELECT k_, row_number() OVER (ORDER BY k_, tb) AS rn
        FROM samp
    ),
    bounds AS (
        SELECT (rn - 1) * 16 // ns AS bucket, max(k_) AS upper
        FROM ranked CROSS JOIN ns GROUP BY 1
    ),
    splits AS (SELECT bucket, upper FROM bounds WHERE bucket < 15),
    keys AS (SELECT l_orderkey AS k_, CAST(count(*) AS BIGINT) AS cnt
             FROM lineitem GROUP BY 1),
    assigned AS (
        SELECT k.k_, k.cnt,
               CAST(count(s.upper) AS BIGINT) AS bucket
        FROM keys k LEFT JOIN splits s ON k.k_ > s.upper
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem)
    SELECT bucket, CAST(min(k_) AS BIGINT) AS lo,
           CAST(max(k_) AS BIGINT) AS hi,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST((2000 * sum(cnt) * 16 + n) // (2 * n) AS BIGINT) AS skew_milli
    FROM assigned CROSS JOIN tot
    GROUP BY bucket, n ORDER BY bucket
    """,
)
def q_sampled_range_partition_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION range-partition planner (dataprep/layout.py:
    sampled_range_partition_plan): split points from a deterministic
    md5 hash sample (rerun-stable, unlike RangePartitioner's RNG
    sampling), then every row audited against the pinned boundaries —
    per-bucket counts and skew_milli (1000 = perfect balance) in one
    pass shape. The exact-rank twin (range_partition_plan) is the
    audit of this sampler's quality."""
    from taxi_trips_etl_spark.dataprep.layout import (
        sampled_range_partition_plan,
    )

    return sampled_range_partition_plan(_t(spark, sf_dir, "lineitem"))


@register(
    "span_corruption_masks",
    f"""
    WITH toks AS (
        SELECT doc_id, len({TOKS_SQL}) AS n FROM documents
        WHERE len({TOKS_SQL}) >= 4
    ),
    spans AS (
        SELECT doc_id, n,
               greatest(1, (n * 15 // 100) // 3) AS n_spans,
               unnest(generate_series(0,
                   greatest(1, (n * 15 // 100) // 3) - 1)) AS span_id
        FROM toks
    ),
    geom AS (
        SELECT doc_id, span_id,
               span_id * n // n_spans AS seg_lo,
               (span_id + 1) * n // n_spans
                   - span_id * n // n_spans AS seg_len,
               CAST(concat('0x', substr(md5('spanlen:'
                    || CAST(doc_id AS VARCHAR) || ':'
                    || CAST(span_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS h2,
               CAST(concat('0x', substr(md5('spanpos:'
                    || CAST(doc_id AS VARCHAR) || ':'
                    || CAST(span_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS h1
        FROM spans
    )
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(seg_lo + h1 % (seg_len - least(2 + h2 % 3, seg_len) + 1)
                AS BIGINT) AS start,
           CAST(least(2 + h2 % 3, seg_len) AS BIGINT) AS length
    FROM geom
    """,
)
def q_span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption masks, DETERMINISTIC
    (dataprep/corruption.py): 15% noise density, mean span 3, one
    span per equal token-axis segment (containment = non-overlap
    without rejection), boundaries from md5 integers of (doc_id,
    span_id) — reproducible training batches and a bit-exact oracle
    in place of batch-assembly RNG."""
    from taxi_trips_etl_spark.dataprep.corruption import (
        span_corruption_masks,
    )

    return span_corruption_masks(_t(spark, sf_dir, "documents"))


@register(
    "negative_sample_table",
    f"""
    WITH counts AS (
        SELECT tok AS token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({TOKS_SQL}) AS tok FROM documents)
        WHERE tok != '' GROUP BY 1
    ),
    cum AS (
        SELECT token,
               CAST(round(pow(CAST(n AS DOUBLE), 0.75) * 1000000)
                    AS BIGINT) AS wq,
               CAST(sum(CAST(round(pow(CAST(n AS DOUBLE), 0.75)
                                   * 1000000) AS BIGINT))
                    OVER (ORDER BY token ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_hi
        FROM counts
    ),
    c2 AS (SELECT token, cum_hi - wq AS cum_lo, cum_hi FROM cum),
    tw AS (SELECT max(cum_hi) AS tw FROM c2),
    draws AS (
        SELECT i AS sample_idx,
               CAST(concat('0x', substr(md5('neg:'
                    || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
                   % (SELECT tw FROM tw) AS target
        FROM (SELECT unnest(generate_series(0, 499)) AS i)
    )
    SELECT CAST(d.sample_idx AS BIGINT) AS sample_idx, c.token
    FROM draws d JOIN c2 c
      ON d.target >= c.cum_lo AND d.target < c.cum_hi
    ORDER BY 1
    """,
)
def q_negative_sample_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec-style negative-sampling table: 500 deterministic
    draws from the corpus unigram^0.75 distribution
    (dataprep/corruption.py:negative_sample_table) — md5 inverse-CDF
    over integer milli-weights, so a contrastive/skip-gram trainer
    gets reproducible negatives and the oracle replays every draw."""
    from taxi_trips_etl_spark.dataprep.corruption import (
        negative_sample_table,
    )

    return negative_sample_table(_t(spark, sf_dir, "documents"))


@register(
    "jsonl_roundtrip_docs",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(text)) AS BIGINT) AS total_text_len
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q_jsonl_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip (sources/readers.py:write_jsonl /
    read_jsonl): the documents table goes out as line-delimited JSON
    and comes back through the PERMISSIVE explicit-schema reader (at
    100 TB, schema inference would scan everything twice; corrupt
    lines quarantine instead of failing the ingest). The oracle
    aggregates the ORIGINAL table, so the hash proves the round-trip
    lost nothing — count, chars and text lengths per source."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.sources.readers import (
        read_jsonl,
        write_jsonl,
    )

    docs = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="jsonl_rt_", ignore_cleanup_errors=True
    ) as work:
        write_jsonl(docs, f"{work}/docs")
        back = read_jsonl(
            spark,
            f"{work}/docs",
            schema="doc_id long, text string, lang string,"
            " source string, n_chars long",
        )
        out = materialize(
            back.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.sum(F.length("text")).cast("long").alias(
                    "total_text_len"
                ),
            ).orderBy("source"),
            eager=True,
        )
    return out


@register(
    "sft_pair_format",
    f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents
               WHERE len({TOKS_SQL}) >= 4)
    SELECT doc_id,
           CAST(len(toks) // 2 AS BIGINT) AS n_prompt_tokens,
           CAST(len(toks) - len(toks) // 2 AS BIGINT)
               AS n_response_tokens,
           concat('<|user|>\n',
                  array_to_string(list_slice(toks, 1, len(toks) // 2),
                                  ' '),
                  '\n<|assistant|>\n',
                  array_to_string(list_slice(toks, len(toks) // 2 + 1,
                                             len(toks)), ' '))
               AS chatml
    FROM t
    """,
)
def q_sft_pair_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT data-prep formatting: each doc becomes a (prompt, response)
    pair — first half of the tokens prompts, second half responds —
    rendered into a chat-template string with role sentinels, plus
    the per-side token counts a packing/budgeting step consumes.
    Pure JVM string ops (slice + array_join); the template is the
    plan, so swapping chat formats is a literal change, not a UDF."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    t = tokens_table(_t(spark, sf_dir, "documents")).filter(
        F.size("toks") >= 4
    )
    half = F.expr("size(toks) div 2")
    return t.select(
        "doc_id",
        half.cast("long").alias("n_prompt_tokens"),
        (F.size("toks") - half).cast("long").alias("n_response_tokens"),
        F.concat(
            F.lit("<|user|>\n"),
            F.expr("array_join(slice(toks, 1, size(toks) div 2), ' ')"),
            F.lit("\n<|assistant|>\n"),
            F.expr(
                "array_join(slice(toks, size(toks) div 2 + 1,"
                " size(toks) - size(toks) div 2), ' ')"
            ),
        ).alias("chatml"),
    )


@register(
    "streaming_checkpoint_resume",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_checkpoint_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once across a STOP/RESTART (streaming/resume.py): the
    daily-count query runs as two separate StreamingQuery lifecycles
    sharing one checkpoint — run 1 drains the feed's first half, file
    two lands, run 2 RESUMES (the offset log proves half one is done,
    the state store carries its counts forward). Final sink = counts
    over the whole feed exactly once; a broken resume double-counts
    or loses the first half and breaks the batch-oracle hash."""
    import os
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.queries._registry import _events
    from taxi_trips_etl_spark.streaming.resume import run_resumable_drain
    from taxi_trips_etl_spark.streaming.state import stage_file

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # deliberate 1-value collect: mid splits the feed into TWO staged
    # replay files written by separate jobs — as a broadcast each
    # branch would recompute the min-ts aggregate
    mid = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("m")
    ).collect()[0]["m"]
    with tempfile.TemporaryDirectory(
        prefix="resume_q_", ignore_cleanup_errors=True
    ) as work:
        src = f"{work}/src"
        first = stage_file(
            ev.filter(F.col("ts") < F.lit(mid)), src, "a_first_half"
        )
        schema_src = spark.read.parquet(first).schema
        # Lifecycle 1: only the first half exists.
        run_resumable_drain(
            spark, src, schema_src,
            out_path=f"{work}/out", checkpoint_path=f"{work}/ckpt",
        )
        # Second half lands AFTER the first drain finished.
        second = stage_file(
            ev.filter(F.col("ts") >= F.lit(mid)), src, "b_second_half"
        )
        t0 = os.stat(first).st_mtime
        os.utime(second, (t0 + 60, t0 + 60))
        # Lifecycle 2: same checkpoint — must resume, not reprocess.
        run_resumable_drain(
            spark, src, schema_src,
            out_path=f"{work}/out", checkpoint_path=f"{work}/ckpt",
        )
        out = materialize(
            spark.read.parquet(f"{work}/out").select(
                "day", "event_type", "n_events"
            ),
            eager=True,
        )
    return out


@register(
    "streaming_semi_attribution",
    """
    WITH bound AS (SELECT min(ts) + INTERVAL 3 DAY AS cutoff FROM events)
    SELECT p.user_id, p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us
    FROM events p
    WHERE p.event_type = 'purchase'
      AND p.ts < (SELECT cutoff FROM bound)
      AND EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click'
            AND c.ts < (SELECT cutoff FROM bound)
            AND c.user_id = p.user_id
            AND c.ts <= p.ts
            AND c.ts >= p.ts - INTERVAL 2 HOUR)
    """,
)
def q_streaming_semi_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI join (streaming/
    outer_join.py:attributed_purchases_semi_stream) — each purchase
    emits AT MOST ONCE on its first qualifying click, completing the
    streaming join matrix (inner / left outer / full outer / semi).
    An inner join would fan out one row per matching click; the semi
    form IS the dedup. Oracle: batch EXISTS over the same 3-day
    slice. No heartbeat: emission happens on match, so the drain
    needs no watermark flush for completeness."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.queries._registry import _events
    from taxi_trips_etl_spark.streaming.outer_join import (
        run_streaming_semi_attribution,
    )
    from taxi_trips_etl_spark.streaming.state import stage_file

    ev_all = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # replay cutoff rides as a 1-row broadcast, not a driver collect
    cutoff = ev_all.agg(
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("_cutoff")
    )
    ev = (
        ev_all.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") < F.col("_cutoff"))
        .drop("_cutoff")
    )
    with tempfile.TemporaryDirectory(
        prefix="semi_attr_q_", ignore_cleanup_errors=True
    ) as work:
        src = f"{work}/src"
        staged = stage_file(ev, src, "a_events")
        run_streaming_semi_attribution(
            spark,
            src,
            spark.read.parquet(staged).schema,
            out_path=f"{work}/out",
            checkpoint_path=f"{work}/ckpt",
        )
        out = materialize(
            spark.read.parquet(f"{work}/out").select(
                "user_id",
                "purchase_id",
                F.unix_micros("purchase_ts").alias("purchase_us"),
            ),
            eager=True,
        )
    return out


@register(
    "variant_props_stats",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_with_props,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max
    FROM events WHERE props IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get extraction — the modern path for schema-on-read
    payloads (vs json_extract_props' per-field get_json_object
    string re-parsing: VARIANT parses once and serves every field
    from the encoded form, the difference that matters when a 100 TB
    events feed carries wide JSON payloads)."""
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir).filter(F.col("props").isNotNull())
    v = ev.select(
        "event_type", F.expr("parse_json(props)").alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'long')").alias("k"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_with_props"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
        .orderBy("event_type")
    )


@register(
    "pyds_object_listing",
    """
    SELECT concat('2026/02/01/', lpad(CAST(f AS VARCHAR), 4, '0'),
                  '.parquet') AS path,
           CAST(1000 + 37 * f AS BIGINT) AS size_bytes,
           CAST(f % 24 AS BIGINT) AS hour
    FROM (SELECT unnest(generate_series(0, 23)) AS f)
    WHERE f % 7 != 3
    """,
)
def q_pyds_object_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's object-store day listing (S1: YYYY/MM/DD/000*
    with decoy exclusion) as a REGISTERED Spark 4 Python DataSource
    (sources/pyds.py) — `spark.read.format("object_listing")`, the
    extension point for mounting a bucket inventory service as a
    table, with `partitions()` parallelizing the manifest scan. The
    listing derives from integer arithmetic over file ordinals, so
    the oracle rebuilds the identical manifest from
    generate_series."""
    from taxi_trips_etl_spark.sources.pyds import register_object_listing

    register_object_listing(spark)
    return (
        spark.read.format("object_listing")
        .option("ds", "2026/02/01")
        .option("n_files", "24")
        .option("n_partitions", "4")
        .load()
    )
