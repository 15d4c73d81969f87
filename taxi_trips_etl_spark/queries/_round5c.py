# Round-5 batch 3: k-core peeling (completing the graph family next
# to components / PageRank / triangles) and an explicit Bloom-filter
# semi-join reduction (the shuffle-avoidance pattern for joins whose
# dim cannot broadcast).
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.operators.bloom import bloom_prefilter
from taxi_trips_etl_spark.queries._registry import _events, _t, register

_KCORE_K = 40
_KCORE_ROUNDS = 10

# Supplier-transition graph (same construction as graph_pagerank /
# graph_triangles): per customer, consecutive orders' representative
# suppliers form an edge; canonicalized + symmetrized for the
# undirected degree arithmetic.
_KCORE_EDGES_SQL = """
    reps AS (
        SELECT o.o_custkey, o.o_orderkey, o.o_orderdate,
               min(l.l_suppkey) AS rep
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
    ),
    seqd AS (
        SELECT o_custkey, rep,
               lag(rep) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS prev
        FROM reps
    ),
    dedges AS (
        SELECT DISTINCT prev AS src, rep AS dst FROM seqd
        WHERE prev IS NOT NULL AND prev <> rep
    ),
    canon AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM dedges
    ),
    e0 AS (SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon)
"""


def _kcore_oracle(k: int, rounds: int) -> str:
    peels = []
    for i in range(1, rounds + 1):
        peels.append(f"""
    e{i} AS (
        SELECT a, b FROM (
            SELECT a, b,
                   count(*) OVER (PARTITION BY a) AS da,
                   count(*) OVER (PARTITION BY b) AS db
            FROM e{i - 1}
        ) WHERE da >= {k} AND db >= {k}
    )""")
    return (
        "WITH " + _KCORE_EDGES_SQL + "," + ",".join(peels) + f"""
    SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY a
    """
    )


@register("graph_kcore", _kcore_oracle(_KCORE_K, _KCORE_ROUNDS))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the supplier-transition graph (dataprep/graph.py:
    kcore): iteratively peel nodes of degree < k — the dense-subgraph
    signal (link-farm detection, community cores) that completes the
    graph family next to components/PageRank/triangles. Peeling is
    MONOTONE, so the driver loop's early fixpoint exit returns exactly
    what the oracle's 10-round unrolled-CTE peel computes. Per round:
    one map-side-combinable degree agg + two node-keyed semi-joins,
    lineage truncated per round."""
    from taxi_trips_etl_spark.dataprep.graph import kcore

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    reps = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.min("l_suppkey").alias("rep"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    edges = (
        reps.select("rep", F.lag("rep").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("rep")))
        .select(F.col("prev").alias("src"), F.col("rep").alias("dst"))
    )
    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


@register(
    "bloom_prefilter_join",
    """
    SELECT l.l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_acctbal > 9000
    GROUP BY l.l_suppkey
    """,
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per high-balance supplier, with the fact side reduced
    by a BROADCAST BLOOM FILTER of the dim keys before the join
    (operators/bloom.py). The filter passes a superset of matching
    rows and the exact join removes false positives, so the result —
    and the oracle — is identical to the plain join; what changes is
    the 100 TB plan: the fact table's non-matching rows die inside
    the scan's codegen stage instead of crossing the shuffle. (Here
    the dim also broadcasts, making the demo cheap to verify; the
    pattern pays when it cannot.)"""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    dim = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select("s_suppkey")
    )
    reduced = bloom_prefilter(li, dim)
    return (
        reduced.join(
            F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


@register(
    "streaming_outer_attribution",
    """
    WITH bound AS (SELECT min(ts) + INTERVAL 3 DAY AS cutoff FROM events),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'
            AND ts < (SELECT cutoff FROM bound)),
    c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
          FROM events WHERE event_type = 'click'
            AND ts < (SELECT cutoff FROM bound))
    SELECT p.user_id, p.purchase_id,
           CAST(epoch_us(p.p_ts) AS BIGINT) AS purchase_us,
           c.click_id,
           CAST(epoch_us(c.c_ts) AS BIGINT) AS click_us
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.c_ts <= p.p_ts
     AND c.c_ts >= p.p_ts - INTERVAL 2 HOUR
    """,
)
def q_streaming_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join
    (streaming/outer_join.py): purchases joined to the clicks that
    preceded them within 2 h, plus a NULL row per purchase the
    WATERMARK proved unattributable — the negative result only
    event-time reasoning can emit. The drain co-delivers the feed and
    a far-future heartbeat pair (click+purchase, user −1, so BOTH
    sides' watermarks advance — a filtered-out heartbeat would stall
    the global minimum watermark) in ONE staged file: the watermark
    advances at end-of-batch and the final no-data micro-batch
    flushes the state-eviction NULLs, so the watermark-proof negative
    emission still spans a batch boundary while the drain pays one
    trigger cycle instead of two (round 9; measured −1.1s at sf0.1,
    output bit-identical). The heartbeat matches nothing and its own
    purchase row can never flush, so the sink holds exactly the
    oracle's batch LEFT JOIN."""
    import tempfile

    from taxi_trips_etl_spark.streaming.outer_join import (
        run_streaming_outer_attribution,
    )
    from taxi_trips_etl_spark.streaming.state import stage_file

    ev_all = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # Bound the drained slice to the feed's first 3 days: the
    # stream-stream state store holds both sides' rows for the whole
    # single-batch drain, and the SEMANTICS under test (watermarked
    # outer emission) are span-independent. A live deployment is
    # bounded by rate x (delay + window), not feed length.
    # deliberate 1-value collect: the cutoff is ALSO a driver-side
    # literal (it parameterizes the staged heartbeat timestamp below),
    # so it cannot ride as a broadcast column
    cutoff = ev_all.agg(
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("c")
    ).collect()[0]["c"]
    ev = ev_all.filter(F.col("ts") < F.lit(cutoff))
    with tempfile.TemporaryDirectory(
        prefix="outer_attr_q_", ignore_cleanup_errors=True
    ) as work:
        src = f"{work}/src"
        # Heartbeat time derives from the ALREADY-COLLECTED cutoff
        # (every staged event is < cutoff, so cutoff + 30 days is past
        # any of them) — a literal 2-row frame, not a third scan of
        # the events feed (the max(ts) aggregation this replaces was
        # ~a third of the whole entry's wall-clock). Built as a SQL
        # VALUES relation, NOT createDataFrame: a Python-list frame is
        # Python-RDD-backed and each write pays ~4-6 s of Python
        # worker round-trips; the VALUES plan stays JVM-local (~0.1s).
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
        staged = stage_file(ev.unionByName(heartbeat), src, "a_events")
        schema = spark.read.parquet(staged).schema
        # 2 state partitions: the 3-day slice holds ~1k users, and
        # state-store commits cost n_partitions x n_batches x sides
        # (outer_join.py docstring) — 8 partitions measured 2x the
        # wall-clock of 2 for identical output.
        run_streaming_outer_attribution(
            spark,
            src,
            schema,
            out_path=f"{work}/out",
            checkpoint_path=f"{work}/ckpt",
            state_partitions=2,
        )
        # Materialize JVM-side (localCheckpoint) so the tmpdir can be
        # removed without round-tripping ~2k rows through a Python
        # collect + createDataFrame (a Python-list frame costs ~4-6 s
        # of Python-RDD overhead at every downstream action).
        from taxi_trips_etl_spark.dataprep.materialize import materialize

        out = materialize(
            spark.read.parquet(f"{work}/out")
            .filter(F.col("user_id") >= 0)  # drop heartbeat artifacts
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


@register(
    "incremental_rollup_merge",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def q_incremental_rollup_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance (operators/incremental.py): the
    stored (event_type, day) rollup STATE — built from the feed's
    first 20 days — absorbs the remaining days as a late delta via
    union + re-sum of mergeable partials. The fact table is never
    re-scanned for history; the merge shuffle is bounded by group
    count. The oracle is the ONE-SHOT aggregate over everything,
    which is precisely the associativity claim incremental
    maintenance rests on. Day rendered as DATE string for engine
    parity; value summed as exact integer cents."""
    from taxi_trips_etl_spark.operators.incremental import (
        aggregate_partials,
        merge_partials,
    )

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # deliberate 1-value collect: the split date feeds TWO filter
    # branches — as a crossJoin-broadcast each branch would recompute
    # the min-day aggregate, i.e. one extra full scan vs one collect
    split = ev.agg(
        F.date_add(F.min("day"), 20).alias("s")
    ).collect()[0]["s"]
    keys = ["event_type", "day"]
    state = aggregate_partials(
        ev.filter(F.col("day") < F.lit(split)), keys, F.col("cents")
    )
    delta = aggregate_partials(
        ev.filter(F.col("day") >= F.lit(split)), keys, F.col("cents")
    )
    return merge_partials(state, delta, keys).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "value_cents",
    )


def _bfs_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.graph import ROUNDS

    head = (
        "WITH " + _KCORE_EDGES_SQL.replace(
            "e0 AS (SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon)",
            """bedges AS (SELECT src, dst FROM dedges),
    start AS (SELECT min(least(src, dst)) AS s FROM bedges),
    d0 AS MATERIALIZED (SELECT (SELECT s FROM start) AS node,
                               CAST(0 AS BIGINT) AS hops)""",
        )
    )
    ctes = []
    for r in range(1, ROUNDS + 1):
        ctes.append(f"""
    d{r} AS MATERIALIZED (
        SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
            SELECT node, hops FROM d{r - 1}
            UNION ALL
            SELECT e.dst AS node, d.hops + 1 AS hops
            FROM d{r - 1} d JOIN bedges e ON e.src = d.node
        ) GROUP BY node
    )""")
    return head + "," + ",".join(ctes) + f"""
    SELECT node, hops FROM d{ROUNDS}
    """


@register("graph_bfs_hops", _bfs_oracle())
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-weight SSSP (BFS hop counts) from the lowest supplier node
    over the DIRECTED transition graph (dataprep/graph.py:bfs_hops) —
    the relaxation skeleton (swap hops+1 for a weight sum and it is
    Bellman-Ford) that completes the iterative family next to
    components / PageRank / triangles / k-core. Min-label integer
    propagation, monotone, so the fixpoint exit matches the oracle's
    10-round unroll exactly."""
    from taxi_trips_etl_spark.dataprep.graph import bfs_hops

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    reps = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.min("l_suppkey").alias("rep"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    edges = (
        reps.select("rep", F.lag("rep").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("rep")))
        .select(F.col("prev").alias("src"), F.col("rep").alias("dst"))
        .distinct()
    )
    # deliberate 1-value collect: source_node is a Python int in the
    # operator's API (it parameterizes the frontier seed), not a plan
    # column — a bounded scalar probe, not a data-sized collect
    source = edges.agg(
        F.min(F.least("src", "dst")).alias("s")
    ).collect()[0]["s"]
    return bfs_hops(edges, source_node=int(source))


@register(
    "scd2_point_in_time_join",
    """
    WITH hist AS (
        SELECT c_custkey, c_mktsegment AS seg,
               TIMESTAMP '1990-01-01' AS valid_from,
               CASE WHEN c_custkey % 3 = 0
                    THEN TIMESTAMP '1996-06-01' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'MIGRATED', TIMESTAMP '1996-06-01', NULL
        FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT o.o_orderkey, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           h.seg AS segment_at_order
    FROM orders o JOIN hist h
      ON h.c_custkey = o.o_custkey
     AND CAST(o.o_orderdate AS TIMESTAMP) >= h.valid_from
     AND (h.valid_to IS NULL
          OR CAST(o.o_orderdate AS TIMESTAMP) < h.valid_to)
    """,
)
def q_scd2_point_in_time_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time join (operators/scd2.py:pit_join): every order
    picks the customer-dimension VERSION valid at its order date —
    the read side of SCD2 and the as-of discipline that keeps
    training features from leaking the future. History here is a
    deterministic two-version construction (every third customer's
    segment migrates on 1996-06-01) so orders before/after the
    migration date provably land on different versions. The range
    predicate rides the c_custkey hash join as a residual filter."""
    from taxi_trips_etl_spark.operators.scd2 import pit_join

    c = _t(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.lit("1996-06-01").cast("timestamp"),
        ).alias("valid_to"),
    )
    v2 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.lit("MIGRATED").alias("seg"),
            F.lit("1996-06-01").cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    hist = v1.unionByName(v2)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )
    joined = pit_join(o, hist)
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "order_date",
        F.col("seg").alias("segment_at_order"),
    )


@register(
    "snapshot_diff_customers",
    """
    WITH oldv AS (SELECT c_custkey, c_mktsegment, c_acctbal
                  FROM customer),
    newv AS (
        SELECT c_custkey, 
               CASE WHEN c_custkey % 7 = 0 THEN 'RESEGMENTED'
                    ELSE c_mktsegment END AS c_mktsegment,
               c_acctbal
        FROM customer WHERE c_custkey % 13 != 0
        UNION ALL
        SELECT c_custkey + 10000000, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 17 = 0
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.c_mktsegment != n.c_mktsegment
                     OR o.c_acctbal != n.c_acctbal THEN 'changed'
           END AS change_type
    FROM oldv o FULL OUTER JOIN newv n ON o.c_custkey = n.c_custkey
    WHERE (o.c_custkey IS NULL OR n.c_custkey IS NULL
           OR o.c_mktsegment != n.c_mktsegment
           OR o.c_acctbal != n.c_acctbal)
    """,
)
def q_snapshot_diff_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot diff (operators/diff.py): classify keys as added /
    removed / changed between two table versions (the daily-load audit
    report). The new snapshot is a deterministic mutation of the old
    (every 13th key dropped, every 7th resegmented, every 17th
    re-keyed in as an addition); the oracle replays the FULL OUTER
    classification with direct attribute compares, proving the md5
    row-hash decides exactly like column equality. One key shuffle;
    unchanged keys never leave the join."""
    from taxi_trips_etl_spark.operators.diff import snapshot_diff

    c = _t(spark, sf_dir, "customer")
    old = c.select("c_custkey", "c_mktsegment", "c_acctbal")
    new = (
        old.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 7 == 0, "RESEGMENTED")
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            "c_acctbal",
        )
        .unionByName(
            old.filter(F.col("c_custkey") % 17 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                "c_mktsegment",
                "c_acctbal",
            )
        )
    )
    return snapshot_diff(old, new, attrs=["c_mktsegment", "c_acctbal"])


def _sssp_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.graph import ROUNDS

    head = (
        "WITH " + _KCORE_EDGES_SQL.replace(
            "e0 AS (SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon)",
            """wedges AS (
        SELECT src, dst, min((src + dst) % 7 + 1) AS w
        FROM dedges GROUP BY src, dst
    ),
    start AS (SELECT min(least(src, dst)) AS s FROM wedges),
    d0 AS MATERIALIZED (SELECT (SELECT s FROM start) AS node,
                               CAST(0 AS BIGINT) AS dist)""",
        )
    )
    ctes = []
    for r in range(1, ROUNDS + 1):
        ctes.append(f"""
    d{r} AS MATERIALIZED (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{r - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM d{r - 1} d JOIN wedges e ON e.src = d.node
        ) GROUP BY node
    )""")
    return head + "," + ",".join(ctes) + f"""
    SELECT node, dist FROM d{ROUNDS}
    """


@register("graph_shortest_paths", _sssp_oracle())
def q_graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bellman-Ford from the lowest supplier node over the directed
    transition graph with deterministic integer weights
    ((src+dst) % 7 + 1) — graph_bfs_hops' relaxation skeleton with
    the weight sum swapped in, exactly as its docstring promises.
    Oracle: the 10-round unrolled relaxation (labels after r rounds =
    shortest distance over ≤ r-edge paths, in both engines)."""
    from taxi_trips_etl_spark.dataprep.graph import shortest_paths

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    reps = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.min("l_suppkey").alias("rep"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    edges = (
        reps.select("rep", F.lag("rep").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("rep")))
        .select(F.col("prev").alias("src"), F.col("rep").alias("dst"))
        .distinct()
        .withColumn("w", (F.col("src") + F.col("dst")) % 7 + 1)
    )
    # deliberate 1-value collect: source_node is a Python int in the
    # operator's API (it parameterizes the frontier seed), not a plan
    # column — a bounded scalar probe, not a data-sized collect
    source = edges.agg(
        F.min(F.least("src", "dst")).alias("s")
    ).collect()[0]["s"]
    return shortest_paths(edges, source_node=int(source))


from taxi_trips_etl_spark.queries._registry import (  # noqa: E402
    TRIPS_SQL,
    _norm_trips,  # noqa: F401  (documents the family this belongs to)
)


@register(
    "observed_scan_metrics",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
               AS n_rejected,
           CAST(sum(CASE WHEN passenger_count IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_passengers,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept_action
    FROM (
        SELECT *,
               (pickup_datetime != dropoff_datetime
                AND passenger_count != 0 AND passenger_count IS NOT NULL
                AND trip_distance != 0 AND trip_distance IS NOT NULL
                AND fare_amount != 0) AS ok
        FROM ({TRIPS_SQL})
    )
    """,
)
def q_observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation-API audit counters
    (operators/normalize.py:observed_normalize_metrics): the
    normalization pass emits total/kept/rejected/null-cause counts
    from the SAME scan that computes the business result — the way a
    100 TB pipeline affords per-run data-quality metrics (a separate
    metrics aggregate would double the fact-table read). The action's
    own count cross-checks the observed n_kept; the oracle recomputes
    every counter from the raw feed."""
    from taxi_trips_etl_spark.operators.normalize import (
        observed_normalize_metrics,
    )
    from taxi_trips_etl_spark.sources.taxi_testdata import (
        trips_from_lineitem,
    )

    trips = trips_from_lineitem(_t(spark, sf_dir, "lineitem"))
    m = observed_normalize_metrics(trips)
    from taxi_trips_etl_spark.sources.localrel import local_rows

    return local_rows(
        spark,
        [(
            int(m["n_total"]),
            int(m["n_kept"]),
            int(m["n_rejected"]),
            int(m["n_null_passengers"]),
            int(m["n_kept_action"]),
        )],
        "n_total long, n_kept long, n_rejected long, "
        "n_null_passengers long, n_kept_action long",
    )


from taxi_trips_etl_spark.queries._registry import TOKS_SQL  # noqa: E402

_V3_FIVE_GRAM = """
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len({toks}) - 4),
               i -> concat_ws(' ', {toks}[i], {toks}[i+1],
                              {toks}[i+2], {toks}[i+3], {toks}[i+4]))))
               AS gram
    FROM {src} WHERE len({toks}) >= 5
"""


@register(
    "corpus_prepare_v3",
    f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                    % 64 AS BIGINT) AS bucket,
               count(*) AS n
        FROM (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents)
        GROUP BY 1, 2
    ),
    gate AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   sum(n * ((bucket * 37 + 11) % 21 - 10)) AS m
            FROM feat GROUP BY doc_id
        ) WHERE m > 0
    ),
    g AS (SELECT d.* FROM documents d JOIN gate USING (doc_id)),
    canon AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
    k2 AS (SELECT g.* FROM g JOIN canon USING (doc_id)
           WHERE doc_id % 20 != 0),
    evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
    cg AS ({_V3_FIVE_GRAM.format(toks=TOKS_SQL, src="k2")}),
    eg AS ({_V3_FIVE_GRAM.format(toks=TOKS_SQL, src="evald")}),
    contaminated AS (
        SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (gram)
        WHERE cg.doc_id != eg.doc_id
    ),
    k3 AS (SELECT * FROM k2
           WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    avail AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({TOKS_SQL})) AS BIGINT) AS available_tokens
        FROM k3 GROUP BY source
    ),
    wts AS (
        SELECT *, CASE WHEN source IN ('src0','src1','src2','src3','src4')
                       THEN 3
                       WHEN source IN ('src5','src6','src7','src8','src9')
                       THEN 2 ELSE 1 END AS w
        FROM avail
    ),
    calc AS (
        SELECT *, (100000 * w) // (SELECT sum(w) FROM wts) AS base,
               (100000 * w) % (SELECT sum(w) FROM wts) AS rem
        FROM wts
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr
        FROM calc
    )
    SELECT source, n_docs, available_tokens,
           CAST(base + CASE WHEN rr <= (100000 -
                  (SELECT sum(base) FROM calc)) THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
)
def q_corpus_prepare_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 composed pipeline (dataprep/corpus.py:prepare_corpus_v3):
    classifier gate → exact dedup → decontamination → Hamilton token
    budgeting over surviving sources — the MODEL-DRIVEN curation path
    next to v2's rule-driven one, hash-matched end to end."""
    from taxi_trips_etl_spark.dataprep.corpus import prepare_corpus_v3

    return prepare_corpus_v3(_t(spark, sf_dir, "documents"))


from taxi_trips_etl_spark.queries._dedup_sim_text import (  # noqa: E402
    _MINHASH_BANDS_SQL,
    _MINHASH_SIG_SQL,
)
from taxi_trips_etl_spark.queries._registry import GRAMS_SQL  # noqa: E402


@register(
    "minhash_lsh_recall",
    f"""
    WITH g AS (SELECT doc_id, grams, len(grams) AS n FROM ({GRAMS_SQL})
               WHERE len(grams) > 0),
    truth AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b FROM g a
        JOIN g b ON a.doc_id < b.doc_id
         AND least(a.n, b.n) >= greatest(a.n, b.n) * 0.7
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.grams, b.grams)))
              >= 0.7
    ),
    shingled AS ({GRAMS_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} FROM shingled),
    bands AS ({_MINHASH_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    hit AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
           (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM truth), 4) AS recall,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM cand), 4) AS precision
    """,
)
def q_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision audit for MinHash-LSH banding (the text
    twin of embedding_near_dup_recall): band-collision candidates vs
    EXACT 3-gram Jaccard >= 0.7 pairs — ground truth comes from the
    hash-verified ngram_jaccard operator (PPJoin prefix + sound
    size-ratio bound: least(na,nb) >= 0.7*greatest(na,nb) is implied
    by j >= 0.7), so no quadratic brute force is needed and the audit
    runs on the FULL corpus at every sf. The banding S-curve
    (1-(1-s^4)^4 at 4x4) becomes a measured, driver-verified number
    instead of a formula in prose."""
    from taxi_trips_etl_spark.dataprep.dedup import (
        lsh_bands,
        minhash_signature,
        ngram_jaccard_pairs,
    )
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, threshold=0.7).select(
        "doc_id_a", "doc_id_b"
    )
    # checkpoint before the self-join — both sides would otherwise
    # recompute the 16-min md5 signature aggregation (no ReusedExchange)
    bands = lsh_bands(minhash_signature(docs)).transform(
        materialize, eager=False
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    # ONE full-outer join + ONE aggregate replaces the old
    # three-separate-counts + intersect shape (5 jobs -> 1): each
    # pair row carries membership flags and the counts fall out of
    # three conditional sums over the same stream.
    tagged = (
        truth.withColumn("in_truth", F.lit(1))
        .join(
            cand.withColumn("in_cand", F.lit(1)),
            ["doc_id_a", "doc_id_b"],
            "full",
        )
        .select(
            F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
            F.coalesce(F.col("in_cand"), F.lit(0)).alias("in_cand"),
        )
    )
    return tagged.agg(
        F.sum("in_truth").cast("long").alias("n_true"),
        F.sum("in_cand").cast("long").alias("n_cand"),
        F.sum(F.col("in_truth") * F.col("in_cand"))
        .cast("long")
        .alias("n_hit"),
    ).select(
        "n_true",
        "n_cand",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
            4,
        ).alias("recall"),
        F.round(
            F.col("n_hit").cast("double") / F.col("n_cand").cast("double"),
            4,
        ).alias("precision"),
    )
