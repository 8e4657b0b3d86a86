"""Event-time windowing catalog entries (SURVEY.md §2.11, §7.6).

Batch halves of the streaming surface, hash-checked against DuckDB.
Each entry's logical plan is the same one
:mod:`virapipe_spark.streaming` runs incrementally on a stream
(tests/test_streaming.py asserts batch == streamed results).

Window-start arithmetic is spelled out as epoch math in the oracles;
Spark's ``F.window`` aligns tumbling windows to the epoch in UTC
(session timezone pinned in session.py), so ``floor(epoch_us / width) *
width`` is the identical bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from virapipe_spark.catalog import query, table
from virapipe_spark import streaming as vstream
from virapipe_spark.scale import KeyedRanges, spread_scan, truncate_lineage

_DAY_US = 86_400_000_000


@query(
    "window_tumbling",
    oracle=f"""
    SELECT make_timestamp(CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT)
                          * {_DAY_US}) AS w_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY w_start, event_type
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event type — the batch twin of
    streaming.tumbling_counts. Shuffle keys = (window, type): state and
    shuffle bounded by windows x types, not events."""
    ev = table(spark, sf_dir, "events")
    return vstream.tumbling_counts(ev, window="1 day")


@query(
    "window_sliding",
    oracle=f"""
    WITH offs AS (SELECT unnest([0, 1]) AS o),
    assigned AS (
      SELECT make_timestamp((CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT)
                             - o) * {_DAY_US}) AS w_start
      FROM events, offs
    )
    SELECT w_start, count(*) AS n
    FROM assigned
    GROUP BY w_start
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day/1-day windows — each event replicated into its 2
    covering windows (the oracle spells the replication out; Spark's
    F.window does it natively). Replication factor = window/slide: keep
    it small at scale or pre-aggregate per slide then roll up."""
    ev = table(spark, sf_dir, "events")
    return vstream.sliding_counts(ev, window="2 days", slide="1 day")


_GAP_US = 12 * 3_600_000_000  # 12 hours


@query(
    "sessionize_events",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM flagged
    )
    SELECT user_id, sid,
           min(ts) AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total
    FROM sess
    GROUP BY user_id, sid
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (12 h inactivity gap), the lag+cumsum
    batch formulation of ``F.session_window``: flag gap-openers with
    lag(), number sessions with a running sum, aggregate per session.
    The event_id tiebreak makes lag() deterministic under microsecond
    ties.

    r12 rewrite: the lag and the running sum run on
    ``scale.KeyedRanges`` (distributed segmented scan) instead of
    ``W.partitionBy("user_id")`` windows. A per-user window serializes
    each user onto one task — at 100 TB a bot user with 1B events is a
    single-task 1B-row sort, the skew-tier blind spot the global-window
    audit never covered (partitioned windows are not global). KeyedRanges
    range-partitions over (user_id, ts, event_id) so a hot user SPLITS
    across ranges (each bounded by target_rows_per_range); the boundary
    lag carry and the chained prefix-sum carry are partition-count-sized
    driver collects. Bit-identical to the window formulation at sf0.01,
    sf0.1 and the 30%-hot skew synth (and twin-tested in
    tests/test_scale_plans.py); the streaming twin
    (streaming.session_aggregate) replaces the sort with stateful
    session merge."""
    ev = table(spark, sf_dir, "events")
    kr = KeyedRanges(ev, "user_id", ["ts", "event_id"], carry_cols=("ts",))
    f = kr.lag_col(kr.frame, "ts", "__prev_ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("__prev_ts"))
    f = f.withColumn(
        "new_s",
        F.when(gap_us.isNull() | (gap_us > _GAP_US), 1).otherwise(0),
    )
    sess = kr.prefix_sum(f, "new_s", "sid")
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "events_retention_cohort",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             CAST(floor(epoch_us(min(ts)) / {_DAY_US}) AS BIGINT) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day
      FROM events
    )
    SELECT f.cohort_day,
           a.day - f.cohort_day AS day_offset,
           count(*) AS n_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY f.cohort_day, day_offset
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the classic training-telemetry rollup: users
    bucketed by first-seen day, activity counted per (cohort, day
    offset). ``count(*)`` over the distinct (user, day) activity set ==
    count(DISTINCT user) per cell, without a second distinct aggregate.

    Scale: both aggregates shuffle on user_id/day — high-cardinality
    keys. The firsts table (one row per user) is deliberately NOT
    hinted to broadcast: it grows with the user base (unbounded at the
    100 TB bar), and even locally the forced broadcast of a
    post-shuffle aggregate MEASURED SLOWER than letting the planner
    join it — 0.68 s vs 0.44 s median-of-5 at sf0.1 — because the hint
    pays collect-to-driver + rebroadcast for a relation the join could
    consume already partitioned by user_id. AQE still converts to
    broadcast at runtime when firsts is genuinely small. No window
    function needed — min-per-user is a plain partial-aggregated
    groupBy."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY k_bucket
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a field out of the ``props``
    JSON column and aggregate on it — the pattern every telemetry
    pipeline needs (Spark: get_json_object, JVM-side JSON path eval;
    DuckDB: json_extract_string). Malformed JSON rows fall into the
    null bucket on both engines rather than erroring.

    Scale: extraction is a codegen'd projection in the scan stage;
    the aggregate shuffles 10 buckets. At 100 TB prefer promoting hot
    JSON fields to typed columns at ingest (schema-on-write), keeping
    get_json_object for the long tail."""
    ev = table(spark, sf_dir, "events")
    k_bucket = (
        F.get_json_object(F.col("props"), "$.k").cast("int") % 10
    ).alias("k_bucket")
    return ev.groupBy(k_bucket).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


@query(
    "events_asof_join",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, 0 AS is_click,
             value AS view_value, CAST(NULL AS DOUBLE) AS click_value
      FROM events WHERE event_type = 'view'
      UNION ALL
      SELECT user_id, ts, event_id, 1, CAST(NULL AS DOUBLE), value
      FROM events WHERE event_type = 'click'
    ),
    filled AS (
      SELECT *,
             last_value(view_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, is_click, event_id
               ROWS UNBOUNDED PRECEDING) AS last_view_value
      FROM tagged
    )
    SELECT user_id, event_id, ts,
           click_value AS value, last_view_value
    FROM filled WHERE is_click = 1
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — an operator Spark has no primitive for, composed
    scalably: for every click, the value of the same user's most recent
    view at-or-before it. Instead of an inequality join (quadratic per
    user), the two streams are UNIONed with a tag and a single
    last-non-null window carries each view's value forward to the
    clicks after it — one shuffle on user_id, linear scan per user.

    Ties: a view at the exact click timestamp counts (is_click orders
    views first at equal ts); event_id makes the order total. Clicks
    with no prior view keep a NULL (left-asof semantics).

    Scale: this is the canonical time-series enrichment at 100 TB —
    partition by entity, one ordered pass; no candidate pairs ever
    materialize (contrast events_range_join, where pair formation is
    the semantics)."""
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("is_click"),
        F.col("value").alias("view_value"),
        F.lit(None).cast("double").alias("click_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_click"),
        F.lit(None).cast("double").alias("view_value"),
        F.col("value").alias("click_value"),
    )
    # r12: the as-of carry runs on scale.KeyedRanges.prefix_last
    # (segmented scan) — one hot user's merged stream cannot
    # serialize onto one window task; see sessionize_events
    kr = KeyedRanges(
        views.union(clicks), "user_id", ["ts", "is_click", "event_id"]
    )
    filled = kr.prefix_last(kr.frame, "view_value", "last_view_value")
    return filled.filter(F.col("is_click") == 1).select(
        "user_id",
        "event_id",
        "ts",
        F.col("click_value").alias("value"),
        "last_view_value",
    )


_RANGE_US = 1_800_000_000  # ±30 minutes


@query(
    "events_range_join",
    oracle=f"""
    SELECT e.event_id AS e_id, count(*) AS n_nearby
    FROM events e JOIN events o
      ON e.user_id = o.user_id
     AND o.event_id <> e.event_id
     AND abs(epoch_us(o.ts) - epoch_us(e.ts)) <= {_RANGE_US}
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE join (time-proximity) — the second operator Spark lacks a
    primitive for: per error event, how many same-user events fall
    within ±30 minutes. A naive theta-join is quadratic per user; the
    scalable decomposition buckets time at the range width, explodes
    each probe into its 3 covering buckets, equi-joins on
    (user, bucket) — Catalyst shuffles on real keys — and applies the
    exact |Δt| predicate on the narrowed candidates. Each true pair
    matches in EXACTLY one bucket (the build side keeps its single home
    bucket), so no dedup pass is needed.

    Scale: candidate volume = sum over (user, bucket) of n_err × n_evt
    — bounded by activity density, not corpus²; bucket width tunes the
    false-candidate rate. The same shape handles genomic interval
    overlap (contig ⋈ annotation) and any proximity predicate."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bucket = F.floor(us / F.lit(_RANGE_US)).cast("long")
    others = ev.select(
        "user_id",
        F.col("event_id").alias("o_id"),
        us.alias("o_us"),
        bucket.alias("b"),
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.col("event_id").alias("e_id"), us.alias("e_us"), bucket.alias("eb"))
        .withColumn("b", F.explode(F.array(F.col("eb") - 1, F.col("eb"), F.col("eb") + 1)))
    )
    pairs = errors.join(others, ["user_id", "b"]).filter(
        (F.col("o_id") != F.col("e_id"))
        & (F.abs(F.col("o_us") - F.col("e_us")) <= _RANGE_US)
    )
    return pairs.groupBy("e_id").agg(F.count("*").alias("n_nearby"))


@query(
    "events_stream_interval_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
    FROM events v JOIN events c ON v.user_id = c.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND c.ts >= v.ts
      AND epoch_us(c.ts) - epoch_us(v.ts) <= 4::BIGINT * 3600 * 1000000
    """,
)
def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join
    (streaming.interval_join): clicks matched to the same user's views
    within the preceding 4 hours. The streaming half — two watermarked
    streams joining each other with state bounded by the interval — is
    parity-tested in tests/test_streaming.py; this half is the
    hash-checked plan."""
    return vstream.interval_join(
        table(spark, sf_dir, "events"), interval="4 hours"
    )


@query(
    "events_rollup",
    oracle=f"""
    SELECT event_type,
           make_timestamp(CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT)
                          * {_DAY_US}) AS day,
           CAST(grouping(event_type) * 2
                + grouping(make_timestamp(CAST(floor(epoch_us(ts) / {_DAY_US})
                                          AS BIGINT) * {_DAY_US}))
                AS BIGINT) AS gid,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY ROLLUP (event_type,
                     make_timestamp(CAST(floor(epoch_us(ts) / {_DAY_US})
                                    AS BIGINT) * {_DAY_US}))
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (event_type -> day -> grand
    total) — the GROUPING SETS surface, previously uncovered: one pass
    produces per-(type, day) cells, per-type subtotals, and the grand
    total, with grouping_id disambiguating genuine NULL keys from
    subtotal markers.

    Scale: Spark plans rollup as a single Expand + hash aggregate —
    each input row fans out once per grouping set (3x here) with
    map-side partial aggregation, so shuffle volume is bounded by
    distinct (set, keys) combos, not by the 3x row fan-out. The
    Catalyst-native answer to what would otherwise be three separate
    aggregations unioned."""
    ev = table(spark, sf_dir, "events")
    day = F.timestamp_micros(
        (F.floor(F.unix_micros("ts") / F.lit(_DAY_US)) * _DAY_US).cast("long")
    )
    return (
        ev.select("event_type", day.alias("day"), "value")
        .rollup("event_type", "day")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select("event_type", "day", "gid", "n", "total")
    )


@query(
    "events_pivot_daily",
    oracle=f"""
    SELECT make_timestamp(CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT)
                          * {_DAY_US}) AS day,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup') AS n_signup,
           count(*) FILTER (event_type = 'error') AS n_error
    FROM events GROUP BY day
    """,
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format daily event matrix via ``pivot`` — the
    long-to-wide reshape every reporting layer runs. The pivot value
    list is EXPLICIT (the five known event types): without it Spark
    must run an extra distinct-values job just to learn the output
    schema, and the schema becomes data-dependent — both wrong at
    100 TB (and the oracle gate needs a stable schema).

    Scale: explicit-list pivot compiles to one hash aggregate with a
    conditional-count expression per listed type (exactly the FILTER
    form the oracle spells) — one shuffle keyed by day, no extra
    pass."""
    ev = table(spark, sf_dir, "events")
    day = F.timestamp_micros(
        (F.floor(F.unix_micros("ts") / F.lit(_DAY_US)) * _DAY_US).cast("long")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        ev.select(day.alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
    )
    return wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


@query(
    "events_enrich_static",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def events_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join
    (streaming.enrich_with_dim): every event decorated with its user's
    dimension row (nation here, via the deterministic user_id%25 key),
    then rolled up per dimension value. On a stream the dim side is a
    static broadcast re-read per micro-batch — the standard streaming
    enrichment; parity in tests/test_streaming.py.

    Scale: the dim is a 25-row broadcast — the fact side never
    shuffles for the join, only for the tiny per-name rollup."""
    ev = table(spark, sf_dir, "events")
    dim = table(spark, sf_dir, "nation")
    return vstream.enrich_with_dim(
        ev, dim, ev["user_id"] % 25 == dim["n_nationkey"]
    ).groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "events_scd2_history",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events WHERE event_type = 'signup'
    ),
    changes AS (
      SELECT user_id, ts, event_id, k,
             lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_k
      FROM src
    ),
    versions AS (
      SELECT user_id, ts AS valid_from, event_id, k
      FROM changes WHERE prev_k IS NULL OR k <> prev_k
    )
    SELECT user_id, k, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to
    FROM versions
    """,
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 derivation — the warehouse
    operator that turns an event log into a versioned history table:
    per user, each CHANGE of the tracked attribute (props.k on signup
    events) opens a new version row with [valid_from, valid_to) bounds;
    consecutive duplicates collapse; the live version has NULL
    valid_to. Point-in-time joins (events_asof_join) read exactly this
    shape.

    Scale: two windows, both PARTITIONED by user_id (high cardinality,
    no global window), shuffling once on user; the change filter runs
    between them without re-shuffling (same partitioning, Catalyst
    reuses the Exchange). JSON extraction happens once at the scan
    behind the event_type pushdown."""
    src = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
    )
    # r12: both passes on scale.KeyedRanges (segmented scan) — a hot
    # user's version history never lands on one window task; see
    # sessionize_events. The lag column (k) is nullable: lag_col's
    # row-identity boundary matching round-trips genuine NULLs.
    kr = KeyedRanges(src, "user_id", ["ts", "event_id"], carry_cols=("k",))
    changes = kr.lag_col(kr.frame, "k", "prev_k")
    versions = changes.filter(
        F.col("prev_k").isNull() | (F.col("k") != F.col("prev_k"))
    ).select("user_id", F.col("ts").alias("valid_from"), "event_id", "k")
    # total order (event_id tiebreak): two same-ts changes of one user
    # would otherwise make lead() engine-arbitrary. The versions frame
    # is change-count-sized but still per-user — second segmented scan.
    kr2 = KeyedRanges(
        versions, "user_id", ["valid_from", "event_id"],
        carry_cols=("valid_from",),
    )
    return kr2.lead_col(kr2.frame, "valid_from", "valid_to").select(
        "user_id", "k", "valid_from", "valid_to"
    )


@query(
    "events_upsert_merge",
    oracle="""
    WITH base AS (
      SELECT event_id // 2 AS k, value, ts FROM events
      WHERE event_id % 2 = 0
    ),
    updates AS (
      SELECT event_id // 2 AS k, value, ts FROM events
      WHERE event_id % 2 = 1
    )
    SELECT coalesce(u.k, b.k) AS k,
           coalesce(u.value, b.value) AS value,
           coalesce(u.ts, b.ts) AS ts,
           CASE WHEN u.k IS NULL THEN 'kept'
                WHEN b.k IS NULL THEN 'inserted'
                ELSE 'updated' END AS action
    FROM base b FULL OUTER JOIN updates u ON b.k = u.k
    """,
)
def events_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch upsert (MERGE INTO semantics without a transactional
    table format): an updates batch merged onto a base snapshot —
    updates overwrite matching keys, unmatched updates insert,
    unmatched base rows carry over, and every output row is labeled
    with its merge action. The incremental-ingest primitive every
    lakehouse pipeline runs; derived here from the event log (even
    event_ids = base, odd = updates, colliding on event_id div 2 so
    all three actions occur).

    Scale: one full-outer equi-join on the merge key — both sides
    shuffle by k exactly once. On a real lake, bucket base and updates
    on k (scale.write_bucketed) and the merge becomes shuffle-free;
    with a transactional format the same plan runs under MERGE INTO.
    Action labeling is null-flag arithmetic, no extra pass."""
    ev = table(spark, sf_dir, "events")
    # integer div, not /-then-cast: float division loses exactness past
    # 2^53 and the merge key must never drift at scale
    k = F.expr("event_id div 2")
    base = ev.filter(F.col("event_id") % 2 == 0).select(
        k.alias("k"), F.col("value").alias("b_value"), F.col("ts").alias("b_ts")
    )
    updates = ev.filter(F.col("event_id") % 2 == 1).select(
        k.alias("uk"), F.col("value").alias("u_value"), F.col("ts").alias("u_ts")
    )
    m = base.join(updates, base["k"] == updates["uk"], "full_outer")
    return m.select(
        F.coalesce("uk", "k").alias("k"),
        F.coalesce("u_value", "b_value").alias("value"),
        F.coalesce("u_ts", "b_ts").alias("ts"),
        F.when(F.col("uk").isNull(), F.lit("kept"))
        .when(F.col("k").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("action"),
    )


#: 8-bit-per-dimension Morton (Z-order) interleave, spelled identically
#: in Spark SQL and DuckDB SQL: bit i of dim a lands at position 2i,
#: bit i of dim b at 2i+1.
_Z_EXPR = "(((a >> 0) & 1) << 0) + (((b >> 0) & 1) << 1) + (((a >> 1) & 1) << 2) + (((b >> 1) & 1) << 3) + (((a >> 2) & 1) << 4) + (((b >> 2) & 1) << 5) + (((a >> 3) & 1) << 6) + (((b >> 3) & 1) << 7) + (((a >> 4) & 1) << 8) + (((b >> 4) & 1) << 9) + (((a >> 5) & 1) << 10) + (((b >> 5) & 1) << 11) + (((a >> 6) & 1) << 12) + (((b >> 6) & 1) << 13) + (((a >> 7) & 1) << 14) + (((b >> 7) & 1) << 15)"


@query(
    "events_zorder_layout",
    oracle=f"""
    WITH dims AS (
      SELECT event_id,
             user_id % 256 AS a,
             (epoch_us(ts) // 3600000000) % 256 AS b
      FROM events
    ),
    z AS (SELECT event_id, a, b, {_Z_EXPR} AS zval FROM dims)
    SELECT zval // 1024 AS zbucket,
           count(*) AS n,
           min(a) AS a_min, max(a) AS a_max,
           min(b) AS b_min, max(b) AS b_max
    FROM z GROUP BY zbucket
    """,
)
def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys — the multi-dimensional data-
    clustering primitive behind Delta/Iceberg OPTIMIZE ZORDER, computed
    with plain integer arithmetic: interleave the low 8 bits of two
    dimensions (user bucket, hour bucket) so range-partitioning by the
    resulting key co-locates rows that are close in BOTH dimensions.
    The entry reports per-1024-key-range file buckets with their
    min/max on each dimension — exactly the footer statistics a scan
    would prune on; tight boxes = effective skipping on either
    predicate.

    Scale: the z-value is a zero-shuffle codegen projection; the only
    shuffle is the per-bucket stats rollup (bounded by bucket count).
    The production write is `df.repartitionByRange(N, "zval")
    .write.parquet(...)` — same keys, and every parquet file then
    carries bounded (user, hour) ranges, so predicates on either
    column skip most files. Bit-twiddling stays in both engines'
    integer SQL — no UDF."""
    ev = table(spark, sf_dir, "events")
    dims = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("a"),
        (F.expr("unix_micros(ts) div 3600000000") % 256).alias("b"),
    )
    z = dims.select("event_id", "a", "b", F.expr(_Z_EXPR).alias("zval"))
    return (
        z.groupBy(F.expr("zval div 1024").alias("zbucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("a").alias("a_min"),
            F.max("a").alias("a_max"),
            F.min("b").alias("b_min"),
            F.max("b").alias("b_max"),
        )
    )


@query(
    "events_active_users_7d",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day
      FROM events
    ),
    cover AS (
      SELECT DISTINCT user_id, day + o AS wday
      FROM act, (SELECT unnest(generate_series(0, 6)) AS o) offs
    )
    SELECT wday, count(*) AS n_active
    FROM cover GROUP BY wday
    """,
)
def events_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day active users per day — the windowed COUNT
    DISTINCT no engine supports directly in a window frame. The
    scalable formulation: reduce to distinct (user, day) first, then
    replicate each activity day into the 7 window-end days it covers
    (the sliding-window cover trick window_sliding uses) and distinct-
    count per window day.

    Scale: the replication factor is the window length (7), applied
    AFTER the per-day distinct — so it amplifies user×day rows, not
    raw events. Both distincts and the final count shuffle on
    high-cardinality keys with partial aggregation; no global state
    beyond user×day. The streaming twin would be a sliding
    window + approx_count_distinct with a watermark."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    act = ev.select("user_id", day.alias("day")).distinct()
    cover = act.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("wday"),
    ).distinct()
    return cover.groupBy("wday").agg(F.count("*").alias("n_active"))


@query(
    "events_cdc_diff",
    oracle="""
    WITH old_s AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_id % 10 < 7 GROUP BY user_id
    ),
    new_s AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_id % 10 <> 3 GROUP BY user_id
    )
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.n AS old_n, n.n AS new_n,
           o.cents AS old_cents, n.cents AS new_cents
    FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.n <> n.n OR o.cents <> n.cents
    """,
)
def events_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC derivation): compare two per-user aggregate
    snapshots — deterministic event_id-modulus subsets standing in for
    "yesterday's" and "today's" table states — and emit one change row
    per user whose state differs, tagged insert/update/delete. The
    batch primitive behind every incremental-materialization pipeline
    (upsert-merge applies changes; this derives them).

    Values are compared in integer cents (round(value*100) summed as
    BIGINT) so the diff predicate is exact — a float sum's reduction
    order could otherwise invent or hide a change at the compare
    boundary (the embeddings quantization rule applied to money-like
    aggregates).

    Scale: two filtered partial-aggregated groupBys on user_id and one
    full-outer equi-join on the same key — Catalyst plans a single
    shuffle exchange per side, and AQE handles the skewed-user case.
    The change set (output) is bounded by changed users, not events."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")

    def snap(pred):
        return (
            ev.filter(pred)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).cast("long").alias("cents"),
            )
        )

    o = snap(F.col("event_id") % 10 < 7).alias("o")
    n = snap(F.col("event_id") % 10 != 3).alias("n")
    return (
        o.join(n, F.col("o.user_id") == F.col("n.user_id"), "full_outer")
        .filter(
            F.col("o.user_id").isNull()
            | F.col("n.user_id").isNull()
            | (F.col("o.n") != F.col("n.n"))
            | (F.col("o.cents") != F.col("n.cents"))
        )
        .select(
            F.coalesce(F.col("o.user_id"), F.col("n.user_id")).alias("user_id"),
            F.when(F.col("o.user_id").isNull(), "insert")
            .when(F.col("n.user_id").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("o.n").alias("old_n"),
            F.col("n.n").alias("new_n"),
            F.col("o.cents").alias("old_cents"),
            F.col("n.cents").alias("new_cents"),
        )
    )


@query(
    "events_user_trend",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id, day
    ),
    sums AS (
      SELECT user_id, count(*) AS n_days,
             CAST(sum(day) AS BIGINT) AS sx,
             CAST(sum(cents) AS BIGINT) AS sy,
             CAST(sum(day * day) AS BIGINT) AS sxx,
             CAST(sum(day * cents) AS BIGINT) AS sxy
      FROM daily GROUP BY user_id HAVING count(*) >= 2
    )
    SELECT user_id, n_days,
           round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / (n_days * sxx - sx * sx), 6) AS slope_cents_per_day
    FROM sums
    """,
)
def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend (slope of daily spend vs day) as a pure
    aggregate — regression pushed into the groupBy instead of a
    per-group Python fit. All moment sums (Σx, Σy, Σx², Σxy) are exact
    integers (days and cents), so the closed-form slope
    (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is one exactly-rounded double
    division — bit-identical across engines (the integer-moments
    answer to float covar/var reduction-order drift).

    Scale: two partial-aggregated shuffles (user×day, then user); the
    moment vector is 5 longs per group — the same mergeable-state
    shape as a sketch, so it composes with incremental maintenance.
    HAVING n>=2 guards the degenerate single-day denominator on both
    engines identically."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    sums = (
        daily.groupBy("user_id")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("day").cast("long").alias("sx"),
            F.sum("cents").cast("long").alias("sy"),
            F.sum(F.col("day") * F.col("day")).cast("long").alias("sxx"),
            F.sum(F.col("day") * F.col("cents")).cast("long").alias("sxy"),
        )
        .filter(F.col("n_days") >= 2)
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "user_id",
        "n_days",
        F.round(num.cast("double") / den, 6).alias("slope_cents_per_day"),
    )


@query(
    "events_late_arrivals",
    oracle=f"""
    WITH wm AS (
      SELECT user_id,
             CASE WHEN epoch_us(max(ts) OVER (
                          PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                       - epoch_us(ts) > {_DAY_US}
                  THEN 1 ELSE 0 END AS late
      FROM events
    )
    SELECT user_id, count(*) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_late
    FROM wm GROUP BY user_id
    """,
)
def events_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics replayed in batch: an event is LATE when it
    arrives (arrival order = the monotone ingest id event_id) with an
    event time more than 1 day behind the per-key high-water mark seen
    so far — exactly the rows ``withWatermark("ts", "1 day")`` would
    drop from a keyed stream. Auditing the would-be-dropped volume per
    key is how you size a production watermark before deploying it.

    Scale: the running max partitions by user_id (parallelism = key
    count, the same state partitioning the streaming engine uses) —
    never a global ORDER BY; the first row's empty frame yields NULL
    -> not late on both engines identically."""
    # r12: the running high-water mark is a keyed EXCLUSIVE prefix max
    # on scale.KeyedRanges — a hot key's history never lands on one
    # window task; see sessionize_events. The first row's NULL
    # watermark -> not late, exactly the empty-frame convention.
    ev = table(spark, sf_dir, "events")
    kr = KeyedRanges(
        ev.select("user_id", "event_id", "ts"), "user_id", ["event_id"]
    )
    f = kr.prefix_max(kr.frame, "ts", "__wm", inclusive=False)
    wm_us = F.unix_micros(F.col("__wm"))
    late = F.when(wm_us - F.unix_micros(F.col("ts")) > _DAY_US, 1).otherwise(0)
    return (
        f.select("user_id", late.alias("late"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("late").cast("long").alias("n_late"),
        )
    )


@query("events_hll_daily_merge")  # rows-only: HLL register layout is engine-specific
def events_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern:
    build one HyperLogLog sketch per (day) partition of the stream,
    then answer the weekly distinct-users question by MERGING sketches
    (``hll_union_agg``) instead of re-scanning events. Production keeps
    the daily sketch table (bytes per day) and serves any date-range
    cardinality from it.

    Self-validating output (no oracle — DuckDB's HLL is a different
    register layout by design): the exact weekly distinct count rides
    along from a parallel distinct aggregation, and ``within_5pct``
    certifies the merged estimate against it; pinned in
    tests/test_streaming.py. At 100 TB you'd drop the exact branch —
    it is the self-check, not the operator."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_est = daily.groupBy(F.expr("day div 7").alias("week")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    weekly_exact = (
        ev.select(F.expr(
            f"floor(unix_micros(ts) / {_DAY_US}) div 7"
        ).cast("long").alias("week"), "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count("*").alias("exact_users"))
    )
    rel_err = (
        F.abs(F.col("est_users") - F.col("exact_users"))
        / F.col("exact_users")
    )
    return weekly_est.join(weekly_exact, "week").select(
        "week",
        "est_users",
        "exact_users",
        (rel_err <= 0.05).alias("within_5pct"),
    )


@query(
    "events_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id, day
    ),
    stats AS (
      SELECT user_id, day, cents,
             count(*) OVER w AS n,
             CAST(sum(cents) OVER w AS BIGINT) AS sx,
             CAST(sum(cents * cents) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, day, cents
    FROM stats
    WHERE n >= 3
      AND (n * cents - sx) * (n * cents - sx) > 4 * (n * sxx - sx * sx)
    """,
)
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend-anomaly days: flag any day whose daily total sits
    more than 2 population standard deviations from that user's mean —
    with the z-score test algebraically cleared of division and sqrt:
    |x−μ|/σ > 2  ⟺  (n·x − Σx)² > 4·(n·Σx² − (Σx)²). Every operand is
    an exact integer (cents), so the flag can never disagree across
    engines at the boundary — float μ/σ would (the integer-moments
    rule events_user_trend applies to regression, applied to outlier
    detection).

    Scale: one partial-aggregated shuffle to (user, day), then an
    unordered per-user window (no sort — frame is the whole partition)
    carrying three moment columns. State per user = its day count;
    n >= 3 guards degenerate variances."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    w = W.partitionBy("user_id")
    stats = daily.select(
        "user_id",
        "day",
        "cents",
        F.count("*").over(w).alias("n"),
        F.sum("cents").over(w).cast("long").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("long").alias("sxx"),
    )
    dev = F.col("n") * F.col("cents") - F.col("sx")
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        stats.filter((F.col("n") >= 3) & (dev * dev > 4 * var_n2))
        .select("user_id", "day", "cents")
    )


@query(
    "events_value_histogram",
    oracle="""
    WITH c AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
    )
    SELECT cents // 2000 AS bucket,
           count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM c GROUP BY bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (20-unit bins, half-open) — the profiling
    primitive behind every value-distribution dashboard. Bin assignment
    is integer division of cent-quantized values, so a boundary row can
    never land in different bins across engines (width_bucket's
    double-arithmetic edges could differ by an ulp at exact bin
    boundaries; cents div 2000 cannot — the merge/Z-order integer-div
    rule).

    Scale: bucketing is a codegen'd projection in the scan stage; the
    aggregate shuffles ~30 groups with map-side partials — the same
    shape however many events exist."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(cents.alias("cents"))
        .groupBy(F.expr("cents div 2000").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    cnt AS (
      SELECT src, dst, count(*) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           round(CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY src) AS BIGINT), 6) AS p
    FROM cnt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the per-user event
    stream — the clickstream/journey primitive: count each (state →
    next state) bigram (lead() within user, event_id tiebreak) and
    normalize rows to probabilities. The probability is one division of
    two exact integers — exactly rounded, so both engines emit the same
    6dp value (the docs_tfidf_topterms rule).

    Scale: the sequence window partitions by user (state = one user's
    ordered events); the transition aggregate shuffles |types|² groups
    with map-side partials; the normalizing sum is a window over those
    same few groups. Nothing grows with event count except the first
    shuffle's input."""
    ev = table(spark, sf_dir, "events")
    # r12: lead() via scale.KeyedRanges (segmented scan) — a hot user
    # cannot serialize onto one window task; see sessionize_events
    kr = KeyedRanges(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id",
        ["ts", "event_id"],
        carry_cols=("event_type",),
    )
    seq = (
        kr.lead_col(kr.frame, "event_type", "dst")
        .filter(F.col("dst").isNotNull())
        .select(F.col("event_type").alias("src"), "dst")
    )
    cnt = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    wsrc = W.partitionBy("src")
    return cnt.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wsrc).cast("long"), 6
        ).alias("p"),
    )


@query(
    "events_gap_fill_ffill",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id, day
    ),
    spans AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1
      FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM spans
    )
    SELECT g.user_id, g.day,
           last_value(d.cents IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS UNBOUNDED PRECEDING) AS cents,
           (d.cents IS NULL) AS filled
    FROM grid g
    LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    """,
)
def events_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with forward fill — densify each user's
    daily series over [first, last] activity day and carry the last
    observation forward across the generated gaps (the resample+ffill
    every metrics pipeline needs before joining series pointwise).
    ``filled`` marks synthesized rows.

    Scale: the grid explodes span length per user (bounded by the date
    range, not event count); the value join is an equi-join on
    (user, day); the fill is a per-user ordered window with
    IGNORE NULLS last-value — the same state shape as sessionization.
    The first grid day always has a real observation (span starts at
    min(day)), so the fill never emits NULL."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    # r12: the forward fill runs on scale.KeyedRanges.prefix_last
    # (segmented scan) — a user with a years-long span cannot
    # serialize onto one window task; see sessionize_events
    dense = grid.join(daily, ["user_id", "day"], "left")
    kr = KeyedRanges(dense, "user_id", ["day"])
    return kr.prefix_last(kr.frame, "cents", "__f").select(
        "user_id",
        "day",
        F.col("__f").alias("cents"),
        F.col("cents").isNull().alias("filled"),
    )


@query(
    "events_decay_score",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01')
                  AS BIGINT) AS age_days
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(cents // CAST(power(2, age_days // 7) AS BIGINT))
                AS BIGINT) AS decayed_cents,
           CAST(sum(cents) AS BIGINT) AS raw_cents
    FROM d GROUP BY user_id
    """,
)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score: each event's cents are halved per
    7-day age bucket relative to a pinned as-of date (2024-02-01) —
    the recency-weighted ranking signal feature stores serve, in the
    repo's integer-exact idiom: decay is ``cents div 2^(age div 7)``
    (integer shifts, no float pow), so the per-user sums hash bitwise
    cross-engine. The as-of date is a parameter in production; pinned
    here so the oracle is closed-form.

    Scale: one projection (the decay arithmetic is codegen'd scan-side)
    + one map-side-combinable aggregate keyed on user_id — the same
    cost as a plain sum; no window, no self-join."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    decayed = F.expr(
        "CAST(round(value * 100) AS BIGINT) div "
        "CAST(pow(2, CAST(datediff(DATE'2024-02-01', CAST(ts AS DATE)) AS BIGINT) div 7) AS BIGINT)"
    )
    return (
        e.select("user_id", cents.alias("cents"), decayed.alias("dc"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("dc").cast("long").alias("decayed_cents"),
            F.sum("cents").cast("long").alias("raw_cents"),
        )
    )


_KMV_K = 16


@query(
    "events_kmv_mergeable",
    oracle=f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(floor(epoch_us(ts) / 86400000000 / 7) AS BIGINT) AS week,
             md5(CAST(user_id AS VARCHAR)) AS uh
      FROM events
    ),
    day_sketch AS (
      SELECT day, week, uh,
             row_number() OVER (PARTITION BY day ORDER BY uh) AS rn
      FROM (SELECT DISTINCT day, week, uh FROM h)
    ),
    merged AS (
      SELECT week, uh,
             row_number() OVER (PARTITION BY week ORDER BY uh) AS rn
      FROM (SELECT DISTINCT week, uh
            FROM day_sketch WHERE rn <= {_KMV_K})
    ),
    direct AS (
      SELECT week, uh,
             row_number() OVER (PARTITION BY week ORDER BY uh) AS rn
      FROM (SELECT DISTINCT week, uh FROM h)
    )
    SELECT m.week,
           max(m.uh) AS merged_kth,
           max(d.uh) AS direct_kth,
           max(m.uh) = max(d.uh) AS merge_ok
    FROM (SELECT week, uh FROM merged WHERE rn <= {_KMV_K}) m
    JOIN (SELECT week, uh FROM direct WHERE rn <= {_KMV_K}) d
      ON m.week = d.week
    GROUP BY m.week
    """,
)
def events_kmv_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch with its mergeability
    property verified EXACTLY — the second mergeable-sketch operator
    (the HLL rollup is rows-only; KMV is hash-checkable because a
    sketch IS just the k smallest hashes, which SQL can compute): per
    day keep the {_KMV_K} smallest md5(user_id) values; weekly sketch =
    {_KMV_K} smallest of the UNION of the week's day-sketches. The
    catalog row proves merge(day sketches) == sketch(whole week) by
    emitting both weekly k-th minima and their equality — the algebra
    that lets a 100 TB pipeline pre-sketch per partition and combine
    at read ((k-1)/kth_value is then the distinct estimate).

    Scale: distinct-then-top-k per day (shuffles keyed by day, then
    week — both map-side combinable after the distinct), never a
    global sort; sketches are k-row objects regardless of input
    size."""
    e = table(spark, sf_dir, "events")
    h = e.select(
        F.col("ts").cast("date").alias("day"),
        F.expr(
            "CAST(floor(unix_micros(ts) / 86400000000 / 7) AS BIGINT)"
        ).alias("week"),
        F.md5(F.col("user_id").cast("string")).alias("uh"),
    ).distinct()
    w_day = W.partitionBy("day").orderBy("uh")
    day_sketch = (
        h.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= _KMV_K)
        .select("week", "uh")
        .distinct()
    )
    w_week = W.partitionBy("week").orderBy("uh")
    merged = (
        day_sketch.withColumn("rn", F.row_number().over(w_week))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("week")
        .agg(F.max("uh").alias("merged_kth"))
    )
    direct = (
        h.select("week", "uh")
        .distinct()
        .withColumn("rn", F.row_number().over(w_week))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("week")
        .agg(F.max("uh").alias("direct_kth"))
    )
    return (
        merged.join(direct, "week")
        .select(
            "week",
            "merged_kth",
            "direct_kth",
            (F.col("merged_kth") == F.col("direct_kth")).alias("merge_ok"),
        )
    )


_CM_D = 4  # hash rows
_CM_W = 64  # buckets per row
_CM_NIB = (
    "(CASE WHEN ascii(substr(h, {p}, 1)) >= 97"
    " THEN ascii(substr(h, {p}, 1)) - 87"
    " ELSE ascii(substr(h, {p}, 1)) - 48 END)"
)
_CM_BUCKET = (
    f"({_CM_NIB.format(p=1)} * 16 + {_CM_NIB.format(p=2)}) % {_CM_W}"
)


@query(
    "events_count_min",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    hashed AS (
      SELECT user_id, n, j, {_CM_BUCKET} AS bucket
      FROM (SELECT user_id, n, j, md5(concat(j, ':', user_id)) AS h
            FROM per_user,
                 (SELECT unnest(generate_series(0, {_CM_D - 1})) AS j))
    ),
    counters AS (
      SELECT j, bucket, CAST(sum(n) AS BIGINT) AS c
      FROM hashed GROUP BY j, bucket
    )
    SELECT h.user_id, CAST(max(h.n) AS BIGINT) AS n_events,
           CAST(min(c.c) AS BIGINT) AS cm_estimate,
           CAST(min(c.c) AS BIGINT) >= CAST(max(h.n) AS BIGINT)
             AS no_underestimate
    FROM hashed h JOIN counters c ON h.j = c.j AND h.bucket = c.bucket
    GROUP BY h.user_id
    """,
    since=7,
)
def events_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch — the third mergeable sketch beside HLL
    (cardinality) and KMV (distinct minima): a {_CM_D}×{_CM_W} counter
    grid estimating per-key frequency under a fixed memory budget,
    with the CM guarantee (estimate never BELOW the true count)
    emitted as a checked boolean per key. The sketch is deterministic
    given its hash family — md5 nibbles, the repo's cross-engine hash
    idiom (`docs_hash_split`, `events_kmv_mergeable`) — so the whole
    construction hash-checks exactly against the oracle building the
    identical grid in SQL; no tolerance needed.

    Counts are pre-aggregated per key BEFORE the {_CM_D}-way hash-row
    explode, so the amplification touches distinct keys, not raw rows;
    the counter grid is {_CM_D * _CM_W} cells regardless of input size
    (broadcast back to the probe side), and per-row grids OR together
    by cell-wise addition — the mergeability that lets 1000 executors
    sketch partitions independently and combine on the reduce side.

    Scale: one map-side-combinable count shuffle (user_id), a
    constant-size counter aggregate, and a broadcast join back; the
    explode factor is the sketch depth ({_CM_D}), not data volume."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    hashed = (
        per_user.select(
            "user_id",
            "n",
            F.explode(
                F.array(*[F.lit(j) for j in range(_CM_D)])
            ).alias("j"),
        )
        .withColumn(
            "h", F.md5(F.concat(F.col("j"), F.lit(":"), F.col("user_id")))
        )
        .withColumn("bucket", F.expr(_CM_BUCKET))
    )
    counters = hashed.groupBy("j", "bucket").agg(
        F.sum("n").cast("long").alias("c")
    )
    return (
        hashed.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.min("c").cast("long").alias("cm_estimate"),
            (F.min("c") >= F.max("n")).alias("no_underestimate"),
        )
    )


@query(
    "events_stream_interval_left",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
      AND c.ts >= v.ts
      AND epoch_us(c.ts) - epoch_us(v.ts) <= 4::BIGINT * 3600 * 1000000
    """,
    since=7,
)
def events_stream_interval_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream LEFT OUTER attribution join
    (streaming.interval_join(how="left_outer")): every view row
    survives, unattributed views carry null click columns — the rows a
    funnel's drop-off analysis is ABOUT, which the inner twin
    (`events_stream_interval_join`) discards. The streaming half's
    distinguishing semantics — null emission gated on the watermark
    proving no match can still arrive, flushed across micro-batches —
    are exercised in tests/test_streaming.py::TestStreamIntervalOuter;
    this half hash-checks the identical logical plan in batch mode.

    Scale: same equi-join-on-user + range residual as the inner twin
    (state/candidates bounded by per-user activity density x interval);
    outer-ness adds no shuffle — unmatched rows stream out of the same
    join operator."""
    return vstream.interval_join(
        table(spark, sf_dir, "events"), interval="4 hours", how="left_outer"
    )


#: Two-proportion pooled z-score on exact integer counts — shared
#: verbatim by both engines (same float-determinism contract as the
#: extensions module's _BM25_TERM/_ABTT_COS trees): p-hats and the
#: pooled variance are fixed expression trees over 4 bigints.
_AB_Z = (
    "(CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL ELSE "
    "round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)"
    " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
    " * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
    " * (1.0 / n_a + 1.0 / n_b)), 6) END)"
)


@query(
    "events_ab_test_zscore",
    oracle=f"""
    WITH arms AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) > count(*)
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM arms
    )
    SELECT n_a, c_a, n_b, c_b,
           round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
           round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
           {_AB_Z} AS z_score,
           abs({_AB_Z}) >= 1.96 AS significant_95
    FROM agg
    """,
    since=7,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: two-proportion pooled z-test on per-user
    conversion (arm = user_id parity standing in for the assignment
    hash; conversion = the user's purchase share OVER-INDEXING its 1/5
    uniform expectation — an integer comparison giving a genuine
    mid-range rate; "any purchase ever" converts EVERYONE at these
    event volumes, which degenerates the pooled variance to zero and
    under ANSI mode — the driver's bare-session default — turns the z
    into DIVIDE_BY_ZERO, caught by the bare gate). Counts are exact
    integers from one user-grain aggregate, the z statistic is the
    verbatim-shared `_AB_Z` float tree (exactly-rounded ops on 4
    bigints — bitwise cross-engine) with the all-or-none degenerate
    case explicitly NULL via CASE (never an evaluated division), and
    the 95% verdict is a checked boolean. The analytics op every event
    pipeline ends at; with a user-count this size the parity split
    correctly reads not-significant.

    Scale: one user-keyed aggregate (map-side combinable max/count)
    collapsing events to users, then a 4-counter global fold — the
    z-score itself touches one row. Assignment by hash of user_id
    (here parity) is the standard stateless bucketing; CUPED or
    stratified variants add covariate moments to the same fold."""
    e = table(spark, sf_dir, "events")
    arms = e.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > F.count("*"),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).withColumn("arm", (F.col("user_id") % 2).cast("long"))
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    return agg.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(F.col("c_a").cast("double") / F.col("n_a"), 6).alias("rate_a"),
        F.round(F.col("c_b").cast("double") / F.col("n_b"), 6).alias("rate_b"),
        F.expr(_AB_Z).alias("z_score"),
        (F.abs(F.expr(_AB_Z)) >= 1.96).alias("significant_95"),
    )


@query(
    "events_rfm_segments",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(datediff('day', CAST(max(ts) AS DATE), DATE '2024-02-01')
                  AS BIGINT) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
             AS r_seg,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
             AS f_seg,
           CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id)
                AS BIGINT) AS m_seg
    FROM per_user
    """,
    since=7,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value quartiling:
    recency (days since last event vs the pinned as-of date the decay
    operator also uses), frequency (event count), monetary (exact
    cents), each quartiled with ntile(4). Every metric is an exact
    integer and every ntile ORDER BY carries user_id as the
    tie-breaker, so bucket boundaries are deterministic and the whole
    segmentation hashes bitwise (ntile over a tied order would be
    engine-dependent — the same total-order discipline as
    window_ntile_cume).

    Scale: one user-keyed aggregate, then three EXACT global ranks —
    each via scale.two_phase_rank (range-partitioned sort +
    control-plane offsets, NO global window; r10, replacing the old
    "documented but not implemented" approx-quantile note with the
    exact distributed path) — and scale.exact_ntile's closed form for
    the quartile, which reproduces both engines' window ntile sizing
    bit-for-bit. The oracle keeps its three plain windows: same
    numbers, different physical plan."""
    from virapipe_spark.scale import exact_ntile, two_phase_rank

    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-02-01").cast("date"), F.max("ts").cast("date")
        )
        .cast("long")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(cents).cast("long").alias("monetary_cents"),
    )
    cur, n = two_phase_rank(
        per_user, ["recency_days", "user_id"], rank_col="__rn_r"
    )
    cur, _ = two_phase_rank(
        cur, [F.col("frequency").desc(), "user_id"], rank_col="__rn_f"
    )
    cur, _ = two_phase_rank(
        cur,
        [F.col("monetary_cents").desc(), "user_id"],
        rank_col="__rn_m",
    )
    return cur.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        exact_ntile(F.col("__rn_r"), n, 4).alias("r_seg"),
        exact_ntile(F.col("__rn_f"), n, 4).alias("f_seg"),
        exact_ntile(F.col("__rn_m"), n, 4).alias("m_seg"),
    )


@query(
    "events_cohort_ltv",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             CAST(floor(epoch_us(min(ts)) / {_DAY_US}) AS BIGINT) AS cohort
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT f.cohort,
             CAST(floor(epoch_us(e.ts) / {_DAY_US}) AS BIGINT) - f.cohort
               AS age_days,
             CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    ),
    sizes AS (SELECT cohort, count(*) AS n_users FROM firsts GROUP BY 1)
    SELECT d.cohort, d.age_days, s.n_users,
           CAST(sum(d.cents) OVER (PARTITION BY d.cohort ORDER BY d.age_days
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           CAST(sum(d.cents) OVER (PARTITION BY d.cohort ORDER BY d.age_days
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             // s.n_users AS ltv_cents_per_user
    FROM daily d JOIN sizes s USING (cohort)
    """,
    since=7,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — cumulative value per signup cohort by age
    day, normalized per cohort user: the companion to
    `events_retention_cohort` (that one counts WHO comes back, this
    one integrates WHAT they spend). Exact integers throughout: cohort
    = epoch-day of first event, value in cents, the running total a
    ROWS UNBOUNDED window, and per-user LTV an integer division (both
    engines truncate toward zero — QUIRKS note 0).

    Scale: two user/cohort-keyed aggregates plus a per-cohort running
    window whose partition is bounded by the observation span in days
    — never user count; the cohort-size join broadcasts."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    firsts = firsts.select(
        "user_id",
        F.floor(F.unix_micros(F.col("first_ts")) / F.lit(_DAY_US))
        .cast("long")
        .alias("cohort"),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (
        e.join(firsts, "user_id")
        .groupBy("cohort", (day - F.col("cohort")).alias("age_days"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    sizes = firsts.groupBy("cohort").agg(F.count("*").alias("n_users"))
    w = (
        W.partitionBy("cohort")
        .orderBy("age_days")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        daily.join(F.broadcast(sizes), "cohort")
        .withColumn("cum_cents", F.sum("cents").over(w).cast("long"))
        .select(
            "cohort",
            "age_days",
            "n_users",
            "cum_cents",
            F.expr("cum_cents div n_users").alias("ltv_cents_per_user"),
        )
    )


@query(
    "events_streak_lengths",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day
      FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, count(*) AS streak_len, min(day) AS streak_start
      FROM grp GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(min(streak_start) AS BIGINT) AS first_day
    FROM streaks GROUP BY user_id
    """,
    since=7,
)
def events_streak_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands idiom on the DAY grain (`sessionize_events` does
    the timestamp-gap variant; the day variant's island key is the
    classic `day - row_number()` constant-per-run trick, no lag/cumsum
    needed). All integers: epoch days, streak lengths, counts —
    bitwise cross-engine.

    Scale: one distinct on (user, day) — the shuffle, bounded by users
    x active days — then a per-user window and two aggregates on the
    same key; the window partition is a user's active-day count, never
    event volume."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    days = e.select("user_id", day.alias("day")).distinct()
    # r12: row_number == per-key running count, so the island key runs
    # on KeyedRanges.prefix_sum of a ones column (segmented scan) — a
    # hot user's day set never lands on one window task
    kr = KeyedRanges(days, "user_id", ["day"])
    grp = kr.prefix_sum(
        kr.frame.withColumn("__one", F.lit(1)), "__one", "__rn"
    ).withColumn("island", F.col("day") - F.col("__rn"))
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len"), F.min("day").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
        F.min("streak_start").cast("long").alias("first_day"),
    )


@query(
    "events_variant_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 AS k_parity,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max
    FROM events
    GROUP BY k_parity
    """,
    since=7,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type —
    `parse_json` decodes the JSON string ONCE into the binary variant
    encoding, then `try_variant_get` extracts typed fields by path
    without re-parsing (the 100 TB reason VARIANT exists:
    `events_json_extract`'s get_json_object re-parses the string per
    path expression, so N extracted fields cost N parses; a variant
    column parses once and serves every path — and stored as a parquet
    VARIANT column it also gets shredded field pushdown). Same
    malformed-row contract as the JSON twin: `try_` semantics null
    out, never error.

    Scale: parse + extraction are codegen'd projections in the scan
    stage; the aggregate shuffles 2 groups. Promote hot fields to
    typed columns at ingest either way — VARIANT is for the flexible
    tail."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 2).alias("k_parity"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
    )


@query(
    "events_unpivot_metrics",
    oracle=f"""
    WITH wide AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS views,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM events GROUP BY day
    )
    SELECT day, metric, n FROM (
      SELECT day, 'clicks' AS metric, clicks AS n FROM wide
      UNION ALL
      SELECT day, 'views' AS metric, views AS n FROM wide
      UNION ALL
      SELECT day, 'purchases' AS metric, purchases AS n FROM wide
    )
    """,
    since=7,
)
def events_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the DataFrame-native `unpivot` (melt) —
    the inverse of `events_pivot_daily`/`agg_pivot`, completing the
    reshape pair: a wide per-day metrics row explodes to one (day,
    metric, value) row per measure, the shape metric stores and
    plotting layers ingest. Spark's unpivot is a single Expand node —
    one pass, no join, no shuffle beyond the upstream aggregate — and
    the oracle proves the semantics against the UNION ALL expansion it
    desugars to.

    Scale: Expand multiplies rows by the measure count ON THE ALREADY
    AGGREGATED frame (days × metrics, never raw events) — the same
    aggregate-before-explode discipline as the count-min entry."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    c = lambda t: F.sum(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    ).cast("long")
    wide = ev.groupBy(day.alias("day")).agg(
        c("click").alias("clicks"),
        c("view").alias("views"),
        c("purchase").alias("purchases"),
    )
    return wide.unpivot(
        "day", ["clicks", "views", "purchases"], "metric", "n"
    )


@query(
    "events_change_point",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             count(*) AS c
      FROM events GROUP BY day
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS n FROM daily),
    pre AS (
      SELECT day, c,
             CAST(sum(c) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    dev AS (
      SELECT p.day, CAST(p.c AS BIGINT) AS c,
             t.n * p.s - p.i * t.t AS d
      FROM pre p, tot t
    ),
    mx AS (SELECT max(abs(d)) AS m FROM dev)
    SELECT v.day, v.c, v.d,
           v.day = (SELECT min(day) FROM dev, mx WHERE abs(d) = m)
             AS is_changepoint
    FROM dev v
    """,
    since=7,
)
def events_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint detection on the daily event-count series —
    the CUSUM/Pettitt-style structural-break statistic in the repo's
    integer-exact idiom: instead of comparing float prefix means, the
    deviation at day i is ``n*S_i − i*T`` (prefix sum scaled by day
    count minus expected share of the total — an exact integer that is
    n*i times the prefix-mean-vs-global-mean gap), and the changepoint
    is the argmax of |deviation| (min-day tie-break). The full
    deviation series ships in the output, so the hash pins every
    intermediate, not just the winner. The time-series family's
    structural-break member beside trend (`events_user_trend`), anomaly
    days (z-score), decay, and gap-fill.

    Scale: one day-keyed count (map-side combinable), a running-sum
    window over the DAY GRAIN (observation span, never event volume —
    same bound as `events_cohort_ltv`), and two one-row broadcasts."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    daily = e.groupBy(day.alias("day")).agg(F.count("*").alias("c"))
    tot = daily.agg(
        F.sum("c").cast("long").alias("t"), F.count("*").alias("n")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    pre = daily.select(
        "day",
        F.col("c").cast("long").alias("c"),
        F.sum("c").over(w).cast("long").alias("s"),
        F.row_number().over(W.orderBy("day")).cast("long").alias("i"),
    )
    dev = pre.crossJoin(F.broadcast(tot)).select(
        "day", "c", (F.col("n") * F.col("s") - F.col("i") * F.col("t")).alias("d")
    )
    mx = dev.agg(F.max(F.abs(F.col("d"))).alias("m"))
    cp = (
        dev.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("d")) == F.col("m"))
        .agg(F.min("day").alias("cp_day"))
    )
    return dev.crossJoin(F.broadcast(cp)).select(
        "day", "c", "d", (F.col("day") == F.col("cp_day")).alias("is_changepoint")
    )


@query("events_tdigest_daily_merge")  # rows-only: t-digest centroid layout is construction-specific
def events_tdigest_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup for QUANTILES — completes the sketch
    family (HLL distinct / KMV distinct / count-min frequency /
    t-digest quantiles), THE 100 TB percentile-latency pattern: build
    one t-digest per (day, shard) of the stream, then answer the
    weekly p50/p90/p99 question by MERGING digests
    (virapipe_spark.tdigest.merge) instead of re-scanning events.
    Production keeps the daily digest table (≈100 centroids per shard)
    and serves any date-range percentile from it.

    Self-validating output (no oracle — no SQL engine reproduces
    t-digest clustering): for each weekly estimate the TRUE rank of
    the estimated value rides along from a parallel exact aggregation,
    and ``within_tol`` certifies |true_rank − p| ≤ 0.02 — the rank
    guarantee a t-digest actually makes (δ=200 gives measured rank
    error ~3e-4; the pin is 60× slack). Pinned in
    tests/test_streaming.py; an independent numpy test in
    tests/test_tdigest.py checks the digest itself against sorted
    truth. At 100 TB you'd drop the exact branch — it is the
    self-check, not the operator.

    Scale (round-12 rewrite): stage 0 pre-aggregates
    ``groupBy(day, shard, value).count()`` ENTIRELY JVM-side — a
    hash aggregate with map-side combine — so what crosses the Python
    boundary is (distinct value, multiplicity) pairs, not raw rows.
    events.value is domain-capped (the r11 audit measured distinct
    cents saturating: 6.6k -> 17.8k at 10x rows), so the boundary
    carries the VALUE DOMAIN per (day, shard) while the raw-row volume
    can grow 1000x. Measured (tools/measure_pandas_boundary.py + the
    1000x smoke): boundary rows at the 10x synth 10.0M -> 685k, the
    per-group pandas batch 40.8k -> 2.8k rows (the OLD shape delivered
    each WHOLE group as one batch — applyInPandas ignores
    maxRecordsPerBatch — i.e. an unbounded batch at 100 TB; now it is
    domain-bounded), and the full-entry wall at the 1000x synth
    70.4 s -> 7.4 s (flat vs sf0.1). Cost: ~0.6 s at sf0.1 for the
    second (domain-sized) exchange — the right trade, both exchanges
    are domain-sized at scale. shard = hash(user) % 8 still bounds any
    one pandas group (the knob to widen at 100 TB); stage 2 merges the tiny
    centroid rows per week (control-plane-sized, ~8 shards × 7 days ×
    ~100 centroids). Every stage deterministic: the weighted build
    sorts (value, weight), merges sort centroids — Spark partition
    order cannot move the output."""
    import pandas as pd

    from virapipe_spark import tdigest as td

    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    shard = F.pmod(F.hash("user_id"), F.lit(8)).cast("int")
    # r12: spread small inputs so the pre-aggregation map stage is not
    # serialized on the scan's split count (see scale.spread_scan);
    # counts are order-insensitive and the digest build sorts its
    # (value, weight) pairs, so partitioning cannot move the output
    src = (
        spread_scan(ev.select(day.alias("day"), shard.alias("shard"), F.col("value")))
        .groupBy("day", "shard", "value")
        .agg(F.count("*").cast("double").alias("w"))
    )

    def build_digest(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = td.build_weighted(pdf["value"].to_numpy(), pdf["w"].to_numpy())
        return pd.DataFrame(
            {
                "day": [int(pdf["day"].iloc[0])],
                "shard": [int(pdf["shard"].iloc[0])],
                "means": [m.tolist()],
                "weights": [w.tolist()],
            }
        )

    daily = src.groupBy("day", "shard").applyInPandas(
        build_digest,
        "day long, shard int, means array<double>, weights array<double>",
    )

    targets = [0.5, 0.9, 0.99]

    def merge_week(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m, w = td.merge(
            [
                (np.array(r["means"]), np.array(r["weights"]))
                for _, r in pdf.iterrows()
            ]
        )
        return pd.DataFrame(
            {
                "week": [int(pdf["week"].iloc[0])] * len(targets),
                "p": targets,
                "est_value": [td.quantile(m, w, q) for q in targets],
                "sketch_rows": [int(len(pdf))] * len(targets),
            }
        )

    weekly_est = (
        daily.withColumn("week", F.expr("day div 7"))
        .groupBy("week")
        .applyInPandas(
            merge_week,
            "week long, p double, est_value double, sketch_rows int",
        )
    )

    # self-check branch: true rank of each estimate within its week
    week = F.expr(f"floor(unix_micros(ts) / {_DAY_US}) div 7").cast("long")
    ev_w = ev.select(week.alias("week"), "value")
    ranked = (
        ev_w.join(F.broadcast(weekly_est), "week")
        .groupBy("week", "p", "est_value", "sketch_rows")
        .agg(
            (
                (
                    F.sum(F.when(F.col("value") < F.col("est_value"), 1).otherwise(0))
                    + F.sum(
                        F.when(F.col("value") == F.col("est_value"), 1).otherwise(0)
                    )
                    / F.lit(2.0)
                )
                / F.count("*")
            ).alias("true_rank")
        )
    )
    return ranked.select(
        "week",
        "p",
        F.round("est_value", 6).alias("est_value"),
        "sketch_rows",
        F.round("true_rank", 6).alias("true_rank"),
        (F.abs(F.col("true_rank") - F.col("p")) <= 0.02).alias("within_tol"),
    ).orderBy("week", "p")


_THETA_K = 64


@query(
    "events_theta_intersection",
    oracle=f"""
    WITH elems AS (
      SELECT DISTINCT event_type,
             md5(CAST(user_id AS VARCHAR) || ':' ||
                 CAST(CAST(ts AS DATE) AS VARCHAR)) AS h
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    sk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM elems
    ),
    kth AS (
      SELECT event_type, max(h) AS kth_h
      FROM sk WHERE rn <= {_THETA_K} GROUP BY event_type
    ),
    theta AS (SELECT min(kth_h) AS th FROM kth),
    common AS (
      SELECT count(*) AS n_common
      FROM (SELECT h FROM sk WHERE rn <= {_THETA_K} AND event_type = 'click') a
      JOIN (SELECT h FROM sk WHERE rn <= {_THETA_K} AND event_type = 'purchase') b
        USING (h), theta t
      WHERE a.h < t.th
    ),
    exact AS (
      SELECT count(*) AS n_exact
      FROM (SELECT h FROM elems WHERE event_type = 'click') a
      JOIN (SELECT h FROM elems WHERE event_type = 'purchase') b USING (h)
    )
    SELECT t.th AS theta_hex, c.n_common, e.n_exact,
           round(c.n_common /
                 (CAST(CAST('0x' || substr(t.th, 1, 12) AS BIGINT) AS DOUBLE)
                  / 281474976710656.0), 2) AS est_intersection
    FROM theta t, common c, exact e
    """,
)
def events_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA — the third mergeable-sketch operation
    after union (KMV merge) and quantile (t-digest): estimate the
    INTERSECTION cardinality of two user-activity sets (users-active-
    on-a-day who click vs who purchase) from their bottom-k sketches
    alone. theta = min of the two k-th minima; the estimate counts
    sketch elements present in BOTH sketches below theta and divides
    by theta-as-a-fraction (first 12 hex chars / 16^12 — one exactly-
    rounded division of exact integers). Deterministic md5 hashing
    makes the whole estimate HASH-CHECKABLE (the KMV precedent), and
    the exact intersection rides along as data, so the driver row
    certifies both the algebra and its accuracy. At 100 TB the two
    sketches are k-row objects: audience-overlap questions join
    sketches, never event tables.

    Scale: one distinct + per-set top-k (window over two partitions),
    then k-row joins — everything after the distinct is
    constant-sized."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    elems = e.select(
        "event_type",
        F.md5(
            F.concat_ws(
                ":",
                F.col("user_id").cast("string"),
                F.col("ts").cast("date").cast("string"),
            )
        ).alias("h"),
    ).distinct()
    w = W.partitionBy("event_type").orderBy("h")
    sk = elems.withColumn("rn", F.row_number().over(w))
    kth = (
        sk.filter(F.col("rn") <= _THETA_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("kth_h"))
    )
    theta = kth.agg(F.min("kth_h").alias("th"))
    a = sk.filter(
        (F.col("rn") <= _THETA_K) & (F.col("event_type") == "click")
    ).select("h")
    b = sk.filter(
        (F.col("rn") <= _THETA_K) & (F.col("event_type") == "purchase")
    ).select("h")
    common = (
        a.join(b, "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("th"))
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        elems.filter(F.col("event_type") == "click")
        .select("h")
        .join(
            elems.filter(F.col("event_type") == "purchase").select("h"), "h"
        )
        .agg(F.count("*").alias("n_exact"))
    )
    frac = (
        F.expr("CAST(conv(substr(th, 1, 12), 16, 10) AS DOUBLE)")
        / F.lit(281474976710656.0)
    )
    return (
        theta.crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("th").alias("theta_hex"),
            "n_common",
            "n_exact",
            F.round(F.col("n_common") / frac, 2).alias("est_intersection"),
        )
    )


@query(
    "events_stump_classifier",
    oracle="""
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    agg AS (
      SELECT x, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM pts GROUP BY x
    ),
    cum AS (
      SELECT x, n, pos,
             CAST(sum(n) OVER w AS BIGINT) AS n_le,
             CAST(sum(pos) OVER w AS BIGINT) AS pos_le,
             CAST(sum(n) OVER () AS BIGINT) AS n_all,
             CAST(sum(pos) OVER () AS BIGINT) AS pos_all
      FROM agg
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    scored AS (
      SELECT x AS threshold, n_all, pos_all,
             -- rule A: predict 1 iff value <= t; rule B: iff value > t
             pos_le + (n_all - n_le) - (pos_all - pos_le) AS correct_a,
             (n_le - pos_le) + (pos_all - pos_le) AS correct_b
      FROM cum
    ),
    best AS (
      SELECT threshold,
             CASE WHEN correct_a >= correct_b THEN 'le' ELSE 'gt' END
               AS rule,
             CAST(CASE WHEN correct_a >= correct_b
                  THEN correct_a ELSE correct_b END AS BIGINT) AS correct,
             n_all, pos_all,
             row_number() OVER (
               ORDER BY CASE WHEN correct_a >= correct_b
                        THEN correct_a ELSE correct_b END DESC,
                        threshold
             ) AS rn
      FROM scored
    )
    SELECT threshold, rule, correct, n_all AS n,
           CAST(greatest(pos_all, n_all - pos_all) AS BIGINT)
             AS majority_baseline,
           correct >= greatest(pos_all, n_all - pos_all) AS beats_baseline
    FROM best WHERE rn = 1
    """,
    since=8,
)
def events_stump_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training (the 1R / depth-1 tree learner — the
    base learner of AdaBoost and the simplest supervised TRAINING op
    a data engine runs in-database): learn the single threshold on
    ``value`` that best predicts event_type == 'purchase'. EVERY
    candidate threshold is scored in one pass — cents-quantized
    feature values aggregate to (n, positives), a sorted cumulative
    window yields each threshold's confusion counts for both rule
    orientations (predict-below / predict-above), and the argmax is
    one top-1 window with deterministic tie-break. All exact integers:
    the learned threshold, its training accuracy numerator, and a
    beats-majority-baseline certificate are hash-checked — a
    cumulative-count or orientation bug flips the output.

    Scale: candidate grain = DISTINCT feature values (cents), not
    rows; the global ordered window over candidates is the known
    single-partition pattern at extreme cardinality — the shard
    assignment entry's two-level prefix sum is the drop-in fix when a
    feature has billions of distinct values (documented, not needed at
    value-grain cents)."""
    pts = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    agg = pts.groupBy("x").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w_cum = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    cum = agg.select(
        "x",
        F.sum("n").over(w_cum).cast("long").alias("n_le"),
        F.sum("pos").over(w_cum).cast("long").alias("pos_le"),
        F.sum("n").over(w_all).cast("long").alias("n_all"),
        F.sum("pos").over(w_all).cast("long").alias("pos_all"),
    )
    scored = cum.select(
        F.col("x").alias("threshold"),
        "n_all",
        "pos_all",
        (
            F.col("pos_le")
            + (F.col("n_all") - F.col("n_le"))
            - (F.col("pos_all") - F.col("pos_le"))
        ).alias("correct_a"),
        (
            (F.col("n_le") - F.col("pos_le"))
            + (F.col("pos_all") - F.col("pos_le"))
        ).alias("correct_b"),
    )
    best = scored.select(
        "threshold",
        F.when(F.col("correct_a") >= F.col("correct_b"), "le")
        .otherwise("gt")
        .alias("rule"),
        F.greatest("correct_a", "correct_b").cast("long").alias("correct"),
        "n_all",
        "pos_all",
    ).withColumn(
        "rn",
        F.row_number().over(
            W.orderBy(F.col("correct").desc(), "threshold")
        ),
    )
    return best.filter(F.col("rn") == 1).select(
        "threshold",
        "rule",
        "correct",
        F.col("n_all").alias("n"),
        F.greatest(
            F.col("pos_all"), F.col("n_all") - F.col("pos_all")
        ).cast("long").alias("majority_baseline"),
        (
            F.col("correct")
            >= F.greatest(F.col("pos_all"), F.col("n_all") - F.col("pos_all"))
        ).alias("beats_baseline"),
    )


_ATTR_LOOKBACK_US = 72 * 3600 * 1000000


@query(
    "events_attribution_ushape",
    oracle=f"""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS touch_id, user_id, event_type AS channel,
             epoch_us(ts) AS t_us
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
      SELECT c.conv_id, c.user_id, t.touch_id, t.channel, t.t_us,
             c.c_us - t.t_us AS age_us
      FROM conv c JOIN touch t ON c.user_id = t.user_id
      WHERE t.t_us <= c.c_us AND c.c_us - t.t_us <= {_ATTR_LOOKBACK_US}
    ),
    ranked AS (
      SELECT *,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY conv_id) AS n
      FROM pairs
      WINDOW w AS (PARTITION BY conv_id ORDER BY t_us, touch_id)
    ),
    credited AS (
      SELECT conv_id, user_id, touch_id, channel, rn, n, age_us,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN rn = 1 OR rn = n THEN 400000
               ELSE 200000 // (n - 2)
                    + CASE WHEN rn - 1 <= 200000 % (n - 2)
                           THEN 1 ELSE 0 END
             END AS credit_ppm
      FROM ranked
    )
    SELECT conv_id, user_id, touch_id, channel,
           CAST(rn AS BIGINT) AS rn, CAST(n AS BIGINT) AS n, age_us,
           CAST(credit_ppm AS BIGINT) AS credit_ppm,
           CAST(sum(credit_ppm) OVER (PARTITION BY conv_id) AS BIGINT)
             = 1000000 AS conv_total_ok
    FROM credited
    """,
    since=8,
)
def events_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the
    marketing-analytics operator the asof join only enriches for:
    every purchase conversion gathers the same user's view/click
    touches in a 72 h lookback and splits exactly 1 000 000 ppm of
    credit: 100% to a lone touch, 50/50 for two, else 40% first /
    40% last / 20% Hamilton-split over the middles (integer floor +
    earliest-middles remainder, the docs_mixture_allocation idiom —
    so every conversion's credits sum to EXACTLY 1e6, certified in
    the output by `conv_total_ok`). Integer-exact, hash-checked; ties
    broken by (ts, touch_id), a touch at the conversion instant
    counts.

    Scale: candidate pairs form only inside a user-keyed equi-join
    with the lookback filter (the events_range_join stance: pair
    formation IS the semantics, volume bounded by touches-per-user-
    per-72h); position/credit assignment is one conversion-keyed
    window pass. At 100 TB the lookback bound is what keeps per-user
    state finite — the same bound the streaming interval join uses."""
    ev = table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    pairs = (
        conv.join(touch, conv["user_id"] == touch["t_user"])
        .withColumn("c_us", F.unix_micros("c_ts"))
        .withColumn("t_us", F.unix_micros("t_ts"))
        .filter(
            (F.col("t_us") <= F.col("c_us"))
            & (F.col("c_us") - F.col("t_us") <= _ATTR_LOOKBACK_US)
        )
        .select(
            "conv_id",
            "user_id",
            "touch_id",
            "channel",
            "t_us",
            (F.col("c_us") - F.col("t_us")).alias("age_us"),
        )
    )
    wo = W.partitionBy("conv_id").orderBy("t_us", "touch_id")
    ranked = pairs.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(W.partitionBy("conv_id"))
    )
    mid_n = F.greatest(F.col("n") - 2, F.lit(1))
    credit = (
        F.when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 400000)
        .otherwise(
            F.expr("200000 div (n - 2)")
            + F.when(F.col("rn") - 1 <= 200000 % mid_n, 1).otherwise(0)
        )
    )
    credited = ranked.withColumn("credit_ppm", credit)
    return credited.select(
        "conv_id",
        "user_id",
        "touch_id",
        "channel",
        F.col("rn").cast("long").alias("rn"),
        F.col("n").cast("long").alias("n"),
        "age_us",
        F.col("credit_ppm").cast("long").alias("credit_ppm"),
        (
            F.sum("credit_ppm").over(W.partitionBy("conv_id")).cast("long")
            == 1000000
        ).alias("conv_total_ok"),
    )


@query(
    "events_dow_seasonal",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM events GROUP BY event_type, day
    ),
    base AS (
      SELECT event_type, day % 7 AS dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(day_cents) AS BIGINT) AS dow_sum_cents
      FROM daily GROUP BY event_type, day % 7
    )
    SELECT d.event_type, d.day, d.day % 7 AS dow, d.day_cents,
           b.n_days, b.dow_sum_cents,
           CAST(d.day_cents * b.n_days - b.dow_sum_cents AS BIGINT)
             AS resid_scaled,
           2 * abs(d.day_cents * b.n_days - b.dow_sum_cents)
             > b.dow_sum_cents AS is_outlier
    FROM daily d JOIN base b
      ON d.event_type = b.event_type AND d.day % 7 = b.dow
    """,
    since=8,
)
def events_dow_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition — the seasonality member of
    the time-series family (trend, changepoint, anomaly-days, EW
    sketches established): daily revenue-cents per event type, a
    per-(type, weekday) baseline, and an INTEGER-EXACT scaled residual
    day_cents*n − Σ (the same cross-multiplied-comparison idiom as
    ABC/ LTV — no float mean ever crosses an engine), with the
    ±50%-of-baseline outlier flag 2·|resid| > Σ evaluated in integers
    too. This is the "is Monday supposed to look like this" monitor:
    the residual is the deseasonalized signal changepoint/anomaly
    entries would consume.

    Scale: two partial-aggregable groupBys (day grain, then weekday
    grain — 7·|types| rows, broadcastable) and one equi-join back to
    the daily series; at 100 TB the daily table is the one that needs
    a date-partitioned layout, which events_partition_prune's write
    path provides."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.sum(cents).cast("long").alias("day_cents"))
    base = daily.groupBy(
        "event_type", (F.col("day") % 7).alias("dow")
    ).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("day_cents").cast("long").alias("dow_sum_cents"),
    )
    resid = F.col("day_cents") * F.col("n_days") - F.col("dow_sum_cents")
    return (
        daily.withColumn("dow", F.col("day") % 7)
        .join(base, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "dow",
            "day_cents",
            "n_days",
            "dow_sum_cents",
            resid.cast("long").alias("resid_scaled"),
            (F.lit(2) * F.abs(resid) > F.col("dow_sum_cents")).alias(
                "is_outlier"
            ),
        )
    )


_HH_W = 1024
_HH_D = 3
# heavy-hitter threshold = 1.2x the uniform share: (6*total) div (5*keys)
# — scale-invariant under the near-uniform synthetic key distribution
# (an absolute total/k fraction empties at 10x scale: 10x users dilute
# every share 10x while per-key counts stay ~Poisson(67))


@query(
    "events_cm_heavy_hitters",
    oracle=f"""
    WITH exact AS (
      SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS nk FROM exact),
    rows_k AS (
      SELECT d.i, e.k, e.c,
             CAST(CAST('0x' || substr(md5(CAST(d.i AS STRING) || ':' ||
                       CAST(e.k AS STRING)), 1, 8) AS BIGINT)
                  % {_HH_W} AS BIGINT) AS bucket
      FROM exact e,
           (SELECT unnest(generate_series(0, {_HH_D - 1})) AS i) d
    ),
    cm AS MATERIALIZED (
      SELECT i, bucket, CAST(sum(c) AS BIGINT) AS v
      FROM rows_k GROUP BY i, bucket
    ),
    est AS (
      SELECT r.k, CAST(min(cm.v) AS BIGINT) AS est
      FROM rows_k r JOIN cm ON r.i = cm.i AND r.bucket = cm.bucket
      GROUP BY r.k
    )
    SELECT e.k AS user_id, s.est, e.c AS exact,
           e.c >= (6 * t.n) // (5 * t.nk) AS is_true_hh,
           s.est >= e.c AS never_under
    FROM est s JOIN exact e ON s.k = e.k, tot t
    WHERE s.est >= (6 * t.n) // (5 * t.nk)
    """,
    since=8,
)
def events_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by count-min probe — the FREQUENT-ITEMS member of
    the mergeable-sketch family (HLL distinct / KMV distinct / CM
    frequency / theta algebra / t-digest quantiles established): build
    a {_HH_D}x{_HH_W} CM sketch of per-user event counts, probe every
    candidate key, and report keys whose estimate clears 1.2x the uniform share
    (6*total) div (5*keys) — a relative threshold, so the entry stays
    non-empty at every scale of the near-uniform fixture.
    CM only ever OVERestimates, so every true heavy hitter is
    structurally guaranteed to be reported (the no-false-negative
    funnel, join_bloom_prefilter's stance) — the exact counts ride
    along, ``is_true_hh`` separates real from collision-inflated
    reports, and ``never_under`` certifies the one-sided guarantee per
    key (a refuting row = implementation bug). Deterministic md5
    bucketing keeps the whole sketch hash-checkable.

    Scale: the sketch is {_HH_D}*{_HH_W} mergeable counters built by one
    partial-aggregable pass; probing joins candidate keys to the
    sketch on (row, bucket) — an equi-join. At 100 TB the candidate
    set comes from per-partition local top-k (cheap superset), not the
    full key list; the threshold rides a one-row total broadcast."""
    ev = table(spark, sf_dir, "events")
    exact = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").cast("long").alias("c")
    )
    exact = truncate_lineage(exact, eager=False)
    tot = exact.agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("nk"),
    )
    rows = exact.select(
        F.explode(F.sequence(F.lit(0), F.lit(_HH_D - 1))).alias("i"),
        "k",
        "c",
    ).select(
        "i",
        "k",
        "c",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _HH_W
        ).alias("bucket"),
    )
    rows = truncate_lineage(rows, eager=False)
    cm = rows.groupBy("i", "bucket").agg(F.sum("c").cast("long").alias("v"))
    est = (
        rows.join(cm, ["i", "bucket"])
        .groupBy("k")
        .agg(F.min("v").cast("long").alias("est"))
    )
    return (
        est.join(exact, "k")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("est") >= F.expr("(6 * n) div (5 * nk)"))
        .select(
            F.col("k").alias("user_id"),
            "est",
            F.col("c").alias("exact"),
            (F.col("c") >= F.expr("(6 * n) div (5 * nk)")).alias(
                "is_true_hh"
            ),
            (F.col("est") >= F.col("c")).alias("never_under"),
        )
    )


@query(
    "events_ohlc_daily",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             epoch_us(ts) AS us, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY us, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY us DESC, event_id DESC) AS rn_close
      FROM pts
    )
    SELECT event_type, day,
           CAST(max(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT)
             AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT)
             AS close_cents,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(cents) AS BIGINT) AS volume_cents
    FROM ranked GROUP BY event_type, day
    """,
    since=8,
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type — the candlestick downsampling
    every time-series store ships (open/high/low/close + tick count +
    summed volume), integer-cents exact with the total order
    (ts, event_id) deciding open and close (first/last are only
    well-defined under a total order — the rename_unique determinism
    stance). Implemented as two row_number windows + one grouped
    aggregate rather than first()/last() (whose Spark semantics are
    order-dependent within partitions — the documented trap).

    Scale: partitioned window + partial-aggregable groupBy on the
    (type, day) grain — the same keys, so AQE coalesces to one
    shuffle; this is the classic pre-aggregation that turns raw ticks
    into the bar table dashboards actually scan."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US))
        .cast("long")
        .alias("day"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wk = W.partitionBy("event_type", "day")
    ranked = pts.withColumn(
        "rn_open", F.row_number().over(wk.orderBy("us", "event_id"))
    ).withColumn(
        "rn_close",
        F.row_number().over(
            wk.orderBy(F.col("us").desc(), F.col("event_id").desc())
        ),
    )
    return ranked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("cents")))
        .cast("long")
        .alias("open_cents"),
        F.max("cents").cast("long").alias("high_cents"),
        F.min("cents").cast("long").alias("low_cents"),
        F.max(F.when(F.col("rn_close") == 1, F.col("cents")))
        .cast("long")
        .alias("close_cents"),
        F.count("*").cast("long").alias("n_ticks"),
        F.sum("cents").cast("long").alias("volume_cents"),
    )


@query(
    "events_twap_user",
    oracle="""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    held AS (
      SELECT user_id, cents,
             lead(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) - us AS held_us
      FROM pts
    )
    SELECT user_id,
           CAST(sum(cents * held_us) AS BIGINT) AS weighted_sum,
           CAST(sum(held_us) AS BIGINT) AS held_total_us,
           CAST(count(*) AS BIGINT) AS n_segments,
           round(CAST(sum(cents * held_us) AS DOUBLE) / sum(held_us), 4)
             AS twap_cents
    FROM held WHERE held_us IS NOT NULL
    GROUP BY user_id
    """,
    since=8,
)
def events_twap_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user — the irregular-sampling
    mean the plain avg() gets WRONG (a value held for 3 days must
    weigh 3 days, not one tick): each event's value holds until the
    user's next event (step-function semantics, the asof-join world
    view), weight = held microseconds, and the average is
    Σ value·held / Σ held. Exact integer numerator and denominator
    ship alongside the single exactly-rounded float division (the
    tf/df idiom); the last tick of each user has no successor and is
    excluded (open interval — stated, not hidden).

    Scale: one lead() window per user (the sessionize shape), one
    partial-aggregable groupBy — no pair formation; at 100 TB this is
    the standard downsampling pass over an entity-partitioned,
    time-sorted layout."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # r12: lead() via scale.KeyedRanges (segmented scan) — a hot user
    # cannot serialize onto one window task; see sessionize_events
    kr = KeyedRanges(pts, "user_id", ["us", "event_id"], carry_cols=("us",))
    held = (
        kr.lead_col(kr.frame, "us", "__next_us")
        .withColumn("held_us", F.col("__next_us") - F.col("us"))
        .filter(F.col("held_us").isNotNull())
    )
    return held.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("held_us"))
        .cast("long")
        .alias("weighted_sum"),
        F.sum("held_us").cast("long").alias("held_total_us"),
        F.count("*").cast("long").alias("n_segments"),
        F.round(
            F.sum(F.col("cents") * F.col("held_us")).cast("double")
            / F.sum("held_us"),
            4,
        ).alias("twap_cents"),
    )


@query(
    "events_calendar_spine",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, day
    ),
    bounds AS (
      SELECT CAST(min(floor(epoch_us(ts) / {_DAY_US})) AS BIGINT) AS lo,
             CAST(max(floor(epoch_us(ts) / {_DAY_US})) AS BIGINT) AS hi
      FROM events
    ),
    spine AS (
      SELECT u.user_id, d.day
      FROM (SELECT DISTINCT user_id FROM daily) u,
           (SELECT unnest(generate_series(
                     (SELECT lo FROM bounds),
                     (SELECT hi FROM bounds))) AS day) d
    )
    SELECT s.user_id, s.day,
           coalesce(dl.n, 0) AS n,
           coalesce(dl.cents, 0) AS cents,
           dl.day IS NULL AS is_gap
    FROM spine s LEFT JOIN daily dl
      ON s.user_id = dl.user_id AND s.day = dl.day
    """,
    since=8,
)
def events_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill — the resample/reindex operator every
    time-series consumer assumes and raw aggregation silently lacks (a
    day with no events simply VANISHES from a groupBy; trend,
    changepoint, LTV and retention models then mis-align): generate
    the complete global [min_day, max_day] spine for every purchasing
    user, left-join the user's purchase-day aggregate, zero-fill, and
    flag the filled gaps as data. The (user, day) grain is the one
    that actually NEEDS filling at every scale — purchases run ~0.44
    per user-day in this fixture regardless of SF (users grow with
    data), so ~56% of spine rows are genuine zero-filled gaps, at
    sf0.01 and sf0.1 alike (a (type, day) grain saturates and the
    fill path would go unexercised). Integer-exact.

    Scale: the spine is sequence() over a ONE-ROW min/max broadcast
    exploded against the distinct-user table — |users| x |days| rows
    GENERATED, not scanned; the join back is equi-keyed on (user,
    day) against the already-reduced daily side. Gap-filling 1e8
    users x 3650 days is 365G rows — at that bar you spine only the
    analysis window, which this query parameterizes via bounds."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day.alias("day"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    daily = truncate_lineage(daily, eager=False)
    bounds = ev.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    )
    users = daily.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
    )
    dl = daily.select(
        F.col("user_id").alias("d_user"),
        F.col("day").alias("d_day"),
        "n",
        "cents",
    )
    return (
        spine.join(
            dl,
            (spine["user_id"] == dl["d_user"])
            & (spine["day"] == dl["d_day"]),
            "left",
        )
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
            F.col("d_day").isNull().alias("is_gap"),
        )
    )


_CV_K = 5


@query(
    "events_stump_cv",
    oracle=f"""
    WITH pts AS (
      SELECT event_id % {_CV_K} AS fold,
             CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    byx AS (
      SELECT x, fold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM pts GROUP BY x, fold
    ),
    folds AS (SELECT unnest(generate_series(0, {_CV_K - 1})) AS f),
    ex AS (
      SELECT f.f AS fold, b.x,
             sum(CASE WHEN b.fold <> f.f THEN b.n ELSE 0 END) AS n_tr,
             sum(CASE WHEN b.fold <> f.f THEN b.pos ELSE 0 END) AS pos_tr,
             sum(CASE WHEN b.fold = f.f THEN b.n ELSE 0 END) AS n_te,
             sum(CASE WHEN b.fold = f.f THEN b.pos ELSE 0 END) AS pos_te
      FROM byx b, folds f GROUP BY f.f, b.x
    ),
    cum AS (
      SELECT fold, x,
             sum(n_tr) OVER w AS ntr_le, sum(pos_tr) OVER w AS ptr_le,
             sum(n_te) OVER w AS nte_le, sum(pos_te) OVER w AS pte_le,
             sum(n_tr) OVER wf AS ntr_all, sum(pos_tr) OVER wf AS ptr_all,
             sum(n_te) OVER wf AS nte_all, sum(pos_te) OVER wf AS pte_all
      FROM ex
      WINDOW w AS (PARTITION BY fold ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY fold)
    ),
    scored AS (
      SELECT fold, x AS threshold, ntr_all, ptr_all, nte_all, pte_all,
             ptr_le + (ntr_all - ntr_le) - (ptr_all - ptr_le) AS tr_a,
             (ntr_le - ptr_le) + (ptr_all - ptr_le) AS tr_b,
             pte_le + (nte_all - nte_le) - (pte_all - pte_le) AS te_a,
             (nte_le - pte_le) + (pte_all - pte_le) AS te_b
      FROM cum
    ),
    best AS (
      SELECT fold, threshold,
             CASE WHEN tr_a >= tr_b THEN 'le' ELSE 'gt' END AS rule,
             CAST(CASE WHEN tr_a >= tr_b THEN tr_a ELSE tr_b END
                  AS BIGINT) AS train_correct,
             CAST(ntr_all AS BIGINT) AS train_n,
             CAST(CASE WHEN tr_a >= tr_b THEN te_a ELSE te_b END
                  AS BIGINT) AS test_correct,
             CAST(nte_all AS BIGINT) AS test_n,
             row_number() OVER (
               PARTITION BY fold
               ORDER BY CASE WHEN tr_a >= tr_b THEN tr_a ELSE tr_b END
                          DESC, threshold) AS rn
      FROM scored
    )
    SELECT CAST(fold AS BIGINT) AS fold, threshold, rule,
           train_correct, train_n, test_correct, test_n,
           train_correct * test_n >= test_correct * train_n
             AS no_generalization_gain
    FROM best WHERE rn = 1
    """,
    since=8,
)
def events_stump_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of the decision stump — model SELECTION
    infrastructure, not just training (events_stump_classifier learns
    one stump on everything; this entry answers the question that
    actually gates deployment: how does it do on data it never saw):
    {_CV_K} folds by event_id % {_CV_K}, and ALL {_CV_K} trainings+
    evaluations run in ONE pass — per-(value, fold) counts explode
    against the fold dimension so each fold's training view is
    total-minus-own-fold, one fold-partitioned cumulative window
    scores every threshold for train AND test simultaneously, and a
    per-fold argmax (train-accuracy, deterministic tie-break) picks
    each model. Per-fold test accuracy ships as exact integer
    numerators; ``no_generalization_gain`` certifies
    train_acc >= test_acc per fold via cross-multiplication (the
    integer-ratio idiom) — the sanity direction CV is supposed to
    show, reported as data rather than assumed.

    Scale: candidate grain = distinct cents x {_CV_K} (the fold
    explode is a constant x{_CV_K}); everything else is the stump
    entry's machinery with fold added to every key — k-fold CV as a
    GROUP-BY dimension, the data-parallel formulation that trains a
    billion-row fold set without ever materializing k copies of the
    data."""
    pts = table(spark, sf_dir, "events").select(
        (F.col("event_id") % _CV_K).alias("fold"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    byx = pts.groupBy("x", "fold").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    ex = (
        byx.withColumn(
            "f", F.explode(F.sequence(F.lit(0), F.lit(_CV_K - 1)))
        )
        .groupBy("f", "x")
        .agg(
            F.sum(F.when(F.col("fold") != F.col("f"), F.col("n")).otherwise(0)).alias("n_tr"),
            F.sum(F.when(F.col("fold") != F.col("f"), F.col("pos")).otherwise(0)).alias("pos_tr"),
            F.sum(F.when(F.col("fold") == F.col("f"), F.col("n")).otherwise(0)).alias("n_te"),
            F.sum(F.when(F.col("fold") == F.col("f"), F.col("pos")).otherwise(0)).alias("pos_te"),
        )
        .withColumnRenamed("f", "fold")
    )
    w = W.partitionBy("fold").orderBy("x").rowsBetween(
        W.unboundedPreceding, 0
    )
    wf = W.partitionBy("fold")
    cum = ex.select(
        "fold",
        "x",
        F.sum("n_tr").over(w).alias("ntr_le"),
        F.sum("pos_tr").over(w).alias("ptr_le"),
        F.sum("n_te").over(w).alias("nte_le"),
        F.sum("pos_te").over(w).alias("pte_le"),
        F.sum("n_tr").over(wf).alias("ntr_all"),
        F.sum("pos_tr").over(wf).alias("ptr_all"),
        F.sum("n_te").over(wf).alias("nte_all"),
        F.sum("pos_te").over(wf).alias("pte_all"),
    )
    scored = cum.select(
        "fold",
        F.col("x").alias("threshold"),
        "ntr_all",
        "ptr_all",
        "nte_all",
        "pte_all",
        (
            F.col("ptr_le")
            + (F.col("ntr_all") - F.col("ntr_le"))
            - (F.col("ptr_all") - F.col("ptr_le"))
        ).alias("tr_a"),
        (
            (F.col("ntr_le") - F.col("ptr_le"))
            + (F.col("ptr_all") - F.col("ptr_le"))
        ).alias("tr_b"),
        (
            F.col("pte_le")
            + (F.col("nte_all") - F.col("nte_le"))
            - (F.col("pte_all") - F.col("pte_le"))
        ).alias("te_a"),
        (
            (F.col("nte_le") - F.col("pte_le"))
            + (F.col("pte_all") - F.col("pte_le"))
        ).alias("te_b"),
    )
    pick_tr = F.greatest("tr_a", "tr_b")
    best = scored.select(
        "fold",
        "threshold",
        F.when(F.col("tr_a") >= F.col("tr_b"), "le")
        .otherwise("gt")
        .alias("rule"),
        pick_tr.cast("long").alias("train_correct"),
        F.col("ntr_all").cast("long").alias("train_n"),
        F.when(F.col("tr_a") >= F.col("tr_b"), F.col("te_a"))
        .otherwise(F.col("te_b"))
        .cast("long")
        .alias("test_correct"),
        F.col("nte_all").cast("long").alias("test_n"),
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("fold").orderBy(
                F.col("train_correct").desc(), "threshold"
            )
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            F.col("fold").cast("long").alias("fold"),
            "threshold",
            "rule",
            "train_correct",
            "train_n",
            "test_correct",
            "test_n",
            (
                F.col("train_correct") * F.col("test_n")
                >= F.col("test_correct") * F.col("train_n")
            ).alias("no_generalization_gain"),
        )
    )


_KM_HORIZON_D = 7


@query(
    "events_kaplan_meier",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s_us
      GROUP BY e.user_id
    ),
    dur AS (
      SELECT s.user_id,
             CASE WHEN p.p_us IS NOT NULL
                   AND (p.p_us - s.s_us) // {_DAY_US} < {_KM_HORIZON_D}
                  THEN (p.p_us - s.s_us) // {_DAY_US}
                  ELSE {_KM_HORIZON_D} END AS t,
             p.p_us IS NOT NULL
               AND (p.p_us - s.s_us) // {_DAY_US} < {_KM_HORIZON_D}
               AS event
      FROM s LEFT JOIN p ON s.user_id = p.user_id
    ),
    steps AS (
      SELECT t,
             CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
      FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             CAST(sum(d + c) OVER (ORDER BY t DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_at_risk
      FROM steps
    )
    SELECT CAST(t AS BIGINT) AS t_days, n_at_risk, d AS n_events,
           c AS n_censored,
           CAST(d * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm,
           round(product(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 4)
             AS survival
    FROM risk ORDER BY t
    """,
    since=8,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimation — the time-to-event analytics
    class (churn, conversion latency, reliability) the retention
    matrix only bins: time from first signup to first subsequent
    purchase, administratively CENSORED at a {_KM_HORIZON_D}-day
    horizon (8/150 users censored at sf0.01, 65/1500 at sf0.1 — both
    classes genuinely occur; an uncensored design here degenerates to
    a plain histogram because every user eventually converts). Per
    event-time step: the risk set n_t (a DESCENDING cumulative sum —
    everyone whose duration >= t), events d_t, censored c_t, the
    integer hazard d*1e6 div n, and the KM curve
    S(t) = prod(1 - d/n) as the ONE float column — a window product
    over the t-ordered frame, association order pinned identically in
    both engines (the pinned-order float discipline; every factor and
    the rounding are defined on the same exact integers).

    Scale: two per-user min-aggregates (signup, first conversion) and
    one LEFT join — entity-grain, no pair formation; the step table
    is |distinct durations| rows (horizon-bounded), so the windows
    are control-plane sized regardless of cohort size."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("s_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s.select("user_id", "s_us"), "user_id")
        .filter(us > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min(us).alias("p_us"))
    )
    days = F.expr(f"(p_us - s_us) div {_DAY_US}")
    is_event = F.col("p_us").isNotNull() & (days < _KM_HORIZON_D)
    dur = (
        s.join(p, "user_id", "left")
        .select(
            F.when(is_event, days)
            .otherwise(F.lit(_KM_HORIZON_D))
            .alias("t"),
            is_event.alias("event"),
        )
    )
    steps = dur.groupBy("t").agg(
        F.sum(F.when(F.col("event"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(F.col("event"), 0).otherwise(1))
        .cast("long")
        .alias("c"),
    )
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_asc = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = steps.withColumn(
        "n_at_risk", F.sum(F.col("d") + F.col("c")).over(w_desc).cast("long")
    )
    return risk.select(
        F.col("t").cast("long").alias("t_days"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.expr("d * 1000000 div n_at_risk").cast("long").alias("hazard_ppm"),
        F.round(
            F.product(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")
            ).over(w_asc),
            4,
        ).alias("survival"),
    )


@query(
    "events_path_trigrams",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > {_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, us, event_id,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    tri AS (
      SELECT user_id, sid,
             lag(event_type, 2) OVER w2 AS e1,
             lag(event_type, 1) OVER w2 AS e2,
             event_type AS e3
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY us, event_id)
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY count(*) DESC, e1, e2, e3)
                AS BIGINT) AS rank
    FROM tri WHERE e1 IS NOT NULL
    GROUP BY e1, e2, e3
    QUALIFY row_number() OVER (ORDER BY count(*) DESC, e1, e2, e3) <= 25
    """,
    since=8,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining — the top-25 three-step event sequences
    across sessions (the product-analytics "what do users actually
    DO" question; the Markov entry models one-step transition
    probabilities, this surfaces the concrete multi-step paths funnel
    designers read): sessionize by the 12 h gap rule (the sessionize
    entry's exact construction), order within session by the
    (ts, event_id) total order, slide a length-3 window via double
    lag — trigrams never cross a session boundary because the lag
    window is (user, session)-partitioned — count, and rank with a
    deterministic tie-break. Exact integers.

    Scale: two window passes over entity-partitioned data (the
    sessionize cost model) and one trigram-keyed count whose
    cardinality is bounded by |event_types|^3, tiny forever — the
    top-k rank runs on that reduced table, not on rows."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    ordered_src = ev.select(
        "user_id", "event_type", us.alias("us"), "event_id"
    )
    # r12: segmented scan (scale.KeyedRanges) instead of per-user and
    # per-(user, session) windows — a metronome bot that never gaps
    # 12 h is ONE session of its entire history, the worst single-task
    # sort; see sessionize_events. The (user, session) lags become
    # USER-level lags masked by session continuity: lag1 is in-session
    # iff new_session == 0; lag2 additionally needs the PREVIOUS row
    # in-session, and new_session[i-1] reconstructs from (us[i-1],
    # us[i-2]) = (prev_us, us2) without a second scan.
    kr = KeyedRanges(
        ordered_src, "user_id", ["us", "event_id"],
        carry_cols=("us", "event_type"),
    )
    f = kr.lags(
        kr.frame,
        [
            ("us", "prev_us", 1),
            ("event_type", "__p1", 1),
            ("event_type", "__p2", 2),
            ("us", "__us2", 2),
        ],
    )
    f = f.withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > _GAP_US),
            1,
        ).otherwise(0),
    )
    prev_ns = F.when(
        F.col("__us2").isNull() | (F.col("prev_us") - F.col("__us2") > _GAP_US),
        1,
    ).otherwise(0)
    in_sess1 = F.col("new_session") == 0
    tri = f.select(
        F.when(in_sess1 & (prev_ns == 0), F.col("__p2")).alias("e1"),
        F.when(in_sess1, F.col("__p1")).alias("e2"),
        F.col("event_type").alias("e3"),
    ).filter(F.col("e1").isNotNull())
    counts = tri.groupBy("e1", "e2", "e3").agg(
        F.count("*").cast("long").alias("n")
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), "e1", "e2", "e3"))
        .cast("long"),
    )
    return ranked.filter(F.col("rank") <= 25)


#: The ONLY float arithmetic in the autocorrelation entry, shared
#: VERBATIM between both engines (one exactly-rounded division; the
#: CASE guards ANSI division-by-zero for a constant series).
_ACF_EXPR = (
    "round(CASE WHEN den = 0 THEN 0 "
    "ELSE CAST(num AS DOUBLE) / den END, 6)"
)


@query(
    "events_autocorr_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY day
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ),
    c AS (SELECT day, n * x - s AS c FROM daily, tot),
    den_t AS (SELECT CAST(sum(c * c) AS BIGINT) AS den FROM c),
    lagged AS (
      SELECT l.k, a.c AS ca, b.c AS cb
      FROM (SELECT unnest(generate_series(1, 7)) AS k) l
      JOIN c a ON true
      JOIN c b ON b.day = a.day + l.k
    ),
    agg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(ca * cb) AS BIGINT) AS num
      FROM lagged GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS k, n_pairs, num, den, {_ACF_EXPR} AS acf
    FROM agg, den_t
    """,
    since=8,
)
def events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 AUTOCORRELATION of the daily event-count series — the
    time-series diagnostic that sits between events_user_trend (OLS
    drift) and events_dow_seasonal (fixed weekly residuals): the ACF
    measures how much each lag explains, the statistic behind
    seasonality DETECTION (a lag-7 spike says 'weekly') and
    Ljung-Box-style pipeline monitors. Integer-exact by the scaled
    centering c_d = n*x_d - S (no float mean enters the sums): ACF's
    scale-invariance means r_k = sum(c_d c_{d+k}) / sum(c_d^2)
    unchanged, with num/den emitted as exact int64 and the one float
    division shared verbatim (_ACF_EXPR).

    Scale: the heavy pass is the day-keyed count (map-side combined);
    everything after runs on the days-long series — the lag join is an
    equi-join on day+k (Catalyst extracts the equality), the totals
    ride one-row broadcasts. At 100 TB the daily series is still tiny:
    ACF cost is the aggregate, by construction."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    c = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("c")
    )
    c = c.persist()
    den = c.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("den"))
    a = c.select(
        "day",
        F.col("c").alias("ca"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k"),
    )
    b = c.select(F.col("day").alias("day_b"), F.col("c").alias("cb"))
    pairs = a.join(b, F.col("day_b") == F.col("day") + F.col("k"))
    agg = pairs.groupBy(F.col("k").cast("long").alias("k")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("num"),
    )
    return agg.crossJoin(F.broadcast(den)).select(
        "k", "n_pairs", "num", "den", F.expr(_ACF_EXPR).alias("acf")
    )


_BOOT_B = 400


@query(
    "events_bootstrap_ci",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY day
    ),
    idx AS (SELECT row_number() OVER (ORDER BY day) - 1 AS i, x FROM daily),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS obs
      FROM idx
    ),
    grid AS (
      SELECT b.b, i.i
      FROM (SELECT unnest(generate_series(1, {_BOOT_B})) AS b) b,
           (SELECT i FROM idx) i
    ),
    draws AS (
      SELECT g.b,
             CAST(CAST('0x' || substr(md5(concat(g.b, '_', g.i)), 1, 8)
                       AS BIGINT) % nn.n AS BIGINT) AS di
      FROM grid g, nn
    ),
    sums AS (
      SELECT d.b, CAST(sum(ix.x) AS BIGINT) AS s
      FROM draws d JOIN idx ix ON ix.i = d.di GROUP BY d.b
    ),
    ranked AS (SELECT s, row_number() OVER (ORDER BY s, b) AS rn FROM sums)
    SELECT nn.n AS n_days, CAST({_BOOT_B} AS BIGINT) AS n_boot,
           nn.obs AS observed_sum,
           (SELECT s FROM ranked WHERE rn = {_BOOT_B * 25 // 1000})
             AS lo_sum,
           (SELECT s FROM ranked WHERE rn = {_BOOT_B * 975 // 1000})
             AS hi_sum,
           ((SELECT s FROM ranked WHERE rn = {_BOOT_B * 25 // 1000})
              <= nn.obs
            AND nn.obs
              <= (SELECT s FROM ranked WHERE rn = {_BOOT_B * 975 // 1000}))
             AS covered
    FROM nn
    """,
    since=8,
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BOOTSTRAP 95% confidence interval for the total
    daily event volume — the resampling-inference member of the
    statistics family (events_ab_test_zscore is parametric, this is
    Efron's nonparametric alternative): B=400 resamples of the
    30-day series, each day drawn by the shared md5 hash of
    (resample, position) — both engines synthesize the identical
    pseudo-random draws, so the hash pins every resample sum and the
    percentile bracket (ranks B*0.025 and B*0.975 under a total
    (sum, b) order). Integer-exact throughout: sums,
    not means (same ordering, no division); ``covered`` certifies the
    observed total lies inside its own CI as data.

    Scale: the only corpus-size pass is the day-keyed count; the
    resample grid is B x n_days rows over the TINY aggregate series
    (bootstrap-over-aggregates — the published poor-man's-bootstrap
    shape), and the draw-to-value lookup is an equi-join on the day
    index. At 100 TB: identical plan, B*30 rows still."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    idx = daily.select(
        (F.row_number().over(W.orderBy("day")) - 1).cast("long").alias("i"),
        "x",
    ).persist()
    nn = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("obs"),
    )
    grid = idx.select("i").withColumn(
        "b", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B)))
    )
    draws = grid.crossJoin(F.broadcast(nn)).select(
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("b").cast("string"),
                            F.lit("_"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
        ).alias("di"),
    )
    sums = (
        draws.join(idx, draws["di"] == idx["i"])
        .groupBy("b")
        .agg(F.sum("x").cast("long").alias("s"))
    )
    ranked = sums.select(
        "s", F.row_number().over(W.orderBy("s", "b")).alias("rn")
    )
    lo = ranked.filter(F.col("rn") == _BOOT_B * 25 // 1000).select(
        F.col("s").alias("lo_sum")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_B * 975 // 1000).select(
        F.col("s").alias("hi_sum")
    )
    return (
        nn.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n").alias("n_days"),
            F.lit(_BOOT_B).cast("long").alias("n_boot"),
            F.col("obs").alias("observed_sum"),
            "lo_sum",
            "hi_sum",
            (
                (F.col("lo_sum") <= F.col("obs"))
                & (F.col("obs") <= F.col("hi_sum"))
            ).alias("covered"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential pattern support (ordered, non-adjacent — the PrefixSpan
# length-2 primitive)
# ---------------------------------------------------------------------------


@query(
    "events_seq_patterns",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type,
             min(ts) AS mn, max(ts) AS mx
      FROM events GROUP BY user_id, event_type
    ),
    sup AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS support
      FROM per a JOIN per b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND a.mn < b.mx
      GROUP BY a.event_type, b.event_type
    ),
    u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events)
    SELECT type_a, type_b, support,
           CAST(support * 1000000 // n_users AS BIGINT) AS support_ppm
    FROM sup, u
    """,
    since=8,
)
def events_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support — the ORDERED, NON-ADJACENT
    complement of events_path_trigrams (which counts consecutive
    steps): for every ordered event-type pair (a, b), how many users
    ever did a THEN LATER b, regardless of what happened in between —
    the PrefixSpan/GSP length-2 primitive behind 'users who error
    before purchasing' cohort questions. The naive semantics is an
    O(events²)-per-user EXISTS scan; the engine path collapses it to
    per-(user, type) time EXTREMA first (exists a-before-b ⟺
    min_ts(a) < max_ts(b) — the extrema carry the full existential),
    so the pair stage fans out from a types-bounded frame, never the
    raw event log. Support is emitted both absolute and as exact ppm
    of the user base.

    Scale: one (user, type)-keyed partial aggregate over the log, a
    self-join whose per-user fan-out is bounded by |types|² (25 here,
    constant — NOT event volume), and a types²-bounded rollup. The
    one-row user count broadcasts. At 100 TB the extrema table is the
    only thing that shuffles, mergeable across shards and
    incrementally maintainable (min/max fold under union)."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    a = per.select(
        "user_id", F.col("event_type").alias("type_a"), F.col("mn").alias("mn_a")
    )
    b = per.select(
        "user_id", F.col("event_type").alias("type_b"), F.col("mx").alias("mx_b")
    )
    sup = (
        a.join(b, "user_id")
        .filter(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("mn_a") < F.col("mx_b"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("support"))
    )
    users = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    return sup.crossJoin(F.broadcast(users)).select(
        "type_a",
        "type_b",
        "support",
        F.expr("support * 1000000 div n_users")
        .cast("long")
        .alias("support_ppm"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (integer-exact contingency algebra)
# ---------------------------------------------------------------------------

#: Expected-count and chi-square-term algebra, shared verbatim (Spark
#: `div`; the oracle swaps in DuckDB's `//`). x1000 fixed-point keeps
#: every intermediate inside int64 at both test scales (documented
#: bound: d_x1000² <= ~1e14).
_CHI_E = "rt * ct * 1000 div n"
_CHI_TERM = (
    f"(o * 1000 - ({_CHI_E})) * (o * 1000 - ({_CHI_E})) div ({_CHI_E})"
)


@query(
    "events_chisq_independence",
    oracle=f"""
    WITH cell AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) % 7 AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
          FROM cell GROUP BY 1),
    c2 AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cell GROUP BY 1),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
    t AS (
      SELECT cell.event_type, cell.dow, cell.o,
             CAST({_CHI_E.replace(' div ', ' // ')} AS BIGINT) AS e_x1000,
             CAST({_CHI_TERM.replace(' div ', ' // ')} AS BIGINT)
               AS term_x1000
      FROM cell
      JOIN r ON r.event_type = cell.event_type
      JOIN c2 ON c2.dow = cell.dow
      CROSS JOIN nn
    ),
    tot AS (
      SELECT CAST(sum(term_x1000) AS BIGINT) AS chi2_x1000,
             CAST((count(DISTINCT event_type) - 1)
                  * (count(DISTINCT dow) - 1) AS BIGINT) AS dof
      FROM t
    )
    SELECT t.event_type, t.dow, t.o, t.e_x1000, t.term_x1000,
           tot.chi2_x1000, tot.dof
    FROM t, tot
    """,
    since=8,
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square INDEPENDENCE test over the event_type × day-of-week
    contingency table — the categorical-association member of the
    statistics family (z-test compares two proportions; bootstrap
    bounds a mean; Kaplan-Meier handles censoring; this one asks 'is
    traffic mix independent of weekday?', the seasonality-audit
    question behind mixture rebalancing). Kept transcendental-free per
    the oracle discipline: expected counts and per-cell (O-E)²/E
    terms are x1000 fixed-point integers whose algebra is shared
    VERBATIM with the oracle ({_CHI_E!r}), day-of-week is epoch-day
    mod 7 (engine-native dayofweek() conventions differ — DuckDB
    numbers Sunday 0, Spark numbers it 1), and the statistic plus
    degrees of freedom ride along every cell row for a one-read
    report.

    Scale: one (type, dow)-keyed count over the log (map-side
    partial), then all reassembly happens on the CELL table (bounded
    by |types| × 7, constant) — marginals, totals, and the statistic
    never touch event-volume data again; the one-row total broadcasts.
    Mergeable across shards: cells sum, everything else derives."""
    ev = table(spark, sf_dir, "events")
    cell = (
        ev.select(
            "event_type",
            (
                F.expr("unix_micros(ts) div 86400000000") % 7
            ).cast("long").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("o"))
    )
    cell = cell.persist()
    r = cell.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    c2 = cell.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    nn = cell.agg(F.sum("o").cast("long").alias("n"))
    t = (
        cell.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c2), "dow")
        .crossJoin(F.broadcast(nn))
        .select(
            "event_type",
            "dow",
            "o",
            F.expr(_CHI_E).cast("long").alias("e_x1000"),
            F.expr(_CHI_TERM).cast("long").alias("term_x1000"),
        )
    )
    tot = t.agg(
        F.sum("term_x1000").cast("long").alias("chi2_x1000"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
    )
    return t.crossJoin(F.broadcast(tot))


# ---------------------------------------------------------------------------
# Seasonal-naive forecast with honest backtest
# ---------------------------------------------------------------------------


@query(
    "events_snaive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    fc AS (
      SELECT day, cents AS actual_cents,
             lag(cents, 7) OVER (ORDER BY day) AS forecast_cents
      FROM daily
    ),
    bt AS (
      SELECT day, actual_cents, forecast_cents,
             abs(actual_cents - forecast_cents) AS abs_err_cents
      FROM fc WHERE forecast_cents IS NOT NULL
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(abs_err_cents) // count(*) AS BIGINT)
               AS mae_cents,
             CAST(sum(abs_err_cents) * 1000000
                  // sum(actual_cents) AS BIGINT) AS wape_ppm
      FROM bt
    )
    SELECT bt.day, bt.actual_cents, bt.forecast_cents, bt.abs_err_cents,
           tot.n_days, tot.mae_cents, tot.wape_ppm
    FROM bt, tot
    """,
    since=8,
)
def events_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive FORECAST with an honest BACKTEST — the
    forecasting baseline every production pipeline ships before any
    model (forecast(d) = actual(d-7), the weekly-seasonality naive),
    and the one the dow_seasonal/autocorr entries diagnose but never
    predict with. Each backtestable day carries its actual, the
    frozen-horizon forecast, and the absolute error in exact integer
    cents; the one-row accuracy report (MAE in cents, WAPE in ppm —
    both integer-exact, no float reduction order) rides along so a
    single read answers 'how wrong is naive?', the denominator any
    fancier model must beat. Days without a 7-day predecessor are
    excluded rather than zero-filled — forecasting against a gap is a
    backtest lie.

    Scale: one day-keyed partial aggregate over the log collapses
    event volume to one row per day; the lag and the error rollup run
    on that days-bounded series (a single ordered window over ~years
    of rows — trivially one partition; at daily-per-key grain the
    window would partition by key). Mergeable: daily cents sum across
    shards, everything downstream derives."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day")
    ).agg(F.sum(cents).cast("long").alias("cents"))
    wd = W.orderBy("day")
    bt = (
        daily.select(
            "day",
            F.col("cents").alias("actual_cents"),
            F.lag("cents", 7).over(wd).alias("forecast_cents"),
        )
        .filter(F.col("forecast_cents").isNotNull())
        .withColumn(
            "abs_err_cents",
            F.abs(F.col("actual_cents") - F.col("forecast_cents")),
        )
    )
    tot = bt.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("sum(abs_err_cents) div count(*)")
        .cast("long")
        .alias("mae_cents"),
        F.expr("sum(abs_err_cents) * 1000000 div sum(actual_cents)")
        .cast("long")
        .alias("wape_ppm"),
    )
    return bt.crossJoin(F.broadcast(tot))


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test — integer-exact nonparametric compare
# ---------------------------------------------------------------------------


@query(
    "events_mannwhitney_u",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    r AS (
      SELECT event_type,
             2 * rank() OVER (ORDER BY cents)
               + count(*) OVER (PARTITION BY cents) - 1 AS midrank_x2
      FROM s
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN event_type = 'click' THEN midrank_x2
                      ELSE 0 END) AS BIGINT) AS rsum_a_x2,
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_b
      FROM r
    )
    SELECT n_a, n_b,
           CAST(rsum_a_x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
           CAST(2 * n_a * n_b - (rsum_a_x2 - n_a * (n_a + 1)) AS BIGINT)
             AS u_b_x2,
           CAST((rsum_a_x2 - n_a * (n_a + 1)) * 1000000
                // (2 * n_a * n_b) AS BIGINT) AS auc_ppm
    FROM agg
    """,
    since=9,
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U — the NONPARAMETRIC two-sample test the
    statistics family was missing (the z-test assumes normal-ish
    means; U compares whole DISTRIBUTIONS through ranks and is exactly
    the AUC of 'does a random click out-value a random purchase?').
    Ranks are where float engines diverge, so everything is doubled
    into integers: with ties at value v, midrank_x2 = 2*rank + ties-1
    is EXACT (the x2 trick — midranks are half-integers), U_x2 and the
    AUC in ppm follow in pure int64. The oracle ranks row-at-a-time;
    the engine path NEVER ranks raw rows — it groups to per-distinct-
    value counts first and derives midranks from the cumulative count
    prefix (identical math, value-domain-bounded), the formulation
    that survives 100 TB.

    Scale: one (cents)-keyed partial-aggregated count collapses event
    volume to the value domain; the single ordered window runs over
    DISTINCT values only (bounded, mergeable across shards by
    re-prefix-summing); the final fold is one row."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("cnt_a"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("cnt_b"),
    )
    wp = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    g2 = g.withColumn(
        "midrank_x2",
        2 * F.coalesce(F.sum(F.col("cnt_a") + F.col("cnt_b")).over(wp), F.lit(0))
        + (F.col("cnt_a") + F.col("cnt_b"))
        + 1,
    )
    agg = g2.agg(
        F.sum(F.col("cnt_a") * F.col("midrank_x2"))
        .cast("long")
        .alias("rsum_a_x2"),
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum("cnt_b").cast("long").alias("n_b"),
    )
    return agg.select(
        "n_a",
        "n_b",
        (F.col("rsum_a_x2") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("long")
        .alias("u_a_x2"),
        (
            2 * F.col("n_a") * F.col("n_b")
            - (F.col("rsum_a_x2") - F.col("n_a") * (F.col("n_a") + 1))
        )
        .cast("long")
        .alias("u_b_x2"),
        F.expr(
            "(rsum_a_x2 - n_a * (n_a + 1)) * 1000000 div (2 * n_a * n_b)"
        )
        .cast("long")
        .alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (daily revenue vs daily activity)
# ---------------------------------------------------------------------------


@query(
    "events_spearman_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT day,
             2 * rank() OVER (ORDER BY cents)
               + count(*) OVER (PARTITION BY cents) - 1 AS ra_x2,
             2 * rank() OVER (ORDER BY n_events)
               + count(*) OVER (PARTITION BY n_events) - 1 AS rb_x2
      FROM daily
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((ra_x2 - rb_x2) * (ra_x2 - rb_x2)) AS BIGINT)
               AS sum_d2_x4
      FROM r
    )
    SELECT n, sum_d2_x4,
           CAST(1000000 - 6 * 1000000 * sum_d2_x4
                // (4 * n * (n * n - 1)) AS BIGINT) AS rho_x1e6
    FROM agg
    """,
    since=9,
)
def events_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman RANK correlation between daily revenue and daily
    activity — the monotone-association statistic (Pearson needs
    float moments and is outlier-fragile; Spearman asks only 'do busy
    days earn more?', which survives any monotone transform). Both
    series rank with the midrank-x2 trick (ties stay exact
    half-integers doubled into int64 — the events_mannwhitney_u
    device), squared rank differences carry the x4 factor, and rho
    lands in exact ppm via the textbook d² form (with midranks under
    ties this is the classical tie-adjusted approximation — the tie
    structure here is a handful of equal daily counts at most; the
    docstring states the form so the statistic is pinned, not
    discovered). One output row: n days, Σd²(x4), rho_x1e6.

    Scale: the day rollup collapses the log (map-side partials); both
    rank windows run over the DAYS series (bounded — years, not
    events); the fold is one row. The engine and oracle share the
    construction verbatim; determinism comes from exact integer ranks,
    never float sums."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count("*").cast("long").alias("n_events"),
    )

    def midrank_x2(col: str) -> Column:
        return (
            2 * F.rank().over(W.orderBy(col))
            + F.count("*").over(W.partitionBy(col))
            - 1
        )

    r = daily.select(
        "day",
        midrank_x2("cents").alias("ra_x2"),
        midrank_x2("n_events").alias("rb_x2"),
    )
    d2 = (F.col("ra_x2") - F.col("rb_x2")) * (
        F.col("ra_x2") - F.col("rb_x2")
    )
    agg = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sum_d2_x4"),
    )
    return agg.select(
        "n",
        "sum_d2_x4",
        F.expr("1000000 - 6 * 1000000 * sum_d2_x4 div (4 * n * (n * n - 1))")
        .cast("long")
        .alias("rho_x1e6"),
    )


# ---------------------------------------------------------------------------
# Wasserstein-1 (earth-mover) distribution drift
# ---------------------------------------------------------------------------


@query(
    "events_wasserstein_drift",
    oracle="""
    WITH b AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) % 2 AS half,
             CAST(round(value * 100) AS BIGINT) // 500 AS bucket
      FROM events
    ),
    cnt AS (
      SELECT bucket,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
             CAST(sum(n_b) AS BIGINT) AS t_b
      FROM cnt
    ),
    cum AS (
      SELECT bucket, n_a, n_b,
             CAST(sum(n_a) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_a,
             CAST(sum(n_b) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_b
      FROM cnt
    ),
    g AS (
      SELECT bucket, n_a, n_b,
             CAST(abs(cum_a * 1000000 // t_a - cum_b * 1000000 // t_b)
                  AS BIGINT) AS cdf_gap_ppm
      FROM cum, tot
    ),
    emd AS (SELECT CAST(sum(cdf_gap_ppm) AS BIGINT) AS emd_ppm_buckets
            FROM g)
    SELECT g.bucket, g.n_a, g.n_b, g.cdf_gap_ppm, emd.emd_ppm_buckets
    FROM g, emd
    """,
    since=9,
)
def events_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) DISTRIBUTION drift between the
    even-day and odd-day transaction-value distributions — the
    transport metric that sees HOW FAR mass moved, which the
    chi-square/PSI family (per-bucket ratio tests) is blind to: a $5
    shift and a $50 shift hit the same buckets differently here. In
    1-D, EMD is exactly the area between CDFs — Σ over value buckets
    of |CDF_a - CDF_b| — so with integer bucket counts and
    ppm-truncated cumulative shares (shared verbatim), the whole
    metric is exact int64 arithmetic: per bucket the CDF gap in ppm,
    plus the total (in bucket-width × ppm units) riding every row.

    Scale: one (bucket)-keyed count carrying both halves in one pass
    (the bigram_drift device — no self-join), one ordered window over
    the BUCKET domain (bounded by value range / 500 cents, constant),
    one-row totals broadcast. Mergeable across shards: bucket counts
    sum, CDFs re-derive."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        (F.expr("unix_micros(ts) div 86400000000") % 2).alias("half"),
        F.expr("cast(round(value * 100) as bigint) div 500").alias("bucket"),
    )
    cnt = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tot = cnt.agg(
        F.sum("n_a").cast("long").alias("t_a"),
        F.sum("n_b").cast("long").alias("t_b"),
    )
    wc = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = cnt.select(
        "bucket",
        "n_a",
        "n_b",
        F.sum("n_a").over(wc).cast("long").alias("cum_a"),
        F.sum("n_b").over(wc).cast("long").alias("cum_b"),
    )
    g = cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_a",
        "n_b",
        F.abs(
            F.expr("cum_a * 1000000 div t_a")
            - F.expr("cum_b * 1000000 div t_b")
        )
        .cast("long")
        .alias("cdf_gap_ppm"),
    )
    emd = g.agg(
        F.sum("cdf_gap_ppm").cast("long").alias("emd_ppm_buckets")
    )
    return g.crossJoin(F.broadcast(emd))


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


@query(
    "events_theilsen_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT (b.cents - a.cents) * 1000000 // (b.day - a.day)
               AS slope_ppm
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    r AS (
      SELECT slope_ppm,
             row_number() OVER (ORDER BY slope_ppm) AS rn,
             count(*) OVER () AS n
      FROM slopes
    )
    SELECT CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN rn = (n + 1) // 2 THEN slope_ppm END)
                AS BIGINT) AS slope_lo_ppm,
           CAST(min(CASE WHEN rn = n // 2 + 1 THEN slope_ppm END)
                AS BIGINT) AS slope_hi_ppm
    FROM r
    """,
    since=9,
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend — the median of all pairwise slopes of
    the daily-revenue series, the estimator that shrugs off the
    outlier days that wreck a least-squares fit (events_user_trend's
    OLS sibling; up to ~29% of days can be corrupted before the
    estimate moves). Each pairwise slope is integer ppm-per-day
    (truncating div shared with the oracle — rational slopes ranked
    after identical quantization), and the median is emitted as its
    two bracketing order statistics (lo = ceil(n/2)-th, hi =
    (floor(n/2)+1)-th — equal when n is odd), the same
    integer-exact-median device as lineitem_histogram_median: never
    average two ints into a float.

    Scale: the day rollup collapses the log; the pair join is over
    the DAYS series only (n(n-1)/2 pairs of a years-bounded series —
    ~half a million for a 3-year daily series, trivial); ranking runs
    on the slopes set. For per-key trends the same plan partitions
    every window and join by key."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a = daily.select(
        F.col("day").alias("day_a"), F.col("cents").alias("cents_a")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("cents").alias("cents_b")
    )
    slopes = a.join(b, F.col("day_b") > F.col("day_a")).select(
        F.expr("(cents_b - cents_a) * 1000000 div (day_b - day_a)")
        .cast("long")
        .alias("slope_ppm")
    )
    r = slopes.select(
        "slope_ppm",
        F.row_number().over(W.orderBy("slope_ppm")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope_ppm")
            )
        )
        .cast("long")
        .alias("slope_lo_ppm"),
        F.min(
            F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("slope_ppm"))
        )
        .cast("long")
        .alias("slope_hi_ppm"),
    )


# ---------------------------------------------------------------------------
# Bot detection: inter-event timing regularity
# ---------------------------------------------------------------------------


@query(
    "events_bot_regularity",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_s
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(count(gap_s) AS BIGINT) AS n_gaps,
             CAST(sum(gap_s) AS BIGINT) AS sum_s,
             CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_s2
      FROM g GROUP BY user_id HAVING count(gap_s) >= 20
    )
    SELECT user_id, n_gaps,
           CAST(sum_s // n_gaps AS BIGINT) AS mean_gap_s,
           CAST(n_gaps * sum_s2 - sum_s * sum_s AS BIGINT) AS var_num_s2,
           CAST((n_gaps * sum_s2 - sum_s * sum_s) // (n_gaps * n_gaps)
                AS BIGINT) AS var_s2,
           (n_gaps * sum_s2 - sum_s * sum_s) // (n_gaps * n_gaps)
             * 100 < (sum_s // n_gaps) * (sum_s // n_gaps)
             AS too_regular
    FROM s
    """,
    since=9,
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOT-DETECTION timing screen — humans are bursty, schedulers are
    metronomes: per active user (>= 20 inter-event gaps), the
    inter-event gap mean and variance in EXACT integer seconds, via
    the moments identity n·Σx² − (Σx)² (never a float mean
    subtraction — the identity keeps partition order irrelevant;
    second-scale gaps bound the squares far inside int64, which
    microsecond gaps would not). The flag: variance under 1% of the
    squared mean (coefficient of variation < ~0.1) marks
    suspiciously clockwork accounts — the timing-regularity heuristic
    every traffic-quality pipeline runs before counting 'users'. The
    per-user sums are emitted too, so downstream can re-threshold
    without rescanning.

    Scale: one (user)-keyed ordered window for gaps (the sessionize
    cost model), then a user-keyed partial aggregate; the HAVING
    prunes the long inactive tail early. Mergeable: (n, Σx, Σx²) are
    the canonical mergeable moment sketch."""
    ev = table(spark, sf_dir, "events")
    # r12: lag() via scale.KeyedRanges (segmented scan) — a bot user's
    # whole history never lands on one window task; see sessionize_events
    proj = ev.select(
        "user_id", "ts", "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
    )
    kr = KeyedRanges(proj, "user_id", ["ts", "event_id"], carry_cols=("sec",))
    g = kr.lag_col(kr.frame, "sec", "__prev_sec").select(
        "user_id", (F.col("sec") - F.col("__prev_sec")).alias("gap_s")
    )
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            F.sum("gap_s").cast("long").alias("sum_s"),
            F.sum(F.col("gap_s") * F.col("gap_s"))
            .cast("long")
            .alias("sum_s2"),
        )
        .filter(F.col("n_gaps") >= 20)
    )
    var_num = F.col("n_gaps") * F.col("sum_s2") - F.col("sum_s") * F.col(
        "sum_s"
    )
    return s.select(
        "user_id",
        "n_gaps",
        F.expr("sum_s div n_gaps").cast("long").alias("mean_gap_s"),
        var_num.cast("long").alias("var_num_s2"),
        F.expr("(n_gaps * sum_s2 - sum_s * sum_s) div (n_gaps * n_gaps)")
        .cast("long")
        .alias("var_s2"),
        (
            F.expr(
                "(n_gaps * sum_s2 - sum_s * sum_s) div (n_gaps * n_gaps)"
            )
            * 100
            < F.expr("(sum_s div n_gaps) * (sum_s div n_gaps)")
        ).alias("too_regular"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (2x2 causal baseline)
# ---------------------------------------------------------------------------


@query(
    "events_diff_in_diff",
    oracle="""
    WITH d AS (
      SELECT user_id % 2 = 0 AS treated,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    bounds AS (
      SELECT CAST((min(day) + max(day) + 1) // 2 AS BIGINT) AS mid
      FROM d
    ),
    cells AS (
      SELECT treated, day >= mid AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM d, bounds GROUP BY treated, day >= mid
    ),
    m AS (
      SELECT
        CAST(max(CASE WHEN treated AND post
                      THEN cents * 1000 // n END) AS BIGINT) AS tp,
        CAST(max(CASE WHEN treated AND NOT post
                      THEN cents * 1000 // n END) AS BIGINT) AS tq,
        CAST(max(CASE WHEN NOT treated AND post
                      THEN cents * 1000 // n END) AS BIGINT) AS cp,
        CAST(max(CASE WHEN NOT treated AND NOT post
                      THEN cents * 1000 // n END) AS BIGINT) AS cq
      FROM cells
    )
    SELECT cells.treated, cells.post, cells.n, cells.cents,
           CAST(cells.cents * 1000 // cells.n AS BIGINT) AS mean_mcents,
           CAST((m.tp - m.tq) - (m.cp - m.cq) AS BIGINT) AS did_mcents
    FROM cells, m
    """,
    since=9,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the 2x2 causal baseline the A/B
    z-test can't provide when assignment isn't randomized over time:
    treatment (even user ids, the stand-in cohort) vs control, before
    vs after the period midpoint (pinned as the INTEGER midpoint of
    the observed day range — no data-dependent float split), and the
    causal estimate is the treated delta minus the control delta,
    which cancels both the level difference between cohorts and the
    common time trend. Cell means live in exact milli-cents
    (truncating div shared verbatim), so the DiD estimate is one
    integer riding every cell row alongside the full 2x2 table
    (n, sum, mean per cell) — the parallel-trends evidence a reviewer
    asks for.

    Scale: one (treated, post)-keyed partial aggregate over the log —
    four cells out, period bounds a one-row broadcast; the estimate
    assembles from the cell frame alone. Mergeable: cells sum across
    shards."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = d.agg(
        F.expr("(min(day) + max(day) + 1) div 2").cast("long").alias("mid")
    )
    cells = (
        d.crossJoin(F.broadcast(bounds))
        .groupBy("treated", (F.col("day") >= F.col("mid")).alias("post"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    cells = cells.persist()
    mean_m = F.expr("cents * 1000 div n")
    m = cells.agg(
        F.max(F.when(F.col("treated") & F.col("post"), mean_m))
        .cast("long")
        .alias("tp"),
        F.max(F.when(F.col("treated") & ~F.col("post"), mean_m))
        .cast("long")
        .alias("tq"),
        F.max(F.when(~F.col("treated") & F.col("post"), mean_m))
        .cast("long")
        .alias("cp"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), mean_m))
        .cast("long")
        .alias("cq"),
    )
    return cells.crossJoin(F.broadcast(m)).select(
        "treated",
        "post",
        "n",
        "cents",
        mean_m.cast("long").alias("mean_mcents"),
        ((F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")))
        .cast("long")
        .alias("did_mcents"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown (peak-to-trough decline of the daily series)
# ---------------------------------------------------------------------------


@query(
    "events_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    dd AS (
      SELECT day, cents,
             CAST(max(cents) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS peak,
             CAST(max(cents) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) - cents
                  AS BIGINT) AS drawdown
      FROM daily
    ),
    best AS (
      SELECT day, cents, peak, drawdown,
             row_number() OVER (ORDER BY drawdown DESC, day) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n_days
      FROM dd
    )
    SELECT n_days, day AS trough_day, cents AS trough_cents,
           peak AS peak_cents, drawdown AS max_drawdown_cents,
           CAST(drawdown * 1000000 // peak AS BIGINT) AS drawdown_ppm
    FROM best WHERE rn = 1
    """,
    since=9,
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN — the peak-to-trough risk metric (finance's
    'worst decline from a running high', equally the right alarm for
    daily revenue or any KPI series): running prefix maximum, per-day
    drawdown = peak − current, global argmax with ties pinned to the
    earliest day. One report row: the trough day, its value, the peak
    it fell from, the drawdown in exact cents and in ppm of the peak
    (truncating div shared verbatim). Everything is exact integer —
    the running max is order-pinned by the day sort in both engines,
    so the hash proves the full window algebra, not just the final
    number.

    Scale: the day rollup collapses the log (map-side partials); the
    prefix-max and argmax windows run over the DAYS series (bounded —
    years, not events). Per-key drawdowns (per asset, per cohort)
    partition the same windows by key. Mergeable: daily cents sum
    across shards, the scan re-derives."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wp = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    dd = daily.select(
        "day",
        "cents",
        F.max("cents").over(wp).cast("long").alias("peak"),
        (F.max("cents").over(wp) - F.col("cents"))
        .cast("long")
        .alias("drawdown"),
    )
    best = dd.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.col("drawdown").desc(), "day"))
        .alias("rn"),
        F.count("*").over(W.partitionBy()).cast("long").alias("n_days"),
    )
    return best.filter(F.col("rn") == 1).select(
        "n_days",
        F.col("day").alias("trough_day"),
        F.col("cents").alias("trough_cents"),
        F.col("peak").alias("peak_cents"),
        F.col("drawdown").alias("max_drawdown_cents"),
        F.expr("drawdown * 1000000 div peak")
        .cast("long")
        .alias("drawdown_ppm"),
    )


# ---------------------------------------------------------------------------
# Matched-pairs treatment effect (nearest-neighbor covariate matching)
# ---------------------------------------------------------------------------


@query(
    "events_matched_pairs_att",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 = 0 AS treated,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT *,
             last_value(CASE WHEN NOT treated
                             THEN struct_pack(cx := x, cy := y) END
                        IGNORE NULLS)
               OVER (ORDER BY x, user_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_c,
             first_value(CASE WHEN NOT treated
                              THEN struct_pack(cx := x, cy := y) END
                         IGNORE NULLS)
               OVER (ORDER BY x, user_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_c
      FROM u
    ),
    m AS (
      SELECT user_id, x, y,
             CASE WHEN prev_c IS NULL THEN next_c
                  WHEN next_c IS NULL THEN prev_c
                  WHEN x - prev_c.cx <= next_c.cx - x THEN prev_c
                  ELSE next_c END AS c
      FROM s WHERE treated
    )
    SELECT CAST(count(*) AS BIGINT) AS n_treated,
           CAST(sum(abs(x - c.cx)) AS BIGINT) AS total_x_gap,
           CAST(sum(y - c.cy) * 1000 // count(*) AS BIGINT) AS att_mcents
    FROM m
    """,
    since=9,
)
def events_matched_pairs_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCHED-PAIRS treatment effect — 1-nearest-neighbor covariate
    matching (the propensity-matching shape), the second member of
    the causal family: where events_diff_in_diff cancels trends by
    time, matching cancels confounding by COMPARABILITY — each
    treated user (even ids) pairs with the control user closest in
    activity level (event count, the covariate), and ATT is the mean
    outcome gap over matched pairs, in exact milli-cents. The
    nearest-neighbor search is NOT a cross join: both cohorts sort
    once on the covariate and every treated row reads its nearest
    control from two IGNORE-NULLS window scans (last preceding /
    first following control — the as-of join device turned sideways,
    O(n log n) total), tie to the preceding. Match quality rides
    along (total |covariate gap| — a reviewer rejects matches that
    stretch too far).

    Scale: one user-keyed rollup collapses the log; one global sort
    of the USERS frame (at per-key grain the windows partition by
    stratum); the fold is one row. Matching with replacement — a
    control can serve several treated — which is what keeps the scan
    one-pass."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    ).select(
        "user_id", (F.col("user_id") % 2 == 0).alias("treated"), "x", "y"
    )
    cstruct = F.when(
        ~F.col("treated"),
        F.struct(F.col("x").alias("cx"), F.col("y").alias("cy")),
    )
    wo = W.orderBy("x", "user_id")
    s = u.select(
        "*",
        F.last(cstruct, ignorenulls=True)
        .over(wo.rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_c"),
        F.first(cstruct, ignorenulls=True)
        .over(wo.rowsBetween(1, W.unboundedFollowing))
        .alias("next_c"),
    )
    c = (
        F.when(F.col("prev_c").isNull(), F.col("next_c"))
        .when(F.col("next_c").isNull(), F.col("prev_c"))
        .when(
            F.col("x") - F.col("prev_c.cx")
            <= F.col("next_c.cx") - F.col("x"),
            F.col("prev_c"),
        )
        .otherwise(F.col("next_c"))
    )
    m = s.filter(F.col("treated")).select("user_id", "x", "y", c.alias("c"))
    return m.agg(
        F.count("*").cast("long").alias("n_treated"),
        F.sum(F.abs(F.col("x") - F.col("c.cx")))
        .cast("long")
        .alias("total_x_gap"),
        F.expr("sum(y - c.cy) * 1000 div count(*)")
        .cast("long")
        .alias("att_mcents"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency over sessionized intervals (sweep-line max)
# ---------------------------------------------------------------------------


@query(
    "events_peak_concurrency",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS t,
             CASE WHEN lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sid,
             t
      FROM marked
    ),
    iv AS (
      SELECT CAST(min(t) AS BIGINT) AS s, CAST(max(t) AS BIGINT) AS e
      FROM sess GROUP BY user_id, sid
    ),
    ev AS (
      SELECT s AS pos, 1 AS d FROM iv
      UNION ALL
      SELECT e + 1, -1 FROM iv
    ),
    ag AS (SELECT pos, CAST(sum(d) AS BIGINT) AS delta
           FROM ev GROUP BY pos),
    sweep AS (
      SELECT pos,
             CAST(sum(delta) OVER (ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS conc
      FROM ag
    ),
    best AS (
      SELECT pos, conc,
             row_number() OVER (ORDER BY conc DESC, pos) AS rn
      FROM sweep
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM iv)
    SELECT n.n_sessions, best.conc AS peak_concurrent,
           best.pos AS peak_at_us
    FROM best, n WHERE best.rn = 1
    """,
    since=9,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY — 'how many sessions were open at once, and
    when?', the capacity-planning number a sessionized log exists to
    answer: sessions (the {_GAP_US // 3_600_000_000}-hour-gap rule
    shared with sessionize_events) become [first, last+1) microsecond
    intervals, and the sweep-line diff-array (the depth-histogram
    machinery pointed at TIME instead of genome position) yields
    exact concurrency at every breakpoint; the report row carries the
    session count, the maximum, and the earliest instant it was
    reached (argmax tie pinned to the earliest — peaks are plateaus).

    Scale: sessionization is the standard user-keyed window; the
    sweep is O(session breakpoints) — 2 rows per session, which GROWS
    WITH DATA (the r11 audit finding: this was a global window hiding
    under a value-domain exemption), so the running concurrency is
    now scale.two_phase_prefix_agg (range-partitioned per-range
    cumsum + partition-count carry-ins, exact) and the argmax is an
    orderBy().limit(1) TakeOrdered reduce — no global window
    anywhere. Delta pre-aggregation makes positions unique so the
    prefix order needs no tiebreak. Per-day or per-shard peaks
    partition the same sweep by bucket and merge by re-basing
    offsets."""
    ev = table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.expr("unix_micros(ts)")
    gap = t - F.lag(t).over(wu)
    marked = ev.select(
        "user_id",
        t.alias("t"),
        F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0).alias("new_s"),
    )
    sess = marked.select(
        "user_id",
        F.sum("new_s")
        .over(
            W.partitionBy("user_id")
            .orderBy("t")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("sid"),
        "t",
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("t").cast("long").alias("s"), F.max("t").cast("long").alias("e")
    )
    iv = iv.persist()
    evp = iv.select(F.col("s").alias("pos"), F.lit(1).alias("d")).unionByName(
        iv.select((F.col("e") + 1).alias("pos"), F.lit(-1).alias("d"))
    )
    ag = evp.groupBy("pos").agg(F.sum("d").alias("delta"))
    from virapipe_spark.scale import two_phase_prefix_agg

    sweep = two_phase_prefix_agg(ag, ["pos"], "delta", "conc").select(
        "pos", F.col("conc").cast("long").alias("conc")
    )
    best = sweep.orderBy(F.col("conc").desc(), "pos").limit(1)
    n = iv.agg(F.count("*").cast("long").alias("n_sessions"))
    return n.crossJoin(F.broadcast(best)).select(
        "n_sessions",
        F.col("conc").alias("peak_concurrent"),
        F.col("pos").alias("peak_at_us"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance (integer cross-multiplied)
# ---------------------------------------------------------------------------


@query(
    "events_ks_test",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    g AS (
      SELECT cents,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_a,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_b
      FROM s GROUP BY cents
    ),
    c AS (
      SELECT cents,
             CAST(sum(cnt_a) OVER w AS BIGINT) AS cum_a,
             CAST(sum(cnt_b) OVER w AS BIGINT) AS cum_b,
             CAST(sum(cnt_a) OVER () AS BIGINT) AS n_a,
             CAST(sum(cnt_b) OVER () AS BIGINT) AS n_b
      FROM g
      WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
    ),
    d AS (
      SELECT cents, n_a, n_b,
             CAST(abs(cum_a * n_b - cum_b * n_a) AS BIGINT) AS d_scaled
      FROM c
    ),
    best AS (
      SELECT cents, n_a, n_b, d_scaled,
             row_number() OVER (ORDER BY d_scaled DESC, cents) AS rn
      FROM d
    )
    SELECT n_a, n_b, d_scaled,
           CAST(d_scaled * 1000000 // (n_a * n_b) AS BIGINT) AS d_ppm,
           cents AS at_cents
    FROM best WHERE rn = 1
    """,
    since=9,
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV distance between the click and
    purchase value distributions — the drift family's third member:
    Wasserstein-1 integrates the ECDF gap, KS takes its MAXIMUM (the
    statistic behind 'did the distribution shift anywhere, and where
    exactly?'). ECDFs never materialize as floats: at each distinct
    cents value |F_a - F_b| is the cross-multiplied integer
    |cum_a*n_b - cum_b*n_a| (exact, denominator-free), the argmax tie
    pins to the smallest value, and only the final ppm is one
    truncating division. The oracle replays the identical prefix
    walk.

    Scale: the (cents)-keyed partial aggregation collapses event
    volume to the value domain before the single ordered window (the
    events_mannwhitney_u formulation); the argmax is one reduce.
    int64 holds through n_a*n_b ~ 9e18 — beyond ~3e9 rows per side,
    pre-scale counts to ppm per shard and merge."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("cnt_a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("cnt_b"),
        )
    )
    wc = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    wa = W.partitionBy()
    c = g.select(
        "cents",
        F.sum("cnt_a").over(wc).cast("long").alias("cum_a"),
        F.sum("cnt_b").over(wc).cast("long").alias("cum_b"),
        F.sum("cnt_a").over(wa).cast("long").alias("n_a"),
        F.sum("cnt_b").over(wa).cast("long").alias("n_b"),
    )
    d = c.select(
        "cents",
        "n_a",
        "n_b",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        .cast("long")
        .alias("d_scaled"),
    )
    best = d.withColumn(
        "rn",
        F.row_number().over(W.orderBy(F.col("d_scaled").desc(), "cents")),
    ).filter(F.col("rn") == 1)
    return best.select(
        "n_a",
        "n_b",
        "d_scaled",
        F.expr("d_scaled * 1000000 div (n_a * n_b)")
        .cast("long")
        .alias("d_ppm"),
        F.col("cents").alias("at_cents"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifier equivalence classes
# ---------------------------------------------------------------------------

#: The k in k-anonymity: equivalence classes smaller than this are
#: re-identification risks.
_K_ANON = 5


@query(
    "events_k_anonymity",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) % 7 AS dow,
             CAST(round(value * 100) AS BIGINT) // 2000 AS band
      FROM events
    ),
    cls AS (
      SELECT event_type, dow, band, CAST(count(*) AS BIGINT) AS size
      FROM q GROUP BY event_type, dow, band
    )
    SELECT CAST({_K_ANON} AS BIGINT) AS k,
           CAST(sum(size) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN size < {_K_ANON} THEN 1 ELSE 0 END)
                AS BIGINT) AS risky_classes,
           CAST(sum(CASE WHEN size < {_K_ANON} THEN size ELSE 0 END)
                AS BIGINT) AS risky_rows,
           CAST(sum(CASE WHEN size < {_K_ANON} THEN size ELSE 0 END)
                * 1000000 // sum(size) AS BIGINT) AS risk_ppm,
           CAST(min(size) AS BIGINT) AS min_class_size
    FROM cls
    """,
    since=9,
)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit — the privacy gate a release pipeline runs
    before publishing event data: bucket every row into its
    quasi-identifier equivalence class (event type x day-of-week x
    value band — the attacker-joinable attributes after direct
    identifiers are dropped) and measure how much of the table sits
    in classes smaller than k=5, where individuals are
    re-identifiable by intersection. Day-of-week is epoch-day mod 7
    (engine-neutral integer arithmetic — the engines' dayofweek()
    functions disagree on week origin), bands are truncating integer
    division, and the report row is exact counts plus one ppm.

    Scale: one partial-aggregated group-by (class count is bounded
    by the quasi-identifier domain, not row volume) and a one-row
    fold; the 100 TB audit is a scan plus a tiny shuffle. Suppression
    or generalization then FILTERS on the same class frame."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        (F.expr("unix_micros(ts) div 86400000000") % 7).alias("dow"),
        F.expr(
            "cast(round(value * 100) as bigint) div 2000"
        ).alias("band"),
    )
    cls = q.groupBy("event_type", "dow", "band").agg(
        F.count("*").cast("long").alias("size")
    )
    risky = F.when(F.col("size") < _K_ANON, F.col("size")).otherwise(0)
    agg = cls.agg(
        F.lit(_K_ANON).cast("long").alias("k"),
        F.sum("size").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.sum(F.when(F.col("size") < _K_ANON, 1).otherwise(0))
        .cast("long")
        .alias("risky_classes"),
        F.sum(risky).cast("long").alias("risky_rows"),
        F.min("size").cast("long").alias("min_class_size"),
    )
    return agg.select(
        "k",
        "n_rows",
        "n_classes",
        "risky_classes",
        "risky_rows",
        F.expr("risky_rows * 1000000 div n_rows")
        .cast("long")
        .alias("risk_ppm"),
        "min_class_size",
    )


# ---------------------------------------------------------------------------
# Bitmap-index day-over-day retention (bit_or words + popcount AND)
# ---------------------------------------------------------------------------


@query(
    "events_bitmap_retention",
    oracle=f"""
    WITH q AS (
      SELECT CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day,
             CAST(user_id // 62 AS BIGINT) AS word,
             1::BIGINT << CAST(user_id % 62 AS INT) AS mask
      FROM events
    ),
    w AS (SELECT day, word, bit_or(mask) AS bits FROM q GROUP BY day, word),
    a AS (
      SELECT day, CAST(sum(bit_count(bits)) AS BIGINT) AS actives
      FROM w GROUP BY day
    ),
    r AS (
      SELECT x.day, CAST(sum(bit_count(x.bits & y.bits)) AS BIGINT) AS retained
      FROM w x JOIN w y ON y.day = x.day + 1 AND y.word = x.word
      GROUP BY x.day
    )
    SELECT a.day, a.actives,
           CAST(coalesce(r.retained, 0) AS BIGINT) AS retained_next,
           CAST(coalesce(r.retained, 0) * 1000000 // a.actives AS BIGINT)
             AS retained_ppm
    FROM a LEFT JOIN r ON r.day = a.day
    """,
    since=9,
)
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX retention — day-over-day retained users computed
    the way a 100 TB store actually does it: each day's active-user
    set compresses into 62-bit words (word = uid div 62, one bit per
    user — the roaring-bitmap layout flattened to int64), daily sets
    reduce by bit_or, and retention is popcount(AND) between
    consecutive days' words. The result is EXACT distinct-user
    retention (a bitmap is a lossless set), but the expensive
    count(DISTINCT user_id) re-scan per day-pair is replaced by a
    word-keyed equi-join over data that is ~|users|/62 rows per day.
    Bit 62/63 stay clear so the sign bit never participates (engine
    shift semantics at bit 63 differ). The last day reports 0
    retained by construction (no next day), kept for the complete
    spine.

    Scale: the word table is the retention CUBE's input — any
    day-pair lag re-joins the same words without touching raw events;
    bit_or is map-side combinable; the join shuffles ~actives/62
    rows. This is the operator that makes 90-day retention matrices
    tractable."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
        F.expr("user_id div 62").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(user_id % 62 as int))").alias(
            "mask"
        ),
    )
    w = q.groupBy("day", "word").agg(F.expr("bit_or(mask)").alias("bits"))
    w = truncate_lineage(w, eager=False)
    a = w.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("actives")
    )
    y = w.select(
        (F.col("day") - 1).alias("pday"),
        F.col("word").alias("pword"),
        F.col("bits").alias("nbits"),
    )
    r = (
        w.join(y, (F.col("day") == F.col("pday")) & (F.col("word") == F.col("pword")))
        .groupBy("day")
        .agg(
            F.sum(F.bit_count(F.col("bits").bitwiseAND(F.col("nbits"))))
            .cast("long")
            .alias("retained")
        )
    )
    return (
        a.join(r, "day", "left")
        .select(
            "day",
            "actives",
            F.coalesce("retained", F.lit(0)).cast("long").alias("retained_next"),
            F.expr("coalesce(retained, 0) * 1000000 div actives")
            .cast("long")
            .alias("retained_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall rank correlation (tau-a / tau-b pieces) over daily aggregates
# ---------------------------------------------------------------------------


@query(
    "events_kendall_tau",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY day
    ),
    pairs AS (
      SELECT (a.x - b.x) AS dx, (a.y - b.y) AS dy
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS concordant,
        CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS discordant,
        CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_x,
        CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_y,
        CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_both,
        CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs
    )
    SELECT concordant, discordant, ties_x, ties_y, ties_both, n_pairs,
           CAST((concordant - discordant) * 1000000 // n_pairs AS BIGINT)
             AS tau_a_ppm
    FROM agg
    """,
    since=9,
)
def events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL rank correlation between daily event volume and daily
    revenue — the third rank-association member (Spearman correlates
    rank positions; Mann-Whitney compares two groups; Kendall counts
    PAIR ORDER AGREEMENT, the most robust and the one with a direct
    probabilistic reading: P(concordant) − P(discordant)). Emitted as
    exact integer pair counts — concordant, discordant, x-ties,
    y-ties, both-ties — plus tau-a in ppm ((C−D)/n_pairs, one
    truncating division). Tau-b's tie-corrected denominator needs a
    sqrt, so it ships as its exact integer PIECES rather than a
    rounded float — the honest-claims convention (callers compute
    (C−D)/sqrt((n0−tx−tb)(n0−ty−tb)) at report time).

    Scale: the pair stage is over the DAY domain, not events — the
    raw volume collapses to <=366 rows/year via one
    map-side-combinable aggregate first, so the quadratic step is
    calendar-bounded (a year is ~67k pairs) and broadcast-joins;
    inversion-count formulations only matter when correlating at the
    raw-row grain, which this entry deliberately does not do."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day")
    ).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("long")
        .alias("y"),
    )
    daily = truncate_lineage(daily, eager=False)
    b = daily.select(
        F.col("day").alias("day_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = daily.join(
        F.broadcast(b), F.col("day") < F.col("day_b")
    ).select(
        (F.col("x") - F.col("xb")).alias("dx"),
        (F.col("y") - F.col("yb")).alias("dy"),
    )
    agg = pairs.agg(
        F.sum(F.when(F.col("dx") * F.col("dy") > 0, 1).otherwise(0))
        .cast("long")
        .alias("concordant"),
        F.sum(F.when(F.col("dx") * F.col("dy") < 0, 1).otherwise(0))
        .cast("long")
        .alias("discordant"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") != 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("ties_x"),
        F.sum(
            F.when((F.col("dy") == 0) & (F.col("dx") != 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("ties_y"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("ties_both"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    return agg.select(
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        "ties_both",
        "n_pairs",
        F.expr("(concordant - discordant) * 1000000 div n_pairs")
        .cast("long")
        .alias("tau_a_ppm"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization + motif mining (time-series pattern discovery)
# ---------------------------------------------------------------------------


@query(
    "events_sax_motifs",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id, day
    ),
    weekly AS (
      SELECT user_id, day // 7 AS week,
             CAST(sum(cents) AS BIGINT) AS seg
      FROM daily GROUP BY user_id, day // 7
    ),
    u AS (
      SELECT user_id,
             CAST(sum(seg) AS BIGINT) AS tot,
             CAST(max(week) - min(week) + 1 AS BIGINT) AS span,
             CAST(count(*) AS BIGINT) AS n_weeks
      FROM weekly GROUP BY user_id HAVING count(*) >= 4
    ),
    sym AS (
      SELECT w.user_id, w.week,
             CASE WHEN 2 * w.seg * u.span < u.tot THEN 'a'
                  WHEN 2 * w.seg * u.span < 2 * u.tot THEN 'b'
                  WHEN 2 * w.seg * u.span < 3 * u.tot THEN 'c'
                  ELSE 'd' END AS s
      FROM weekly w JOIN u USING (user_id)
    ),
    words AS (
      SELECT user_id, week, s,
             lead(s, 1) OVER w AS s1, lead(s, 2) OVER w AS s2,
             lead(week, 1) OVER w AS w1, lead(week, 2) OVER w AS w2
      FROM sym WINDOW w AS (PARTITION BY user_id ORDER BY week)
    )
    SELECT s || s1 || s2 AS motif,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM words
    WHERE w1 = week + 1 AND w2 = week + 2
    GROUP BY motif
    """,
    since=9,
)
def events_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX SYMBOLIZATION + MOTIF MINING — the time-series pattern-
    discovery pipeline (Lin/Keogh SAX): reduce each user's weekly
    spend series by PAA (piecewise aggregate segments = calendar
    weeks), quantize each segment against that user's own mean level,
    and mine recurring 3-symbol WORDS (motifs) across the population —
    "who shows the low-low-spike shape, and how often". The float
    quantization is cleared to integers: segment mean vs c·(user
    mean)/2 thresholds becomes 2·seg·span < c·total with every
    operand an exact integer (cents, week counts), so symbols — and
    therefore motif counts — are exactly reproducible. Words form
    only over three CONSECUTIVE calendar weeks (adjacency checked with
    lead(), not assumed), so activity gaps never fabricate patterns.

    Scale: two aggregates collapse raw events to user-weeks (map-side
    combinable), one per-user ordered window forms words, one 64-key
    aggregate counts motifs. The alphabet bounds the output at
    4³ = 64 rows regardless of scale — sketch-sized, like the
    retention and funnel tables."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(_DAY_US)).cast("long").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    weekly = daily.groupBy(
        "user_id", F.expr("day div 7").alias("week")
    ).agg(F.sum("cents").cast("long").alias("seg"))
    u = (
        weekly.groupBy("user_id")
        .agg(
            F.sum("seg").cast("long").alias("tot"),
            (F.max("week") - F.min("week") + 1).cast("long").alias("span"),
            F.count("*").cast("long").alias("n_weeks"),
        )
        .filter(F.col("n_weeks") >= 4)
    )
    lvl = 2 * F.col("seg") * F.col("span")
    sym = weekly.join(u, "user_id").select(
        "user_id",
        "week",
        F.when(lvl < F.col("tot"), "a")
        .when(lvl < 2 * F.col("tot"), "b")
        .when(lvl < 3 * F.col("tot"), "c")
        .otherwise("d")
        .alias("s"),
    )
    w = W.partitionBy("user_id").orderBy("week")
    words = sym.select(
        "user_id",
        "week",
        "s",
        F.lead("s", 1).over(w).alias("s1"),
        F.lead("s", 2).over(w).alias("s2"),
        F.lead("week", 1).over(w).alias("w1"),
        F.lead("week", 2).over(w).alias("w2"),
    ).filter(
        (F.col("w1") == F.col("week") + 1)
        & (F.col("w2") == F.col("week") + 2)
    )
    return words.groupBy(
        F.concat("s", "s1", "s2").alias("motif")
    ).agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout vs Z-order: measured scan locality
# ---------------------------------------------------------------------------


@query(
    "events_hilbert_layout",
    oracle=f"""
    WITH cells AS (
      SELECT user_id % 16 AS x0,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) % 16 AS y0,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY x0, y0
    ),
    h1 AS (
      SELECT x0, y0, n,
             CASE WHEN (y0 // 8) = 1 THEN (x0 - (x0 // 8) * 8)
                  WHEN (x0 // 8) = 1 THEN 8 - 1 - (y0 - (y0 // 8) * 8)
                  ELSE (y0 - (y0 // 8) * 8) END AS x1,
             CASE WHEN (y0 // 8) = 1 THEN (y0 - (y0 // 8) * 8)
                  WHEN (x0 // 8) = 1 THEN 8 - 1 - (x0 - (x0 // 8) * 8)
                  ELSE (x0 - (x0 // 8) * 8) END AS y1,
             0 + 64 * (CASE
                 WHEN (x0 // 8) = 0 AND (y0 // 8) = 0 THEN 0
                 WHEN (x0 // 8) = 0 AND (y0 // 8) = 1 THEN 1
                 WHEN (x0 // 8) = 1 AND (y0 // 8) = 1 THEN 2
                 ELSE 3 END) AS d1
      FROM cells
    ),
    h2 AS (
      SELECT x0, y0, n,
             CASE WHEN (y1 // 4) = 1 THEN (x1 - (x1 // 4) * 4)
                  WHEN (x1 // 4) = 1 THEN 4 - 1 - (y1 - (y1 // 4) * 4)
                  ELSE (y1 - (y1 // 4) * 4) END AS x2,
             CASE WHEN (y1 // 4) = 1 THEN (y1 - (y1 // 4) * 4)
                  WHEN (x1 // 4) = 1 THEN 4 - 1 - (x1 - (x1 // 4) * 4)
                  ELSE (x1 - (x1 // 4) * 4) END AS y2,
             d1 + 16 * (CASE
                 WHEN (x1 // 4) = 0 AND (y1 // 4) = 0 THEN 0
                 WHEN (x1 // 4) = 0 AND (y1 // 4) = 1 THEN 1
                 WHEN (x1 // 4) = 1 AND (y1 // 4) = 1 THEN 2
                 ELSE 3 END) AS d2
      FROM h1
    ),
    h3 AS (
      SELECT x0, y0, n,
             CASE WHEN (y2 // 2) = 1 THEN (x2 - (x2 // 2) * 2)
                  WHEN (x2 // 2) = 1 THEN 2 - 1 - (y2 - (y2 // 2) * 2)
                  ELSE (y2 - (y2 // 2) * 2) END AS x3,
             CASE WHEN (y2 // 2) = 1 THEN (y2 - (y2 // 2) * 2)
                  WHEN (x2 // 2) = 1 THEN 2 - 1 - (x2 - (x2 // 2) * 2)
                  ELSE (x2 - (x2 // 2) * 2) END AS y3,
             d2 + 4 * (CASE
                 WHEN (x2 // 2) = 0 AND (y2 // 2) = 0 THEN 0
                 WHEN (x2 // 2) = 0 AND (y2 // 2) = 1 THEN 1
                 WHEN (x2 // 2) = 1 AND (y2 // 2) = 1 THEN 2
                 ELSE 3 END) AS d3
      FROM h2
    ),
    h4 AS (
      SELECT x0, y0, n,
             d3 + (CASE WHEN x3 = 0 AND y3 = 0 THEN 0
                        WHEN x3 = 0 AND y3 = 1 THEN 1
                        WHEN x3 = 1 AND y3 = 1 THEN 2
                        ELSE 3 END) AS d
      FROM h3
    ),
    zo AS (
      SELECT x0, y0, n,
             (x0 % 2) * 2 + (y0 % 2)
             + ((x0 // 2) % 2) * 8 + ((y0 // 2) % 2) * 4
             + ((x0 // 4) % 2) * 32 + ((y0 // 4) % 2) * 16
             + ((x0 // 8) % 2) * 128 + ((y0 // 8) % 2) * 64 AS d
      FROM cells
    ),
    curves AS (
      SELECT 'hilbert' AS curve, x0, y0, CAST(d AS BIGINT) AS idx, n FROM h4
      UNION ALL
      SELECT 'zorder', x0, y0, CAST(d AS BIGINT), n FROM zo
    ),
    steps AS (
      SELECT curve,
             abs(x0 - lag(x0) OVER w) + abs(y0 - lag(y0) OVER w) AS sd
      FROM curves WINDOW w AS (PARTITION BY curve ORDER BY idx)
    )
    SELECT curve, CAST(sd AS BIGINT) AS step_dist,
           CAST(count(*) AS BIGINT) AS n_steps
    FROM steps WHERE sd IS NOT NULL GROUP BY curve, sd
    """,
    since=9,
)
def events_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-CURVE data layout vs Z-ORDER — the space-filling-curve
    clustering decision behind multi-dimensional table layout
    (Delta/Iceberg OPTIMIZE ZORDER vs Databricks liquid's Hilbert
    preference), MEASURED rather than asserted: map the occupied
    (user-bucket, day-bucket) grid cells through both curves and
    histogram the grid Manhattan distance between curve-consecutive
    occupied cells. A perfect Hilbert walk moves distance 1 per step
    (every adjacent index pair is grid-adjacent — the property that
    turns an index-range scan into a spatially tight block read);
    Z-order pays distance-2+ jumps at every power-of-two seam. The
    Hilbert transform is the classic 4-round bit-staircase
    (quadrant digit + sub-square rotation, xy2d), fully unrolled into
    integer CASE algebra — no recursion, no floats; Z-order is plain
    bit interleaving. The existing events_zorder_layout entry owns
    the write-path clustering; this one owns the curve-choice
    evidence.

    Scale: one 256-key aggregate over the event scan, constant-size
    curve algebra per cell, one ordered window over <=256 rows per
    curve. At real grid resolutions (2^20 cells) the same unrolled
    staircase is 10 rounds of the identical CASE block — still pure
    scan-stage expression work."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.col("user_id") % 16).alias("x0"),
        (
            F.floor(F.unix_micros("ts") / F.lit(_DAY_US)).cast("long") % 16
        ).alias("y0"),
    ).agg(F.count("*").cast("long").alias("n"))

    def hilbert_step(df: DataFrame, s: int, xi: str, yi: str, di, tag: str):
        # inputs live in [0, 2s); reduce into the subsquare FIRST so the
        # rotation algebra never leaves [0, s) — the negative-coordinate
        # variant of the classic loop has engine-specific div/mod
        # semantics and is deliberately avoided
        rx = F.expr(f"{xi} div {s}")
        ry = F.expr(f"{yi} div {s}")
        xr = F.col(xi) - rx * s
        yr = F.col(yi) - ry * s
        quad = (
            F.when((rx == 0) & (ry == 0), 0)
            .when((rx == 0) & (ry == 1), 1)
            .when((rx == 1) & (ry == 1), 2)
            .otherwise(3)
        )
        nx = F.when(ry == 1, xr).when(rx == 1, s - 1 - yr).otherwise(yr)
        ny = F.when(ry == 1, yr).when(rx == 1, s - 1 - xr).otherwise(xr)
        return df.select(
            "x0",
            "y0",
            "n",
            nx.alias("x" + tag),
            ny.alias("y" + tag),
            (di + s * s * quad).alias("d" + tag),
        )

    h = cells
    h = hilbert_step(h, 8, "x0", "y0", F.lit(0), "1")
    h = hilbert_step(h, 4, "x1", "y1", F.col("d1"), "2")
    h = hilbert_step(h, 2, "x2", "y2", F.col("d2"), "3")
    h = h.select(
        "x0",
        "y0",
        "n",
        (
            F.col("d3")
            + F.when((F.col("x3") == 0) & (F.col("y3") == 0), 0)
            .when((F.col("x3") == 0) & (F.col("y3") == 1), 1)
            .when((F.col("x3") == 1) & (F.col("y3") == 1), 2)
            .otherwise(3)
        ).alias("d4"),
    )
    hil = h.select(
        F.lit("hilbert").alias("curve"),
        "x0",
        "y0",
        F.col("d4").cast("long").alias("idx"),
        "n",
    )
    x, y = F.col("x0"), F.col("y0")
    z = (
        (x % 2) * 2
        + (y % 2)
        + ((x / 2).cast("long") % 2) * 8
        + ((y / 2).cast("long") % 2) * 4
        + ((x / 4).cast("long") % 2) * 32
        + ((y / 4).cast("long") % 2) * 16
        + ((x / 8).cast("long") % 2) * 128
        + ((y / 8).cast("long") % 2) * 64
    )
    zo = cells.select(
        F.lit("zorder").alias("curve"),
        "x0",
        "y0",
        z.cast("long").alias("idx"),
        "n",
    )
    curves = hil.unionAll(zo)
    w = W.partitionBy("curve").orderBy("idx")
    steps = curves.select(
        "curve",
        (
            F.abs(F.col("x0") - F.lag("x0").over(w))
            + F.abs(F.col("y0") - F.lag("y0").over(w))
        ).alias("sd"),
    ).filter(F.col("sd").isNotNull())
    return steps.groupBy(
        "curve", F.col("sd").cast("long").alias("step_dist")
    ).agg(F.count("*").cast("long").alias("n_steps"))


# ---------------------------------------------------------------------------
# CUPED variance-reduction adjustment (experimentation)
# ---------------------------------------------------------------------------


@query(
    "events_cuped_adjustment",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(round(value) AS BIGINT) AS v
      FROM events
    ),
    mid AS (SELECT min(day) + 183 AS m FROM d),
    per_user AS (
      SELECT user_id, user_id % 2 AS grp,
             CAST(sum(CASE WHEN day < (SELECT m FROM mid) THEN v
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN day >= (SELECT m FROM mid) THEN v
                           ELSE 0 END) AS BIGINT) AS y
      FROM d GROUP BY user_id
    ),
    theta AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS tn,
             CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS td
      FROM per_user
    )
    SELECT g.grp,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(g.x) AS BIGINT) AS sum_x,
           CAST(sum(g.y) AS BIGINT) AS sum_y,
           CAST(min(t.tn) AS BIGINT) AS theta_num,
           CAST(min(t.td) AS BIGINT) AS theta_den,
           (CAST(sum(g.y) AS BIGINT) / CAST(count(*) AS BIGINT))
             - (CAST(min(t.tn) AS BIGINT) / CAST(min(t.td) AS BIGINT))
               * ((CAST(sum(g.x) AS BIGINT) / CAST(count(*) AS BIGINT))
                  - (CAST(min(t.sx) AS BIGINT) / CAST(min(t.n) AS BIGINT)))
             AS adj_mean
    FROM per_user g, theta t
    GROUP BY g.grp
    """,
    since=9,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED — Controlled-experiment Using Pre-Experiment Data, the
    variance-reduction adjustment every large A/B platform applies
    (Deng et al., WSDM'13): Y' = Y − θ(X − mean(X)) with X the
    pre-period covariate and θ = cov(X,Y)/var(X), shrinking metric
    variance by the pre/post correlation² and cutting experiment
    runtimes proportionally. Per-user pre and post spend accumulate
    as exact integers, θ's numerator and denominator come from the
    exact moment identity (nΣXY − ΣXΣY over nΣX² − (ΣX)²) — emitted
    as integer columns so the hash pins them — and the per-arm
    adjusted mean is a FIXED parenthesized expression over exact-
    integer ratios: identical IEEE operation sequence in both
    engines, hence bit-identical doubles (the strict dtype gate
    proves it). Pairs with events_ab_test_zscore (the unadjusted
    test) and events_matched_pairs_att (the matched estimator).

    Scale: one aggregate to user grain (map-side combinable), one
    one-row θ frame broadcast back — no per-user window, no shuffle
    beyond the user-key combine. The θ crossJoin is the house
    one-row-scalar pattern."""
    e = table(spark, sf_dir, "events")
    d = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(_DAY_US)).cast("long").alias("day"),
        F.round("value").cast("long").alias("v"),
    )
    mid = d.agg((F.min("day") + 183).alias("m"))
    per_user = (
        d.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("m"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("day") >= F.col("m"), F.col("v")).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select("user_id", (F.col("user_id") % 2).alias("grp"), "x", "y")
    )
    theta = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        (
            F.count("*") * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        )
        .cast("long")
        .alias("tn"),
        (
            F.count("*") * F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x")
        )
        .cast("long")
        .alias("td"),
    )
    g = per_user.crossJoin(F.broadcast(theta)).groupBy("grp").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.min("tn").cast("long").alias("theta_num"),
        F.min("td").cast("long").alias("theta_den"),
        F.min("sx").cast("long").alias("g_sx"),
        F.min("n").cast("long").alias("g_n"),
    )
    adj = (F.col("sum_y") / F.col("n_users")) - (
        F.col("theta_num") / F.col("theta_den")
    ) * (
        (F.col("sum_x") / F.col("n_users"))
        - (F.col("g_sx") / F.col("g_n"))
    )
    return g.select(
        "grp",
        "n_users",
        "sum_x",
        "sum_y",
        "theta_num",
        "theta_den",
        adj.alias("adj_mean"),
    )


# ---------------------------------------------------------------------------
# Greedy interval scheduling (earliest-end-first via pointer doubling)
# ---------------------------------------------------------------------------


@query(
    "events_interval_scheduling",
    oracle="""
    WITH RECURSIVE iv AS (
      SELECT user_id, event_id AS id,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + (event_id % 7 + 1) * 60 AS e
      FROM events
    ),
    nxt AS (
      SELECT i.user_id, i.id,
             (SELECT min(j.e * 16777216 + j.id) FROM iv j
              WHERE j.user_id = i.user_id AND j.s >= i.e) AS np
      FROM iv i
    ),
    firsts AS (
      SELECT user_id, min(e * 16777216 + id) AS fp
      FROM iv GROUP BY user_id
    ),
    walk AS (
      SELECT f.user_id, f.fp % 16777216 AS id, CAST(1 AS BIGINT) AS cnt
      FROM firsts f
      UNION ALL
      SELECT w.user_id, n.np % 16777216, w.cnt + 1
      FROM walk w JOIN nxt n ON n.user_id = w.user_id AND n.id = w.id
      WHERE n.np IS NOT NULL
    ),
    nn AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals
      FROM iv GROUP BY user_id
    )
    SELECT nn.user_id, nn.n_intervals,
           CAST(max(w.cnt) AS BIGINT) AS greedy_count,
           CAST(min(f.fp // 16777216) AS BIGINT) AS first_end
    FROM nn
    JOIN firsts f ON f.user_id = nn.user_id
    JOIN walk w ON w.user_id = nn.user_id
    GROUP BY nn.user_id, nn.n_intervals
    """,
    since=9,
)
def events_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY INTERVAL SCHEDULING — earliest-end-first, the provably
    optimal maximum set of non-overlapping intervals (meeting-room
    capacity, ad-slot packing, one-worker job acceptance). The greedy
    is sequential ALONG one key's timeline but independent ACROSS
    keys, and per-key interval counts are bounded (<=100 here; any
    deployment that can sort a key's intervals in a window can hold
    them in a list) — so the distributed shape is one groupBy(user)
    collecting each user's intervals sorted by (end, id), then the
    whole greedy walk as a single `aggregate` fold per row: state =
    (current_end, taken); take x when x.start >= current_end —
    touch-is-compatible, ties broken by id via the sort. One shuffle,
    zero iteration rounds, embarrassingly parallel across users.
    (r9's first cut distributed the walk itself — an as-of successor
    window + 10 pointer-doubling self-joins, preserved in git history
    — correct and right for ADVERSARIALLY long chains, but 2x slower
    here and 11 extra stages; the fold replaced it bit-identical.
    If per-key lists could exceed executor memory, the doubling
    variant is the fallback — the connected-components discipline.)
    The (end, id) packing into one int64 keeps first_end/min
    deterministic. The ORACLE never folds: successors come from the
    direct set-definition (a correlated min over starts >= end) and
    the chain from a recursive single-pointer walk — an independent
    construction of the same unique greedy solution.

    Scale: one hash-partitioned aggregation; map-side partial
    collect_list bounds the shuffle at one row per (user, map task);
    the fold is pure per-row compute. Nothing is quadratic: the
    oracle's correlated subquery is the sf-bounded check only."""
    e = table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    iv = e.select(
        "user_id",
        F.col("event_id").alias("id"),
        sec.alias("s"),
        (sec + (F.col("event_id") % 7 + 1) * 60).alias("e"),
    )
    g = iv.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("e", "id", "s"))).alias("a"),
        F.count("*").cast("long").alias("n_intervals"),
        F.min((F.col("e") * 16777216 + F.col("id")).cast("long")).alias("fp"),
    )
    # s is an epoch second (always >= 0), so ce = -1 admits the first
    # interval of the (e, id)-sorted list unconditionally.
    greedy = """
    aggregate(a,
      named_struct('ce', cast(-1 as bigint), 'cnt', cast(0 as bigint)),
      (st, x) -> IF(x.s >= st.ce,
                    named_struct('ce', x.e, 'cnt', st.cnt + 1),
                    st),
      st -> st.cnt)
    """
    return g.select(
        "user_id",
        "n_intervals",
        F.expr(greedy).cast("long").alias("greedy_count"),
        F.expr("fp div 16777216").cast("long").alias("first_end"),
    )


# ---------------------------------------------------------------------------
# Qini uplift curve (incremental-impact evaluation by targeting decile)
# ---------------------------------------------------------------------------


@query(
    "events_qini_uplift",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(round(value) AS BIGINT) AS v
      FROM events
    ),
    mid AS (SELECT min(day) + 183 AS m FROM d),
    per_user AS (
      SELECT user_id, user_id % 2 AS t,
             CAST(sum(CASE WHEN day < (SELECT m FROM mid) THEN v
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN day >= (SELECT m FROM mid) THEN v
                           ELSE 0 END) AS BIGINT) AS y
      FROM d GROUP BY user_id
    ),
    ranked AS (
      SELECT t, y, ntile(10) OVER (ORDER BY x DESC, user_id) AS decile
      FROM per_user
    ),
    byd AS (
      SELECT decile,
             CAST(sum(t) AS BIGINT) AS n_t,
             CAST(sum(1 - t) AS BIGINT) AS n_c,
             CAST(sum(t * y) AS BIGINT) AS sy_t,
             CAST(sum((1 - t) * y) AS BIGINT) AS sy_c
      FROM ranked GROUP BY decile
    ),
    cum AS (
      SELECT decile,
             CAST(sum(n_t) OVER w AS BIGINT) AS n_t_cum,
             CAST(sum(n_c) OVER w AS BIGINT) AS n_c_cum,
             CAST(sum(sy_t) OVER w AS BIGINT) AS sy_t_cum,
             CAST(sum(sy_c) OVER w AS BIGINT) AS sy_c_cum
      FROM byd WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile, n_t_cum, n_c_cum, sy_t_cum, sy_c_cum,
           CAST(sy_t_cum * n_c_cum - sy_c_cum * n_t_cum AS BIGINT)
             AS qini_num,
           n_c_cum AS qini_den,
           CAST(sy_t_cum * n_c_cum - sy_c_cum * n_t_cum AS BIGINT)
             / n_c_cum AS qini
    FROM cum
    """,
    since=10,
)
def events_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI CURVE — the uplift-model evaluation standard (Radcliffe):
    rank the population by a targeting score (pre-period spend — the
    CUPED covariate doubling as the model), cut into deciles, and at
    each cumulative depth measure INCREMENTAL outcome: treated total
    minus the control total scaled to treated exposure. A model that
    finds persuadables bows above the random-targeting diagonal; this
    is the curve that decides whether a targeting model earns its
    compute. The continuous-outcome Qini at depth k is cleared to one
    exact integer ratio: qini_num = Σy_t·n_c − Σy_c·n_t (cumulative),
    qini_den = n_c — the output carries both exact integers plus the
    single-division double. Deciles come from ntile over the total
    (score DESC, user_id) order, so bucket boundaries are
    deterministic in both engines. Completes the experimentation
    family: z-test (effect), CUPED (variance), matched pairs
    (selection), diff-in-diff (trends), Qini (targeting).

    Scale: one aggregate to user grain; the decile assignment is
    scale.two_phase_rank + scale.exact_ntile over the (score DESC,
    user_id) total order (r11 — the user-grain frame GROWS WITH DATA,
    so the former global ntile window was data-sized; same rewrite as
    window_ntile_cume/events_rfm_segments, bit-identical to SQL ntile
    by exact_ntile's closed-form sizing); then one 10-row cumulative
    pass (the grid-bounded window this entry's exemption covers)."""
    e = table(spark, sf_dir, "events")
    d = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(_DAY_US)).cast("long").alias("day"),
        F.round("value").cast("long").alias("v"),
    )
    mid = d.agg((F.min("day") + 183).alias("m"))
    from virapipe_spark.scale import exact_ntile, two_phase_rank

    pu = (
        d.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("m"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("day") >= F.col("m"), F.col("v")).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    ranked, n_users = two_phase_rank(
        pu, [F.col("x").desc(), "user_id"], rank_col="__rn"
    )
    per_user = ranked.select(
        (F.col("user_id") % 2).alias("t"),
        "x",
        "y",
        exact_ntile(F.col("__rn"), n_users, 10).alias("decile"),
    )
    byd = per_user.groupBy("decile").agg(
        F.sum("t").cast("long").alias("n_t"),
        F.sum(1 - F.col("t")).cast("long").alias("n_c"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sy_t"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("sy_c"),
    )
    cw = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = byd.select(
        "decile",
        F.sum("n_t").over(cw).cast("long").alias("n_t_cum"),
        F.sum("n_c").over(cw).cast("long").alias("n_c_cum"),
        F.sum("sy_t").over(cw).cast("long").alias("sy_t_cum"),
        F.sum("sy_c").over(cw).cast("long").alias("sy_c_cum"),
    )
    num = (
        F.col("sy_t_cum") * F.col("n_c_cum")
        - F.col("sy_c_cum") * F.col("n_t_cum")
    ).cast("long")
    return cum.select(
        "decile",
        "n_t_cum",
        "n_c_cum",
        "sy_t_cum",
        "sy_c_cum",
        num.alias("qini_num"),
        F.col("n_c_cum").alias("qini_den"),
        (num / F.col("n_c_cum")).alias("qini"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitter summary (pinned merge tree)
# ---------------------------------------------------------------------------

_MG_K = 8
_MG_LEVELS = 9  # 2^9 = 512 >= any day span in the fixtures


def _mg_oracle() -> str:
    """Level-by-level Misra-Gries merge tree in plain SQL: at each
    level, sibling buckets' counters add, the (k+1)-th largest value
    subtracts from every counter (one subtraction suffices: survivors
    are exactly the counters strictly above it, at most k), and
    non-positive counters drop. Every CTE is MATERIALIZED: l{{r}}
    references m{{r}} twice (threshold + subtraction), and without
    the hint DuckDB inlines the chain so the plan doubles per level —
    2^{_MG_LEVELS} copies of the base scan (measured: minutes at
    sf0.01 vs sub-second materialized)."""
    k = _MG_K
    parts = [
        f"""l0 AS MATERIALIZED (
      SELECT day AS bucket, item, cnt FROM day_counts
    )"""
    ]
    for r in range(1, _MG_LEVELS + 1):
        parts.append(
            f"""m{r} AS MATERIALIZED (
      SELECT bucket // 2 AS bucket, item, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM l{r - 1} GROUP BY bucket // 2, item
    ),
    t{r} AS MATERIALIZED (
      SELECT bucket,
             COALESCE(max(CASE WHEN rn = {k + 1} THEN cnt END), 0) AS thr
      FROM (SELECT bucket, cnt,
                   row_number() OVER (PARTITION BY bucket
                                      ORDER BY cnt DESC, item) AS rn
            FROM m{r})
      GROUP BY bucket
    ),
    l{r} AS MATERIALIZED (
      SELECT m.bucket, m.item, CAST(m.cnt - t.thr AS BIGINT) AS cnt
      FROM m{r} m JOIN t{r} t ON t.bucket = m.bucket
      WHERE m.cnt - t.thr > 0
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH day_counts AS MATERIALIZED (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             user_id AS item, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY day, item
    ),
    {body},
    final AS MATERIALIZED (SELECT item, cnt FROM l{_MG_LEVELS}),
    exact AS (SELECT user_id AS item, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM events GROUP BY item),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
    SELECT f.item AS user_id, f.cnt AS mg_count, e.exact_cnt,
           t.n AS n_total,
           CAST(e.exact_cnt - f.cnt AS BIGINT) AS undercount,
           CAST(CASE WHEN e.exact_cnt >= f.cnt
                      AND (e.exact_cnt - f.cnt) * {_MG_K + 1}
                          <= t.n - (SELECT sum(cnt) FROM final)
                     THEN 1 ELSE 0 END AS BIGINT) AS guarantee_ok
    FROM final f JOIN exact e ON e.item = f.item, tot t
    """


@query("events_misra_gries", oracle=_mg_oracle(), since=10)
def events_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISRA-GRIES heavy hitters — the deterministic frequency sketch
    with the guaranteed-superset property (every item with frequency
    > N/(k+1) survives; undercount bounded by the total decrement),
    completing the mergeable-sketch family: HLL/KMV/theta (distinct),
    count-min (frequency, probabilistic), t-digest (quantiles), and
    now the DETERMINISTIC frequency summary. Merging MG summaries is
    where this entry earns its keep at 100 TB: per-day summaries
    merge PAIRWISE UP A PINNED BINARY TREE over the day index (the
    Merkle shape) — add counters, subtract the (k+1)-th largest,
    drop non-positives; a single subtraction suffices because the
    survivors are exactly the counters strictly above it, provably
    at most k. The pinned tree makes the (order-sensitive) merge
    deterministic, so the final counters hash-check exactly; the
    per-item GUARANTEE — exact ≥ mg and (exact − mg)·(k+1) ≤ N − M —
    is emitted as a verified data column, not a docstring claim.

    Scale: the day grain bounds level-0 state; each of the 9 levels
    is one aggregate + one per-bucket top-(k+1) window over ≤ 2k
    counters per bucket — sketch-sized shuffles throughout. With
    hourly or per-shard base summaries the same tree covers any span
    by adding levels logarithmically."""
    e = table(spark, sf_dir, "events")
    k = _MG_K
    summ = e.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(_DAY_US))
        .cast("long")
        .alias("bucket"),
        F.col("user_id").alias("item"),
    ).agg(F.count("*").cast("long").alias("cnt"))
    for r in range(_MG_LEVELS):
        m = summ.groupBy(
            F.expr("bucket div 2").alias("bucket"), "item"
        ).agg(F.sum("cnt").cast("long").alias("cnt"))
        # single-consumer form: the (k+1)-th-largest threshold comes
        # from a per-bucket window over the SAME shuffle as the rank,
        # not a groupBy+join second consumer of m — the two-consumer
        # form re-evaluates the whole merge cascade (measured 477 s at
        # sf0.1 vs ~20 s for this shape)
        rn = F.row_number().over(
            W.partitionBy("bucket").orderBy(F.col("cnt").desc(), "item")
        )
        thr = F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("cnt"))).over(
                W.partitionBy("bucket")
            ),
            F.lit(0),
        )
        summ = (
            m.select("bucket", "item", "cnt", rn.alias("rn"))
            .select(
                "bucket",
                "item",
                (F.col("cnt") - thr).cast("long").alias("cnt"),
            )
            .filter(F.col("cnt") > 0)
        )
        if r % 4 == 3:
            summ = truncate_lineage(summ, eager=False, reliable=True)
    final = summ.select("item", "cnt")
    exact = e.groupBy(F.col("user_id").alias("item")).agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    tot = e.agg(F.count("*").cast("long").alias("n"))
    msum = final.agg(F.sum("cnt").cast("long").alias("m"))
    return (
        final.join(exact, "item")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(msum))
        .select(
            F.col("item").alias("user_id"),
            F.col("cnt").alias("mg_count"),
            "exact_cnt",
            F.col("n").alias("n_total"),
            (F.col("exact_cnt") - F.col("cnt"))
            .cast("long")
            .alias("undercount"),
            F.when(
                (F.col("exact_cnt") >= F.col("cnt"))
                & (
                    (F.col("exact_cnt") - F.col("cnt")) * (k + 1)
                    <= F.col("n") - F.col("m")
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("guarantee_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-bucketed bounded nearest neighbor (the 2-D spatial-join primitive)
# ---------------------------------------------------------------------------

_GRID_SIDE = 1_048_576  # 2^20 plane per axis
_GRID_R = 16_384  # match radius = cell edge (64x64 cells)


def _grid_oracle() -> str:
    r2 = _GRID_R * _GRID_R
    coord = (
        "CAST('0x' || substr(md5('{ax}|' || CAST(event_id AS VARCHAR)),"
        f" 1, 10) AS BIGINT) % {_GRID_SIDE}"
    )
    return f"""
    WITH a AS (
      SELECT event_id AS aid,
             {coord.format(ax="gx")} AS ax,
             {coord.format(ax="gy")} AS ay
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT event_id AS bid,
             {coord.format(ax="gx")} AS bx,
             {coord.format(ax="gy")} AS by
      FROM events WHERE event_type = 'view'
    ),
    offs AS (SELECT unnest([-1, 0, 1]) AS o),
    cand AS (
      SELECT a.aid, b.bid,
             (a.ax - b.bx) * (a.ax - b.bx)
             + (a.ay - b.by) * (a.ay - b.by) AS sq
      FROM a, offs ox, offs oy
      JOIN b ON b.bx // {_GRID_R} = a.ax // {_GRID_R} + ox.o
            AND b.by // {_GRID_R} = a.ay // {_GRID_R} + oy.o
    ),
    stats AS (
      SELECT aid,
             CAST(count(*) AS BIGINT) AS n_ring,
             CAST(sum(CASE WHEN sq <= {r2} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_radius
      FROM cand GROUP BY aid
    ),
    win AS (
      SELECT aid, bid, sq FROM (
        SELECT aid, bid, sq,
               row_number() OVER (PARTITION BY aid ORDER BY sq, bid) AS rn
        FROM cand WHERE sq <= {r2}
      ) WHERE rn = 1
    )
    SELECT a.aid AS event_id,
           COALESCE(w.bid, -1) AS matched_id,
           COALESCE(w.sq, -1) AS sq_dist,
           COALESCE(s.n_ring, 0) AS n_ring,
           COALESCE(s.n_radius, 0) AS n_radius
    FROM a
    LEFT JOIN win w ON w.aid = a.aid
    LEFT JOIN stats s ON s.aid = a.aid
    """


@query("events_grid_nn_join", oracle=_grid_oracle(), since=10)
def events_grid_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED NEAREST NEIGHBOR by GRID BUCKETING — the 2-D spatial
    join every geo pipeline runs (store-to-customer assignment, GPS
    snap-to-road, sensor fusion): for each probe point, the nearest
    target point within radius R, found by hashing both sides into an
    R-sized grid and joining only the 3x3 neighbor cells. The pruning
    is PROVABLY complete, and the proof is integer arithmetic: cells
    are R wide, so two points whose cell indices differ by >=2 on
    either axis are separated by more than R on that axis, hence
    sq_dist > R^2 — no match can hide outside the ring (the brute-force
    twin test re-verifies this on the tiny fixture). Coordinates are
    md5-derived integers on a 2^20 plane (deterministic in both
    engines), distances exact bigint squares, winner tie-broken
    (sq_dist, id). Per probe the output carries the honesty pair: ring
    candidates EXAMINED (the cost the grid paid) vs in-radius
    neighbors (the geometry), with unmatched probes kept as -1 rows —
    at low density most probes finding nothing is the result, not a
    gap.

    Scale: the plan is one equi-join on the cell key — both sides
    shuffle-partitioned by cell, the probe side exploded x9 by a
    constant offset array (a generator, not a join). Candidate volume
    is sum over cells of |A_cell| x |B_3x3| — bounded by density x R^2,
    never |A| x |B|; skewed hot cells are ordinary AQE skew-join
    territory. This is the same blocking discipline as PPJoin's prefix
    buckets, applied to euclidean space.

    Reference capability class: coordinate-keyed joins (the reference's
    position-overlap joins, SURVEY.md section 2.4) generalized to 2-D.
    """
    r, r2 = _GRID_R, _GRID_R * _GRID_R

    def _coord(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(tag + "|"),
                            F.col("event_id").cast("string"),
                        )
                    ),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("long")
            % _GRID_SIDE
        )

    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("aid"),
        _coord("gx").alias("ax"),
        _coord("gy").alias("ay"),
    )
    b = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("bid"),
        _coord("gx").alias("bx"),
        _coord("gy").alias("by"),
    )
    off = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probes = (
        a.select("aid", "ax", "ay", F.explode(off).alias("ox"))
        .select(
            "aid",
            "ax",
            "ay",
            (F.floor(F.col("ax") / r) + F.col("ox")).alias("cx"),
            F.explode(off).alias("oy"),
        )
        .select(
            "aid",
            "ax",
            "ay",
            "cx",
            (F.floor(F.col("ay") / r) + F.col("oy")).alias("cy"),
        )
    )
    targets = b.select(
        "bid",
        "bx",
        "by",
        F.floor(F.col("bx") / r).alias("cx"),
        F.floor(F.col("by") / r).alias("cy"),
    )
    cand = probes.join(targets, ["cx", "cy"]).select(
        "aid",
        "bid",
        (
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
        ).alias("sq"),
    )
    stats = cand.groupBy("aid").agg(
        F.count("*").cast("long").alias("n_ring"),
        F.sum(F.when(F.col("sq") <= r2, 1).otherwise(0))
        .cast("long")
        .alias("n_radius"),
    )
    win = (
        cand.filter(F.col("sq") <= r2)
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("aid").orderBy("sq", "bid")),
        )
        .filter(F.col("rn") == 1)
        .select("aid", "bid", "sq")
    )
    return (
        a.select("aid")
        .join(win, "aid", "left")
        .join(stats, "aid", "left")
        .select(
            F.col("aid").alias("event_id"),
            F.coalesce("bid", F.lit(-1)).cast("long").alias("matched_id"),
            F.coalesce("sq", F.lit(-1)).cast("long").alias("sq_dist"),
            F.coalesce("n_ring", F.lit(0)).cast("long").alias("n_ring"),
            F.coalesce("n_radius", F.lit(0)).cast("long").alias("n_radius"),
        )
    )


# ---------------------------------------------------------------------------
# Closed-form OLS by Cramer's rule (integer-exact normal equations)
# ---------------------------------------------------------------------------


def _ols_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(round(value) AS BIGINT) AS v
      FROM events
    ),
    byday AS (
      SELECT day, CAST(sum(v) AS BIGINT) AS y FROM d GROUP BY day
    ),
    feat AS (
      SELECT y,
             day - min(day) OVER () AS x,
             CASE WHEN day % 7 IN (2, 3) THEN 1 ELSE 0 END AS w
      FROM byday
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w * w) AS BIGINT) AS sww,
             CAST(sum(x * w) AS BIGINT) AS sxw,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(w * y) AS BIGINT) AS swy
      FROM feat
    ),
    dets AS (
      SELECT
        n * (sxx * sww - sxw * sxw) - sx * (sx * sww - sxw * sw)
          + sw * (sx * sxw - sxx * sw) AS det,
        sy * (sxx * sww - sxw * sxw) - sx * (sxy * sww - sxw * swy)
          + sw * (sxy * sxw - sxx * swy) AS det0,
        n * (sxy * sww - sxw * swy) - sy * (sx * sww - sxw * sw)
          + sw * (sx * swy - sxy * sw) AS det1,
        n * (sxx * swy - sxy * sxw) - sx * (sx * swy - sxy * sw)
          + sy * (sx * sxw - sxx * sw) AS det2
      FROM m
    )
    SELECT u.coef,
           CAST(CASE u.coef WHEN 'intercept' THEN det0
                            WHEN 'trend' THEN det1
                            ELSE det2 END AS BIGINT) AS det_num,
           CAST(det AS BIGINT) AS det_den,
           CASE WHEN det = 0 THEN 0.0
                ELSE CAST(CASE u.coef WHEN 'intercept' THEN det0
                                      WHEN 'trend' THEN det1
                                      ELSE det2 END AS DOUBLE) / det
           END AS beta
    FROM dets, unnest(['intercept', 'trend', 'weekend']) u(coef)
    """


@query("events_ols_cramer", oracle=_ols_oracle(), since=10)
def events_ols_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSED-FORM MULTIPLE REGRESSION — ordinary least squares fit of
    daily revenue on [intercept, day trend, weekend indicator], solved
    EXACTLY by Cramer's rule on the 3x3 normal equations: every X'X
    and X'y moment is one distributed integer aggregate, every
    determinant an exact bigint polynomial in those moments, and each
    coefficient one final division (the single exactly-rounded float
    op, the HHI lesson). No gradient steps, no numpy, no float
    accumulation order anywhere — two engines computing bigint
    determinants MUST agree bit-for-bit, which is what makes a
    regression hash-checkable at all. Completes the trend family with
    the parametric member: Theil-Sen (robust slope), Mann-Kendall-ish
    rank trends (Spearman/Kendall), CUPED (covariate adjustment), and
    now the textbook multi-feature OLS those methods are usually
    benchmarked against.

    Scale: ONE aggregate pass over the day grain computes all nine
    moments map-side-combined (the moments are the sufficient
    statistic — this is exactly how MLlib's normal-equation solver
    summarizes 100 TB into k^2 numbers); the determinant algebra and
    the 3-row unpivot are constant work on a one-row frame. The day
    dimension window (x = day - min day) runs on the calendar-bounded
    daily aggregate, the Theil-Sen precedent. Determinant magnitudes:
    with 30 days and daily sums ~1e12, |det_j| <= ~1e16 — int64-safe
    with two orders of headroom.

    Reference capability class: aggregate statistics over events
    (SURVEY.md section 2 engine extras; the experimentation family).
    """
    e = table(spark, sf_dir, "events")
    byday = (
        e.select(
            F.floor(F.unix_micros("ts") / F.lit(_DAY_US))
            .cast("long")
            .alias("day"),
            F.round("value").cast("long").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").cast("long").alias("y"))
    )
    feat = byday.select(
        "y",
        (F.col("day") - F.min("day").over(W.orderBy().rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        ))).alias("x"),
        (F.col("day") % 7).isin(2, 3).cast("long").alias("w"),
    )
    m = feat.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("w").cast("long").alias("sw"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("sww"),
        F.sum(F.col("x") * F.col("w")).cast("long").alias("sxw"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("w") * F.col("y")).cast("long").alias("swy"),
    )
    c = {k: F.col(k) for k in ("n", "sx", "sxx", "sw", "sww", "sxw",
                               "sy", "sxy", "swy")}
    dets = m.select(
        (
            c["n"] * (c["sxx"] * c["sww"] - c["sxw"] * c["sxw"])
            - c["sx"] * (c["sx"] * c["sww"] - c["sxw"] * c["sw"])
            + c["sw"] * (c["sx"] * c["sxw"] - c["sxx"] * c["sw"])
        ).alias("det"),
        (
            c["sy"] * (c["sxx"] * c["sww"] - c["sxw"] * c["sxw"])
            - c["sx"] * (c["sxy"] * c["sww"] - c["sxw"] * c["swy"])
            + c["sw"] * (c["sxy"] * c["sxw"] - c["sxx"] * c["swy"])
        ).alias("det0"),
        (
            c["n"] * (c["sxy"] * c["sww"] - c["sxw"] * c["swy"])
            - c["sy"] * (c["sx"] * c["sww"] - c["sxw"] * c["sw"])
            + c["sw"] * (c["sx"] * c["swy"] - c["sxy"] * c["sw"])
        ).alias("det1"),
        (
            c["n"] * (c["sxx"] * c["swy"] - c["sxy"] * c["sxw"])
            - c["sx"] * (c["sx"] * c["swy"] - c["sxy"] * c["sw"])
            + c["sy"] * (c["sx"] * c["sxw"] - c["sxx"] * c["sw"])
        ).alias("det2"),
    )
    return (
        dets.select(
            "det",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("intercept").alias("coef"),
                        F.col("det0").alias("det_num"),
                    ),
                    F.struct(
                        F.lit("trend").alias("coef"),
                        F.col("det1").alias("det_num"),
                    ),
                    F.struct(
                        F.lit("weekend").alias("coef"),
                        F.col("det2").alias("det_num"),
                    ),
                )
            ).alias("u"),
        )
        .select(
            F.col("u.coef").alias("coef"),
            F.col("u.det_num").cast("long").alias("det_num"),
            F.col("det").cast("long").alias("det_den"),
            F.when(F.col("det") == 0, F.lit(0.0))
            .otherwise(
                F.col("u.det_num").cast("double") / F.col("det")
            )
            .alias("beta"),
        )
    )


# ---------------------------------------------------------------------------
# Isotonic regression (minimax closed form over the daily series)
# ---------------------------------------------------------------------------


def _iso_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(round(value) AS BIGINT) AS v
      FROM events
    ),
    byday AS (
      SELECT day, CAST(sum(v) AS BIGINT) AS y FROM d GROUP BY day
    ),
    idx AS (
      SELECT day, y,
             row_number() OVER (ORDER BY day) - 1 AS x
      FROM byday
    ),
    pre AS (
      SELECT x, day, y,
             CAST(sum(y) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS s
      FROM idx
    ),
    seg AS (
      SELECT j.x AS j, k.x AS k,
             CAST(k.s - j.s + j.y AS DOUBLE) / (k.x - j.x + 1) AS a
      FROM pre j JOIN pre k ON k.x >= j.x
    ),
    inner_min AS (
      SELECT i.x AS i, s.j, min(s.a) AS m
      FROM idx i JOIN seg s ON s.j <= i.x AND s.k >= i.x
      GROUP BY i.x, s.j
    ),
    fit AS (
      SELECT i, max(m) AS fit FROM inner_min GROUP BY i
    )
    SELECT idx.day, CAST(idx.x AS BIGINT) AS x, idx.y, f.fit
    FROM idx JOIN fit f ON f.i = idx.x
    """


@query("events_isotonic_daily", oracle=_iso_oracle(), since=10)
def events_isotonic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION — the shape-constrained fit (monotone
    calibration of model scores, dose-response curves, conversion-vs-
    spend monotonization) solved by its CLOSED FORM instead of the
    sequential pool-adjacent-violators loop: the minimax identity
    fit(i) = max_{{j<=i}} min_{{k>=i}} avg(y[j..k]) (Ayer et al. 1955;
    the PAVA twin test re-derives the same fit by actual pooling).
    Segment averages come from one exact-bigint prefix sum; min and
    max are order-insensitive aggregates of per-segment doubles (each
    a single division of exact integers), so the fit is deterministic
    without any float-accumulation-order caveat — the only float ops
    are one division per segment and comparisons.

    Scale: runs on the calendar-bounded DAILY aggregate — the segment
    frame is days^2 and the minimax triple days^3/6 (the Theil-Sen
    day-pair precedent, one order higher but still calendar-bounded:
    30 days -> 4.5k rows; even a decade of days is ~8e9 spread over
    the cluster, and the standard refinement — PAVA on per-shard
    pre-pooled blocks — drops it to days^2). The theta join (j <= i
    <= k) broadcasts the 30-row day index, the exempted
    calendar-bounded NLJ shape.

    Reference capability class: ordered analytics over the events
    stream (SURVEY.md section 2 engine extras; the trend family's
    shape-constrained member)."""
    e = table(spark, sf_dir, "events")
    byday = (
        e.select(
            F.floor(F.unix_micros("ts") / F.lit(_DAY_US))
            .cast("long")
            .alias("day"),
            F.round("value").cast("long").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").cast("long").alias("y"))
    )
    idx = byday.select(
        "day", "y", (F.row_number().over(W.orderBy("day")) - 1).alias("x")
    )
    pre = idx.select(
        "x",
        "day",
        "y",
        F.sum("y")
        .over(W.orderBy("x").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("s"),
    )
    pre = truncate_lineage(pre, reliable=True)
    j = pre.select(
        F.col("x").alias("j"), F.col("s").alias("sj"), F.col("y").alias("yj")
    )
    k = pre.select(F.col("x").alias("k"), F.col("s").alias("sk"))
    seg = (
        j.join(k, F.col("k") >= F.col("j"))
        .select(
            "j",
            "k",
            (
                (F.col("sk") - F.col("sj") + F.col("yj")).cast("double")
                / (F.col("k") - F.col("j") + 1)
            ).alias("a"),
        )
    )
    i = pre.select(F.col("x").alias("i"))
    inner = (
        i.join(
            F.broadcast(seg),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("a").alias("m"))
    )
    fit = inner.groupBy("i").agg(F.max("m").alias("fit"))
    return (
        idx.join(fit, idx["x"] == fit["i"])
        .select("day", F.col("x").cast("long").alias("x"), "y", "fit")
    )


# ---------------------------------------------------------------------------
# Two-state min-sum Viterbi burst decoding (forward-backward, exact)
# ---------------------------------------------------------------------------

_VIT_DAYS = 30  # calendar span of the fixture


def _vit_oracle() -> str:
    n = _VIT_DAYS
    fparts = []
    for d in range(1, n):
        fparts.append(
            f"""f{d} AS MATERIALIZED (
      SELECT e.d,
             e.e_lo + least(f.f_lo, f.f_hi + e.tau) AS f_lo,
             e.e_hi + least(f.f_hi, f.f_lo + e.tau) AS f_hi
      FROM f{d - 1} f JOIN ew e ON e.d = {d}
    )"""
        )
    bparts = []
    for d in range(n - 2, -1, -1):
        bparts.append(
            f"""b{d} AS MATERIALIZED (
      SELECT e.d,
             least(b.b_lo + en.e_lo, b.b_hi + en.e_hi + e.tau) AS b_lo,
             least(b.b_hi + en.e_hi, b.b_lo + en.e_lo + e.tau) AS b_hi
      FROM b{d + 1} b
      JOIN ew e ON e.d = {d}
      JOIN ew en ON en.d = {d + 1}
    )"""
        )
    fu = "\n      UNION ALL ".join(
        f"SELECT d, f_lo, f_hi FROM f{d}" for d in range(n)
    )
    bu = "\n      UNION ALL ".join(
        f"SELECT d, b_lo, b_hi FROM b{d}" for d in range(n)
    )
    body = ",\n    ".join(fparts + bparts)
    return f"""
    WITH cnt AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY day
    ),
    idx AS (
      SELECT day, x, row_number() OVER (ORDER BY day) - 1 AS d FROM cnt
    ),
    hist AS (
      SELECT x AS v, CAST(count(*) AS BIGINT) AS c FROM idx GROUP BY x
    ),
    lev AS (
      SELECT min(CASE WHEN 4 * cc >= n THEN v END) AS lo,
             min(CASE WHEN 4 * cc >= 3 * n THEN v END) AS hi
      FROM (
        SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc,
               sum(c) OVER () AS n
        FROM hist
      )
    ),
    ew AS MATERIALIZED (
      SELECT i.d, i.day, i.x,
             abs(i.x - l.lo) AS e_lo, abs(i.x - l.hi) AS e_hi,
             (l.hi - l.lo + 1) // 2 AS tau
      FROM idx i, lev l
    ),
    f0 AS MATERIALIZED (
      SELECT d, e_lo AS f_lo, e_hi AS f_hi FROM ew WHERE d = 0
    ),
    b{n - 1} AS MATERIALIZED (
      SELECT d, CAST(0 AS BIGINT) AS b_lo, CAST(0 AS BIGINT) AS b_hi
      FROM ew WHERE d = {n - 1}
    ),
    {body},
    fwd AS ({fu}),
    bwd AS ({bu})
    SELECT e.day, e.x,
           CASE WHEN f.f_lo + b.b_lo <= f.f_hi + b.b_hi
                THEN 'lo' ELSE 'hi' END AS map_state,
           CAST(least(f.f_lo + b.b_lo, f.f_hi + b.b_hi) AS BIGINT)
             AS path_cost
    FROM ew e
    JOIN fwd f ON f.d = e.d
    JOIN bwd b ON b.d = e.d
    """



#: Forward/backward min-sum folds over the single-row day array `a`
#: (structs d, day, x, e_lo, e_hi, tau). Module-level so the tie-heavy
#: property tests (tests/test_fold_properties) can drive them with
#: literal series. bwd is built in reverse day order (a fold can only
#: append), then reversed. A transition d -> d+1 charges tau at the
#: LATER day (d+1) in BOTH folds — fwd via element_at(a, k).tau, bwd
#: via element_at(a, size(a) - k + 2).tau — so the two folds agree for
#: any per-day tau series, not just the constant-tau one the live
#: entry produces (r9 ADVICE: the old bwd read tau at day d, which
#: silently relied on constancy).
_VIT_FWD_EXPR = """
aggregate(sequence(2, size(a)),
  array(named_struct('f_lo', element_at(a, 1).e_lo,
                     'f_hi', element_at(a, 1).e_hi)),
  (acc, k) -> concat(acc, array(named_struct(
    'f_lo', element_at(a, k).e_lo
      + least(element_at(acc, k - 1).f_lo,
              element_at(acc, k - 1).f_hi + element_at(a, k).tau),
    'f_hi', element_at(a, k).e_hi
      + least(element_at(acc, k - 1).f_hi,
              element_at(acc, k - 1).f_lo + element_at(a, k).tau)))))
"""
_VIT_BWD_EXPR = """
reverse(aggregate(sequence(2, size(a)),
  array(named_struct('b_lo', cast(0 as bigint),
                     'b_hi', cast(0 as bigint))),
  (acc, k) -> concat(acc, array(named_struct(
    'b_lo', least(element_at(acc, k - 1).b_lo
                    + element_at(a, size(a) - k + 2).e_lo,
                  element_at(acc, k - 1).b_hi
                    + element_at(a, size(a) - k + 2).e_hi
                    + element_at(a, size(a) - k + 2).tau),
    'b_hi', least(element_at(acc, k - 1).b_hi
                    + element_at(a, size(a) - k + 2).e_hi,
                  element_at(acc, k - 1).b_lo
                    + element_at(a, size(a) - k + 2).e_lo
                    + element_at(a, size(a) - k + 2).tau))))))
"""


@query("events_viterbi_burst", oracle=_vit_oracle(), since=10)
def events_viterbi_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN-SUM VITERBI DECODING — the MAP state path of a two-state
    burst model over the daily series (Kleinberg's burst automaton
    with integer costs instead of Poisson log-likelihoods: emission =
    |count - level|, levels = exact P25/P75 of the daily histogram,
    switch penalty tau integer-derived from the spread — every cost a
    bigint, so two engines MUST agree). Instead of decoding by
    backtracking (a second sequential pass storing argmins), the MAP
    state at day d comes from the FORWARD-BACKWARD min-sum identity:
    fwd(d,s) + bwd(d,s) is minimized, per day, by the state the
    optimal path visits — and least(f+b) collapses to the SAME global
    optimum at every day, an invariant the hash check enforces 30
    times over (the emitted path_cost column must be constant). The
    daily series is CALENDAR-sized — one row per day by construction,
    tiny forever — so after the one data-sized pass (the daily count
    aggregate) the whole decode collapses into a single row: the
    series collects into one sorted array and the forward and
    backward recurrences each run as ONE `aggregate` fold over it,
    then a transform + explode emits the per-day MAP row. Zero
    iteration rounds in the plan. (r9's first cut ran 2(n-1) one-row
    crossJoin rounds with periodic eager checkpoints — preserved in
    git history; correct, but 58 stages and ~3x slower for a decode
    whose state is two bigints.) The single-row collect_list is
    control-plane-sized — the t-digest sketch-collect exemption
    class, not a data collect. The twin test runs classic
    backtracking Viterbi and asserts our state sequence achieves
    exactly the optimal cost (robust to ties between co-optimal
    paths). The ORACLE keeps the unrolled per-day CTE chain, so the
    engines share only the recurrence.

    Scale: the daily aggregate is the only data-sized pass; the fold
    length scales with the CALENDAR, not events. Long horizons block
    into per-shard decodes with boundary-state stitching — the
    standard parallel-Viterbi refinement.

    Reference capability class: sequence-state analytics over events
    (changepoint/CUSUM family — this is its MAP-decoding member)."""
    e = table(spark, sf_dir, "events")
    cnt = (
        e.select(
            F.floor(F.unix_micros("ts") / F.lit(_DAY_US))
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    idx = cnt.select(
        "day", "x", (F.row_number().over(W.orderBy("day")) - 1).alias("d")
    )
    hist = idx.groupBy(F.col("x").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    wall = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wtot = W.orderBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    lev = (
        hist.select(
            "v",
            F.sum("c").over(wall).alias("cc"),
            F.sum("c").over(wtot).alias("nn"),
        )
        .agg(
            F.min(
                F.when(4 * F.col("cc") >= F.col("nn"), F.col("v"))
            ).alias("lo"),
            F.min(
                F.when(4 * F.col("cc") >= 3 * F.col("nn"), F.col("v"))
            ).alias("hi"),
        )
    )
    ew = idx.crossJoin(F.broadcast(lev)).select(
        "d",
        "day",
        "x",
        F.abs(F.col("x") - F.col("lo")).alias("e_lo"),
        F.abs(F.col("x") - F.col("hi")).alias("e_hi"),
        ((F.col("hi") - F.col("lo") + 1) / 2).cast("long").alias("tau"),
    )
    # size >= 2: with 0 days element_at(a, 1) in the fold init throws
    # under ANSI, and with 1 day sequence(2, 1) DESCENDS (default step
    # -1) into out-of-range lookups; both the retired crossJoin-round
    # shape and the oracle emit 0 rows for those inputs (the bwd chain
    # is empty), so the filter reproduces legacy semantics exactly.
    arr = ew.agg(
        F.sort_array(
            F.collect_list(F.struct("d", "day", "x", "e_lo", "e_hi", "tau"))
        ).alias("a")
    ).filter(F.size("a") >= 2)
    fwd = _VIT_FWD_EXPR
    bwd = _VIT_BWD_EXPR
    return (
        arr.select("a", F.expr(fwd).alias("f"), F.expr(bwd).alias("b"))
        .select(
            F.explode(
                F.expr(
                    """
                    transform(sequence(1, size(a)), m -> named_struct(
                      'day', element_at(a, m).day,
                      'x', element_at(a, m).x,
                      'map_state',
                        IF(element_at(f, m).f_lo + element_at(b, m).b_lo
                           <= element_at(f, m).f_hi
                              + element_at(b, m).b_hi,
                           'lo', 'hi'),
                      'path_cost',
                        least(element_at(f, m).f_lo
                                + element_at(b, m).b_lo,
                              element_at(f, m).f_hi
                                + element_at(b, m).b_hi)))
                    """
                )
            ).alias("z")
        )
        .select(
            F.col("z.day").alias("day"),
            F.col("z.x").alias("x"),
            F.col("z.map_state").alias("map_state"),
            F.col("z.path_cost").cast("long").alias("path_cost"),
        )
    )
