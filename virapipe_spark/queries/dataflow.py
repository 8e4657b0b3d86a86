"""Dataflow-utility catalog entries (SURVEY.md §2.1, §2.3, §2.7).

The partitioning utilities (repartition/coalesce), the line-oriented
taxonomy filter, and the driver-listing scan. Repartitioning changes no
rows, so those entries aggregate after reshaping — the oracle checks the
data survived the reshape byte-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from virapipe_spark.catalog import query, table


@query(
    "repartition_scan",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def repartition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition(n) — reshuffle to n partitions for downstream
    parallelism / output-file count (RepartitionFastq.java:32). A full
    shuffle of every row: at scale prefer letting AQE size partitions, or
    repartition BY COLUMN to make the shuffle reusable by the next join
    or grouped write."""
    li = table(spark, sf_dir, "lineitem").repartition(16)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@query(
    "coalesce_merge",
    oracle="""
    SELECT count(*) AS n, count(DISTINCT o_custkey) AS n_cust
    FROM orders
    """,
)
def coalesce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce(n) — shrink partition count WITHOUT a shuffle
    (MergeFastq.java:30 merges small FASTQ files the same way). The
    narrow dependency keeps upstream parallelism for the scan and only
    merges at the end — the right tool for small-file compaction."""
    o = table(spark, sf_dir, "orders").coalesce(2)
    return o.agg(
        F.count("*").alias("n"), F.countDistinct("o_custkey").alias("n_cust")
    )


@query(
    "taxonomy_filter",
    oracle="""
    WITH lines AS (
      SELECT concat(CAST(l_orderkey AS VARCHAR), chr(9),
                    CAST(l_partkey AS VARCHAR), chr(9),
                    l_returnflag) AS line
      FROM lineitem
    )
    SELECT line FROM lines
    WHERE string_split(line, chr(9))[-1] = 'R'
    """,
)
def taxonomy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxonomy filter on the LAST tab-field of a raw line
    (BlastN.java:147-152; as written it indexes out of bounds — the
    intent, per scripts/sequential.sh:30 `grep viruses`, is a match on
    the trailing sskingdoms column; QUIRKS.md). Line-parsing shape kept:
    build the line, split, test element -1."""
    li = table(spark, sf_dir, "lineitem")
    line = F.concat_ws(
        "\t",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_returnflag"),
    )
    return (
        li.select(line.alias("line"))
        .filter(F.element_at(F.split(F.col("line"), "\t"), -1) == "R")
    )


@query(
    "join_bucketed",
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice), 2) AS revenue,
           count(*) AS n
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-amortized fact-fact join over co-bucketed tables
    (scale.write_bucketed) — the 100 TB answer to a join both of whose
    sides are reused across queries: pay the bucketing shuffle once at
    write time, and every later join/agg on the key reads pre-sorted
    co-located buckets with NO Exchange before the SortMergeJoin
    (asserted in tests/test_scale_plans.py). No reference counterpart
    (the reference re-shuffles per run); oracle = the plain join, since
    bucketing must not change a single row.

    Both sides are written as EXTERNAL bucketed tables whose data lives
    under io.scratch_dir (per-application /tmp tree): repeated
    invocations within a session overwrite in place, concurrent
    sessions are isolated, the in-memory metastore entry dies with the
    application, and the data directory is bounded to one per app and
    reclaimed by normal /tmp hygiene — NOT accumulated in the cwd
    spark-warehouse. The write cost is part of the measured operator,
    which is honest: bucketing only wins when the write is amortized
    over >1 downstream join."""
    from virapipe_spark import io as vio
    from virapipe_spark import scale

    tag = vio.scratch_tag(spark, sf_dir)
    ot, lt = f"vp_bkt_orders_{tag}", f"vp_bkt_lineitem_{tag}"
    scale.write_bucketed(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ot,
        "o_orderkey",
        n_buckets=8,
        path=vio.scratch_dir(spark, sf_dir, "bkt_orders"),
    )
    scale.write_bucketed(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        lt,
        "l_orderkey",
        n_buckets=8,
        path=vio.scratch_dir(spark, sf_dir, "bkt_lineitem"),
    )
    o, li = spark.table(ot), spark.table(lt)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "grouped_write_roundtrip",
    oracle="""
    SELECT doc_id, n_chars,
           concat('s', doc_id % 7) AS sample
    FROM documents
    """,
)
def grouped_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked round-trip through the grouped multi-file sink
    (io.write_grouped — the partitionBy replacement for the reference's
    per-sample FSDataOutputStream loop, FastqGroupper.java:71-109) —
    §2.2's one sink family that was pytest-only.

    Derives a 7-way sample key, writes one parquet directory per sample
    (fully distributed, no driver fan-out), and reads the partitioned
    tree back: partition discovery must restore every row and the
    partition column's value exactly — a dropped group directory,
    Hive-escaping drift in the key, or a partition-column type coercion
    breaks the hash. The string key is deliberate: numeric-looking
    partition values get type-inferred on read; 's0'..'s6' round-trips
    as written."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string")).alias("sample"),
    )
    out = vio.scratch_dir(spark, sf_dir, "grouped")
    vio.write_grouped(d, out, "sample", mode="overwrite")
    return spark.read.parquet(out).select("doc_id", "n_chars", "sample")


@query("files_listing")  # rows-only: file paths are environment-dependent
def files_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-listing scan (Decompress.java:79-98 et al. list an HDFS dir
    and fan out one task per file). DataFrame-native: input_file_name()
    tags provenance; one row per (file, row-count). The fan-out itself is
    the one-row-per-file grouping — no driver loop, no collect."""
    li = table(spark, sf_dir, "lineitem")
    per_file = (
        li.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(F.count("*").alias("n_rows"))
        .select(F.regexp_extract("file", r"([^/]+)$", 1).alias("filename"), "n_rows")
    )
    # Self-validating invariant (rows-only entry): the per-file counts
    # must sum to an INDEPENDENTLY aggregated table count — two scan
    # paths agreeing. The crossJoin side is a provably-1-row aggregate
    # broadcast (precedent: metrics.py constant sides).
    total = li.agg(F.count("*").alias("total_rows"))
    w_all = W.partitionBy()  # file-count rows only — trivially bounded
    return (
        per_file.crossJoin(F.broadcast(total))
        .withColumn(
            "rows_complete", F.sum("n_rows").over(w_all) == F.col("total_rows")
        )
        .drop("total_rows")
    )


@query(
    "bed_scan_roundtrip",
    oracle="""
    SELECT concat('chr', doc_id % 5) AS chrom,
           CAST(n_chars AS BIGINT) AS start,
           CAST(n_chars + doc_id % 50 + 1 AS BIGINT) AS "end",
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE concat('iv', doc_id) END AS name,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE CAST(doc_id % 1000 AS INTEGER) END AS score,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                WHEN doc_id % 2 = 0 THEN '+' ELSE '-' END AS strand
    FROM documents WHERE doc_id < 400
    """,
)
def bed_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked BED writer→reader round-trip (io.read_bed): interval
    lines are synthesized from ``documents`` — every 4th row as minimal
    BED3 (optional columns absent) and the rest as BED6 with '.' strand
    semantics exercised via real nulls — written as tab-separated text
    behind a ``track`` header line, and read back through the typed
    splittable scan. Proves the optional-trailing-column nulling that
    distinguishes BED from the fixed-arity VCF/GFF readers."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    bed3 = F.col("doc_id") % 4 == 0
    line = F.concat_ws(
        "\t",
        F.concat(F.lit("chr"), (F.col("doc_id") % 5).cast("string")),
        F.col("n_chars").cast("string"),
        (F.col("n_chars") + F.col("doc_id") % 50 + 1).cast("string"),
    )
    line6 = F.concat_ws(
        "\t",
        line,
        F.concat(F.lit("iv"), F.col("doc_id").cast("string")),
        (F.col("doc_id") % 1000).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, "+").otherwise("-"),
    )
    header = spark.range(1).select(
        F.lit('track name="rt" description="roundtrip"').alias("value")
    )
    out = vio.scratch_dir(spark, sf_dir, "bed")
    vio.write_text(
        header.union(d.select(F.when(bed3, line).otherwise(line6).alias("value"))),
        out,
        mode="overwrite",
    )
    return vio.read_bed(spark, out)


@query(
    "jsonl_scan_roundtrip",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
    FROM documents WHERE doc_id < 400
    """,
)
def jsonl_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked JSON-lines writer→reader round-trip — the
    semi-structured interchange format every ingestion pipeline meets.
    Rows (including the full free-text column, exercising quote/
    backslash/control-character escaping) are written with Spark's JSON
    sink and read back with an EXPLICIT schema: schema-on-read
    inference is non-deterministic under column pruning and never
    scale-safe (a schema drift mid-corpus silently widens types), so
    the reader pins types exactly as a production contract would.

    Scale: JSONL is splittable by line — the scan parallelizes like
    text; the JSON parse is JVM codegen (no Python boundary)."""
    from pyspark.sql import types as T

    from virapipe_spark import io as vio

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "text")
    )
    out = vio.scratch_dir(spark, sf_dir, "jsonl")
    d.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(out)


@query(
    "orc_scan_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_brand, CAST(p_size AS INTEGER) AS p_size,
           p_retailprice
    FROM part WHERE p_partkey < 400
    """,
    since=7,
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked ORC writer→reader round-trip — Spark's second
    first-class columnar format (native vectorized reader, predicate
    pushdown, stripe-level column statistics), the interchange format
    for Hive-lineage warehouses the way Parquet is for lakehouses.

    The read pins an explicit schema (same production contract as
    `jsonl_scan_roundtrip`) and the DOUBLE column proves the format
    preserves float bits exactly — ORC stores IEEE754 doubles verbatim,
    so the round-trip is bitwise, not approximate.

    Scale: ORC stripes are splittable like parquet row-groups; the
    filter lands on the source parquet scan before the write, and a
    re-read with a key predicate would prune stripes via the embedded
    min/max statistics (same pushdown class the parquet path gets)."""
    from pyspark.sql import types as T

    from virapipe_spark import io as vio

    d = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 400)
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
    )
    out = vio.scratch_dir(spark, sf_dir, "orc")
    d.write.mode("overwrite").orc(out)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).orc(out)


@query(
    "events_partition_prune",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def events_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + PARTITION PRUNING — the storage-level
    100 TB lever this catalog's other scan entries don't isolate:
    events are written ``partitionBy(event_type)`` (one directory per
    type, fully distributed, the io.write_grouped layout), then read
    back with a two-type predicate. Catalyst resolves the predicate
    against the DIRECTORY STRUCTURE — the scan's PartitionFilters
    prune 3 of 5 directories before a single byte is read (pinned in
    tests/test_scale_plans.py), which at a 100 TB events store is the
    difference between scanning 40 TB and 100 TB. The aggregate then
    proves the pruned read returns exactly the rows the predicate
    names (the DuckDB oracle recomputes from the flat table).

    Scale: the write is one pass (each task writes only its types);
    the pruned read schedules tasks only under the two kept
    directories; the aggregate is map-side combinable on a 2-value
    key. The partition column must be low-cardinality by design —
    day/event_type, never user_id (the small-files anti-pattern)."""
    from virapipe_spark import io as vio

    e = table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = vio.scratch_dir(spark, sf_dir, "evpart")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"),
    )


@query("files_compaction", since=8)  # rows-only: file counts are codec/env grain
def files_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (io.compact_parquet) — the
    table-maintenance op every streaming sink and incremental ingest
    needs at 100 TB, exercised end to end: fragment documents into 48
    shards, compact to measured-size-derived file count via a
    shuffle-free coalesce repack, and certify IN THE OUTPUT that (a)
    the file count shrank, (b) not one row was lost or duplicated,
    and (c) a column-level checksum survived the rewrite — the
    rows-only self-validating shape (files_listing precedent; file
    counts themselves are encoding-grain, so they are evidence
    columns, not hashed truth).

    Scale: compaction cost is one narrow read+write of the data (no
    shuffle); the file-count decision reads MEASURED bytes (the
    broadcast_if_small discipline), so the same code yields 4 files
    at sf0.01 and ~40 at sf1000 without retuning."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    frag = vio.scratch_dir(spark, sf_dir, "compact_frag")
    dst = vio.scratch_dir(spark, sf_dir, "compact_out")
    d.repartition(48).write.mode("overwrite").parquet(frag)
    stats = vio.compact_parquet(spark, frag, dst, target_bytes=64 << 10)

    def summarize(path: str, prefix: str) -> DataFrame:
        df = spark.read.parquet(path)
        return df.agg(
            F.count("*").cast("long").alias(f"{prefix}_rows"),
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.col("doc_id").cast("string"),
                        F.col("n_chars").cast("string"),
                        F.col("lang"),
                    )
                )
            )
            .cast("long")
            .alias(f"{prefix}_crc"),
        )

    before = summarize(frag, "before")
    after = summarize(dst, "after")
    return (
        before.crossJoin(after)
        .select(
            F.lit(stats["files_before"]).cast("long").alias("files_before"),
            F.lit(stats["files_after"]).cast("long").alias("files_after"),
            "before_rows",
            "after_rows",
            (F.lit(stats["files_after"]) < F.lit(stats["files_before"]))
            .alias("shrunk"),
            (F.col("before_rows") == F.col("after_rows")).alias("rows_match"),
            (F.col("before_crc") == F.col("after_crc")).alias(
                "checksum_match"
            ),
        )
    )
