"""Annotation-format and interval-algebra catalog entries.

Entries cover VCF/GFF reader round-trips, the interval algebra
(overlap join, merge, bin coverage, subtraction, depth histogram,
reciprocal overlap, closest feature, Jaccard), the read-QC scalars
(sliding-window trim, DUST), GC content, and assembly N50.

``catalog.load_all`` imports this module before every other query
module, so its entries lead each ``since`` group of the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from virapipe_spark.catalog import query, table


# ---------------------------------------------------------------------------
# VCF / GFF reader round-trips (io.read_vcf / io.read_gff)
# ---------------------------------------------------------------------------


@query(
    "vcf_scan_roundtrip",
    oracle="""
    SELECT concat('chr', doc_id % 3) AS chrom,
           CAST(n_chars AS INTEGER) AS pos,
           concat('rs', doc_id) AS id,
           'A' AS ref, 'G' AS alt,
           CAST(doc_id % 100 AS DOUBLE) + 0.5 AS qual,
           'PASS' AS filter,
           CAST(doc_id % 90 + 1 AS VARCHAR) AS dp,
           CAST(2 AS INTEGER) AS n_samples
    FROM documents WHERE doc_id < 300
    """,
    since=5,
)
def vcf_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked VCF writer→reader round-trip: variant lines are
    synthesized from ``documents`` (deterministic in both engines),
    written as real tab-separated VCF text with a meta header, and read
    back through io.read_vcf's field split, '.'-nulling, INFO-map parse
    and sample passthrough. Map/array outputs are projected to scalars
    (info['DP'], size(samples)) because the driver's normalizer is
    proven on scalar cells only."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    line = F.concat_ws(
        "\t",
        F.concat(F.lit("chr"), (F.col("doc_id") % 3).cast("string")),
        F.col("n_chars").cast("string"),
        F.concat(F.lit("rs"), F.col("doc_id").cast("string")),
        F.lit("A"),
        F.lit("G"),
        F.concat((F.col("doc_id") % 100).cast("string"), F.lit(".5")),
        F.lit("PASS"),
        F.concat(F.lit("DP="), (F.col("doc_id") % 90 + 1).cast("string")),
        F.lit("GT"),
        F.lit("0/1"),
    )
    header = spark.range(1).select(F.lit("##fileformat=VCFv4.3").alias("value"))
    out = vio.scratch_dir(spark, sf_dir, "vcf")
    vio.write_text(header.union(d.select(line.alias("value"))), out, mode="overwrite")
    v = vio.read_vcf(spark, out)
    return v.select(
        "chrom",
        "pos",
        "id",
        "ref",
        "alt",
        "qual",
        "filter",
        F.col("info")["DP"].alias("dp"),
        F.size("samples").alias("n_samples"),
    )


@query(
    "gff_scan_roundtrip",
    oracle="""
    SELECT concat('chr', doc_id % 3) AS seqid,
           'synth' AS source,
           'gene' AS type,
           CAST(n_chars AS INTEGER) AS start,
           CAST(n_chars + 500 AS INTEGER) AS "end",
           CASE WHEN doc_id % 2 = 0 THEN '+' ELSE '-' END AS strand,
           concat('g', doc_id) AS feature_id
    FROM documents WHERE doc_id < 300
    """,
    since=5,
)
def gff_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked GFF3 writer→reader round-trip through io.read_gff
    (attributes map projected to the scalar ID)."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    line = F.concat_ws(
        "\t",
        F.concat(F.lit("chr"), (F.col("doc_id") % 3).cast("string")),
        F.lit("synth"),
        F.lit("gene"),
        F.col("n_chars").cast("string"),
        (F.col("n_chars") + 500).cast("string"),
        F.lit("."),
        F.when(F.col("doc_id") % 2 == 0, F.lit("+")).otherwise(F.lit("-")),
        F.lit("."),
        F.concat(F.lit("ID=g"), F.col("doc_id").cast("string")),
    )
    header = spark.range(1).select(F.lit("##gff-version 3").alias("value"))
    out = vio.scratch_dir(spark, sf_dir, "gff")
    vio.write_text(header.union(d.select(line.alias("value"))), out, mode="overwrite")
    g = vio.read_gff(spark, out)
    return g.select(
        "seqid",
        "source",
        "type",
        "start",
        "end",
        "strand",
        F.col("attributes")["ID"].alias("feature_id"),
    )


# ---------------------------------------------------------------------------
# Interval algebra (intervals.py) over TPC-H-derived synthetic intervals
# ---------------------------------------------------------------------------

_GENES_SQL = """
    SELECT concat('g', p_partkey) AS id,
           concat('c', p_partkey % 3) AS seqid,
           CAST((p_partkey * 37) % 9000 AS BIGINT) AS start,
           CAST((p_partkey * 37) % 9000 + 400 AS BIGINT) AS "end"
    FROM part
"""
_READS_SQL = """
    SELECT concat('r', o_orderkey) AS id,
           concat('c', o_orderkey % 3) AS seqid,
           CAST((o_orderkey * 91) % 9400 AS BIGINT) AS start,
           CAST((o_orderkey * 91) % 9400 + 80 AS BIGINT) AS "end"
    FROM orders WHERE o_orderkey < 3000
"""


def _genes(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    start = (F.col("p_partkey") * 37) % 9000
    return p.select(
        F.concat(F.lit("g"), F.col("p_partkey").cast("string")).alias("id"),
        F.concat(F.lit("c"), (F.col("p_partkey") % 3).cast("string")).alias("seqid"),
        start.cast("long").alias("start"),
        (start + 400).cast("long").alias("end"),
    )


def _reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    start = (F.col("o_orderkey") * 91) % 9400
    return o.select(
        F.concat(F.lit("r"), F.col("o_orderkey").cast("string")).alias("id"),
        F.concat(F.lit("c"), (F.col("o_orderkey") % 3).cast("string")).alias("seqid"),
        start.cast("long").alias("start"),
        (start + 80).cast("long").alias("end"),
    )


@query(
    "interval_overlap_join",
    oracle=f"""
    WITH genes AS ({_GENES_SQL}), reads AS ({_READS_SQL})
    SELECT g.id AS id_a, r.id AS id_b, g.seqid AS seqid_a,
           g.start AS start_a, g."end" AS end_a,
           r.start AS start_b, r."end" AS end_b
    FROM genes g JOIN reads r
      ON g.seqid = r.seqid AND g.start <= r."end" AND r.start <= g."end"
    """,
    since=5,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals.overlap_join under the correctness gate: the
    bin-decomposed equi-join (scale path) against the oracle's naive
    theta join (exact semantics, fine at sf0.01). Exactly-once pair
    emission is what the hash proves — a bin-dedup bug duplicates
    rows."""
    from virapipe_spark.intervals import overlap_join

    out = overlap_join(
        _genes(spark, sf_dir), _reads(spark, sf_dir), bin_size=512
    )
    return out.select(
        "id_a", "id_b", "seqid_a", "start_a", "end_a", "start_b", "end_b"
    )


@query(
    "interval_merge_spans",
    oracle=f"""
    WITH iv AS ({_GENES_SQL}),
    flagged AS (
      SELECT seqid, start, "end", id,
             CASE WHEN max("end") OVER (
                      PARTITION BY seqid ORDER BY start, "end", id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR start > max("end") OVER (
                      PARTITION BY seqid ORDER BY start, "end", id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS opens
      FROM iv
    ),
    islands AS (
      SELECT seqid, start, "end",
             sum(opens) OVER (PARTITION BY seqid ORDER BY start, "end", id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT seqid, min(start) AS start, max("end") AS "end",
           CAST(count(*) AS BIGINT) AS n_merged
    FROM islands GROUP BY seqid, island
    """,
    since=5,
)
def interval_merge_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals.merge_overlapping under the gate — gaps-and-islands
    window vs the identical formulation in DuckDB SQL.

    The oracle's two window CTEs MUST share a TOTAL order (start, end,
    id): DuckDB sorts each windowed CTE independently, and duplicate
    (start, end) rows — present at sf0.1, absent at sf0.01 — can be
    permuted differently between the opens pass and the running-sum
    pass, mis-numbering islands (caught by the r5 sf0.1 gate run;
    Spark is immune because both functions share one Window sort).
    The engine side needs no tiebreak: fully-tied rows are
    interchangeable for min/max/count under a single consistent
    sort."""
    from virapipe_spark.intervals import merge_overlapping

    return merge_overlapping(_genes(spark, sf_dir).drop("id"))


@query(
    "interval_bin_coverage",
    oracle=f"""
    WITH iv AS ({_READS_SQL}),
    binned AS (
      SELECT seqid, unnest(generate_series(start // 1000, "end" // 1000))
               AS bin
      FROM iv
    )
    SELECT seqid,
           bin * 1000 AS bin_start,
           bin * 1000 + 999 AS bin_end,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM binned GROUP BY seqid, bin
    """,
    since=5,
)
def interval_bin_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals.coverage under the gate — per-bin interval counts."""
    from virapipe_spark.intervals import coverage

    return coverage(_reads(spark, sf_dir), bin_size=1000)


# ---------------------------------------------------------------------------
# Read-QC scalars / metrics (functions.py, metrics.py)
# ---------------------------------------------------------------------------


@query(
    "docs_trim_quality",
    oracle="""
    WITH b AS (
      SELECT doc_id, len(text) AS n,
             list_transform(generate_series(1, len(text)),
                            g -> ascii(substr(text, g, 1))) AS bytes
      FROM documents
    ),
    w AS (
      SELECT doc_id, n,
             list_position(
               list_transform(
                 generate_series(1, n - 3),
                 i -> list_avg(bytes[i:i+3]) < 95.0),
               true) AS fail_pos
      FROM b
    )
    SELECT doc_id,
           CAST(CASE WHEN n < 4 THEN n
                     WHEN fail_pos IS NULL THEN n
                     ELSE fail_pos - 1 END AS INTEGER) AS trim_at
    FROM w
    """,
    since=5,
)
def docs_trim_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions.trim_point_sliding under the gate: documents.text as
    the quality string (space bytes = 32 crater the window average, so
    reads trim at their first space-containing window — a
    deterministic, non-trivial cut both engines must agree on)."""
    from virapipe_spark import functions as vf

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        vf.trim_point_sliding("text", window=4, min_avg=95.0).alias("trim_at"),
    )


@query(
    "docs_dust_complexity",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             translate(md5(text), '{"0123456789abcdef"}',
                       '{"ACGTACGTACGTACGT"}') AS dna
      FROM documents WHERE doc_id < 300
    ),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(dna) - 2),
                            i -> substr(dna, i, 3)) AS grams
      FROM s
    ),
    sc AS (
      SELECT doc_id, len(grams) AS n,
             list_sum(list_transform(
               list_distinct(grams),
               x -> len(list_filter(grams, y -> y = x))
                    * (len(list_filter(grams, y -> y = x)) - 1))) AS pairs2
      FROM g
    )
    SELECT doc_id,
           round(CAST(pairs2 AS DOUBLE) / (n * (n - 1)), 6) AS dust
    FROM sc
    """,
    since=5,
)
def docs_dust_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions.dust_score under the gate, over md5-derived DNA (the
    shared md5-hex trick) — 30 trinucleotides per doc, exact integer
    pair counts, one rounded division."""
    from virapipe_spark import functions as vf

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    dna = F.translate(F.md5("text"), "0123456789abcdef", "ACGTACGTACGTACGT")
    return d.select(
        "doc_id", F.round(vf.dust_score(dna, k=3), 6).alias("dust")
    )


@query(
    "docs_gc_content",
    oracle=f"""
    SELECT doc_id,
           round(CAST(len(dna) - len(translate(dna, 'GC', '')) AS DOUBLE)
                 / len(dna), 4) AS gc
    FROM (SELECT doc_id,
                 translate(md5(text), '{"0123456789abcdef"}',
                           '{"ACGTACGTACGTACGT"}') AS dna
          FROM documents)
    """,
    since=5,
)
def docs_gc_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metrics.gc_content under the gate (translate-delete fraction)."""
    from virapipe_spark.metrics import gc_content

    d = table(spark, sf_dir, "documents")
    dna = F.translate(F.md5("text"), "0123456789abcdef", "ACGTACGTACGTACGT")
    return d.select("doc_id", F.round(gc_content(dna), 4).alias("gc"))


@query(
    "assembly_n50_stats",
    oracle="""
    WITH l AS (SELECT CAST(n_chars AS BIGINT) AS len FROM documents),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_contigs,
             CAST(sum(len) AS BIGINT) AS total_bp,
             max(len) AS max_len,
             round(avg(len), 2) AS mean_len
      FROM l
    ),
    ranked AS (
      SELECT len, sum(len) OVER (ORDER BY len DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM l
    )
    SELECT t.n_contigs, t.total_bp, t.max_len, t.mean_len,
           (SELECT max(len) FROM ranked, t WHERE cum * 2 >= t.total_bp)
             AS n50
    FROM t
    """,
    since=5,
)
def assembly_n50_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metrics.assembly_stats under the gate — documents.n_chars as the
    contig-length column (the textbook N50 running-sum definition on
    both sides)."""
    from virapipe_spark.metrics import assembly_stats

    d = table(spark, sf_dir, "documents")
    return assembly_stats(d, length_col=F.col("n_chars"))


# ---------------------------------------------------------------------------
# Interval subtraction (bedtools subtract)
# ---------------------------------------------------------------------------


_SUB_READS_SQL = """
    SELECT concat('s', o_orderkey) AS id,
           concat('c', o_orderkey % 3) AS seqid,
           CAST((o_orderkey * 91) % 94000 AS BIGINT) AS start,
           CAST((o_orderkey * 91) % 94000 + 80 AS BIGINT) AS "end"
    FROM orders WHERE o_orderkey < 3000
"""


def _sub_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparser read fixture for the subtraction entry: the shared
    _READS_SQL coordinate space (% 9400) tiles the gene space wall to
    wall at sf0.01, so subtraction degenerates to ~full coverage (2
    surviving segments); % 94000 gives ~5 overlapping reads per gene —
    splits, edge clips, and untouched genes all present."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    start = (F.col("o_orderkey") * 91) % 94000
    return o.select(
        F.concat(F.lit("s"), F.col("o_orderkey").cast("string")).alias("id"),
        F.concat(F.lit("c"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "seqid"
        ),
        start.cast("long").alias("start"),
        (start + 80).cast("long").alias("end"),
    )


@query(
    "interval_subtract",
    oracle=f"""
    WITH genes AS ({_GENES_SQL}), reads AS ({_SUB_READS_SQL}),
    flagged AS (
      SELECT seqid, start, "end", id,
             CASE WHEN max("end") OVER (
                      PARTITION BY seqid ORDER BY start, "end", id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR start > max("end") OVER (
                      PARTITION BY seqid ORDER BY start, "end", id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS opens
      FROM reads
    ),
    islands AS (
      SELECT seqid, start, "end",
             sum(opens) OVER (PARTITION BY seqid ORDER BY start, "end", id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM flagged
    ),
    mb AS (
      SELECT seqid, min(start) AS bstart, max("end") AS bend
      FROM islands GROUP BY seqid, island
    ),
    ov AS (
      SELECT g.id, g.seqid, g.start AS sa, g."end" AS ea,
             greatest(m.bstart, g.start) AS bs,
             least(m.bend, g."end") AS be
      FROM genes g JOIN mb m
        ON g.seqid = m.seqid AND g.start <= m.bend AND m.bstart <= g."end"
    ),
    gaps AS (
      SELECT id, seqid,
             coalesce(lag(be) OVER (PARTITION BY id ORDER BY bs) + 1, sa)
               AS seg_start,
             bs - 1 AS seg_end
      FROM ov
    ),
    trail AS (
      SELECT id, seqid, max(be) + 1 AS seg_start, max(ea) AS seg_end
      FROM ov GROUP BY id, seqid
    ),
    untouched AS (
      SELECT g.id, g.seqid, g.start AS seg_start, g."end" AS seg_end
      FROM genes g
      WHERE NOT EXISTS (SELECT 1 FROM ov WHERE ov.id = g.id)
    )
    SELECT id, seqid, seg_start, seg_end FROM (
      SELECT * FROM gaps WHERE seg_start <= seg_end
      UNION ALL
      SELECT * FROM trail WHERE seg_start <= seg_end
      UNION ALL
      SELECT * FROM untouched
    )
    """,
    since=7,
)
def interval_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`intervals.subtract` (bedtools subtract) under the correctness
    gate: gene intervals minus the merged read spans, emitted as the
    surviving sub-segments — the interval-algebra completion beside
    the overlap join, merge, and binned coverage entries. Hash-exact
    integers; what the hash proves is the windowed complement
    construction (merged-block disjointness, lag-gap boundaries,
    trailing segments, untouched restoration) — each boundary
    off-by-one breaks it. Golden edge cases (full coverage, splits,
    edge overlap, cross-sequence isolation) are additionally pinned in
    tests/test_intervals.py::TestSubtract.

    Scale: see intervals.subtract — merge windows per sequence, binned
    candidate join, per-interval segment windows."""
    from virapipe_spark.intervals import subtract

    out = subtract(
        _genes(spark, sf_dir), _sub_reads(spark, sf_dir), bin_size=512
    )
    return out.select("id", "seqid", "seg_start", "seg_end")


# ---------------------------------------------------------------------------
# Interval depth, reciprocal overlap and closest feature
# ---------------------------------------------------------------------------


@query(
    "interval_depth_histogram",
    oracle=f"""
    WITH iv AS ({_READS_SQL}),
    ev AS (
      SELECT seqid, start AS pos, 1 AS d FROM iv
      UNION ALL
      SELECT seqid, "end" + 1 AS pos, -1 AS d FROM iv
    ),
    ag AS (
      SELECT seqid, pos, CAST(sum(d) AS BIGINT) AS delta
      FROM ev GROUP BY seqid, pos
    ),
    seg AS (
      SELECT seqid, pos,
             sum(delta) OVER (PARTITION BY seqid ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS depth,
             lead(pos) OVER (PARTITION BY seqid ORDER BY pos) - pos
               AS seg_len
      FROM ag
    )
    SELECT seqid, CAST(depth AS BIGINT) AS depth,
           CAST(sum(seg_len) AS BIGINT) AS n_bases
    FROM seg WHERE depth > 0 AND seg_len IS NOT NULL
    GROUP BY seqid, depth
    """,
    since=8,
)
def interval_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals.depth_histogram under the gate — the exact
    depth-of-coverage histogram (`samtools depth`'s distribution, the
    genome-coverage QC report behind 'what fraction of the assembly
    sits above 10x?'), completing the interval algebra: overlap join,
    merge, subtract, bin-coverage, and now per-base depth. The
    sweep-line diff-array never expands per-base rows — +1/-1 deltas
    at breakpoints, one prefix sum, segment lengths summed per depth
    — so both engines replay the identical O(breakpoints) algebra
    (positions made unique per seqid by the delta pre-aggregation,
    which is what keeps the two window sorts total without a
    tiebreak, the interval_merge_spans lesson)."""
    from virapipe_spark.intervals import depth_histogram

    return depth_histogram(_reads(spark, sf_dir))


@query(
    "interval_reciprocal_overlap",
    oracle=f"""
    WITH genes AS (
      SELECT concat('g', p_partkey) AS id,
             concat('c', p_partkey % 3) AS seqid,
             CAST((p_partkey * 37) % 9000 AS BIGINT) AS start,
             CAST((p_partkey * 37) % 9000 + 400 AS BIGINT) AS "end"
      FROM part WHERE p_partkey < 3000
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.seqid AS seqid_a,
             least(a."end", b."end") - greatest(a.start, b.start) + 1
               AS ov_len,
             a."end" - a.start + 1 AS len_a,
             b."end" - b.start + 1 AS len_b
      FROM genes a JOIN genes b
        ON a.seqid = b.seqid AND a.start <= b."end" AND b.start <= a."end"
       AND a.id < b.id
    )
    SELECT id_a, id_b, seqid_a, CAST(ov_len AS BIGINT) AS ov_len,
           CAST(ov_len * 1000 // len_a AS BIGINT) AS frac_a_x1000,
           CAST(ov_len * 1000 // len_b AS BIGINT) AS frac_b_x1000
    FROM pairs
    WHERE ov_len * 2 >= len_a AND ov_len * 2 >= len_b
    """,
    since=9,
)
def interval_reciprocal_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-overlap self-join (`bedtools intersect -f 0.5 -r`)
    over the gene fixture — the variant-concordance filter on top of
    the plain overlap join: a pair counts only if the overlap covers
    >= 50% of BOTH intervals, which kills the tiny-nested-in-huge
    matches a plain overlap join floods downstream with (the reason
    every CNV/SV comparison pipeline uses -r; a self-comparison is
    exactly how replicate call-sets are concordance-checked). The
    fraction test is exact integers (ov_len * 2 >= len — no float
    ratio anywhere); emitted per pair: overlap length and both
    coverage fractions in x1000 fixed-point (truncating div shared
    with the oracle). `id_a < id_b` keeps each unordered pair once
    and drops self-pairs.

    Scale: rides intervals.overlap_join's bin-decomposed equi-join
    unchanged (the fraction predicate is a post-join filter on
    already-bounded candidate pairs — bin pruning does the heavy
    lifting, the reciprocal test is free arithmetic)."""
    from virapipe_spark.intervals import overlap_join

    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 3000)
    start = (F.col("p_partkey") * 37) % 9000
    g = p.select(
        F.concat(F.lit("g"), F.col("p_partkey").cast("string")).alias("id"),
        F.concat(F.lit("c"), (F.col("p_partkey") % 3).cast("string")).alias(
            "seqid"
        ),
        start.cast("long").alias("start"),
        (start + 400).cast("long").alias("end"),
    )
    out = overlap_join(g, g, bin_size=512).filter(
        F.col("id_a") < F.col("id_b")
    )
    ov_len = (
        F.least(F.col("end_a"), F.col("end_b"))
        - F.greatest(F.col("start_a"), F.col("start_b"))
        + 1
    )
    len_a = F.col("end_a") - F.col("start_a") + 1
    len_b = F.col("end_b") - F.col("start_b") + 1
    return (
        out.select(
            "id_a",
            "id_b",
            "seqid_a",
            ov_len.cast("long").alias("ov_len"),
            len_a.cast("long").alias("len_a"),
            len_b.cast("long").alias("len_b"),
        )
        .filter(
            (F.col("ov_len") * 2 >= F.col("len_a"))
            & (F.col("ov_len") * 2 >= F.col("len_b"))
        )
        .select(
            "id_a",
            "id_b",
            "seqid_a",
            "ov_len",
            F.expr("ov_len * 1000 div len_a").cast("long").alias("frac_a_x1000"),
            F.expr("ov_len * 1000 div len_b").cast("long").alias("frac_b_x1000"),
        )
    )

@query(
    "interval_closest_feature",
    oracle=f"""
    WITH genes AS ({_GENES_SQL}), reads AS ({_READS_SQL}),
    a AS (
      SELECT r.id, r.seqid,
             min(CASE WHEN g.start <= r."end" AND g."end" >= r.start
                      THEN 0 END) AS ov,
             min(CASE WHEN g."end" < r.start
                      THEN r.start - g."end" END) AS ld,
             min(CASE WHEN g.start > r."end"
                      THEN g.start - r."end" END) AS rd
      FROM reads r
      LEFT JOIN genes g ON g.seqid = r.seqid
      GROUP BY r.id, r.seqid
    )
    SELECT id, seqid,
           CAST(CASE WHEN ov = 0 THEN 0
                     ELSE least(coalesce(ld, rd), coalesce(rd, ld))
                END AS BIGINT) AS closest_dist,
           CASE WHEN ov = 0 THEN 'overlap'
                WHEN ld IS NOT NULL AND (rd IS NULL OR ld <= rd) THEN 'left'
                WHEN rd IS NOT NULL THEN 'right'
                ELSE 'none' END AS side
    FROM a
    """,
    since=9,
)
def interval_closest_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSEST-feature assignment (`bedtools closest`) — for every
    read, the distance to the nearest gene on its seqid (0 on
    overlap, else the positive gap to the nearer flank, ties pinned
    to 'left') — the annotation step for intergenic features that the
    overlap join by definition cannot place. The Spark side is the
    UNION-SWEEP, not a join: genes and reads interleave into two
    boundary-ordered frames and three running window aggregates
    answer every read at once — max gene end among starts <= read.end
    (overlap witness), min gene start beyond read.end (right flank),
    max gene end before read.start (left flank). Strict-vs-inclusive
    boundaries are encoded purely in the interleave tiebreak column.
    The oracle is the naive per-pair theta aggregate — same answer,
    quadratic plan — which is exactly why the sweep is the entry.

    Scale: no pair blowup anywhere — two sorts of |genes|+|reads|
    rows partitioned by seqid and one read-keyed join-back; at 100 TB
    the frames range-partition by (seqid, pos) and the sweep carries
    one scalar of state per boundary, the same discipline as
    interval_depth_histogram's prefix sum."""
    from pyspark.sql import Window as W

    genes = _genes(spark, sf_dir)
    reads = _reads(spark, sf_dir)
    # frame A: gene STARTs interleaved with read ENDs
    ga = genes.select(
        "seqid",
        F.col("start").alias("pos"),
        F.lit(1).alias("is_gene"),
        F.col("start").alias("g_start"),
        F.col("end").alias("g_end"),
        F.lit(None).cast("string").alias("rid"),
        F.lit(None).cast("long").alias("r_start"),
        F.lit(None).cast("long").alias("r_end"),
    )
    ra = reads.select(
        "seqid",
        F.col("end").alias("pos"),
        F.lit(0).alias("is_gene"),
        F.lit(None).cast("long").alias("g_start"),
        F.lit(None).cast("long").alias("g_end"),
        F.col("id").alias("rid"),
        F.col("start").alias("r_start"),
        F.col("end").alias("r_end"),
    )
    fa = ga.unionByName(ra)
    # genes at pos == read.end are INCLUDED (start <= end inclusive):
    # gene rows sort before read rows at equal pos
    w_le = (
        W.partitionBy("seqid")
        .orderBy("pos", (1 - F.col("is_gene")))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # genes at pos == read.end are EXCLUDED (strictly greater): in the
    # descending order read rows sort first at equal pos
    w_gt = (
        W.partitionBy("seqid")
        .orderBy(F.col("pos").desc(), F.col("is_gene"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    reads_a = (
        fa.select(
            "seqid",
            "rid",
            "r_start",
            "r_end",
            "is_gene",
            F.max("g_end").over(w_le).alias("max_end_le"),
            F.min("g_start").over(w_gt).alias("next_start_gt"),
        )
        .filter(F.col("is_gene") == 0)
        .drop("is_gene")
    )
    # frame B: gene ENDs interleaved with read STARTs; strict < means
    # gene rows at equal pos sort AFTER the read row
    gb = genes.select(
        "seqid",
        F.col("end").alias("pos"),
        F.lit(1).alias("is_gene"),
        F.col("end").alias("g_end"),
        F.col("id").alias("rid"),
    ).select("seqid", "pos", "is_gene", "g_end", F.lit(None).cast("string").alias("rid2"))
    rb = reads.select(
        "seqid",
        F.col("start").alias("pos"),
        F.lit(0).alias("is_gene"),
        F.lit(None).cast("long").alias("g_end"),
        F.col("id").alias("rid2"),
    )
    fb = gb.unionByName(rb)
    w_lt = (
        W.partitionBy("seqid")
        .orderBy("pos", "is_gene")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    reads_b = (
        fb.select(
            "rid2",
            "is_gene",
            F.max("g_end").over(w_lt).alias("prev_end_lt"),
        )
        .filter(F.col("is_gene") == 0)
        .select("rid2", "prev_end_lt")
    )
    joined = reads_a.join(
        reads_b, reads_a.rid == reads_b.rid2
    ).select(
        F.col("rid").alias("id"),
        "seqid",
        (F.col("max_end_le") >= F.col("r_start")).alias("ov"),
        (F.col("r_start") - F.col("prev_end_lt")).alias("ld"),
        (F.col("next_start_gt") - F.col("r_end")).alias("rd"),
    )
    return joined.select(
        "id",
        "seqid",
        F.when(F.col("ov"), F.lit(0))
        .otherwise(
            F.least(
                F.coalesce("ld", "rd"), F.coalesce("rd", "ld")
            )
        )
        .cast("long")
        .alias("closest_dist"),
        F.when(F.col("ov"), F.lit("overlap"))
        .when(
            F.col("ld").isNotNull()
            & (F.col("rd").isNull() | (F.col("ld") <= F.col("rd"))),
            F.lit("left"),
        )
        .when(F.col("rd").isNotNull(), F.lit("right"))
        .otherwise(F.lit("none"))
        .alias("side"),
    )


# ---------------------------------------------------------------------------
# Interval-set Jaccard (bedtools jaccard parity)
# ---------------------------------------------------------------------------


def _merged_sql(src: str, alias: str) -> str:
    """The merge_overlapping gaps-and-islands SQL (total-order lesson
    from interval_merge_spans applies) parameterized by source CTE."""
    return f"""
    {alias}_flagged AS (
      SELECT seqid, start, "end", id,
             CASE WHEN max("end") OVER (
                      PARTITION BY seqid ORDER BY start, "end", id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR start > max("end") OVER (
                      PARTITION BY seqid ORDER BY start, "end", id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS opens
      FROM {src}
    ),
    {alias} AS MATERIALIZED (
      SELECT seqid, min(start) AS s, max("end") AS e
      FROM (
        SELECT seqid, start, "end",
               sum(opens) OVER (PARTITION BY seqid
                                ORDER BY start, "end", id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
        FROM {alias}_flagged
      ) GROUP BY seqid, island
    )"""


@query(
    "interval_jaccard",
    oracle=f"""
    WITH ga AS ({_GENES_SQL}),
    rb AS ({_READS_SQL}),
    {_merged_sql('ga', 'ma')},
    {_merged_sql('rb', 'mb')},
    lens AS (
      SELECT a.seqid,
             CAST(sum(a.e - a.s + 1) AS BIGINT) AS len_a,
             CAST(count(*) AS BIGINT) AS n_a
      FROM ma a GROUP BY a.seqid
    ),
    lensb AS (
      SELECT b.seqid,
             CAST(sum(b.e - b.s + 1) AS BIGINT) AS len_b,
             CAST(count(*) AS BIGINT) AS n_b
      FROM mb b GROUP BY b.seqid
    ),
    inter AS (
      SELECT a.seqid,
             CAST(sum(least(a.e, b.e) - greatest(a.s, b.s) + 1)
                  AS BIGINT) AS inter_bp
      FROM ma a JOIN mb b
        ON b.seqid = a.seqid AND b.s <= a.e AND b.e >= a.s
      GROUP BY a.seqid
    )
    SELECT l.seqid, l.n_a, lb.n_b, l.len_a, lb.len_b,
           COALESCE(i.inter_bp, 0) AS inter_bp,
           l.len_a + lb.len_b - COALESCE(i.inter_bp, 0) AS union_bp,
           CAST(COALESCE(i.inter_bp, 0) AS DOUBLE)
             / (l.len_a + lb.len_b - COALESCE(i.inter_bp, 0)) AS jaccard
    FROM lens l
    JOIN lensb lb ON lb.seqid = l.seqid
    LEFT JOIN inter i ON i.seqid = l.seqid
    """,
    since=10,
)
def interval_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-SET JACCARD — bedtools ``jaccard`` (Favorov et al.
    2012), the one-number answer to "how much do these two annotation
    tracks agree": merge each set to disjoint spans, intersect the
    merged spans, and jaccard = inter_bp / (len_a + len_b - inter_bp),
    all in inclusive coordinates (length = end - start + 1, stated —
    bedtools' half-open convention differs by a constant per span).
    Completes the interval algebra as its set-similarity member:
    overlap join (pairs), merge (union), subtract (difference),
    closest (distance), reciprocal overlap (pairwise gate), and now
    track-level similarity. Exact integer bp throughout; the single
    division is the one float.

    Scale: two gaps-and-islands window passes (seqid-keyed), one
    overlap join BETWEEN MERGED SPANS — disjointness caps the
    candidate pairs at |A'|+|B'| per seqid (each merged A span
    overlaps disjoint B spans in a run), so the join is linear in
    islands, never quadratic in raw intervals; the genome-binning
    refinement (overlap_join's grid) applies unchanged if island
    counts explode.

    Reference capability class: interval algebra
    (SURVEY.md section 2.4 position-overlap family)."""
    from virapipe_spark.intervals import merge_overlapping
    from virapipe_spark.scale import truncate_lineage

    ma = merge_overlapping(_genes(spark, sf_dir).drop("id")).select(
        "seqid", F.col("start").alias("sa"), F.col("end").alias("ea")
    )
    mb = merge_overlapping(_reads(spark, sf_dir).drop("id")).select(
        F.col("seqid").alias("seqb"),
        F.col("start").alias("sb"),
        F.col("end").alias("eb"),
    )
    ma = truncate_lineage(ma, reliable=True)
    mb = truncate_lineage(mb, reliable=True)
    lens_a = ma.groupBy("seqid").agg(
        F.sum(F.col("ea") - F.col("sa") + 1).cast("long").alias("len_a"),
        F.count("*").cast("long").alias("n_a"),
    )
    lens_b = mb.groupBy(F.col("seqb").alias("seqid")).agg(
        F.sum(F.col("eb") - F.col("sb") + 1).cast("long").alias("len_b"),
        F.count("*").cast("long").alias("n_b"),
    )
    inter = (
        ma.join(
            mb,
            (F.col("seqb") == F.col("seqid"))
            & (F.col("sb") <= F.col("ea"))
            & (F.col("eb") >= F.col("sa")),
        )
        .groupBy("seqid")
        .agg(
            F.sum(
                F.least("ea", "eb") - F.greatest("sa", "sb") + 1
            )
            .cast("long")
            .alias("inter_bp")
        )
    )
    return (
        lens_a.join(lens_b, "seqid")
        .join(inter, "seqid", "left")
        .select(
            "seqid",
            "n_a",
            "n_b",
            "len_a",
            "len_b",
            F.coalesce("inter_bp", F.lit(0)).cast("long").alias("inter_bp"),
            (
                F.col("len_a")
                + F.col("len_b")
                - F.coalesce("inter_bp", F.lit(0))
            )
            .cast("long")
            .alias("union_bp"),
            (
                F.coalesce("inter_bp", F.lit(0)).cast("double")
                / (
                    F.col("len_a")
                    + F.col("len_b")
                    - F.coalesce("inter_bp", F.lit(0))
                )
            ).alias("jaccard"),
        )
    )
