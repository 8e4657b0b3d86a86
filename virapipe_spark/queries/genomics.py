"""Genomics-operator catalog entries (SURVEY.md §2.3-2.5, §2.8).

The driver's oracle tables carry no DNA, so each genomics operator is
exercised over its closest analog column — ``documents.text`` stands in
for sequence/quality strings (characters ARE the bytes the reference's
filters iterate over), ``lineitem.l_linenumber`` 1/2 for mate pairs.
The *genomics-typed* versions of the same operators (over reads/contigs
fixtures, via :mod:`virapipe_spark.functions` and :mod:`virapipe_spark.io`)
are golden-tested in ``tests/``; the entries here give every operator a
hash-checked DuckDB correctness row on driver data.

Scale notes are inline: the k-mer explode keeps the aggregate fused
behind the explode (one stage, map-side partial agg), quality scoring is
a pure codegen projection, and the zip join partitions by its "file"
analog rather than a global row_number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from virapipe_spark import functions as vf
from virapipe_spark.catalog import query, table
from virapipe_spark.scale import spread_scan


# ---------------------------------------------------------------------------
# Quality filters (FastqFilter.java:109-196) — documents.text as the
# quality string; char codes are the "phred bytes".
# ---------------------------------------------------------------------------


@query(
    "filter_avg_quality",
    oracle="""
    SELECT doc_id,
           round(list_avg(list_transform(generate_series(1, len(text)),
                                         g -> ascii(substr(text, g, 1)))), 4)
             AS avg_q
    FROM documents
    WHERE list_avg(list_transform(generate_series(1, len(text)),
                                  g -> ascii(substr(text, g, 1)))) > 94.5
    """,
)
def filter_avg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-quality filter (``avgQualityTest``,
    FastqFilter.java:174-184): keep iff mean byte value > threshold.
    Whole predicate is one codegen'd array expression — evaluated inside
    the scan stage, no shuffle, no Python."""
    d = table(spark, sf_dir, "documents")
    avg_q = vf.avg_quality("text")
    return d.filter(avg_q > 94.5).select(
        "doc_id", F.round(avg_q, 4).alias("avg_q")
    )


@query(
    "filter_lowq_count",
    oracle="""
    SELECT doc_id, lowq FROM (
      SELECT doc_id,
             len(list_filter(list_transform(generate_series(1, len(text)),
                                            g -> ascii(substr(text, g, 1))),
                             x -> x < 97)) AS lowq
      FROM documents
    )
    WHERE lowq < 50
    """,
)
def filter_lowq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-quality-count filter (``lowQCountTest``,
    FastqFilter.java:186-196): keep iff count(byte < threshold) < cutoff."""
    d = table(spark, sf_dir, "documents")
    lowq = vf.low_quality_count("text", 97)
    return d.select("doc_id", lowq.alias("lowq")).filter(F.col("lowq") < 50)


# ---------------------------------------------------------------------------
# k-mer digital normalization (NormalizeRDD.java:66-103)
# ---------------------------------------------------------------------------

_K = 8
_MINC, _MAXC = 5, 50

_KMER_CTE = f"""
    WITH km AS (
      SELECT doc_id, substr(text, g, {_K}) AS kmer
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {_K - 1})) AS g
            FROM documents)
    ),
    grouped AS (
      SELECT kmer, count(*) AS c, min(doc_id) AS rep_doc
      FROM km GROUP BY kmer
      HAVING count(*) > {_MINC} AND count(*) < {_MAXC}
    )
"""


def _kmer_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, kmer) rows: explode start POSITIONS, then substring —
    skips materializing a per-row array of k-mer strings (the
    array-valued :func:`vf.kmers` API form measures ~25% slower here;
    position-explode is the 100 TB shape since peak memory per row is
    one k-mer, not len-k of them)."""
    d = table(spark, sf_dir, "documents")
    n = F.length("text") - F.lit(_K - 1)
    # r12: the position explode multiplies rows x(len-k+1) ABOVE the
    # scan, so its parallelism is the scan's — one task on a small
    # single-row-group file. spread_scan re-spreads small inputs
    # (measured 3.2 s -> 0.7 s at sf0.1); no-op at scale. Downstream
    # aggs are count/min — partition-order-insensitive.
    return (
        spread_scan(d.filter(n > 0).select("doc_id", "text"))
        .select("doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("g"))
        .select("doc_id", F.expr(f"substring(text, g, {_K})").alias("kmer"))
    )


def _kmer_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _kmer_explode(spark, sf_dir)
        .groupBy("kmer")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("rep_doc"))
        .filter((F.col("c") > _MINC) & (F.col("c") < _MAXC))
    )


@query("kmer_count_band", oracle=_KMER_CTE + "SELECT kmer, c, rep_doc FROM grouped")
def kmer_count_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-mer explode -> count -> coverage band, carrying one
    deterministic representative record (NormalizeRDD.java:66-103; the
    reference's ``reduceByKey((a,b)->a)`` representative is
    order-dependent — pinned to min doc_id here, SURVEY §7.5).

    Scale: the explode multiplies rows ×(len-k+1), but Catalyst fuses
    scan -> explode -> partial agg into one stage, so the shuffle carries
    only per-kmer partials (bounded by distinct-kmer count, not input
    rows). This is the plan shape SURVEY §4.3 prescribes."""
    return _kmer_band(spark, sf_dir)


@query(
    "kmer_unique_set",
    oracle=f"""
    SELECT count(DISTINCT substr(text, g, {_K})) AS n_unique
    FROM (SELECT text, unnest(generate_series(1, len(text) - {_K - 1})) AS g
          FROM documents)
    """,
)
def kmer_unique_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique k-mer cardinality (NormalizeRDD.java:109-128's per-partition
    HashSet + distinct helper). count(DISTINCT) gives partial distinct
    map-side — the reference's per-partition HashSet IS Spark's partial
    aggregate, expressed declaratively. For telemetry at 100 TB use
    approx_count_distinct (HLL, no exact-distinct shuffle) instead."""
    return _kmer_explode(spark, sf_dir).agg(
        F.count_distinct("kmer").alias("n_unique")
    )


@query(
    "normalize_digital",
    oracle=_KMER_CTE + "SELECT DISTINCT rep_doc AS doc_id FROM grouped",
)
def normalize_digital(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full digital-normalization output: distinct representative records
    of band-passing k-mers (NormalizeRDD.java:94-103 re-emits reads then
    ``.distinct()``)."""
    return (
        _kmer_band(spark, sf_dir)
        .select(F.col("rep_doc").alias("doc_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Sequence projections (§2.8)
# ---------------------------------------------------------------------------


@query(
    "revcomp_projection",
    oracle="""
    SELECT doc_id,
           reverse(translate(upper(replace(substr(text, 1, 60), ' ', '')),
                             'ATCGN', 'TAGCN')) AS revcomp
    FROM documents
    """,
)
def revcomp_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse complement (ORF.scala:11-40, full-length semantics — the
    reference drops the final base, QUIRKS.md). One translate+reverse,
    codegen'd."""
    d = table(spark, sf_dir, "documents")
    seq = F.replace(F.substring("text", 1, 60), F.lit(" "), F.lit(""))
    return d.select("doc_id", vf.reverse_complement(seq).alias("revcomp"))


@query(
    "codon_usage",
    oracle="""
    WITH seqs AS (SELECT upper(replace(text, ' ', '')) AS s FROM documents),
    cod AS (
      SELECT substr(s, g, 3) AS codon
      FROM (SELECT s, unnest(generate_series(1, len(s) - 2, 3)) AS g FROM seqs)
    )
    SELECT codon, count(*) AS n FROM cod GROUP BY codon
    """,
)
def codon_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codon-usage histogram (Codondict.scala:9-55): frame-0 triplet
    split -> explode -> hash aggregate. Same fused explode+partial-agg
    shape as the k-mer count. The normalized sequence is projected to a
    column before the explode (a computed expression referenced inside
    a per-element lambda re-evaluates per element), and positions
    explode with step 3 — no per-row codon array."""
    d = table(spark, sf_dir, "documents").select(
        F.upper(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("s")
    )
    n = F.length("s") - 2
    return (
        d.filter(n > 0)
        .select("s", F.explode(F.expr("sequence(1, length(s) - 2, 3)")).alias("g"))
        .select(F.expr("substring(s, g, 3)").alias("codon"))
        .groupBy("codon")
        .agg(F.count("*").alias("n"))
    )


@query(
    "rename_unique",
    oracle="""
    SELECT doc_id,
           concat(CAST(doc_id AS VARCHAR), '_', substr(md5(text), 1, 8))
             AS new_id
    FROM documents
    """,
)
def rename_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique record rename (RenameContigsUniq.java:58). The reference
    appends ``UUID.randomUUID()`` — non-deterministic and untestable;
    pinned to a content hash (same uniqueness guarantee, reproducible —
    SURVEY §7.5)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("_"),
            F.substring(F.md5(F.col("text")), 1, 8),
        ).alias("new_id"),
    )


@query(
    "sample_group_count",
    oracle="""
    SELECT string_split(text, ' ')[1] AS sample,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY sample
    """,
)
def sample_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by-sample (FastqGroupper.java:63-69: sample id = first
    delimited field of the record name). The per-group *write* half is
    io.write_grouped (partitionBy), golden-tested in tests/test_io.py.

    DuckDB sums integers into HUGEINT (int128); both sides cast the total
    to BIGINT so the driver's value hash compares like with like.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("sample", F.split(F.col("text"), " ")[0])
        .groupBy("sample")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "fasta_format_lines",
    oracle="""
    SELECT printf('>%s\n%s', CAST(doc_id AS VARCHAR), substr(text, 1, 30))
             AS fasta
    FROM documents
    """,
)
def fasta_format_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FASTA record reconstruction (``">"+id+"\\n"+seq``,
    BlastNFilter.java:194) — the write.text payload of io.write_fasta."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        vf.fasta_record(
            F.col("doc_id").cast("string"), F.substring("text", 1, 30)
        ).alias("fasta")
    )


# ---------------------------------------------------------------------------
# Six-frame ORF translation (§2.8) — rows-only check (pandas UDF scan is
# not expressible in DuckDB SQL; golden-tested in tests/test_orf.py).
# ---------------------------------------------------------------------------


@query("orf_six_frame")  # no oracle -> driver records a rows-only check
def orf_six_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-frame ORF scan (ORF.scala:125-165) over deterministic synthetic
    DNA derived from documents (md5 hex -> ACGT, 3x32 = 96 bases), via
    the engine's one pandas UDF (orf.orf_expand). The length filter sits
    BEFORE the UDF — Catalyst can't push predicates through mapInPandas
    (SURVEY §4.3).

    Output is the per-(strand, frame) invariant summary rather than the
    raw ORF explosion: the driver's rows-only check can't hash a
    no-oracle result, so the entry carries self-validating columns
    instead — ORF count, total amino acids, and a crc32 checksum over
    the proteins, all deterministic functions of the testdata and
    pinned stable in tests/test_orf.py."""
    from virapipe_spark.orf import orf_expand

    d = table(spark, sf_dir, "documents")
    dna = F.translate(
        F.concat(
            F.md5(F.col("text")),
            F.md5(F.concat(F.col("text"), F.lit("2"))),
            F.md5(F.concat(F.col("text"), F.lit("3"))),
        ),
        "0123456789abcdef",
        "AAAACCCCGGGGTTTT",
    )
    seqs = d.filter(F.col("n_chars") >= 50).select(
        F.col("doc_id").cast("string").alias("id"), dna.alias("sequence")
    )
    orfs = orf_expand(seqs, "id", "sequence", min_length=15)
    return orfs.groupBy("strand", "frame").agg(
        F.count("*").alias("n_orfs"),
        F.sum(F.length("protein")).cast("long").alias("total_aa"),
        F.sum(F.crc32(F.col("protein"))).cast("long").alias("protein_crc"),
    )


# ---------------------------------------------------------------------------
# Mate-pair operators (§2.4)
# ---------------------------------------------------------------------------


@query(
    "mate_pivot",
    oracle="""
    SELECT l_orderkey,
           max(CASE WHEN l_linenumber = 1 THEN l_partkey END) AS part_1,
           max(CASE WHEN l_linenumber = 2 THEN l_partkey END) AS part_2,
           round(max(CASE WHEN l_linenumber = 1 THEN l_quantity END), 2) AS qty_1,
           round(max(CASE WHEN l_linenumber = 2 THEN l_quantity END), 2) AS qty_2
    FROM lineitem
    WHERE l_linenumber IN (1, 2)
    GROUP BY l_orderkey
    HAVING count(*) = 2
    """,
)
def mate_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mate-pair key-equality check + pivot to one row per pair
    (AlignNFilter.java:96-150 re-syncs consecutive records sharing a read
    key; AlignInterleaved.java:76-99). DataFrames have no row order, so
    the pair is keyed (l_orderkey = read key, l_linenumber = mate number)
    and incomplete pairs are dropped — exactly the reference's skip-one
    re-sync outcome. One hash aggregate; no window, no sort."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber").isin(1, 2))

    def mate(n: int, col: str):
        return F.max(F.when(F.col("l_linenumber") == n, F.col(col)))

    return (
        li.groupBy("l_orderkey")
        .agg(
            mate(1, "l_partkey").alias("part_1"),
            mate(2, "l_partkey").alias("part_2"),
            F.round(mate(1, "l_quantity"), 2).alias("qty_1"),
            F.round(mate(2, "l_quantity"), 2).alias("qty_2"),
            F.count("*").alias("n_mates"),
        )
        .filter(F.col("n_mates") == 2)
        .drop("n_mates")
    )


@query(
    "interleave_zip",
    oracle="""
    WITH fwd AS (
      SELECT o_orderpriority AS grp, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    rev AS (
      SELECT o_orderpriority AS grp, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT fwd.grp, fwd.rn, fwd.o_orderkey AS key_1, rev.o_orderkey AS key_2
    FROM fwd JOIN rev ON fwd.grp = rev.grp AND fwd.rn = rev.rn
    """,
)
def interleave_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional (no-key) zip join — interleaving mate files pairs the
    i-th record of file 1 with the i-th of file 2
    (Interleave.java:230-232 ``zipPartitions``). Row order is made
    explicit with row_number per side, *partitioned by the file-pair
    analog* (o_orderpriority): a global row_number would funnel every row
    through one task, while per-group numbering scales with group count —
    the same per-file-pair parallelism the reference gets from
    zipPartitions (SURVEY §4.3)."""
    o = table(spark, sf_dir, "orders")
    sides = []
    for parity in (0, 1):
        w = W.partitionBy("o_orderpriority").orderBy("o_orderkey")
        sides.append(
            o.filter(F.col("o_orderkey") % 2 == parity)
            .select(
                F.col("o_orderpriority").alias("grp"),
                F.col("o_orderkey"),
                F.row_number().over(w).alias("rn"),
            )
        )
    fwd, rev = sides
    return fwd.alias("f").join(
        rev.alias("r"), ["grp", "rn"], "inner"
    ).select(
        "grp",
        "rn",
        F.col("f.o_orderkey").alias("key_1"),
        F.col("r.o_orderkey").alias("key_2"),
    )


# ---------------------------------------------------------------------------
# SAM flag + read-name filters (§2.3) — alignments/reads analog views
# derived deterministically from documents so both engines see the same
# typed rows.
# ---------------------------------------------------------------------------


@query(
    "sam_flag_filter",
    oracle="""
    SELECT doc_id AS readName,
           (doc_id % 2048) AS flag,
           ((doc_id % 2048) & 4) <> 0 AS readUnmapped,
           ((doc_id % 2048) & 1024) <> 0 AS duplicateRead
    FROM documents
    WHERE ((doc_id % 2048) & 4) <> 0 AND ((doc_id % 2048) & 1024) = 0
    """,
)
def sam_flag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapped/unmapped boolean-flag filter over a typed alignments view
    (``WHERE readUnmapped = TRUE``, SQLQueryBAM.java:23;
    AlignNFilter.java:157-184 keeps unmapped non-duplicate reads). The
    flag word is derived as doc_id mod 2048 so both engines test the same
    bitwise semantics the SAM reader applies (io.py:read_sam, 0x4 /
    0x400).

    Scale: pure codegen'd bitwise projection+filter in the scan stage —
    no shuffle; on a real alignments parquet table the boolean columns
    are stored and the predicate pushes into the scan."""
    d = table(spark, sf_dir, "documents")
    flag = F.col("doc_id") % 2048
    return (
        d.select(
            F.col("doc_id").alias("readName"),
            flag.alias("flag"),
            (flag.bitwiseAND(F.lit(4)) != 0).alias("readUnmapped"),
            (flag.bitwiseAND(F.lit(1024)) != 0).alias("duplicateRead"),
        )
        .filter(F.col("readUnmapped") & ~F.col("duplicateRead"))
    )


@query(
    "reads_fwd_rev_split",
    oracle="""
    WITH named AS (
      SELECT source || ':' || doc_id ||
             (CASE WHEN doc_id % 2 = 0 THEN '/1' ELSE '/2' END) AS key
      FROM documents
    )
    SELECT CASE WHEN key LIKE '%/1' THEN 'fwd' ELSE 'rev' END AS mate,
           count(*) AS n
    FROM named
    WHERE key LIKE '%/1' OR key LIKE '%/2'
    GROUP BY mate
    """,
)
def reads_fwd_rev_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-name forward/reverse split (FastqFilter.java:80-87: ``/1`` /
    ``" 1:N:"`` naming vs ``/2`` / ``" 2:N:"``), applied through the
    engine's is_forward_read / is_reverse_read predicates over a derived
    read-name column. Emits per-mate counts — the filter itself is the
    predicate; counting makes the check order-free.

    Scale: predicate is a codegen'd string suffix test in the scan
    stage; the count aggregates to 2 groups map-side."""
    d = table(spark, sf_dir, "documents")
    key = F.concat(
        F.col("source"),
        F.lit(":"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/1")).otherwise(F.lit("/2")),
    )
    named = d.select(key.alias("key"))
    return (
        named.filter(vf.is_forward_read("key") | vf.is_reverse_read("key"))
        .groupBy(
            F.when(vf.is_forward_read("key"), F.lit("fwd"))
            .otherwise(F.lit("rev"))
            .alias("mate")
        )
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Reader round-trips — oracle coverage for io.read_fastq / read_fasta
# (SQLQueryFastq.java:69, SplitFasta.java:41), not just pytest goldens.
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
_DNA16 = "ACGTACGTACGTACGT"
_QUAL16 = "FGHIJKLMNOPQRSTU"


@query(
    "fastq_scan_roundtrip",
    oracle=f"""
    SELECT concat('M', doc_id % 4, ':7:FCX:2:11:', doc_id, ':', n_chars,
                  ' 1:N:0:ACGT') AS key,
           CAST(0 AS BIGINT) AS "start",
           CAST(0 AS BIGINT) AS "end",
           CAST(0 AS BIGINT) AS pos,
           translate(substr(md5(text), 1, 16), '{_HEX}', '{_DNA16}')
             AS sequence,
           translate(substr(md5(concat(text, 'q')), 1, 16), '{_HEX}',
                     '{_QUAL16}') AS quality,
           concat('M', doc_id % 4) AS instrument,
           CAST(7 AS INTEGER) AS "runNumber",
           'FCX' AS "flowcellId",
           CAST(2 AS INTEGER) AS lane,
           CAST(11 AS INTEGER) AS tile,
           CAST(doc_id AS INTEGER) AS xpos,
           CAST(n_chars AS INTEGER) AS ypos,
           CAST(1 AS INTEGER) AS "read",
           TRUE AS "filterPassed",
           CAST(0 AS INTEGER) AS "controlNumber",
           'ACGT' AS "indexSequence"
    FROM documents WHERE doc_id < 200
    """,
)
def fastq_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked coverage for the FASTQ reader/writer pair — the
    reference's front door (SQLQueryFastq.java:69 FastqInputFormat;
    write path SQLQueryFastq.java:115-125).

    Synthesizes deterministic Illumina-named records from ``documents``
    (sequence/quality are md5-derived, so both engines can compute them),
    writes REAL 4-line FASTQ text via io.write_fastq, reads it back
    through io.read_fastq's full stanza assembly + header parse, and
    hash-compares every parsed column against DuckDB computing the same
    records purely relationally. A reader bug (stanza misalignment,
    header regex drift, metadata typing) breaks the hash."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    recs = d.select(
        F.format_string(
            "M%d:7:FCX:2:11:%d:%d 1:N:0:ACGT",
            F.col("doc_id") % 4,
            F.col("doc_id"),
            F.col("n_chars"),
        ).alias("key"),
        F.translate(F.substring(F.md5("text"), 1, 16), _HEX, _DNA16).alias(
            "sequence"
        ),
        F.translate(
            F.substring(F.md5(F.concat(F.col("text"), F.lit("q"))), 1, 16),
            _HEX,
            _QUAL16,
        ).alias("quality"),
    )
    out = vio.scratch_dir(spark, sf_dir, "fq")
    vio.write_fastq(recs, out, mode="overwrite")
    return vio.read_fastq(spark, out)


@query(
    "fasta_scan_roundtrip",
    oracle=f"""
    SELECT concat('doc_', doc_id) AS id,
           concat(translate(md5(text), '{_HEX}', '{_DNA16}'),
                  translate(md5(concat(text, '2')), '{_HEX}', '{_DNA16}'))
             AS sequence
    FROM documents WHERE doc_id < 200
    """,
)
def fasta_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked coverage for the FASTA reader/writer pair
    (SplitFasta.java:41 '>'-delimited records; BlastNFilter.java:163-170
    multi-line sequence concat).

    Each record is written with TWO sequence lines (embedded newline), so
    the read side must split on '>' records and re-concatenate sequence
    lines to match the oracle's lineless concat."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    recs = d.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("id"),
        F.concat(
            F.translate(F.md5("text"), _HEX, _DNA16),
            F.lit("\n"),
            F.translate(F.md5(F.concat(F.col("text"), F.lit("2"))), _HEX, _DNA16),
        ).alias("sequence"),
    )
    out = vio.scratch_dir(spark, sf_dir, "fa")
    vio.write_fasta(recs, out, mode="overwrite")
    return vio.read_fasta(spark, out)


@query(
    "sam_scan_roundtrip",
    oracle=f"""
    SELECT concat('r', doc_id) AS "readName",
           CAST(n_chars AS INTEGER) AS "start",
           concat('ref', doc_id % 5) AS "referenceName",
           CAST(32 AS INTEGER) AS length,
           translate(md5(text), '{_HEX}', '{_DNA16}') AS bases,
           '32M' AS cigar,
           (doc_id % 4 = 0) AS "readUnmapped",
           (doc_id % 7 = 0) AS "duplicateRead"
    FROM documents WHERE doc_id < 200
    """,
)
def sam_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked coverage for the SAM writer/reader pair — §2.10's
    conversions were pytest-only until round 4 (write path
    HDFSWriter.java:62-91 header injection; read path
    HDFSWriter.java:109-149 field extraction).

    Synthesizes typed alignments from ``documents`` (bases md5-derived
    so both engines compute them), writes REAL tab-separated SAM text
    via io.write_sam — including an injected 2-line header in every
    partition file — and reads it back through io.read_sam's field
    split, flag-word decode (0x4/0x400), and permissive casts. The
    header lines must vanish on read; a flag-encode/decode asymmetry or
    field-order drift breaks the hash."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    alignments = d.select(
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("readName"),
        F.col("n_chars").cast("int").alias("start"),
        F.concat(F.lit("ref"), (F.col("doc_id") % 5).cast("string")).alias(
            "referenceName"
        ),
        F.translate(F.md5("text"), _HEX, _DNA16).alias("bases"),
        F.lit("32M").alias("cigar"),
        (F.col("doc_id") % 4 == 0).alias("readUnmapped"),
        (F.col("doc_id") % 7 == 0).alias("duplicateRead"),
    )
    out = vio.scratch_dir(spark, sf_dir, "sam")
    vio.write_sam(
        alignments,
        out,
        header=["@HD\tVN:1.6\tSO:unsorted", "@SQ\tSN:ref0\tLN:100000"],
        mode="overwrite",
    )
    return vio.read_sam(spark, out)


@query(
    "sam_to_fastq_convert",
    oracle=f"""
    SELECT concat(readName, CASE WHEN rn = 1 THEN '/1' ELSE '/2' END) AS key,
           bases AS sequence,
           repeat('I', length(bases)) AS quality
    FROM (
        SELECT readName, bases,
               row_number() OVER (PARTITION BY readName
                                  ORDER BY "start", bases) AS rn
        FROM (
            SELECT concat('r', doc_id // 2) AS readName,
                   CAST(n_chars + doc_id % 2 AS INTEGER) AS "start",
                   translate(md5(text), '{_HEX}', '{_DNA16}') AS bases
            FROM documents WHERE doc_id < 301
        )
    )
    WHERE rn <= 2
    """,
)
def sam_to_fastq_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked SAM→FASTQ conversion (SamToFastq.java:47-68) — the
    last §2.10 conversion that was pytest-only.

    Synthesizes mate-paired alignments from ``documents`` (two docs
    share each readName via ``doc_id div 2``; ``doc_id < 301`` leaves
    r150 a singleton so the /1-only path is exercised too), then runs
    :func:`io.sam_to_fastq`: mates numbered by a deterministic
    (start, bases) window — never file order — suffixed /1 and /2, with
    the placeholder Phred-40 quality run sized to the sequence. The
    oracle replicates the mate-numbering window relationally; a suffix
    swap, a dropped singleton, or a quality-length drift breaks the
    hash."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 301)
    alignments = d.select(
        F.concat(F.lit("r"), F.expr("doc_id div 2").cast("string")).alias("readName"),
        (F.col("n_chars") + F.col("doc_id") % 2).cast("int").alias("start"),
        F.lit("ref0").alias("referenceName"),
        F.translate(F.md5("text"), _HEX, _DNA16).alias("bases"),
        F.lit("32M").alias("cigar"),
        F.lit(False).alias("readUnmapped"),
        F.lit(False).alias("duplicateRead"),
    )
    return vio.sam_to_fastq(alignments)


@query(
    "blast_scan_roundtrip",
    oracle="""
    SELECT concat('q', doc_id) AS qseqid,
           concat('subj', doc_id % 10) AS sseqid,
           CAST(doc_id % 1000 AS DOUBLE) / 10.0 AS pident,
           CAST(32 + doc_id % 100 AS INTEGER) AS length,
           CAST(doc_id % 5 AS INTEGER) AS mismatch,
           CAST(doc_id % 3 AS INTEGER) AS gapopen,
           CAST(doc_id AS BIGINT) AS qstart,
           CAST(doc_id + 32 + doc_id % 100 AS BIGINT) AS qend,
           CAST(doc_id * 3 AS BIGINT) AS sstart,
           CAST(doc_id * 3 + 32 AS BIGINT) AS send,
           CASE WHEN doc_id % 11 = 0 THEN NULL
                ELSE CAST(doc_id % 7 AS DOUBLE) * 0.00001 END AS evalue,
           100.0 + CAST(doc_id % 50 AS DOUBLE) / 4.0 AS bitscore
    FROM documents WHERE doc_id < 250
    """,
)
def blast_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked coverage for the BLAST outfmt-6 writer/reader pair —
    the last §2.1/§2.2 format pair that was pytest-only (read path
    SQLQueryBlast.java:74-97 per-field null-tolerant casts; write path
    SQLQueryBlast.java:113-121 explicit column-ordered lines).

    Synthesizes 12-column hits from ``documents`` (every value derived
    from doc_id so both engines compute them), writes REAL
    tab-separated outfmt-6 text via io.write_blast_tab, and reads it
    back through io.read_blast's PERMISSIVE schema cast. Every ~11th
    evalue is NULL — written as an empty field and re-read as NULL, the
    exact per-field tolerance the reference hand-codes. A column-order
    drift, a double-formatting asymmetry, or a null round-trip failure
    breaks the hash."""
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    hits = d.select(
        F.concat(F.lit("q"), F.col("doc_id").cast("string")).alias("qseqid"),
        F.concat(F.lit("subj"), (F.col("doc_id") % 10).cast("string")).alias(
            "sseqid"
        ),
        ((F.col("doc_id") % 1000).cast("double") / 10.0).alias("pident"),
        (F.lit(32) + F.col("doc_id") % 100).cast("int").alias("length"),
        (F.col("doc_id") % 5).cast("int").alias("mismatch"),
        (F.col("doc_id") % 3).cast("int").alias("gapopen"),
        F.col("doc_id").cast("long").alias("qstart"),
        (F.col("doc_id") + 32 + F.col("doc_id") % 100)
        .cast("long")
        .alias("qend"),
        (F.col("doc_id") * 3).cast("long").alias("sstart"),
        (F.col("doc_id") * 3 + 32).cast("long").alias("send"),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(None).cast("double")
        )
        .otherwise((F.col("doc_id") % 7).cast("double") * 0.00001)
        .alias("evalue"),
        (F.lit(100.0) + (F.col("doc_id") % 50).cast("double") / 4.0).alias(
            "bitscore"
        ),
    )
    out = vio.scratch_dir(spark, sf_dir, "blast")
    vio.write_blast_tab(hits, out, mode="overwrite")
    return vio.read_blast(spark, out)


# ---------------------------------------------------------------------------
# The reference's pipeline, composed (virapipe.sh:38-63 stage chain)
# ---------------------------------------------------------------------------


@query(
    "virapipe_chain",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text FROM documents
      WHERE list_avg(list_transform(generate_series(1, len(text)),
                                    g -> ascii(substr(text, g, 1)))) > 94.5
    ),
    dedup AS (
      SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
    ),
    dq AS (SELECT q.doc_id, q.text FROM q JOIN dedup USING (doc_id)),
    km AS (
      SELECT doc_id, substr(text, g, {_K}) AS kmer
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {_K - 1})) AS g
            FROM dq)
    ),
    band AS (
      SELECT min(doc_id) AS rep_doc FROM km GROUP BY kmer
      HAVING count(*) > {_MINC} AND count(*) < {_MAXC}
    ),
    surviving AS (SELECT DISTINCT rep_doc AS doc_id FROM band)
    SELECT string_split(d.text, ' ')[1] AS sample,
           count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN surviving USING (doc_id)
    GROUP BY sample
    """,
)
def virapipe_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pipeline COMPOSED, not just its stages in
    isolation — quality filter (FastqFilter) -> exact dedup
    (reduceByKey first-per-key) -> k-mer digital normalization
    (NormalizeRDD coverage band) -> group-by-sample rollup
    (FastqGroupper), the virapipe.sh:38-63 chain on the documents
    analog, hash-checked end-to-end as ONE dataflow.

    This is the single-SparkSession replacement for the reference's
    9 spark-submit + HDFS-handoff orchestration (SURVEY §3.2): stages
    hand DataFrames to each other, Catalyst plans across stage
    boundaries (the quality filter pushes into the scan feeding the
    k-mer explode), and nothing materializes between stages.

    Scale: same shapes as the standalone entries — codegen'd quality
    predicate, hash-agg dedup, fused explode->partial-agg band, two
    semi-joins on doc_id; no stage adds a shuffle beyond its standalone
    cost."""
    d = table(spark, sf_dir, "documents")
    q = d.filter(vf.avg_quality("text") > 94.5)
    dedup_ids = (
        q.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    dq = q.join(dedup_ids, "doc_id", "left_semi")
    n = F.length("text") - F.lit(_K - 1)
    # r12: spread the surviving rows before the k-mer explode — the
    # chain's heaviest map stage (see _kmer_explode / scale.spread_scan)
    km = (
        spread_scan(dq.filter(n > 0).select("doc_id", "text"))
        .select("doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("g"))
        .select("doc_id", F.expr(f"substring(text, g, {_K})").alias("kmer"))
    )
    surviving = (
        km.groupBy("kmer")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("rep_doc"))
        .filter((F.col("c") > _MINC) & (F.col("c") < _MAXC))
        .select(F.col("rep_doc").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(surviving, "doc_id", "left_semi")
        .withColumn("sample", F.split(F.col("text"), " ")[0])
        .groupBy("sample")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query("kmer_unique_approx")  # rows-only: HLL register layouts are engine-specific
def kmer_unique_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate unique k-mer cardinality via HyperLogLog++
    (``approx_count_distinct``, rsd=2%) — the 100 TB companion to
    kmer_unique_set: the sketch is a fixed-size, mergeable map-side
    state, so the shuffle carries one register block per partition
    instead of every distinct k-mer. No DuckDB oracle (its HLL is a
    different implementation — estimates differ by design);
    tests/test_scale_plans.py pins the estimate within 5% of the exact
    count instead.

    The exact distinct count rides along in the SAME aggregation so the
    one-row output is self-validating: ``within_5pct`` certifies the
    sketch against ground truth computed in the same job (the driver's
    rows-only check can't hash this entry, so the entry carries its own
    verdict). At 100 TB you'd drop the exact branch — it is the
    self-check, not the operator."""
    df = _kmer_explode(spark, sf_dir).agg(
        F.approx_count_distinct("kmer", rsd=0.02).alias("n_unique_approx"),
        F.count_distinct("kmer").alias("n_unique_exact"),
    )
    rel_err = F.abs(F.col("n_unique_approx") - F.col("n_unique_exact")) / F.col(
        "n_unique_exact"
    )
    return df.withColumn("within_5pct", rel_err <= 0.05)


@query(
    "bam_scan_roundtrip",
    oracle=f"""
    SELECT concat('r', doc_id) AS "readName",
           CAST((doc_id * 37) % 1000 + 1 AS INTEGER) AS "start",
           concat('ref', doc_id % 5) AS "referenceName",
           CAST(32 AS INTEGER) AS length,
           translate(md5(CAST(doc_id AS VARCHAR)), '{_HEX}', '{_DNA16}') AS bases,
           '32M' AS cigar,
           (doc_id % 4 = 0) AS "readUnmapped",
           (doc_id % 7 = 0) AS "duplicateRead"
    FROM documents WHERE doc_id < 200
    """,
)
def bam_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked BINARY BAM scan (round 6 — until now only SAM text
    was covered; bam.py implements the BGZF + BAM record layers over
    stdlib zlib/struct): four .bam shard files are built from pure
    doc_id arithmetic (md5-of-id bases — the DuckDB oracle recomputes
    every field relationally, NO Spark data crosses to the driver; the
    fixture write is control-plane only, the files_listing precedent),
    with a deliberately small BGZF block size so each file carries
    MULTIPLE gzip members. bam.read_bam then scans them distributed
    (binaryFile, one task per shard) and decodes: BGZF inflate, header/
    reference-dictionary walk, 4-bit sequence unpack, CIGAR decode,
    flag-word booleans, 0->1-based position shift. Any byte-layout,
    nibble-order, or block-boundary bug breaks the hash."""
    import hashlib
    import os

    from virapipe_spark import bam as vbam
    from virapipe_spark import io as vio

    out = vio.scratch_dir(spark, sf_dir, "bam")
    os.makedirs(out, exist_ok=True)
    refs = [(f"ref{i}", 100000) for i in range(5)]
    for shard in range(4):
        recs = []
        for i in range(shard * 50, (shard + 1) * 50):
            seq = "".join(
                _DNA16[_HEX.index(c)]
                for c in hashlib.md5(str(i).encode()).hexdigest()
            )
            recs.append(
                {
                    "read_name": f"r{i}",
                    "ref_id": i % 5,
                    "pos": (i * 37) % 1000,
                    "flag": (0x4 if i % 4 == 0 else 0)
                    | (0x400 if i % 7 == 0 else 0),
                    "cigar": "32M",
                    "seq": seq,
                }
            )
        blob = vbam.encode_bam(
            "@HD\tVN:1.6\tSO:unsorted\n", refs, recs, block_size=1024
        )
        with open(os.path.join(out, f"shard-{shard}.bam"), "wb") as fh:
            fh.write(blob)
    return vbam.read_bam(spark, out)


@query(
    "bam_write_roundtrip",
    oracle=f"""
    SELECT concat('w', doc_id) AS "readName",
           CAST((doc_id * 41) % 1000 + 1 AS INTEGER) AS "start",
           concat('ref', doc_id % 3) AS "referenceName",
           CAST(32 AS INTEGER) AS length,
           translate(md5(concat('w', doc_id)), '{_HEX}', '{_DNA16}') AS bases,
           '32M' AS cigar,
           (doc_id % 5 = 0) AS "readUnmapped",
           (doc_id % 11 = 0) AS "duplicateRead"
    FROM documents WHERE doc_id < 300
    """,
    since=7,
)
def bam_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked DISTRIBUTED binary BAM write→read round-trip —
    with `bam.write_bam` this closes the last scoped-out reference
    sink (HDFSWriter.java:247-315's per-partition BAM writer; the
    text SAM sink has been covered since r4). Alignment rows are
    derived relationally from doc_id arithmetic (the oracle recomputes
    every field; no Spark data crosses to the driver except the
    3-entry reference dictionary, which is header control-plane by
    design), repartitioned to 4 shards, serialized executor-side
    through the full encode stack (CIGAR pack, 4-bit sequence nibbles,
    BGZF members with a small block size so multi-member framing is
    exercised), then scanned back by `bam.read_bam`. Any byte-layout
    bug in the WRITER now breaks the hash the same way the scan
    round-trip guards the reader."""
    from virapipe_spark import bam as vbam
    from virapipe_spark import io as vio

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    rows = d.select(
        F.concat(F.lit("w"), F.col("doc_id")).alias("readName"),
        ((F.col("doc_id") * 41) % 1000 + 1).cast("int").alias("start"),
        F.concat(F.lit("ref"), F.col("doc_id") % 3).alias("referenceName"),
        F.translate(
            F.md5(F.concat(F.lit("w"), F.col("doc_id"))), _HEX, _DNA16
        ).alias("bases"),
        F.lit("32M").alias("cigar"),
        (F.col("doc_id") % 5 == 0).alias("readUnmapped"),
        (F.col("doc_id") % 11 == 0).alias("duplicateRead"),
    )
    out = vio.scratch_dir(spark, sf_dir, "bamw")
    import os
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    vbam.write_bam(rows.repartition(4), out, block_size=1024)
    return vbam.read_bam(spark, out)


@query(
    "bam_split_scan_roundtrip",
    oracle=f"""
    SELECT concat('s', doc_id) AS "readName",
           CAST((doc_id * 53) % 2000 + 1 AS INTEGER) AS "start",
           concat('ctg', doc_id % 4) AS "referenceName",
           CAST(32 AS INTEGER) AS length,
           translate(md5(concat('s', doc_id)), '{_HEX}', '{_DNA16}') AS bases,
           '32M' AS cigar,
           (doc_id % 6 = 0) AS "readUnmapped",
           (doc_id % 13 = 0) AS "duplicateRead"
    FROM documents WHERE doc_id < 400
    """,
)
def bam_split_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked SUB-FILE-SPLIT binary BAM scan (r7 — the
    100 TB few-giant-files path, mirroring hadoop-bam's splitter that
    the reference consumes via SQLQueryBAM.java:60-66): ONE .bam file
    is written with a deliberately tiny BGZF block size (hundreds of
    gzip members, records spanning member boundaries throughout), then
    ``bam.read_bam(split_size=4096)`` decodes it as MANY parallel
    chunks — a distributed member-index pass (byte-range resync by
    magic + BSIZE-chain validation), decompressed-offset prefix sums,
    and per-chunk record-chain re-sync (the BAMSplitGuesser approach;
    the file-head chunk starts exactly at the header-probe offset).
    Records partition exactly across chunks, so the SAME relational
    oracle that guards the whole-file reader must hash-match — a
    resync, guesser, chunk-boundary, or offset-arithmetic bug drops or
    duplicates records and breaks it. tests/test_bam_split.py
    additionally proves >1 partition and row-identity to the unsplit
    read at adversarial split sizes."""
    import hashlib
    import os

    from virapipe_spark import bam as vbam
    from virapipe_spark import io as vio

    out = vio.scratch_dir(spark, sf_dir, "bamsplit")
    os.makedirs(out, exist_ok=True)
    refs = [(f"ctg{i}", 200000) for i in range(4)]
    recs = []
    for i in range(400):
        seq = "".join(
            _DNA16[_HEX.index(c)]
            for c in hashlib.md5(f"s{i}".encode()).hexdigest()
        )
        recs.append(
            {
                "read_name": f"s{i}",
                "ref_id": i % 4,
                "pos": (i * 53) % 2000,
                "flag": (0x4 if i % 6 == 0 else 0)
                | (0x400 if i % 13 == 0 else 0),
                "cigar": "32M",
                "seq": seq,
            }
        )
    blob = vbam.encode_bam(
        "@HD\tVN:1.6\tSO:unsorted\n", refs, recs, block_size=512
    )
    with open(os.path.join(out, "giant.bam"), "wb") as fh:
        fh.write(blob)
    return vbam.read_bam(spark, out, split_size=4096)


@query(
    "sam_pileup_consensus",
    oracle=f"""
    WITH reads AS (
      SELECT doc_id,
             concat('ref', doc_id % 3) AS ref,
             (doc_id * 7) % 50 + 1 AS start,
             translate(substr(md5(text), 1, 16), '{_HEX}', '{_DNA16}') AS seq
      FROM documents
    ),
    pile AS (
      SELECT ref, start + g - 1 AS pos, substr(seq, g, 1) AS base
      FROM reads, unnest(generate_series(1, 16)) AS t(g)
    ),
    counts AS (
      SELECT ref, pos, base, CAST(count(*) AS BIGINT) AS c
      FROM pile GROUP BY ref, pos, base
    ),
    ranked AS (
      SELECT ref, pos, base, c,
             CAST(sum(c) OVER (PARTITION BY ref, pos) AS BIGINT) AS depth,
             row_number() OVER (PARTITION BY ref, pos
                                ORDER BY c DESC, base) AS rn
      FROM counts
    )
    SELECT ref AS "referenceName", CAST(pos AS BIGINT) AS pos,
           depth, base AS consensus, c AS consensus_count
    FROM ranked WHERE rn = 1 AND depth >= 3
    """,
    since=8,
)
def sam_pileup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pileup + consensus calling — the samtools mpileup/consensus
    shape, the depth-of-coverage family's per-BASE completion
    (coverage bins exist since r4; this is the base-resolution
    variant a viral-assembly pipeline polishes contigs with): every
    aligned read base lands on its reference position (explode fused
    with the scan), per (ref, pos) the majority base wins
    (deterministic tie-break: lexicographic), emitted with depth for
    positions covered >= 3x.

    Scale: one explode (x read-length) into one partially-aggregated
    (ref, pos, base) count — the shuffle carries per-base partials
    bounded by 4 x genome positions, NOT read count; the consensus
    rank is a per-position window over <= 16 base rows. The classic
    100 TB pileup plan (position-keyed aggregation, never
    read-vs-read comparison)."""
    d = table(spark, sf_dir, "documents")
    reads = d.select(
        F.concat(F.lit("ref"), (F.col("doc_id") % 3).cast("string")).alias(
            "ref"
        ),
        ((F.col("doc_id") * 7) % 50 + 1).alias("start"),
        F.translate(F.substring(F.md5("text"), 1, 16), _HEX, _DNA16).alias(
            "seq"
        ),
    )
    pile = (
        reads.select(
            "ref",
            "start",
            # sequence+substr, not split-on-lookahead: Spark's split
            # emits a trailing '' token that would phantom-inflate
            # depth at pos start+len
            F.explode(F.sequence(F.lit(1), F.lit(16))).alias("g"),
            "seq",
        )
        .select(
            "ref",
            (F.col("start") + F.col("g") - 1).alias("pos"),
            F.col("seq").substr(F.col("g"), F.lit(1)).alias("base"),
        )
    )
    counts = pile.groupBy("ref", "pos", "base").agg(
        F.count("*").cast("long").alias("c")
    )
    w_pos = W.partitionBy("ref", "pos")
    ranked = counts.withColumn(
        "depth", F.sum("c").over(w_pos).cast("long")
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("ref", "pos").orderBy(F.col("c").desc(), "base")
        ),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("depth") >= 3)).select(
        F.col("ref").alias("referenceName"),
        F.col("pos").cast("long").alias("pos"),
        "depth",
        F.col("base").alias("consensus"),
        F.col("c").alias("consensus_count"),
    )


_KC_K = 5


@query(
    "reads_kmer_classify",
    oracle=f"""
    WITH refs AS (
      SELECT doc_id, concat('tax', doc_id % 5) AS taxon,
             translate(substr(md5(text), 1, 16), '{_HEX}', '{_DNA16}') AS seq
      FROM documents WHERE doc_id < 100
    ),
    db AS (
      SELECT DISTINCT substr(seq, g, {_KC_K}) AS kmer, taxon
      FROM refs, unnest(generate_series(1, 16 - {_KC_K} + 1)) AS t(g)
    ),
    reads AS (
      SELECT doc_id,
             translate(substr(md5(text), 1, 16), '{_HEX}', '{_DNA16}') AS seq
      FROM documents WHERE doc_id >= 100
    ),
    hits AS (
      SELECT r.doc_id, db.taxon
      FROM (SELECT doc_id, substr(seq, g, {_KC_K}) AS kmer
            FROM reads, unnest(generate_series(1, 16 - {_KC_K} + 1)) AS t(g)) r
      JOIN db USING (kmer)
    ),
    votes AS (
      SELECT doc_id, taxon, CAST(count(*) AS BIGINT) AS votes
      FROM hits GROUP BY doc_id, taxon
    ),
    ranked AS (
      SELECT doc_id, taxon, votes,
             CAST(sum(votes) OVER (PARTITION BY doc_id) AS BIGINT)
               AS total_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY votes DESC, taxon) AS rn
      FROM votes
    )
    SELECT doc_id, taxon AS best_taxon, votes, total_hits
    FROM ranked WHERE rn = 1
    """,
    since=8,
)
def reads_kmer_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-mer taxonomic classification — the Kraken-family shape (Wood &
    Salzberg 2014) that replaces the reference's per-read BLAST pipe
    with a database join a cluster can actually scale: reference
    sequences (docs < 100, taxon = doc_id % 5) shred into a distinct
    (k-mer -> taxon) database; each read's k-mers probe it and the
    majority taxon wins (deterministic tie-break). Kraken's LCA walk is
    simplified to the k-mer VOTE variant (ties broken lexicographically
    instead of climbing a taxonomy tree) — stated, not hidden.

    Scale: database build is one distinct over reference k-mers
    (bounded by 4^k x taxa); classification is ONE equi-join of read
    k-mers against it (AQE broadcasts small databases — the real
    Kraken DB is GBs, which is exactly a broadcast-or-bucketed join
    choice, never per-read subprocess calls like the BLAST pipe), one
    per-read vote aggregate, one top-1 window."""
    d = table(spark, sf_dir, "documents")
    seq = F.translate(F.substring(F.md5("text"), 1, 16), _HEX, _DNA16)
    kpos = F.explode(F.sequence(F.lit(1), F.lit(16 - _KC_K + 1))).alias("g")
    refs = d.filter(F.col("doc_id") < 100).select(
        F.concat(F.lit("tax"), (F.col("doc_id") % 5).cast("string")).alias(
            "taxon"
        ),
        seq.alias("seq"),
    )
    db = (
        refs.select("taxon", kpos, "seq")
        .select(
            "taxon", F.col("seq").substr(F.col("g"), F.lit(_KC_K)).alias("kmer")
        )
        .distinct()
    )
    reads = d.filter(F.col("doc_id") >= 100).select(
        "doc_id", seq.alias("seq")
    )
    read_kmers = reads.select("doc_id", kpos, "seq").select(
        "doc_id", F.col("seq").substr(F.col("g"), F.lit(_KC_K)).alias("kmer")
    )
    votes = (
        read_kmers.join(db, "kmer")
        .groupBy("doc_id", "taxon")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    ranked = votes.withColumn(
        "total_hits",
        F.sum("votes").over(W.partitionBy("doc_id")).cast("long"),
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("votes").desc(), "taxon")
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id", F.col("taxon").alias("best_taxon"), "votes", "total_hits"
    )


_FLAGSTAT_CATS = [
    ("total", "TRUE"),
    ("secondary", "(flag & 256) <> 0"),
    ("supplementary", "(flag & 2048) <> 0"),
    ("duplicates", "(flag & 1024) <> 0"),
    ("mapped", "(flag & 4) = 0"),
    ("paired", "(flag & 1) <> 0"),
    ("read1", "(flag & 1) <> 0 AND (flag & 64) <> 0"),
    ("read2", "(flag & 1) <> 0 AND (flag & 128) <> 0"),
    ("properly_paired", "(flag & 1) <> 0 AND (flag & 2) <> 0"),
    (
        "both_mapped",
        "(flag & 1) <> 0 AND (flag & 4) = 0 AND (flag & 8) = 0",
    ),
    ("singletons", "(flag & 1) <> 0 AND (flag & 4) = 0 AND (flag & 8) <> 0"),
]


def _flagstat_oracle() -> str:
    sums = ",\n".join(
        f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{name}"
        for name, cond in _FLAGSTAT_CATS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS ord, '{name}' AS category, n_{name} AS n FROM one"
        for i, (name, _) in enumerate(_FLAGSTAT_CATS)
    )
    return f"""
    WITH flags AS (
      SELECT doc_id % 4096 AS flag FROM documents
    ),
    one AS MATERIALIZED (SELECT {sums} FROM flags),
    cats AS ({rows})
    SELECT ord, category, n,
           CAST(n * 1000000 // (SELECT n_total FROM one) AS BIGINT)
             AS pct_ppm
    FROM cats
    """


@query("sam_flagstat", oracle=_flagstat_oracle(), since=8)
def sam_flagstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samtools-flagstat parity — THE standard alignment QC summary
    (reference capability class: SQLQueryBAM.java's flag predicates,
    generalized to the full category battery): eleven flag-bit
    categories (total / secondary 0x100 / supplementary 0x800 /
    duplicate 0x400 / mapped !0x4 / paired 0x1 / read1 0x40 / read2
    0x80 / properly-paired 0x2 / both-mates-mapped / singleton
    mate-unmapped 0x8) counted in ONE pass and emitted one row per
    category with an integer-ppm share (floor division — no float
    ratio crosses engines). The flag word derives as doc_id % 4096
    (the sam_flag_filter convention) so both engines exercise
    identical bitwise semantics end to end.

    Scale: all eleven categories fuse into a single
    map-side-combinable conditional-sum aggregate over the scan (the
    dq_audit shape) — one job, no shuffle beyond the final 1-row
    reduce; the stack to rows is constant-width. This is the per-batch
    QC row a 100 TB alignment store persists per ingest."""
    d = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4096).alias("flag")
    )
    one = d.agg(
        *[
            F.sum(F.when(F.expr(cond), 1).otherwise(0))
            .cast("long")
            .alias(f"n_{name}")
            for name, cond in _FLAGSTAT_CATS
        ]
    )
    stack = ", ".join(
        f"{i}, '{name}', n_{name}" for i, (name, _) in enumerate(_FLAGSTAT_CATS)
    )
    return one.select(
        F.expr(
            f"stack({len(_FLAGSTAT_CATS)}, {stack}) AS (ord, category, n)"
        ),
        F.col("n_total"),
    ).select(
        "ord",
        "category",
        "n",
        F.expr("n * 1000000 div n_total").cast("long").alias("pct_ppm"),
    )


# ---------------------------------------------------------------------------
# Cumulative GC-skew origin detection
# ---------------------------------------------------------------------------


@query(
    "reads_gc_skew_origin",
    oracle=f"""
    WITH seq AS (
      SELECT doc_id,
             translate(md5(text) || md5(text || '2'),
                       '{_HEX}', '{_DNA16}') AS s
      FROM documents
    ),
    base AS (
      SELECT doc_id, g AS pos,
             CASE substr(s, g, 1) WHEN 'G' THEN 1
                                  WHEN 'C' THEN -1 ELSE 0 END AS d
      FROM seq, UNNEST(generate_series(1, 64)) AS u(g)
    ),
    cum AS (
      SELECT doc_id, pos,
             CAST(sum(d) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS skew
      FROM base
    ),
    best AS (
      SELECT doc_id, pos, skew,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY skew, pos) AS rn,
             CAST(last_value(skew) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS BIGINT)
               AS final_skew
      FROM cum
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS origin_pos,
           skew AS min_skew, final_skew
    FROM best WHERE rn = 1
    """,
    since=9,
)
def reads_gc_skew_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative GC-SKEW origin detection — the classic replication-
    origin locator (leading strands over-accumulate G, lagging
    strands C, so the cumulative (G−C) walk bottoms out at oriC and
    peaks at the terminus — the skew-diagram analysis every bacterial
    genome annotation starts with). Per 64-base fixture sequence (the
    doubled md5→DNA device): the cumulative skew as an exact integer
    prefix sum, its argmin position (tie to the earliest — a pinned
    convention, since a flat minimum is a plateau), the minimum value
    and the sequence-final skew (the global G−C balance). Everything
    is integers under one doc-partitioned ordered window; the oracle
    replays the identical walk from the generative hex.

    Scale: base explode fuses into the scan (64 rows/sequence,
    bounded); one doc-keyed window pass; for chromosome-length
    sequences the same walk block-partitions with carried offsets
    (the distributed prefix-sum refinement the depth-histogram entry
    also cites)."""
    seq = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.translate(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("2")))),
            _HEX,
            _DNA16,
        ).alias("s"),
    )
    # per-char via explode(sequence)+substr — Spark's split on the
    # zero-width '(?!^)' pattern emits a trailing '' token (QUIRKS),
    # which would add a phantom position 65 to the argmin domain
    base = seq.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("pos"),
        "s",
    ).select(
        "doc_id",
        "pos",
        F.when(F.expr("substr(s, pos, 1)") == "G", 1)
        .when(F.expr("substr(s, pos, 1)") == "C", -1)
        .otherwise(0)
        .alias("d"),
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    cum = base.select(
        "doc_id",
        "pos",
        F.sum("d")
        .over(wd.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("skew"),
    )
    best = cum.select(
        "doc_id",
        "pos",
        "skew",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy("skew", "pos"))
        .alias("rn"),
        F.last("skew")
        .over(
            wd.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        )
        .cast("long")
        .alias("final_skew"),
    )
    return best.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("pos").cast("long").alias("origin_pos"),
        F.col("skew").alias("min_skew"),
        "final_skew",
    )


# ---------------------------------------------------------------------------
# de Bruijn graph unitig compaction (the assembly-graph primitive)
# ---------------------------------------------------------------------------

from virapipe_spark.graph import connected_components_doubling  # noqa: E402
from virapipe_spark.scale import truncate_lineage  # noqa: E402

_DB_K = 7  # de Bruijn k-mer size (4^7 = 16384 possible nodes)


def _debruijn_oracle() -> str:
    k = _DB_K
    return f"""
    WITH RECURSIVE seqs AS (
      SELECT translate(md5(text) || md5(text || '2'),
                       '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
      FROM documents
    ),
    inst AS (
      SELECT substr(s, i, {k}) AS u, substr(s, i + 1, {k}) AS v
      FROM seqs, unnest(generate_series(1, 64 - {k})) t(i)
    ),
    ecnt AS (SELECT u, v, CAST(count(*) AS BIGINT) AS mult
             FROM inst GROUP BY u, v),
    outd AS (SELECT u, count(*) AS od FROM ecnt GROUP BY u),
    ind  AS (SELECT v, count(*) AS dg FROM ecnt GROUP BY v),
    lin AS (
      SELECT e.u AS a, e.v AS b, e.mult
      FROM ecnt e
      JOIN outd o ON o.u = e.u AND o.od = 1
      JOIN ind i ON i.v = e.v AND i.dg = 1
    ),
    nodes AS (SELECT u AS n FROM ecnt UNION SELECT v FROM ecnt),
    sym AS (SELECT a, b FROM lin UNION ALL SELECT b AS a, a AS b FROM lin),
    reach(src, node) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN sym e ON e.a = r.node
    ),
    comp AS (SELECT src AS n, min(node) AS uid FROM reach GROUP BY src),
    estat AS (
      SELECT c.uid,
             CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(l.mult) AS BIGINT) AS mult_total
      FROM lin l JOIN comp c ON c.n = l.a
      GROUP BY c.uid
    ),
    nstat AS (
      SELECT uid, CAST(count(*) AS BIGINT) AS n_kmers FROM comp GROUP BY uid
    )
    SELECT ns.uid AS unitig_id,
           ns.n_kmers,
           COALESCE(es.n_edges, 0) AS n_edges,
           COALESCE(es.mult_total, 0) AS mult_total,
           CAST(CASE WHEN COALESCE(es.n_edges, 0) = ns.n_kmers
                     THEN 1 ELSE 0 END AS BIGINT) AS is_cycle
    FROM nstat ns LEFT JOIN estat es ON es.uid = ns.uid
    """


@query("reads_debruijn_unitigs", oracle=_debruijn_oracle(), since=10)
def reads_debruijn_unitigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DE BRUIJN UNITIG COMPACTION — the assembly-graph primitive under
    MegaHit/SPAdes (the reference shells out to MegaHit,
    reference/AssembleSpark-style pipe; this is the piece of that
    assembler a data engine can own): shred sequences into k-mer nodes
    with observed-successor edges, keep only the LINEAR edges
    (out-degree 1 source, in-degree 1 target — the non-branching
    subgraph, whose components are exactly the maximal unitig paths
    and isolated cycles), and compact each chain to one row via the
    shared pointer-doubling connected-components engine (graph.py —
    O(log chain) rounds, so kilobase unitigs cost ~10 rounds, not
    ~1000). Per unitig: canonical id (min k-mer), k-mer count, linear
    edge count, edge multiplicity mass, and the cycle flag (a path has
    n-1 internal edges, a cycle n — the flag is pure arithmetic).
    Sequences are the 64-base md5 fixtures (gc_skew precedent); the
    two data scales land on opposite graph regimes — sparse/chain-like
    (long unitigs) at sf0.001, dense/branchy (short unitigs) at sf0.1
    — so both code paths are exercised by the same entry.

    Scale: shred+count is one fused explode->aggregate (k-mer count
    band precedent); degree tables are two aggregates over distinct
    edges (bounded by min(4^k, data)); the doubling CC shuffles on
    node/label keys only. No step touches instance-level data after
    the first aggregate — the graph, not the corpus, is the working
    set, exactly how a 100 TB read set compacts (the k-mer spectrum is
    corpus-bounded, 4^k-capped).

    Reference capability class: AssembleSpark/MegaHit stage
    (SURVEY.md section 2.9) re-expressed as native graph compaction.
    """
    k = _DB_K
    d = table(spark, sf_dir, "documents")
    seqs = d.select(
        F.translate(
            F.concat(
                F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("2")))
            ),
            _HEX,
            _DNA16,
        ).alias("s")
    )
    inst = seqs.select(
        F.explode(F.sequence(F.lit(1), F.lit(64 - k))).alias("i"), "s"
    ).select(
        F.col("s").substr(F.col("i"), F.lit(k)).alias("u"),
        F.col("s").substr(F.col("i") + 1, F.lit(k)).alias("v"),
    )
    ecnt = inst.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("mult")
    )
    # the edge table feeds four consumers (degrees, linear cut, node
    # set); cut lineage once so the shred+count subtree runs once
    ecnt = truncate_lineage(ecnt, reliable=True)
    outd = ecnt.groupBy("u").agg(F.count("*").alias("od"))
    ind = ecnt.groupBy("v").agg(F.count("*").alias("dg"))
    lin = (
        ecnt.join(outd.filter(F.col("od") == 1), "u")
        .join(ind.filter(F.col("dg") == 1), "v")
        .select(F.col("u").alias("a"), F.col("v").alias("b"), "mult")
    )
    lin = truncate_lineage(lin, reliable=True)
    nodes = (
        ecnt.select(F.col("u").alias("n"))
        .union(ecnt.select(F.col("v").alias("n")))
        .distinct()
    )
    comp = connected_components_doubling(
        lin, nodes, node_col="n", label_col="uid"
    )
    estat = (
        lin.join(comp, lin["a"] == comp["n"])
        .groupBy("uid")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("mult").cast("long").alias("mult_total"),
        )
    )
    nstat = comp.groupBy("uid").agg(F.count("*").cast("long").alias("n_kmers"))
    return (
        nstat.join(estat, "uid", "left")
        .select(
            F.col("uid").alias("unitig_id"),
            "n_kmers",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("mult_total", F.lit(0)).cast("long").alias(
                "mult_total"
            ),
            F.when(
                F.coalesce("n_edges", F.lit(0)) == F.col("n_kmers"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("is_cycle"),
        )
    )


# ---------------------------------------------------------------------------
# Smith-Waterman local alignment (anti-diagonal wavefront)
# ---------------------------------------------------------------------------

_SW_N = 12  # sequence length (22 wavefront rounds)
_SW_MATCH = 2
_SW_MISMATCH = -1
_SW_GAP = 1  # subtracted


def _sw_oracle() -> str:
    """The Smith-Waterman recurrence unrolled as one CTE per
    anti-diagonal (the DTW precedent: recursive SQL cannot
    re-aggregate its working set). Missing predecessors coalesce to
    the 0 the local-alignment floor supplies anyway."""
    n = _SW_N
    parts = [
        """h0 AS MATERIALIZED (
      SELECT pair, i, j, greatest(0, s) AS h
      FROM cells WHERE i = 0 AND j = 0
    )"""
    ]
    for d in range(1, 2 * n - 1):
        scat = [
            f"SELECT pair, i + 1 AS i, j, 'g' AS typ, h - {_SW_GAP} AS val"
            f" FROM h{d - 1}",
            f"SELECT pair, i, j + 1 AS j, 'g' AS typ, h - {_SW_GAP} AS val"
            f" FROM h{d - 1}",
        ]
        if d >= 2:
            scat.append(
                f"SELECT pair, i + 1 AS i, j + 1 AS j, 'd' AS typ, h AS val"
                f" FROM h{d - 2}"
            )
        u = "\n        UNION ALL ".join(scat)
        parts.append(
            f"""h{d} AS MATERIALIZED (
      SELECT c.pair, c.i, c.j,
             greatest(0,
                      c.s + coalesce(max(CASE WHEN s.typ = 'd'
                                              THEN s.val END), 0),
                      coalesce(max(CASE WHEN s.typ = 'g'
                                        THEN s.val END), 0)) AS h
      FROM cells c
      JOIN ({u}) s
        ON s.pair = c.pair AND s.i = c.i AND s.j = c.j
      WHERE c.i + c.j = {d}
      GROUP BY c.pair, c.i, c.j, c.s
    )"""
        )
    body = ",\n    ".join(parts)
    allh = "\n      UNION ALL ".join(
        f"SELECT pair, i, j, h FROM h{d}" for d in range(2 * n - 1)
    )
    return f"""
    WITH sa AS (
      SELECT doc_id AS pair, g - 1 AS i,
             substr(translate(md5(text), '0123456789abcdef',
                              'ACGTACGTACGTACGT'), g, 1) AS c
      FROM documents, unnest(generate_series(1, {n})) t(g)
      WHERE doc_id < 400 AND doc_id % 2 = 0
    ),
    sb AS (
      SELECT doc_id - 1 AS pair, g - 1 AS j,
             substr(translate(md5(text), '0123456789abcdef',
                              'ACGTACGTACGTACGT'), g, 1) AS c
      FROM documents, unnest(generate_series(1, {n})) t(g)
      WHERE doc_id < 401 AND doc_id % 2 = 1
    ),
    cells AS MATERIALIZED (
      SELECT a.pair, a.i, b.j,
             CAST(CASE WHEN a.c = b.c THEN {_SW_MATCH}
                       ELSE {_SW_MISMATCH} END AS BIGINT) AS s
      FROM sa a JOIN sb b ON b.pair = a.pair
    ),
    {body},
    allcells AS (
      {allh}
    )
    SELECT pair AS pair_id,
           CAST(h AS BIGINT) AS sw_score,
           CAST(i AS BIGINT) AS best_i,
           CAST(j AS BIGINT) AS best_j
    FROM (
      SELECT pair, h, i, j,
             row_number() OVER (PARTITION BY pair
                                ORDER BY h DESC, i, j) AS rn
      FROM allcells
    ) WHERE rn = 1
    """



def _sw_best_expr(n: int) -> str:
    """The pair-local Smith-Waterman fold over string columns
    ``ha``/``hb`` of length ``n``, returning the struct-ordered argmax
    (-H, i, j) over the full H matrix. Module-level so the tie-heavy
    property tests (tests/test_fold_properties) can drive it with
    literal sequences. Lazy-IF-free: greatest's 0-floor IS the
    Smith-Waterman boundary condition for missing predecessors."""
    sij = (
        f"IF(substr(ha, i, 1) = substr(hb, j, 1),"
        f" cast({_SW_MATCH} as bigint), cast({_SW_MISMATCH} as bigint))"
    )
    s11 = sij.replace("ha, i", "ha, 1").replace("hb, j", "hb, 1")
    s1j = sij.replace("ha, i", "ha, 1")
    si1 = sij.replace("hb, j", "hb, 1")
    # column j=1: H(i,1) = max(0, s(i,1), H(i-1,1) - gap)
    col1 = f"""
    aggregate(sequence(2, {n}),
      array(greatest(cast(0 as bigint), {s11})),
      (acc, i) -> concat(acc, array(greatest(cast(0 as bigint), {si1},
          element_at(acc, i - 1) - {_SW_GAP}))))
    """
    # outer fold appends column j built from column j-1 (diag/up) and
    # its growing self (left)
    hmat = f"""
    aggregate(sequence(2, {n}),
      array({col1}),
      (cols, j) -> concat(cols, array(
        aggregate(sequence(2, {n}),
          array(greatest(cast(0 as bigint), {s1j},
              element_at(element_at(cols, j - 1), 1) - {_SW_GAP})),
          (acc, i) -> concat(acc, array(greatest(cast(0 as bigint),
              element_at(element_at(cols, j - 1), i - 1) + {sij},
              element_at(element_at(cols, j - 1), i) - {_SW_GAP},
              element_at(acc, i - 1) - {_SW_GAP})))))))
    """
    return f"""
    array_min(flatten(transform({hmat}, (colj, jj) ->
      transform(colj, (v, ii) -> named_struct(
        'nh', -v, 'i', cast(ii as bigint), 'j', cast(jj as bigint))))))
    """


@query("reads_smith_waterman", oracle=_sw_oracle(), since=10)
def reads_smith_waterman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMITH-WATERMAN LOCAL ALIGNMENT — the scoring core of BLAST's
    final phase and of every aligner the reference shells out to
    (reference BlastN/BWA pipes, SURVEY.md section 2.9): H(i,j) =
    max(0, H(i-1,j-1)+s(a_i,b_j), H(i-1,j)-gap, H(i,j-1)-gap), the
    0-floor turning global edit distance into best-local-region
    scoring. A pair's H matrix is a bounded local object (N² cells;
    X-drop banding caps it at N·band for real reads — every
    production aligner evaluates it in one core for the same reason),
    so the whole matrix materializes inside ONE column expression: an
    outer fold over b-positions appends columns, an inner fold over
    a-positions builds each column from the previous column (diag +
    up moves) and its own growing self (left move), missing
    predecessors absorbed by the 0-floor `greatest` — no edge-case
    row fabrication. The per-pair result is then an exact argmax:
    `array_min` over (-H, i, j) structs (struct ordering = the
    deterministic (h DESC, i, j) tie-break) yields the best local
    score and its end cell. One equi-join, zero iteration rounds — a
    billion read pairs are one embarrassingly parallel projection.
    (r9's first cut ran the anti-diagonal wavefront — one shuffle
    round per diagonal with eager per-round checkpoints, preserved in
    git history — bit-identical but 4x slower at sf0.01 and 23
    stages heavier; the wavefront only wins when a SINGLE pair's
    banded matrix exceeds one executor, which a band chosen for
    memory never lets happen.) Integer match/mismatch/gap scores keep
    every H exact; the brute-force DP twin test re-derives the full
    matrix sequentially. The ORACLE still evaluates the recurrence by
    anti-diagonal (one unrolled CTE per diagonal), so the two engines
    share only the recurrence, not the evaluation order.

    Scale: one shuffle (the pair equi-join; either side broadcasts
    when small), then per-row compute holding two N-length DP columns
    — the plan that survives a 1000-executor corpus. The fixture
    clips pairs at doc_id < 400 to bound the unrolled ORACLE, not the
    engine.

    Reference capability class: per-read alignment scoring
    (SURVEY.md section 2.9) re-expressed as pair-local DP folds.
    """
    n = _SW_N
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 401)
    seqs = d.select(
        "doc_id",
        F.translate(F.md5("text"), _HEX, _DNA16).substr(1, n).alias("h"),
    )
    ea = seqs.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 400)
    ).select(F.col("doc_id").alias("pair"), F.col("h").alias("ha"))
    eb = seqs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).alias("pair"), F.col("h").alias("hb")
    )
    best = _sw_best_expr(n)
    return (
        ea.join(eb, "pair")
        .select(F.col("pair").alias("pair_id"), F.expr(best).alias("b"))
        .select(
            "pair_id",
            (-F.col("b.nh")).cast("long").alias("sw_score"),
            F.col("b.i").alias("best_i"),
            F.col("b.j").alias("best_j"),
        )
    )


# ---------------------------------------------------------------------------
# Burrows-Wheeler transform per read (rotation sort, run compressibility)
# ---------------------------------------------------------------------------

_BWT_N = 16  # sequence length before the '$' sentinel


def _bwt_oracle() -> str:
    n1 = _BWT_N + 1
    return f"""
    WITH s AS (
      SELECT doc_id,
             substr(translate(md5(text), '0123456789abcdef',
                              'ACGTACGTACGTACGT'), 1, {_BWT_N}) || '$' AS sq
      FROM documents
    ),
    rot AS (
      SELECT doc_id,
             substr(sq, p, {n1} - p + 1) || substr(sq, 1, p - 1) AS r
      FROM s, unnest(generate_series(1, {n1})) t(p)
    ),
    ranked AS (
      SELECT doc_id, substr(r, {n1}, 1) AS ch,
             row_number() OVER (PARTITION BY doc_id ORDER BY r) AS rn
      FROM rot
    ),
    bwt AS (
      SELECT doc_id, string_agg(ch, '' ORDER BY rn) AS bwt
      FROM ranked GROUP BY doc_id
    ),
    bruns AS (
      SELECT doc_id,
             1 + CAST(sum(CASE WHEN prev IS NOT NULL AND ch <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS bwt_runs
      FROM (
        SELECT doc_id, ch,
               lag(ch) OVER (PARTITION BY doc_id ORDER BY rn) AS prev
        FROM ranked
      ) GROUP BY doc_id
    ),
    oruns AS (
      SELECT doc_id,
             1 + CAST(sum(CASE WHEN prev IS NOT NULL AND c <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS orig_runs
      FROM (
        SELECT doc_id, c,
               lag(c) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM (
          SELECT doc_id, p, substr(sq, p, 1) AS c
          FROM s, unnest(generate_series(1, {n1})) t(p)
        )
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.bwt, br.bwt_runs, o.orig_runs,
           CAST(o.orig_runs - br.bwt_runs AS BIGINT) AS run_gain
    FROM bwt b
    JOIN bruns br ON br.doc_id = b.doc_id
    JOIN oruns o ON o.doc_id = b.doc_id
    """


@query("reads_bwt_runs", oracle=_bwt_oracle(), since=10)
def reads_bwt_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS-WHEELER TRANSFORM per read — the index core of BWA and
    bowtie (the aligners behind the reference's DistributedBWA pipe)
    and of bzip-family compression: sort all rotations of seq+'$', read
    off the last column. Embarrassingly parallel at the read grain —
    each read explodes into its n+1 rotations, sorts WITHIN its own
    partition-local window, and re-aggregates; no cross-read traffic
    at all, the ideal 100 TB shape. The transform is verified two
    ways: the oracle re-derives it from the same rotation sort in SQL,
    and the twin test INVERTS each BWT via LF-mapping back to the
    original sequence — the full invertibility theorem, exercised
    per row. Run-length accounting (orig_runs vs bwt_runs, the
    clustering gain that makes BWT compress) rides along as exact
    integer columns computed relationally (lag + change count), not by
    engine-specific regex.

    Scale: explode x(n+1) fuses into the scan; the rotation sort is a
    per-doc window (doc-keyed shuffle, bounded width n+1); string ops
    are all JVM-side. Chromosome-scale BWT needs suffix-array
    construction (SA-IS) instead — stated, not hidden; the per-READ
    transform is what a read-level pipeline actually indexes.

    Reference capability class: alignment indexing prerequisites
    (SURVEY.md section 2.9)."""
    n1 = _BWT_N + 1
    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.concat(
            F.substring(F.translate(F.md5("text"), _HEX, _DNA16), 1, _BWT_N),
            F.lit("$"),
        ).alias("sq"),
    )
    rot = s.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(n1))).alias("p"),
        "sq",
    ).select(
        "doc_id",
        "p",
        F.concat(
            F.expr(f"substr(sq, p, {n1} - p + 1)"),
            F.expr("substr(sq, 1, p - 1)"),
        ).alias("r"),
        F.col("sq"),
    )
    ranked = rot.select(
        "doc_id",
        F.expr(f"substr(r, {n1}, 1)").alias("ch"),
        F.row_number().over(W.partitionBy("doc_id").orderBy("r")).alias("rn"),
    )
    ranked = truncate_lineage(ranked, reliable=True)
    bwt = ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("bwt")
    )
    bruns = (
        ranked.select(
            "doc_id",
            "rn",
            "ch",
            F.lag("ch").over(W.partitionBy("doc_id").orderBy("rn")).alias(
                "prev"
            ),
        )
        .groupBy("doc_id")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        F.col("prev").isNotNull()
                        & (F.col("ch") != F.col("prev")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("bwt_runs")
        )
    )
    chars = s.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(n1))).alias("p"),
        "sq",
    ).select("doc_id", "p", F.expr("substr(sq, p, 1)").alias("c"))
    oruns = (
        chars.select(
            "doc_id",
            "p",
            "c",
            F.lag("c").over(W.partitionBy("doc_id").orderBy("p")).alias(
                "prev"
            ),
        )
        .groupBy("doc_id")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        F.col("prev").isNotNull()
                        & (F.col("c") != F.col("prev")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("orig_runs")
        )
    )
    return (
        bwt.join(bruns, "doc_id")
        .join(oruns, "doc_id")
        .select(
            "doc_id",
            "bwt",
            "bwt_runs",
            "orig_runs",
            (F.col("orig_runs") - F.col("bwt_runs"))
            .cast("long")
            .alias("run_gain"),
        )
    )


# ---------------------------------------------------------------------------
# Reverse-complement palindromes (hairpin / restriction-site detection)
# ---------------------------------------------------------------------------

_RCP_N = 32  # sequence length


def _rcp_oracle() -> str:
    n = _RCP_N
    return f"""
    WITH s AS (
      SELECT doc_id,
             translate(md5(text), '0123456789abcdef',
                       'ACGTACGTACGTACGT') AS sq
      FROM documents
    ),
    ck AS (
      SELECT doc_id, c.c, k.k,
             CASE substr(sq, c.c - k.k, 1)
               WHEN 'A' THEN 'T' WHEN 'T' THEN 'A'
               WHEN 'C' THEN 'G' ELSE 'C' END
               = substr(sq, c.c + 1 + k.k, 1) AS m
      FROM s,
           unnest(generate_series(1, {n - 1})) c(c),
           unnest(generate_series(0, {n // 2 - 1})) k(k)
      WHERE k.k < least(c.c, {n} - c.c)
    ),
    rad AS (
      SELECT doc_id, c,
             COALESCE(min(CASE WHEN NOT m THEN k END),
                      least(c, {n} - c)) AS r
      FROM ck GROUP BY doc_id, c
    )
    SELECT doc_id,
           CAST(min(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS best_center,
           CAST(max(2 * r) AS BIGINT) AS best_len,
           CAST(sum(CASE WHEN 2 * r >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sites4
    FROM (
      SELECT doc_id, c, r,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY r DESC, c) AS rn
      FROM rad
    ) GROUP BY doc_id
    """


@query("reads_rc_palindromes", oracle=_rcp_oracle(), since=10)
def reads_rc_palindromes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE-COMPLEMENT PALINDROME detection — the hairpin/cruciform
    and restriction-site pattern (EcoRI's GAATTC reads the same as its
    reverse complement): a segment is an RC palindrome iff
    s[c-k] = complement(s[c+1+k]) for every k below the radius, so the
    longest site per read reduces to a center-radius scan made fully
    relational: explode all (center, offset) pairs (n^2/4 per read,
    scan-fused), compute the match flag per pair, and the radius per
    center is min(first mismatch offset) with the boundary as default
    — one aggregate, no sequential expansion loop. Per read: the
    longest site (radius-desc, center tie-break), its center, and the
    count of >=4 bp sites (the restriction-enzyme length class).

    Scale: per-read work is a constant n^2/4 explode fused into the
    scan followed by two doc-keyed aggregates — zero cross-read
    traffic (the BWT shape). For chromosome-length sequences the same
    scan block-partitions with (k < block overlap) carried margins —
    the depth-histogram refinement.

    Reference capability class: motif/site scanning over reads
    (SURVEY.md section 2.8 sequence functions; revcomp's analytical
    sibling — and revcomp itself is the k=full special case)."""
    n = _RCP_N
    s = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.translate(F.md5("text"), _HEX, _DNA16).alias("sq"),
    )
    ck = (
        s.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(n - 1))).alias("c"),
            "sq",
        )
        .select(
            "doc_id",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(n // 2 - 1))).alias("k"),
            "sq",
        )
        .filter(F.col("k") < F.least(F.col("c"), F.lit(n) - F.col("c")))
        .select(
            "doc_id",
            "c",
            "k",
            (
                F.translate(
                    F.expr("substr(sq, c - k, 1)"), "ACGT", "TGCA"
                )
                == F.expr("substr(sq, c + 1 + k, 1)")
            ).alias("m"),
        )
    )
    rad = ck.groupBy("doc_id", "c").agg(
        F.coalesce(
            F.min(F.when(~F.col("m"), F.col("k"))),
            F.least(F.first("c"), F.lit(n) - F.first("c")),
        ).alias("r")
    )
    ranked = rad.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("r").desc(), "c")
        ),
    )
    return ranked.groupBy("doc_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("c")))
        .cast("long")
        .alias("best_center"),
        F.max(2 * F.col("r")).cast("long").alias("best_len"),
        F.sum(F.when(2 * F.col("r") >= 4, 1).otherwise(0))
        .cast("long")
        .alias("n_sites4"),
    )


# ---------------------------------------------------------------------------
# Per-cycle quality statistics (the FastQC signature plot, exact)
# ---------------------------------------------------------------------------

_PCQ_CYCLES = 16


def _pcq_oracle() -> str:
    n = _PCQ_CYCLES
    return f"""
    WITH q AS (
      SELECT p,
             (CAST('0x' || substr(h, 2 * p - 1, 1) AS BIGINT) * 16
              + CAST('0x' || substr(h, 2 * p, 1) AS BIGINT)) % 41 AS qv
      FROM (SELECT md5(text || 'q') AS h FROM documents),
           unnest(generate_series(1, {n})) t(p)
    ),
    hist AS (
      SELECT p, qv, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY p, qv
    ),
    cum AS (
      SELECT p, qv, c,
             CAST(sum(c) OVER (PARTITION BY p ORDER BY qv
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
             CAST(sum(c) OVER (PARTITION BY p) AS BIGINT) AS n,
             CAST(sum(qv * c) OVER (PARTITION BY p) AS BIGINT) AS qsum
      FROM hist
    )
    SELECT CAST(p AS BIGINT) AS cycle, n, qsum,
           CAST(min(CASE WHEN 4 * cc >= n THEN qv END) AS BIGINT) AS q1,
           CAST(min(CASE WHEN 2 * cc >= n THEN qv END) AS BIGINT) AS median,
           CAST(min(CASE WHEN 4 * cc >= 3 * n THEN qv END) AS BIGINT) AS q3,
           CAST(sum(CASE WHEN qv < 20 THEN c ELSE 0 END) AS BIGINT)
             AS n_below20
    FROM cum GROUP BY p, n, qsum
    """


@query("reads_percycle_quality", oracle=_pcq_oracle(), since=10)
def reads_percycle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CYCLE QUALITY DISTRIBUTION — FastQC's signature
    per-base-quality boxplot (the first QC artifact every sequencing
    run produces; the reference's avgQuality/lowQCount functions are
    the per-READ marginal of this per-CYCLE view): for every cycle
    position, exact quartiles of the phred distribution plus the
    below-20 mass (FastQC's warn band). Quartiles are EXACT and
    engine-independent because phred scores live on a 41-value
    alphabet: one (cycle, qv) histogram aggregate, one cumulative
    window, and each quartile is min(qv where 4*cum >= k*n) — the
    lineitem_histogram_median integer-crossing trick, no
    approx_percentile, no interpolation convention to disagree on.

    Scale: the histogram IS the reduction — 16 cycles x 41 values =
    656 cells regardless of read count, map-side combined; windows run
    on the 656-row frame. This is how per-cycle QC on a 100 TB run
    actually aggregates (FastQC itself streams exactly this
    histogram).

    Reference capability class: quality statistics
    (SURVEY.md section 2.8: avgQuality/lowQCount, lifted from read
    grain to cycle grain)."""
    n = _PCQ_CYCLES
    d = table(spark, sf_dir, "documents")
    q = d.select(
        F.md5(F.concat(F.col("text"), F.lit("q"))).alias("h")
    ).select(
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("p"), "h"
    ).select(
        "p",
        (
            (
                F.conv(F.expr("substr(h, 2 * p - 1, 1)"), 16, 10).cast(
                    "long"
                )
                * 16
                + F.conv(F.expr("substr(h, 2 * p, 1)"), 16, 10).cast(
                    "long"
                )
            )
            % 41
        ).alias("qv"),
    )
    hist = q.groupBy("p", "qv").agg(F.count("*").cast("long").alias("c"))
    wp = W.partitionBy("p")
    cum = hist.select(
        "p",
        "qv",
        "c",
        F.sum("c")
        .over(wp.orderBy("qv").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cc"),
        F.sum("c")
        .over(wp.orderBy().rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        ))
        .cast("long")
        .alias("n"),
        F.sum(F.col("qv") * F.col("c"))
        .over(wp.orderBy().rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        ))
        .cast("long")
        .alias("qsum"),
    )
    return cum.groupBy("p", "n", "qsum").agg(
        F.min(F.when(4 * F.col("cc") >= F.col("n"), F.col("qv")))
        .cast("long")
        .alias("q1"),
        F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("qv")))
        .cast("long")
        .alias("median"),
        F.min(F.when(4 * F.col("cc") >= 3 * F.col("n"), F.col("qv")))
        .cast("long")
        .alias("q3"),
        F.sum(F.when(F.col("qv") < 20, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_below20"),
    ).select(
        F.col("p").cast("long").alias("cycle"),
        "n",
        "qsum",
        "q1",
        "median",
        "q3",
        "n_below20",
    )


# ---------------------------------------------------------------------------
# FM-index backward search (BWT rank/select, count theorem as data)
# ---------------------------------------------------------------------------

_FM_N = 16  # text length before '$'


def _fm_oracle() -> str:
    n = _FM_N
    n1 = n + 1
    return f"""
    WITH s AS (
      SELECT doc_id,
             substr(translate(md5(text), '0123456789abcdef',
                              'ACGTACGTACGTACGT'), 1, {n}) || '$' AS sq,
             1 + CAST('0x' || substr(md5('fm|' || CAST(doc_id AS VARCHAR)),
                                     1, 8) AS BIGINT) % {n - 2} AS pp
      FROM documents
    ),
    pat AS (
      SELECT doc_id, sq, substr(sq, pp, 3) AS p,
             substr(sq, pp, 1) AS p1, substr(sq, pp + 1, 1) AS p2,
             substr(sq, pp + 2, 1) AS p3
      FROM s
    ),
    rot AS (
      SELECT doc_id,
             substr(sq, g, {n1} - g + 1) || substr(sq, 1, g - 1) AS r
      FROM s, unnest(generate_series(1, {n1})) t(g)
    ),
    bwt AS (
      SELECT doc_id, substr(r, {n1}, 1) AS ch,
             row_number() OVER (PARTITION BY doc_id ORDER BY r) AS rn
      FROM rot
    ),
    alpha(ch) AS (VALUES ('A'), ('C'), ('G'), ('T')),
    occ AS (
      SELECT d.doc_id, a.ch, i.i, CAST(count(w.rn) AS BIGINT) AS o
      FROM (SELECT DISTINCT doc_id FROM s) d
      CROSS JOIN alpha a
      CROSS JOIN unnest(generate_series(0, {n1})) i(i)
      LEFT JOIN bwt w ON w.doc_id = d.doc_id AND w.ch = a.ch
                     AND w.rn <= i.i
      GROUP BY d.doc_id, a.ch, i.i
    ),
    ctab AS (
      SELECT o.doc_id, o.ch,
             CAST(sum(CASE WHEN b.ch < o.ch THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN b.ch = o.ch THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt
      FROM (SELECT DISTINCT doc_id, ch FROM occ) o
      JOIN bwt b ON b.doc_id = o.doc_id
      GROUP BY o.doc_id, o.ch
    ),
    s1 AS (
      SELECT p.doc_id, p.p, p.p1, p.p2,
             c.c + 1 AS lo, c.c + c.cnt AS hi
      FROM pat p JOIN ctab c ON c.doc_id = p.doc_id AND c.ch = p.p3
    ),
    s2 AS (
      SELECT s.doc_id, s.p, s.p1,
             CASE WHEN s.hi < s.lo THEN 1
                  ELSE c.c + ol.o + 1 END AS lo,
             CASE WHEN s.hi < s.lo THEN 0
                  ELSE c.c + oh.o END AS hi
      FROM s1 s
      JOIN ctab c ON c.doc_id = s.doc_id AND c.ch = s.p2
      JOIN occ ol ON ol.doc_id = s.doc_id AND ol.ch = s.p2
                 AND ol.i = s.lo - 1
      JOIN occ oh ON oh.doc_id = s.doc_id AND oh.ch = s.p2
                 AND oh.i = s.hi
    ),
    s3 AS (
      SELECT s.doc_id, s.p,
             CASE WHEN s.hi < s.lo THEN 1
                  ELSE c.c + ol.o + 1 END AS lo,
             CASE WHEN s.hi < s.lo THEN 0
                  ELSE c.c + oh.o END AS hi
      FROM s2 s
      JOIN ctab c ON c.doc_id = s.doc_id AND c.ch = s.p1
      JOIN occ ol ON ol.doc_id = s.doc_id AND ol.ch = s.p1
                 AND ol.i = s.lo - 1
      JOIN occ oh ON oh.doc_id = s.doc_id AND oh.ch = s.p1
                 AND oh.i = s.hi
    ),
    direct AS (
      SELECT p.doc_id,
             CAST(count(CASE WHEN substr(p.sq, g, 3) = p.p THEN 1 END)
                  AS BIGINT) AS naive
      FROM pat p, unnest(generate_series(1, {n - 2})) t(g)
      GROUP BY p.doc_id
    )
    SELECT s3.doc_id, s3.p AS pattern,
           CAST(greatest(0, s3.hi - s3.lo + 1) AS BIGINT) AS fm_count,
           d.naive AS naive_count,
           CAST(CASE WHEN greatest(0, s3.hi - s3.lo + 1) = d.naive
                     THEN 1 ELSE 0 END AS BIGINT) AS theorem_ok
    FROM s3 JOIN direct d ON d.doc_id = s3.doc_id
    """


@query("reads_fm_count", oracle=_fm_oracle(), since=10)
def reads_fm_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM-INDEX BACKWARD SEARCH — the exact query BWA answers a
    billion times per run (Ferragina-Manzini 2000): count a pattern's
    occurrences WITHOUT scanning the text, by three rank lookups per
    pattern character over the BWT. Per read: build the BWT (rotation
    sort, the reads_bwt_runs machinery), the C table (chars smaller
    than c) and the dense Occ(ch, i) rank table — all relational —
    then unroll the 3-step backward search as three equi-joins, each
    narrowing [lo, hi] by C[ch] + Occ(ch, boundary). The FM THEOREM —
    backward-search count equals the naive substring count — is
    recomputed independently by both engines and emitted as the
    theorem_ok column; patterns are drawn FROM each read (md5-chosen
    offset) so every search must find at least one hit, making a
    silent all-zeros regression impossible.

    Scale: everything is per-read and alphabet-bounded — BWT n+1 rows,
    Occ (n+2) x 4 rows, three join rounds independent of read count;
    cross-read traffic zero (the BWT/RC-palindrome shape). A
    genome-scale FM index replaces the dense Occ with sampled
    checkpoints — same joins, coarser key.

    Reference capability class: the index query inside the aligner the
    reference pipes to (SURVEY.md section 2.9)."""
    n = _FM_N
    n1 = n + 1
    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.concat(
            F.substring(F.translate(F.md5("text"), _HEX, _DNA16), 1, n),
            F.lit("$"),
        ).alias("sq"),
        (
            1
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("fm|"), F.col("doc_id").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % (n - 2)
        ).alias("pp"),
    )
    s = truncate_lineage(s, reliable=True)
    pat = s.select(
        "doc_id",
        "sq",
        F.expr("substr(sq, pp, 3)").alias("p"),
        F.expr("substr(sq, pp, 1)").alias("p1"),
        F.expr("substr(sq, pp + 1, 1)").alias("p2"),
        F.expr("substr(sq, pp + 2, 1)").alias("p3"),
    )
    rot = s.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(n1))).alias("g"),
        "sq",
    ).select(
        "doc_id",
        F.concat(
            F.expr(f"substr(sq, g, {n1} - g + 1)"),
            F.expr("substr(sq, 1, g - 1)"),
        ).alias("r"),
    )
    bwt = rot.select(
        "doc_id",
        F.expr(f"substr(r, {n1}, 1)").alias("ch"),
        F.row_number().over(W.partitionBy("doc_id").orderBy("r")).alias("rn"),
    )
    bwt = truncate_lineage(bwt, reliable=True)
    alpha = F.array(*[F.lit(c) for c in "ACGT"])
    frame = s.select(
        "doc_id", F.explode(alpha).alias("ch")
    ).select(
        "doc_id",
        "ch",
        F.explode(F.sequence(F.lit(0), F.lit(n1))).alias("i"),
    )
    occ = (
        frame.join(bwt.withColumnRenamed("ch", "bch"), "doc_id")
        .groupBy("doc_id", "ch", "i")
        .agg(
            F.sum(
                F.when(
                    (F.col("rn") <= F.col("i"))
                    & (F.col("bch") == F.col("ch")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("o")
        )
    )
    occ = truncate_lineage(occ, reliable=True)
    ctab = (
        s.select("doc_id", F.explode(alpha).alias("ch"))
        .join(bwt.withColumnRenamed("ch", "bch"), "doc_id")
        .groupBy("doc_id", "ch")
        .agg(
            F.sum(F.when(F.col("bch") < F.col("ch"), 1).otherwise(0))
            .cast("long")
            .alias("c"),
            F.sum(F.when(F.col("bch") == F.col("ch"), 1).otherwise(0))
            .cast("long")
            .alias("cnt"),
        )
    )
    ctab = truncate_lineage(ctab, reliable=True)
    st = pat.join(
        ctab.withColumnRenamed("ch", "c3"),
        (pat["doc_id"] == ctab["doc_id"]) & (F.col("c3") == F.col("p3")),
    ).select(
        pat["doc_id"],
        "p",
        "p1",
        "p2",
        (F.col("c") + 1).alias("lo"),
        (F.col("c") + F.col("cnt")).alias("hi"),
    )
    for pc in ("p2", "p1"):
        cx = ctab.select(
            F.col("doc_id").alias("cdoc"),
            F.col("ch").alias("cch"),
            F.col("c").alias("cc"),
        )
        ol = occ.select(
            F.col("doc_id").alias("ldoc"),
            F.col("ch").alias("lch"),
            F.col("i").alias("li"),
            F.col("o").alias("olo"),
        )
        oh = occ.select(
            F.col("doc_id").alias("hdoc"),
            F.col("ch").alias("hch"),
            F.col("i").alias("hi_i"),
            F.col("o").alias("ohi"),
        )
        keep = [c for c in st.columns if c not in ("lo", "hi")]
        st = (
            st.join(
                cx,
                (st["doc_id"] == cx["cdoc"]) & (cx["cch"] == st[pc]),
            )
            .join(
                ol,
                (st["doc_id"] == ol["ldoc"])
                & (ol["lch"] == st[pc])
                & (ol["li"] == st["lo"] - 1),
            )
            .join(
                oh,
                (st["doc_id"] == oh["hdoc"])
                & (oh["hch"] == st[pc])
                & (oh["hi_i"] == st["hi"]),
            )
            .select(
                *[st[c] for c in keep if c != pc],
                F.when(st["hi"] < st["lo"], F.lit(1))
                .otherwise(F.col("cc") + F.col("olo") + 1)
                .alias("lo"),
                F.when(st["hi"] < st["lo"], F.lit(0))
                .otherwise(F.col("cc") + F.col("ohi"))
                .alias("hi"),
            )
        )
    direct = (
        pat.select(
            "doc_id",
            "p",
            F.explode(F.sequence(F.lit(1), F.lit(n - 2))).alias("g"),
            "sq",
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.expr("substr(sq, g, 3)") == F.col("p"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("naive")
        )
    )
    fm = st.select(
        "doc_id",
        F.col("p").alias("pattern"),
        F.greatest(F.lit(0), F.col("hi") - F.col("lo") + 1)
        .cast("long")
        .alias("fm_count"),
    )
    return fm.join(direct, "doc_id").select(
        "doc_id",
        "pattern",
        "fm_count",
        F.col("naive").cast("long").alias("naive_count"),
        F.when(F.col("fm_count") == F.col("naive"), 1)
        .otherwise(0)
        .cast("long")
        .alias("theorem_ok"),
    )


# ---------------------------------------------------------------------------
# Mutation spectrum and Ts/Tv ratio (bcftools-stats parity)
# ---------------------------------------------------------------------------


def _tstv_oracle() -> str:
    return """
    WITH v AS (
      SELECT concat('chr', CAST(doc_id % 3 AS VARCHAR)) AS chrom,
             substr('ACGT',
                    CAST(1 + CAST('0x' || substr(md5('ref|'
                      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4
                      AS INTEGER), 1) AS ref,
             CAST('0x' || substr(md5('alt|' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % 3 AS altoff
      FROM documents
    ),
    vv AS (
      SELECT chrom, ref,
             substr('ACGT',
                    CAST(1 + (strpos('ACGT', ref) - 1 + 1 + altoff) % 4
                      AS INTEGER), 1) AS alt
      FROM v
    ),
    typed AS (
      SELECT chrom, ref, alt,
             CASE WHEN (ref = 'A' AND alt = 'G')
                    OR (ref = 'G' AND alt = 'A')
                    OR (ref = 'C' AND alt = 'T')
                    OR (ref = 'T' AND alt = 'C')
                  THEN 1 ELSE 0 END AS is_ts
      FROM vv
    ),
    spec AS (
      SELECT chrom, ref, alt, CAST(max(is_ts) AS BIGINT) AS is_transition,
             CAST(count(*) AS BIGINT) AS n
      FROM typed GROUP BY chrom, ref, alt
    )
    SELECT chrom, ref, alt, is_transition, n,
           CAST(sum(is_transition * n) OVER (PARTITION BY chrom)
                AS BIGINT) AS chrom_ts,
           CAST(sum((1 - is_transition) * n) OVER (PARTITION BY chrom)
                AS BIGINT) AS chrom_tv,
           CAST(sum(is_transition * n) OVER (PARTITION BY chrom)
                AS DOUBLE)
             / sum((1 - is_transition) * n) OVER (PARTITION BY chrom)
             AS tstv
    FROM spec
    """


@query("reads_mutation_spectrum", oracle=_tstv_oracle(), since=10)
def reads_mutation_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTATION SPECTRUM + Ts/Tv — the first line of bcftools stats
    and the standard variant-call QC gate (a human WGS callset's
    transition/transversion ratio sits near 2.0-2.1; a ratio near the
    random 0.5 means the caller is emitting noise): classify every
    SNV as transition (purine<->purine A<->G, pyrimidine<->pyrimidine
    C<->T) or transversion, count the full 12-type substitution
    spectrum per chromosome, and carry the exact integer ts/tv masses
    plus their single-division ratio per chromosome on every spectrum
    row. Variants are md5-synthesized (ref uniform over ACGT, alt
    uniform over the three non-ref bases — so the expected ts share is
    1/3 and the expected ratio 0.5, which the twin test checks the
    observed spectrum against at coarse tolerance, plus exact
    per-type recomputation).

    Scale: one groupBy to the 36-cell spectrum (map-side combined —
    the per-cycle-quality histogram shape: the reduction IS the
    spectrum, independent of callset size), two chrom-keyed window
    sums on the 36-row frame.

    Reference capability class: variant QC statistics (SURVEY.md
    section 2.8/2.10 — the VCF surface's analytical member)."""
    d = table(spark, sf_dir, "documents")

    def _h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(tag + "|"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    v = d.select(
        F.concat(F.lit("chr"), (F.col("doc_id") % 3).cast("string")).alias(
            "chrom"
        ),
        F.expr(
            "substr('ACGT', CAST(1 + ({r}) % 4 AS INT), 1)".format(
                r="conv(substr(md5(concat('ref|', CAST(doc_id AS STRING))),"
                " 1, 8), 16, 10)"
            )
        ).alias("ref"),
        (_h("alt") % 3).alias("altoff"),
    ).select(
        "chrom",
        "ref",
        F.expr(
            "substr('ACGT', CAST(1 + (instr('ACGT', ref) - 1 + 1 + altoff)"
            " % 4 AS INT), 1)"
        ).alias("alt"),
    )
    typed = v.select(
        "chrom",
        "ref",
        "alt",
        F.when(
            ((F.col("ref") == "A") & (F.col("alt") == "G"))
            | ((F.col("ref") == "G") & (F.col("alt") == "A"))
            | ((F.col("ref") == "C") & (F.col("alt") == "T"))
            | ((F.col("ref") == "T") & (F.col("alt") == "C")),
            1,
        )
        .otherwise(0)
        .alias("is_ts"),
    )
    spec = typed.groupBy("chrom", "ref", "alt").agg(
        F.max("is_ts").cast("long").alias("is_transition"),
        F.count("*").cast("long").alias("n"),
    )
    wc = W.partitionBy("chrom").orderBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ts = F.sum(F.col("is_transition") * F.col("n")).over(wc)
    tv = F.sum((1 - F.col("is_transition")) * F.col("n")).over(wc)
    return spec.select(
        "chrom",
        "ref",
        "alt",
        "is_transition",
        "n",
        ts.cast("long").alias("chrom_ts"),
        tv.cast("long").alias("chrom_tv"),
        (ts.cast("double") / tv).alias("tstv"),
    )


# ---------------------------------------------------------------------------
# CIGAR walk (alignment length accounting, samtools parity)
# ---------------------------------------------------------------------------

_CIG_OPS = "MIDSX"  # consumed: M/X both, I/S query-only, D ref-only
_CIG_SEGS = 5


def _cigar_oracle() -> str:
    segs = ", ".join(
        f"concat(CAST(1 + CAST('0x' || substr(md5('cl|' ||"
        f" CAST(doc_id AS VARCHAR) || '|{k}'), 1, 4) AS BIGINT) % 30"
        f" AS VARCHAR), substr('{_CIG_OPS}',"
        f" CAST(1 + CAST('0x' || substr(md5('co|' ||"
        f" CAST(doc_id AS VARCHAR) || '|{k}'), 1, 4) AS BIGINT) % 5"
        f" AS INTEGER), 1))"
        for k in range(_CIG_SEGS)
    )
    return f"""
    WITH c AS (
      SELECT doc_id, concat({segs}) AS cigar,
             1 + CAST('0x' || substr(md5('cp|' || CAST(doc_id AS VARCHAR)),
                                     1, 8) AS BIGINT) % 100000 AS pos
      FROM documents
    ),
    ops AS (
      SELECT doc_id, cigar, pos,
             CAST(regexp_extract(u.tok, '([0-9]+)', 1) AS BIGINT) AS len,
             regexp_extract(u.tok, '([A-Z])', 1) AS op
      FROM c, unnest(regexp_extract_all(cigar, '[0-9]+[A-Z]')) u(tok)
    )
    SELECT doc_id, cigar, CAST(pos AS BIGINT) AS pos,
           CAST(sum(CASE WHEN op IN ('M', 'X', 'D') THEN len
                         ELSE 0 END) AS BIGINT) AS ref_len,
           CAST(sum(CASE WHEN op IN ('M', 'X', 'I', 'S') THEN len
                         ELSE 0 END) AS BIGINT) AS query_len,
           CAST(pos + sum(CASE WHEN op IN ('M', 'X', 'D') THEN len
                               ELSE 0 END) - 1 AS BIGINT) AS align_end,
           CAST(count(*) AS BIGINT) AS n_ops,
           CAST(sum(CASE WHEN op = 'S' THEN len ELSE 0 END) AS BIGINT)
             AS clipped
    FROM ops GROUP BY doc_id, cigar, pos
    """


@query("reads_cigar_walk", oracle=_cigar_oracle(), since=10)
def reads_cigar_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIGAR WALK — the alignment-string accounting samtools performs
    on every record (reference span for indexing/pileup, query span
    for validation, soft-clip mass for QC; SAM spec section 1.4):
    parse '10M2I3D'-style strings into (length, op) pairs with
    regexp_extract_all (a generator, not a UDF), then one aggregate
    per read applying the consume table — M/X consume both, I/S
    query-only, D reference-only. align_end = pos + ref_len - 1 is
    what BAI/CSI indexing bins on; clipped mass is the adapter/QC
    signal. CIGARs are md5-synthesized (5 segments, lengths 1-30, ops
    over MIDSX) so both engines parse identical strings; the twin test
    re-walks every string with a hand-rolled python parser.

    Scale: parse + aggregate fuses into the scan — zero shuffle
    beyond the per-read groupBy (and even that folds map-side since
    segments of one read colocate); the shape real pileup pipelines
    feed.

    Reference capability class: SAM field semantics
    (SURVEY.md section 2.8 SAM-line extraction, deepened to the
    alignment-geometry level the reference never parsed)."""
    d = table(spark, sf_dir, "documents")

    def _h(tag: str, k, width: int, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(tag + "|"),
                            F.col("doc_id").cast("string"),
                            F.lit("|" + str(k)) if k is not None else F.lit(""),
                        )
                    ),
                    1,
                    width,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    seg_cols = [
        F.concat(
            (1 + _h("cl", k, 4, 30)).cast("string"),
            F.expr(
                f"substr('{_CIG_OPS}', CAST(1 + conv(substr(md5(concat("
                f"'co|', CAST(doc_id AS STRING), '|{k}')), 1, 4), 16, 10)"
                f" % 5 AS INT), 1)"
            ),
        )
        for k in range(_CIG_SEGS)
    ]
    c = d.select(
        "doc_id",
        F.concat(*seg_cols).alias("cigar"),
        (1 + _h("cp", None, 8, 100000)).alias("pos"),
    )
    ops = c.select(
        "doc_id",
        "cigar",
        "pos",
        F.explode(
            F.expr("regexp_extract_all(cigar, '[0-9]+[A-Z]', 0)")
        ).alias("tok"),
    ).select(
        "doc_id",
        "cigar",
        "pos",
        F.regexp_extract("tok", r"([0-9]+)", 1).cast("long").alias("len"),
        F.regexp_extract("tok", r"([A-Z])", 1).alias("op"),
    )
    reflen = F.sum(
        F.when(F.col("op").isin("M", "X", "D"), F.col("len")).otherwise(0)
    )
    return ops.groupBy("doc_id", "cigar", "pos").agg(
        reflen.cast("long").alias("ref_len"),
        F.sum(
            F.when(
                F.col("op").isin("M", "X", "I", "S"), F.col("len")
            ).otherwise(0)
        )
        .cast("long")
        .alias("query_len"),
        (F.first("pos") + reflen - 1).cast("long").alias("align_end"),
        F.count("*").cast("long").alias("n_ops"),
        F.sum(F.when(F.col("op") == "S", F.col("len")).otherwise(0))
        .cast("long")
        .alias("clipped"),
    )


# ---------------------------------------------------------------------------
# 3'-adapter detection (cutadapt overlap semantics, planted adapters)
# ---------------------------------------------------------------------------

_AD_SEQ = "AGATCGGAAGAG"  # Illumina TruSeq adapter prefix (public)
_AD_READLEN = 24
_AD_MAXPLANT = 8
_AD_MINOV = 3


def _adapter_oracle() -> str:
    n, mx = _AD_READLEN, _AD_MAXPLANT
    return f"""
    WITH r AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('ad|' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % {mx + 1} AS planted
      FROM documents
    ),
    reads AS MATERIALIZED (
      SELECT doc_id, planted,
             substr(translate(md5('ins|' || CAST(doc_id AS VARCHAR)),
                              '0123456789abcdef', 'ACGTACGTACGTACGT'),
                    1, {n} - planted)
             || substr('{_AD_SEQ}', 1, planted) AS read
      FROM r
    ),
    ov AS (
      SELECT doc_id,
             CAST(coalesce(max(CASE WHEN
               substr(read, {n} - o.o + 1, o.o)
                 = substr('{_AD_SEQ}', 1, o.o)
               THEN o.o END), 0) AS BIGINT) AS detected
      FROM reads,
           unnest(generate_series({_AD_MINOV}, {len(_AD_SEQ)})) o(o)
      GROUP BY doc_id
    )
    SELECT v.doc_id, v.detected,
           CAST({n} - v.detected AS BIGINT) AS trim_len,
           CAST(r.planted AS BIGINT) AS planted,
           CAST(CASE WHEN v.detected = r.planted THEN 1 ELSE 0 END
                AS BIGINT) AS exact_match
    FROM ov v JOIN reads r ON r.doc_id = v.doc_id
    """


@query("reads_adapter_trim", oracle=_adapter_oracle(), since=10)
def reads_adapter_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3'-ADAPTER DETECTION — cutadapt's core overlap semantics
    (Martin 2011) against the real Illumina TruSeq adapter prefix:
    the longest read SUFFIX equal to an adapter PREFIX, minimum
    overlap 3, trim at the match. Adapters are PLANTED (md5-chosen
    0-8 observed adapter bases appended to an md5 insert at fixed
    read length), and detection honesty is part of the output: short
    plants (<3) are INVISIBLE by design, and a random insert suffix
    can extend or fake a match (~1/64 per extra base) — so the entry
    emits detected vs planted side by side with an exact_match flag
    instead of pretending perfect recovery; the twin asserts the
    detector is exactly the spec (python mirror) AND that recovery on
    detectable plants (>=3) is near-total.

    Scale: the overlap sweep is a constant-width explode
    (|adapter| - 2 candidates) + one per-read max — scan-fused,
    zero cross-read traffic, the per-read shape of every trimmer.
    Error-tolerant matching adds a bounded mismatch count per
    candidate (same explode, a Hamming sum) — stated, not hidden.

    Reference capability class: read preprocessing (trim_quality's
    adapter sibling; SURVEY.md section 2.3/2.8)."""
    n, mx = _AD_READLEN, _AD_MAXPLANT
    d = table(spark, sf_dir, "documents")
    planted = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("ad|"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % (mx + 1)
    )
    reads = d.select(
        "doc_id",
        planted.alias("planted"),
    ).select(
        "doc_id",
        "planted",
        F.concat(
            F.expr(
                f"substr(translate(md5(concat('ins|', CAST(doc_id AS"
                f" STRING))), '0123456789abcdef', 'ACGTACGTACGTACGT'),"
                f" 1, {n} - planted)"
            ),
            F.expr(f"substr('{_AD_SEQ}', 1, CAST(planted AS INT))"),
        ).alias("read"),
    )
    reads = truncate_lineage(reads, reliable=True)
    ov = (
        reads.select(
            "doc_id",
            "read",
            F.explode(
                F.sequence(F.lit(_AD_MINOV), F.lit(len(_AD_SEQ)))
            ).alias("o"),
        )
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.expr(f"substr(read, {n} - o + 1, o)")
                        == F.expr(f"substr('{_AD_SEQ}', 1, o)"),
                        F.col("o"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("detected")
        )
    )
    return ov.join(reads, "doc_id").select(
        "doc_id",
        "detected",
        (F.lit(n) - F.col("detected")).cast("long").alias("trim_len"),
        F.col("planted").cast("long").alias("planted"),
        F.when(F.col("detected") == F.col("planted"), 1)
        .otherwise(0)
        .cast("long")
        .alias("exact_match"),
    )


# ---------------------------------------------------------------------------
# Round-11: the FASTQ Python DataSource under the correctness gate
# (the r10-verdict unfreeze candidates — a REAL spark.read connector
# behind the pydatasource.py seam, split-planned the way the reference
# splits FASTQ: NLineInputFormat line runs, Interleave.java:97,141)
# ---------------------------------------------------------------------------


@query(
    "fastq_datasource_scan",
    oracle=f"""
    SELECT concat('r', lpad(CAST(doc_id AS VARCHAR), 5, '0')) AS key,
           translate(substr(md5(text), 1, 16), '{_HEX}', '{_DNA16}')
             AS sequence,
           translate(substr(md5(concat(text, 'q')), 1, 16), '{_HEX}',
                     '{_QUAL16}') AS quality
    FROM documents WHERE doc_id < 150
    """,
    since=11,
)
def fastq_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.format("fastq")`` — the custom Python DataSource
    reading REAL FASTQ files with Interleave-faithful split planning
    (whole-stanza line runs, Interleave.java:97's NLineInputFormat
    pass), under the driver's hash gate: deterministic md5-derived
    records write through io.write_fastq (a multi-part text dir), the
    connector plans ``split_reads=16`` stanza-aligned splits per part
    file and re-parses them, and every parsed column hash-compares
    against DuckDB computing the same records relationally. A split
    boundary landing mid-stanza, a dropped/duplicated record at a
    split seam, or '@'-stripping drift breaks the hash.

    Scale: split planning is the parallelism story (N splits = N
    tasks, the file-split contract); rows cross the Python worker
    boundary row-at-a-time, so the connector is for bespoke-format
    plumbing, not data-plane volume (pydatasource.py module note —
    the JVM text source io.read_fastq is the throughput path)."""
    from virapipe_spark import io as vio
    from virapipe_spark.pydatasource import FastqDataSource

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    recs = d.select(
        F.format_string("r%05d", F.col("doc_id")).alias("key"),
        F.translate(F.substring(F.md5("text"), 1, 16), _HEX, _DNA16).alias(
            "sequence"
        ),
        F.translate(
            F.substring(F.md5(F.concat(F.col("text"), F.lit("q"))), 1, 16),
            _HEX,
            _QUAL16,
        ).alias("quality"),
    )
    out = vio.scratch_dir(spark, sf_dir, "fqds")
    vio.write_fastq(recs, out, mode="overwrite")
    spark.dataSource.register(FastqDataSource)
    return (
        spark.read.format("fastq")
        .option("split_reads", 16)
        .load(out)
        .select("key", "sequence", "quality")
    )


@query(
    "fastq_datasource_interleave",
    oracle=f"""
    WITH src AS (
      SELECT row_number() OVER (ORDER BY doc_id) - 1 AS i,
             concat('m', lpad(CAST(doc_id AS VARCHAR), 5, '0')) AS stem,
             translate(substr(md5(text), 1, 16), '{_HEX}', '{_DNA16}')
               AS s1,
             translate(substr(md5(concat(text, '2')), 1, 16), '{_HEX}',
                       '{_DNA16}') AS s2,
             translate(substr(md5(concat(text, 'q1')), 1, 16), '{_HEX}',
                       '{_QUAL16}') AS q1,
             translate(substr(md5(concat(text, 'q2')), 1, 16), '{_HEX}',
                       '{_QUAL16}') AS q2
      FROM documents WHERE doc_id < 100
    )
    SELECT CAST(2 * i AS BIGINT) AS rec_idx, concat(stem, '/1') AS key,
           s1 AS sequence, q1 AS quality
    FROM src
    UNION ALL
    SELECT CAST(2 * i + 1 AS BIGINT), concat(stem, '/2'), s2, q2
    FROM src
    """,
    since=11,
)
def fastq_datasource_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-FASTQ INTERLEAVE through the Python DataSource — the
    reference's Interleave tool (Interleave.java:141,
    writeInterleavedSplits: split i of mate file 1 zips with split i
    of mate file 2; records alternate r1[j], r2[j]) with the
    positional semantics emitted AS DATA: ``rec_idx = 2*j`` / ``2*j+1``
    for the j-th mate pair, so the order-insensitive driver hash
    still proves the exact interleave order across split boundaries.
    Two sorted single-part mate files, read at ``split_reads=16`` (7
    splits each at the 100-pair fixture) — a pairing drift at ANY
    split seam changes some row's rec_idx and breaks the hash. The
    equal-shape requirement is enforced (mismatch raises; the
    reference silently truncates to the shorter reader,
    Interleave.java:149-166 — honest-claims divergence, QUIRKS-style).

    Scale: same connector notes as fastq_datasource_scan; interleave
    adds zero shuffle (each task zips two co-planned splits)."""
    from virapipe_spark import io as vio
    from virapipe_spark.pydatasource import FastqDataSource

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    stem = F.format_string("m%05d", F.col("doc_id"))

    def _mate(suffix: str, skey: str, qkey: str) -> DataFrame:
        return d.select(
            F.concat(stem, F.lit(suffix)).alias("key"),
            F.translate(
                F.substring(F.md5(F.concat(F.col("text"), F.lit(skey))), 1, 16)
                if skey
                else F.substring(F.md5("text"), 1, 16),
                _HEX,
                _DNA16,
            ).alias("sequence"),
            F.translate(
                F.substring(F.md5(F.concat(F.col("text"), F.lit(qkey))), 1, 16),
                _HEX,
                _QUAL16,
            ).alias("quality"),
        ).coalesce(1).sortWithinPartitions("key")

    out1 = vio.scratch_dir(spark, sf_dir, "fqds_m1")
    out2 = vio.scratch_dir(spark, sf_dir, "fqds_m2")
    vio.write_fastq(_mate("/1", "", "q1"), out1, mode="overwrite")
    vio.write_fastq(_mate("/2", "2", "q2"), out2, mode="overwrite")
    spark.dataSource.register(FastqDataSource)
    return (
        spark.read.format("fastq")
        .option("split_reads", 16)
        .option("paired", out2)
        .load(out1)
    )


# ---------------------------------------------------------------------------
# Round-12: the reference's FULL stage chain fed by the FASTQ datasource
# (file ingestion first, virapipe.sh:38 / DecompressInterleave.java:79-116
# — the prior virapipe_chain entry starts from parquet; this one starts
# from format("fastq") so the connector's split planning, stanza
# re-parse and '@'-stripping are INSIDE the hash-checked dataflow).
# ---------------------------------------------------------------------------


@query(
    "fastq_datasource_chain",
    oracle=f"""
    WITH recs AS (
      SELECT concat('s', CAST(doc_id % 6 AS VARCHAR), '_r',
                    lpad(CAST(doc_id AS VARCHAR), 5, '0')) AS key,
             translate(substr(md5(concat('seq', CAST(doc_id % 120 AS VARCHAR))),
                              1, 24), '{_HEX}', '{_DNA16}') AS sequence,
             translate(substr(md5(concat('q', CAST(doc_id AS VARCHAR))),
                              1, 24), '{_HEX}', '{_QUAL16}') AS quality
      FROM documents WHERE doc_id < 300
    ),
    q AS (
      SELECT * FROM recs
      WHERE list_avg(list_transform(generate_series(1, 24),
                                    g -> ascii(substr(quality, g, 1)))) > 77.5
    ),
    rep AS (SELECT min(key) AS key FROM q GROUP BY sequence),
    dq AS (SELECT q.key, q.sequence FROM q JOIN rep USING (key)),
    km AS (
      SELECT key, substr(sequence, g, 4) AS kmer
      FROM (SELECT key, sequence, unnest(generate_series(1, 21)) AS g
            FROM dq)
    ),
    band AS (SELECT min(key) AS rep_key FROM km GROUP BY kmer
             HAVING count(*) > 4 AND count(*) < 40),
    surviving AS (SELECT DISTINCT rep_key AS key FROM band)
    SELECT string_split(key, '_')[1] AS sample, count(*) AS n_reads,
           CAST(sum(len(sequence)) AS BIGINT) AS total_bases
    FROM dq JOIN surviving USING (key)
    GROUP BY sample
    """,
)
def fastq_datasource_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """virapipe_chain with the reference's MISSING FIRST STAGE: file
    ingestion. Deterministic md5-derived reads (120 distinct sequences
    across 300 reads, so dedup has real work; 6 sample groups encoded
    in the key) write through io.write_fastq, are read back via
    ``spark.read.format("fastq")`` (whole-stanza split planning,
    split_reads=16), and THEN flow through the reference's chain —
    average-quality filter (FastqFilter) -> exact dedup by sequence
    (first-per-key) -> k=4 digital-normalization coverage band
    (NormalizeRDD) -> per-sample rollup (FastqGroupper). The DuckDB
    oracle recomputes every stage relationally from ``documents``, so
    a record dropped/duplicated at a split seam, a stanza desync, or
    any stage-semantics drift breaks the hash (stage row counts at
    sf0.01: 300 -> 154 -> 98 -> 43 -> 5 groups).

    Scale: the chain stages carry the standalone entries' shapes
    (codegen quality predicate, hash-agg dedup, fused explode + partial
    agg, semi-joins); the INGEST stage is the Python-DataSource seam —
    split planning gives task parallelism, rows cross row-at-a-time
    (pydatasource.py module note: the JVM io.read_fastq is the
    data-plane path; this entry proves the connector's fidelity, not
    its throughput)."""
    from virapipe_spark import io as vio
    from virapipe_spark.pydatasource import FastqDataSource

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    recs = d.select(
        F.concat(
            F.lit("s"),
            (F.col("doc_id") % 6).cast("string"),
            F.lit("_r"),
            F.lpad(F.col("doc_id").cast("string"), 5, "0"),
        ).alias("key"),
        F.translate(
            F.substring(
                F.md5(F.concat(F.lit("seq"), (F.col("doc_id") % 120).cast("string"))),
                1,
                24,
            ),
            _HEX,
            _DNA16,
        ).alias("sequence"),
        F.translate(
            F.substring(
                F.md5(F.concat(F.lit("q"), F.col("doc_id").cast("string"))), 1, 24
            ),
            _HEX,
            _QUAL16,
        ).alias("quality"),
    )
    out = vio.scratch_dir(spark, sf_dir, "fqds_chain")
    vio.write_fastq(recs, out, mode="overwrite")
    spark.dataSource.register(FastqDataSource)
    reads = (
        spark.read.format("fastq")
        .option("split_reads", 16)
        .load(out)
        .select("key", "sequence", "quality")
    )
    # checkpoint the INGEST once: the chain's DAG consumes `reads` via
    # four plan paths (q, rep's q, km's dq, the final semi-join), and
    # Spark re-executes an uncached source per path — for a parquet
    # scan that's a cheap re-read, for the Python DataSource it's 4x
    # split-planning + Python-worker passes (measured 10s -> ~3s warm)
    reads = truncate_lineage(reads, reliable=True)
    q = reads.filter(vf.avg_quality("quality") > 77.5)
    rep = q.groupBy("sequence").agg(F.min("key").alias("key")).select("key")
    dq = q.join(rep, "key", "left_semi").select("key", "sequence")
    km = dq.select(
        "key",
        F.explode(F.sequence(F.lit(1), F.lit(21))).alias("g"),
        "sequence",
    ).select("key", F.expr("substring(sequence, g, 4)").alias("kmer"))
    surviving = (
        km.groupBy("kmer")
        .agg(F.count("*").alias("c"), F.min("key").alias("rep_key"))
        .filter((F.col("c") > 4) & (F.col("c") < 40))
        .select(F.col("rep_key").alias("key"))
        .distinct()
    )
    return (
        dq.join(surviving, "key", "left_semi")
        .withColumn("sample", F.split(F.col("key"), "_")[0])
        .groupBy("sample")
        .agg(
            F.count("*").alias("n_reads"),
            F.sum(F.length("sequence")).cast("long").alias("total_bases"),
        )
    )


@query(
    "synthetic_reads_scan",
    oracle="""
    SELECT CAST(i AS BIGINT) AS read_id,
           'synth.' || i AS name,
           translate(md5(CAST(i AS VARCHAR)), '0123456789abcdef',
                     'ACGTACGTACGTACGT') AS bases,
           list_reduce(
             list_transform(generate_series(0, 31),
                            j -> chr(CAST(33 + (i + j) % 40 AS INTEGER))),
             (a, b) -> a || b) AS quality
    FROM (SELECT unnest(generate_series(0, 199)) AS i)
    """,
    since=11,
)
def synthetic_reads_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORIGINAL custom Python DataSource (pydatasource.py's
    synthetic generator — schema declaration, InputPartition planning,
    per-task row materialization) under the driver's hash gate, not
    just pytest: 200 md5-derived reads over 8 planned partitions,
    every column recomputed relationally by DuckDB (translate(md5) for
    bases, a chr() fold for the rotating phred band). A partition-
    planning bug (dropped/duplicated range, off-by-one split bound)
    changes the row multiset and breaks the hash. Ignores ``sf_dir``
    by design — the source IS the generator (the oracle likewise reads
    generate_series, not a table).

    Scale: partition planning is the parallelism story (N planned
    ranges = N tasks); see the module docstring for the row-at-a-time
    Python-boundary caveat."""
    from virapipe_spark.pydatasource import SyntheticReadsDataSource

    spark.dataSource.register(SyntheticReadsDataSource)
    return (
        spark.read.format("synthetic_reads")
        .option("n", 200)
        .option("partitions", 8)
        .option("read_len", 32)
        .load()
    )
