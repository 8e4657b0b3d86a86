"""Training-data-pipeline extension operators (SURVEY.md §7.6).

First-class components for a 100 TB text/embedding corpus, over the
driver's ``documents`` and ``embeddings`` tables: exact + near
deduplication (content hash, n-gram Jaccard, MinHash-LSH, SimHash), text
analysis (stats, quality score, language-ID heuristic, token counting,
winnowing fingerprints), and similarity search (brute-force cosine top-k
baseline + LSH-bucketed variant).

Design rules used throughout:

- Every hash both engines must agree on is md5 (hex string) — never an
  engine-native hash (Spark xxhash64 and DuckDB hash() differ).
- MinHash signatures are lexicographic minima of md5 strings — a valid
  uniform permutation, with no bigint conversion to disagree on.
- Cosine similarity quantizes embeddings to integers (round(x*10000))
  so dot products and norms are EXACT integer arithmetic; the single
  final sqrt/divide is bit-identical across engines. Float reduction
  order can never flip a rank.
- All-pairs work is never emitted unblocked: Jaccard joins block on a
  shared shingle, LSH variants block on band/bucket keys. Scale notes
  per operator.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from virapipe_spark.catalog import query, table
from virapipe_spark.scale import spread_scan, truncate_lineage, two_phase_rank

# ---------------------------------------------------------------------------
# Shared shingle machinery (word 3-grams)
# ---------------------------------------------------------------------------

#: DuckDB CTE producing the distinct word-3-gram set per document.
_SHINGLES_SQL = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, concat(t[g], ' ', t[g+1], ' ', t[g+2]) AS s
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS g
            FROM toks)
    )
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-grams per doc (Spark mirror of _SHINGLES_SQL).

    The tokenization is projected into its own column BEFORE the gram
    lambda references it: inlined, the split expression is re-evaluated
    for each of the 3 element_at calls of every gram (O(tokens²) per
    doc — measured 5× slower at sf0.1)."""
    # r12: spread the raw (doc_id, text) rows BEFORE tokenizing so the
    # shingling map stage parallelizes on small single-split inputs
    # (spread_scan is a no-op at scale); repartitioning text, not the
    # wider token arrays, keeps the one bounded exchange narrow.
    d = spread_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
    t = F.col("__toks")
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda g: F.concat_ws(
                " ", F.element_at(t, g), F.element_at(t, g + 1), F.element_at(t, g + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select("doc_id", F.explode(grams).alias("s")).distinct()


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "docs_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper,
           count(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: group on md5(text), keep the min
    doc_id as the canonical copy. One hash aggregate; at 100 TB the
    shuffle carries (hash, id) pairs only — bytes ~ row count, not corpus
    size, because the hash is computed map-side in the scan stage."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


@query(
    "docs_ngram_jaccard",
    oracle=_SHINGLES_SQL
    + """
    , sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    """,
)
def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.5), blocked on a
    shared shingle — only docs with ≥1 common 3-gram ever meet.

    Scale: the block join explodes on ultra-frequent shingles; at corpus
    scale drop the top-percentile document-frequency shingles first (they
    carry no discriminative mass) or switch to docs_minhash_lsh, whose
    candidate volume is tunable by band shape. This entry is the exact
    oracle the LSH variant is measured against."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("common") / (F.col("sa.n") + F.col("sb.n") - F.col("common"))
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# MinHash-LSH: H hashes, banded into B bands of R rows (H = B*R).
_H, _R, _B = 16, 2, 8
_EST_THRESHOLD = 0.5


# Each 128-bit md5 is split into four 32-bit (8-hex-char) MinHash
# components: _H components cost _H/4 hash invocations per shingle, not
# _H. Fixed-width hex chunks keep lexicographic min == numeric min.
def _minhash_cols_sql() -> str:
    cols = []
    for j in range(1, _H + 1):
        i, k = (j - 1) // 4, (j - 1) % 4
        cols.append(f"min(substr(md5('{i}|' || s), {k * 8 + 1}, 8)) AS h{j}")
    return ",\n".join(cols)


def _bands_sql() -> str:
    selects = []
    for b in range(_B):
        parts = " || ".join(f"h{b * _R + r}" for r in range(1, _R + 1))
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS bk FROM mh"
        )
    return "\nUNION ALL\n".join(selects)


_MATCHES_SQL = " + ".join(
    f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)" for j in range(1, _H + 1)
)

_MINHASH_ORACLE = (
    _SHINGLES_SQL
    + f"""
    , mh AS (
      SELECT doc_id, {_minhash_cols_sql()}
      FROM sh GROUP BY doc_id
    ),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(({_MATCHES_SQL}) / {_H}.0, 4) AS est_jaccard
    FROM cand
    JOIN mh a ON doc_a = a.doc_id
    JOIN mh b ON doc_b = b.doc_id
    WHERE ({_MATCHES_SQL}) / {_H}.0 >= {_EST_THRESHOLD}
    """
)


def _minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    materialize: bool = True,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) near-dup pairs — shared by the pair
    query and the cluster resolver. ``docs`` overrides the corpus frame
    (default: the full documents table) so compositions can dedup a
    SUBSET — e.g. exact-dedup keepers (docs_near_dedup_after_exact) —
    with the subset filter applied BELOW the shingle explode, where a
    mass-duplicated corpus sheds its hot-bucket mass before any
    signature work happens.

    Round-4 plan shape (A/B-measured, tools/ab_minhash.py, SCALE.md):

    - **One shuffle to signatures.** The gram explode feeds
      groupBy(doc_id) directly with NO intermediate ``distinct``:
      duplicate grams can't change a min, so the dedup shuffle the
      Jaccard path needs (:func:`_shingles`) is pure overhead here.
      (A fully shuffle-free ``array_min``-projection variant was
      measured 5× SLOWER: higher-order array functions sit outside
      whole-stage codegen and defeat common-subexpression elimination,
      so the 16 minima each re-derived the md5 arrays. The codegen'd
      explode→partial-min path wins decisively.)
    - **Narrow band rows, join back for scoring.** Band rows carry only
      (doc_id, band, bk); distinct candidate pairs join back to the
      signature table for the two signature arrays. Round 3 instead rode
      the full 16-component signature (~128 B) on every band row ×2
      join sides — measured 6% slower at sf0.1 (2.61 s vs 2.47 s
      median-of-5): the band self-join + pair-dedup shuffles dominate,
      and widening their rows costs more than the two narrow join-backs
      save. The signature table is lazily truncate_lineage-d
      (``materialize=True``) so the three consumers (bands, both
      join-backs) share one computation; blocks free when the returned
      frame is unreferenced — no session-lifetime cache pinning.

    Shuffles: signature agg, band self-join, pair distinct, two
    join-backs (pair-sized, broadcastable at any dup rate ≪ corpus)."""
    mh, bands = _minhash_sig_bands(spark, sf_dir, materialize, docs=docs)
    sig = F.array(*[F.col(f"h{j}") for j in range(1, _H + 1)])
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        mh.select(F.col("doc_id").alias("doc_a"), sig.alias("sig_a")), "doc_a"
    ).join(mh.select(F.col("doc_id").alias("doc_b"), sig.alias("sig_b")), "doc_b")
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = matches / F.lit(float(_H))
    return pairs.filter(est >= _EST_THRESHOLD).select(
        "doc_a", "doc_b", F.round(est, 4).alias("est_jaccard")
    )


def _minhash_sig_bands(
    spark: SparkSession,
    sf_dir: str,
    materialize: bool = True,
    docs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared signature/band construction for the MinHash family —
    ``(mh, bands)`` where ``mh`` is the per-doc {_H}-component
    signature table and ``bands`` its narrow (doc_id, band, bk) band
    rows. Pure factoring of the round-4 A/B-measured shape documented
    in :func:`_minhash_pairs` (one-shuffle signature agg, narrow band
    rows, lazily checkpointed signature table). ``docs`` overrides the
    corpus frame — the default path is byte-identical to before the
    parameter existed."""
    if docs is None:
        docs = table(spark, sf_dir, "documents")
    # r12: the shingling + 16-md5-per-shingle signature map stage
    # inherits the scan's parallelism — spread small inputs (no-op at
    # scale; min-aggregates downstream are order-insensitive)
    d = spread_scan(docs.select("doc_id", "text")).select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    t = F.col("__toks")
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda g: F.concat_ws(
                " ", F.element_at(t, g), F.element_at(t, g + 1), F.element_at(t, g + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(grams).alias("s"))

    def h(j: int) -> Column:
        i, k = (j - 1) // 4, (j - 1) % 4
        return F.min(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("s"))), k * 8 + 1, 8)
        )

    mh = sh.groupBy("doc_id").agg(*[h(j).alias(f"h{j}") for j in range(1, _H + 1)])
    if materialize:
        mh = truncate_lineage(mh, eager=False)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"h{b * _R + r}") for r in range(1, _R + 1)])
                ).alias("bk"),
            )
            for b in range(_B)
        ]
    )
    bands = mh.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bk").alias("bk")
    )
    return mh, bands


@query("docs_minhash_lsh", oracle=_MINHASH_ORACLE)
def docs_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs — the scale path for deduplication.

    Pipeline: distinct shingles -> {_H}-component MinHash signature
    (components are fixed-width 32-bit chunks of {_H // 4} md5
    invocations — lexicographic min of a uniform hash IS a MinHash
    permutation, and hash-splitting buys {_H} permutations for
    {_H // 4} hash calls) -> {_B} bands x {_R} rows -> band-bucket
    self-join for candidates -> estimated Jaccard = matching signature
    fraction, thresholded at {_EST_THRESHOLD}.

    Scale: never forms unblocked pairs. Work = O(corpus) for signatures
    (one groupBy over shingles) + O(sum of bucket-size²) for candidates;
    band shape (B, R) tunes the candidate-probability curve
    1-(1-j^R)^B, so recall/cost trades off without touching the
    all-pairs cliff. Signature agg is {_H} min-aggregates in ONE shuffle
    pass, not {_H} passes."""
    return _minhash_pairs(spark, sf_dir)


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT src AS doc_id, min(node) AS cluster_id,
           (src = min(node)) AS keeper
    FROM reach GROUP BY src
"""


@query("docs_dedup_clusters", oracle=_CLUSTER_ORACLE)
def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution — pairs alone don't dedup a corpus;
    this turns the MinHash pair graph into connected components and
    elects one keeper per component (min doc_id). Output: every doc with
    its cluster id and keep/drop decision — the actual dedup verdict a
    training-data pipeline applies.

    Algorithm: min-label propagation to fixpoint. Each doc starts
    labeled with itself; each round every doc takes the min label among
    itself and its neighbors; converged when no label changes. The
    DuckDB oracle computes the same fixpoint via a recursive CTE
    (reachability closure -> min reachable id).

    Scale: delegated to graph.connected_components — one join + one
    min-aggregate per round, lineage checkpointed every 5 rounds so
    adversarial (high-diameter) graphs can't grow the plan unboundedly;
    full design notes in that module's docstring."""
    from virapipe_spark.graph import connected_components

    pairs = _minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(pairs, docs, node_col="doc_id")
    return labels.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keeper")
    )


# The composed oracle is the MinHash oracle with the corpus replaced by
# the exact-dedup keeper subset. Built by string surgery on the shared
# CTE so the two stay in lockstep; the assert fails at import if the
# _SHINGLES_SQL source line ever drifts and the replace goes dead.
_AFTER_EXACT_ORACLE = _MINHASH_ORACLE.replace(
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),",
    """WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    documents_k AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents_k),""",
)
assert "documents_k" in _AFTER_EXACT_ORACLE


@query("docs_near_dedup_after_exact", oracle=_AFTER_EXACT_ORACLE)
def docs_near_dedup_after_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape near-dedup: exact dedup FIRST, MinHash-LSH over
    the keepers only — the standard mitigation for the hot-bucket
    hazard the r12 skew smoke measured (SCALE.md skew tier: 30%
    identical docs put 1500 members in one band bucket and the pair
    stage emits 4,392× the uniform output; bucket-join work grows with
    Σ bucket², so a 10M-copy crawl dup would be fatal to the plain LSH
    entry at 100 TB).

    Exact copies collapse to one representative BEFORE any shingle is
    computed (the keeper semi-join sits below the shingle explode), so
    identical-content mass lands in a size-1 bucket and LSH spends its
    quadratic budget only on genuine NEAR-duplicates — the regime its
    band-shape tuning actually controls. Measured on the skew synth:
    output back to uniform scale, wall flat vs the uniform corpus.

    Keeper election = docs_exact_dedup's rule (min doc_id per md5);
    pair semantics/threshold = docs_minhash_lsh over the keeper corpus."""
    d = table(spark, sf_dir, "documents")
    keepers = (
        d.groupBy(F.md5(F.col("text")).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    docs_k = d.join(keepers, "doc_id")
    return _minhash_pairs(spark, sf_dir, docs=docs_k)


_SIMHASH_BITS = 32


def _simhash_oracle() -> str:
    bit_sums = ",\n".join(
        f"sum(CASE WHEN substr(md5(tok), {b}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{b}"
        for b in range(1, _SIMHASH_BITS + 1)
    )
    bits = " || ".join(
        f"(CASE WHEN s{b} > 0 THEN '1' ELSE '0' END)"
        for b in range(1, _SIMHASH_BITS + 1)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    sums AS (SELECT doc_id, {bit_sums} FROM toks GROUP BY doc_id)
    SELECT doc_id, {bits} AS simhash FROM sums
    """


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    md5t = F.md5(F.col("tok"))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring(md5t, b, 1).isin(*high), 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(1, _SIMHASH_BITS + 1)
        ]
    )
    bits = F.concat(
        *[
            F.when(F.col(f"s{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(1, _SIMHASH_BITS + 1)
        ]
    )
    return sums.select("doc_id", bits.alias("simhash"))


@query("docs_simhash", oracle=_simhash_oracle())
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signature ({_SIMHASH_BITS} bits): per token, each
    md5 hex digit's top bit votes +1/-1; the per-bit vote sign is the
    signature bit. Near-dups then cluster by signature prefix or Hamming
    distance on a banded join (same blocking idea as MinHash bands).
    One explode + one {_SIMHASH_BITS}-column hash aggregate — a single
    shuffle pass whose width is the bit count, independent of text size."""
    return _simhash_signatures(spark, sf_dir)


_SH_BANDS = 4  # 4 bands x 8 bits
_SH_MAX_HAMMING = 3  # pigeonhole: <=3 differing bits -> >=1 identical band


def _simhash_neardup_oracle() -> str:
    band_w = _SIMHASH_BITS // _SH_BANDS
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, substr(simhash, {b * band_w + 1}, {band_w}) AS bk FROM sims"
        for b in range(_SH_BANDS)
    )
    return f"""
    WITH sims AS ({_simhash_oracle()}),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b,
             len(list_filter(generate_series(1, {_SIMHASH_BITS}),
                             g -> substr(sa.simhash, g, 1) <> substr(sb.simhash, g, 1)))
               AS hamming
      FROM cand
      JOIN sims sa ON doc_a = sa.doc_id
      JOIN sims sb ON doc_b = sb.doc_id
    ) WHERE hamming <= {_SH_MAX_HAMMING}
    """


@query("docs_simhash_neardup", oracle=_simhash_neardup_oracle())
def docs_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded blocking + exact Hamming verify.
    {_SH_BANDS} bands x {_SIMHASH_BITS // _SH_BANDS} bits: by pigeonhole
    any pair within Hamming {_SH_MAX_HAMMING} shares at least one intact
    band, so the band join has EXACT recall at the threshold (unlike
    MinHash's probabilistic curve) — the classic Manku et al. simhash
    dedup layout.

    Scale: same blocked-join shape as the MinHash path — candidates
    only form inside band buckets; Hamming verification is a fixed
    {_SIMHASH_BITS}-char compare per candidate.

    Caveat (measured on the driver corpus): unweighted SimHash
    converges on template-heavy corpora — the bit votes are dominated
    by the shared vocabulary, so buckets bloat and low-Hamming pairs
    are mostly shared-template artifacts (probed: widening to 64 bits
    does not help, and IDF-weighting the votes trims only ~7% of
    pairs). Near-dup on such corpora should prefer the MinHash path,
    whose shingle sets still discriminate (25 pairs vs 4.4k here)."""
    sims = _simhash_signatures(spark, sf_dir)
    band_w = _SIMHASH_BITS // _SH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("simhash", b * band_w + 1, band_w).alias("bk"),
            )
            for b in range(_SH_BANDS)
        ]
    )
    bands = sims.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bk").alias("bk")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = sims.alias("sa"), sims.alias("sb")
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("sa.simhash"), ""),
                F.split(F.col("sb.simhash"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "in")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@query(
    "docs_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_types,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS ttr,
           round(list_avg(list_transform(toks, x -> len(x))), 4)
             AS avg_token_len,
           round(len(list_filter(toks, x -> x IN {_STOP_SQL}))
                 * 1.0 / len(toks), 4) AS stop_ratio
    FROM t
    """,
)
def docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics for corpus quality analysis: token
    count, type count, type-token ratio, mean token length, stopword
    ratio. Pure codegen array expressions inside the scan stage — zero
    shuffles, zero Python; at 100 TB this runs at scan speed."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    types = F.size(F.array_distinct(toks))
    avg_len = F.round(
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )
        / n,
        4,
    )
    stops = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        types.alias("n_types"),
        F.round(types / n.cast("double"), 4).alias("ttr"),
        avg_len.alias("avg_token_len"),
        F.round(stops / n.cast("double"), 4).alias("stop_ratio"),
    )


@query(
    "docs_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, n_chars,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stops,
             len(list_distinct(toks)) AS n_types
      FROM t
    )
    SELECT doc_id,
           CAST(n_types * (n_tokens - n_stops) * 10000
                // (n_tokens * n_tokens) AS BIGINT) AS quality_score_bp
    FROM scored
    WHERE n_tokens BETWEEN 20 AND 90
      AND n_stops * 10 < n_tokens * 4
      AND n_chars >= 100
    """,
)
def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate for training data: length band + stopword
    ceiling + a diversity score (type-token ratio damped by stopword
    mass). Same zero-shuffle projection shape as docs_text_stats."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    stops = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("long")
    types = F.size(F.array_distinct(toks)).cast("long")
    # Integer-exact score in basis points: ttr * (1 - stop_ratio) =
    # types*(n-stops)/n**2, scaled by 10000 and floor-divided — the
    # float formulation landed EXACTLY on a 4dp rounding tie at sf0.1
    # (798/1600 = 0.49875) where Spark's decimal-string HALF_UP and
    # DuckDB's binary multiply-round disagreed. Same change to the
    # stopword gate (n_stops/n < 0.4 -> n_stops*10 < n*4).
    return (
        d.filter(
            n.between(20, 90)
            & (stops * 10 < n * 4)
            & (F.col("n_chars") >= 100)
        )
        .select(
            "doc_id",
            F.floor((types * (n - stops) * 10000) / (n * n))
            .cast("long")
            .alias("quality_score_bp"),
        )
    )


@query(
    "docs_repetition_topgram",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
      FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2
    ),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
    a AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_grams
      FROM c GROUP BY 1
    )
    SELECT doc_id, top_cnt, n_grams,
           round(top_cnt * 1.0 / n_grams, 4) AS top_2gram_ratio,
           (top_cnt * 1.0 / n_grams <= 0.125) AS keep
    FROM a
    """,
)
def docs_repetition_topgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's
    2-grams claimed by its single most frequent 2-gram (Rae et al. 2021
    §A1.1 use top-n-gram coverage to drop boilerplate/degenerate text;
    keep = ratio ≤ 0.125, the order of their 2-gram cutoff).

    Shape: gram explode → (doc, gram) count → per-doc max/sum. Both
    aggregations are map-side-combinable hash aggs keyed by doc (never
    by gram alone), so shuffle volume is bounded by distinct (doc,
    gram) pairs and no hot gram concentrates a partition — the
    per-array alternative (count each gram inside the token array with
    higher-order functions) is zero-shuffle but O(n²) per row OUTSIDE
    codegen, which measured 5× slower in the MinHash A/B (SCALE.md);
    the explode stays fused with the scan."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    grams = d.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(toks) - 1), i -> concat(toks[i - 1], ' ', toks[i]))")
        ).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_grams")
    )
    ratio = F.col("top_cnt") / F.col("n_grams").cast("double")
    return per_doc.select(
        "doc_id",
        "top_cnt",
        "n_grams",
        F.round(ratio, 4).alias("top_2gram_ratio"),
        (ratio <= 0.125).alias("keep"),
    )


#: Shared PII patterns — RE2-compatible (no lookaround/backrefs), so the
#: Java-regex Spark side and the RE2 DuckDB side match identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"


@query(
    "docs_pii_scrub",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id,
             concat(text, ' reach user', doc_id, '@example.com or 555-',
                    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' now') AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INTEGER)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM injected
    """,
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails, phone numbers) — a standard
    pretraining-corpus compliance step. The synthetic corpus carries no
    PII, so each doc is first salted with a deterministic email+phone
    derived from doc_id; the operator then counts matches and replaces
    every occurrence with typed placeholder tags. Hash-checked on the
    md5 of the scrubbed text (the md5-hex payload trick: both engines
    hash the full string, the driver compares 32 hex chars), so a
    missed match, a partial replacement, or an engine regex divergence
    breaks the hash.

    Patterns are deliberately RE2-compatible (no lookaround) so Java
    regex (Spark) and RE2 (DuckDB) agree. Pure regexp projection inside
    the scan stage — zero shuffles, zero Python; at 100 TB this runs at
    scan speed like docs_text_stats."""
    d = table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(injected, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(injected, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(injected, F.lit(_PII_PHONE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


#: (lang, marker words) profiles for the language-ID vote. Deterministic
#: toy profiles — the *shape* (per-profile token votes, argmax with a
#: stable tiebreak) is the real n-gram-profile algorithm's.
_LANG_PROFILES = (
    ("en", ("the", "a", "of", "and", "value")),
    ("es", ("data", "row", "query", "table", "batch")),
    ("zh", ("spark", "window", "merge", "join", "stream")),
)


def _langid_oracle() -> str:
    votes = ",\n".join(
        "len(list_filter(toks, x -> x IN ("
        + ", ".join(f"'{w}'" for w in words)
        + f"))) AS v_{lang}"
        for lang, words in _LANG_PROFILES
    )
    langs = [lang for lang, _ in _LANG_PROFILES]
    greatest = f"greatest({', '.join('v_' + l for l in langs)})"
    pick = "CASE " + " ".join(
        f"WHEN v_{l} = {greatest} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    v AS (SELECT doc_id, {votes} FROM t)
    SELECT doc_id, {pick} AS pred_lang FROM v
    """


@query("docs_langid_vote", oracle=_langid_oracle())
def docs_langid_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-token vote (n-gram-profile heuristic shape:
    count profile hits per language, argmax with first-profile-wins
    tiebreak). Projection-only — no shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def _votes(words: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    votes = {lang: _votes(words) for lang, words in _LANG_PROFILES}
    top = F.greatest(*votes.values())
    # stable first-profile-wins argmax
    pred = F.when(votes[_LANG_PROFILES[0][0]] == top, F.lit(_LANG_PROFILES[0][0]))
    for lang, _ in _LANG_PROFILES[1:]:
        pred = pred.when(votes[lang] == top, F.lit(lang))
    return d.select("doc_id", pred.alias("pred_lang"))


@query(
    "docs_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
    FROM documents
    """,
)
def docs_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer (letter runs | digit runs | single other). Both JVM-side;
    regexp_count avoids materializing the match array."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias(
            "re_tokens"
        ),
    )


_FP_K = 8  # fingerprint k-gram length
_FP_W = 5  # winnowing window (k-grams per window)


@query(
    "docs_fingerprint_winnow",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, g AS pos, md5(substr(text, g, {_FP_K})) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {_FP_K - 1})) AS g
            FROM documents)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_FP_W - 1} FOLLOWING)
               AS fp
      FROM grams
    )
    SELECT doc_id, count(DISTINCT fp) AS n_fingerprints
    FROM wins GROUP BY doc_id
    """,
)
def docs_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm shape): hash
    all {_FP_K}-grams, keep the minimum hash of every {_FP_W}-gram
    window, count the distinct selected fingerprints. Guarantees any
    shared substring of length >= {_FP_K + _FP_W - 1} shares a
    fingerprint. The window partitions by doc — parallelism = doc count,
    no global sort.

    Gram rows come from position-explode (explode indices, then hash
    the substring) — building a per-row array of (pos, hash) structs
    first measures 2× slower and holds len-k structs per row in
    flight."""
    d = table(spark, sf_dir, "documents")
    n = F.length("text") - F.lit(_FP_K - 1)
    gdf = (
        d.filter(n > 0)
        .select("doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("pos"))
        .select(
            "doc_id",
            "pos",
            F.md5(F.expr(f"substring(text, pos, {_FP_K})")).alias("h"),
        )
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, _FP_W - 1)
    )
    return (
        gdf.select("doc_id", F.min("h").over(w).alias("fp"))
        .groupBy("doc_id")
        .agg(F.countDistinct("fp").alias("n_fingerprints"))
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 5
_QUANT = 10000  # int quantization: round(x * _QUANT)

#: Quantized-integer cosine (exact integer dot/norms; one final sqrt).
#: The CAST(x AS DOUBLE) before the multiply is load-bearing: DuckDB
#: otherwise multiplies in FLOAT32, where e.g. 0.10405 * 10000 lands
#: exactly on 1040.5 and rounds to 1041 while the double product
#: (1040.4999…) rounds to 1040 — the Spark side always computes in
#: double (caught by the r5 sf0.1 gate on embed_norm_quantize).
_Q_SQL = f"""
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT)) AS q
      FROM embeddings
"""
_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, len(a.q)), "
    "i -> a.q[i] * b.q[i]))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({s}.q, x -> x * x)))"


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized vectors with their norm PRECOMPUTED per vector — a
    norm evaluated inside the pair-scoring expression would re-reduce
    the 64-dim array once per CANDIDATE PAIR instead of once per
    vector (measured ~40% of pair-scoring cost)."""
    e = table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _QUANT).cast("long"),
    )
    qdf = e.select("vec_id", "label", q.alias("q"))
    qnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("q"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    return qdf.select("vec_id", "label", "q", qnorm.alias("qnorm"))


def _cosine(a: str, b: str) -> Column:
    dot = F.aggregate(
        F.zip_with(F.col(f"{a}.q"), F.col(f"{b}.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return dot.cast("double") / (F.col(f"{a}.qnorm") * F.col(f"{b}.qnorm"))


def _arrow_pair_dot(pairs: DataFrame) -> DataFrame:
    """Exact-int64 dot product per candidate pair, vectorized in numpy
    per Arrow batch (r13, VERDICT_r12 #5; the PQ-encode/Lloyd-argmin
    precedent, guide §4.2).

    Input: (vec_a, vec_b, qa, qb, na, nb) — one row per candidate
    pair. Output: the same rows with ``dot`` (long) replacing the two
    quantized arrays. The float work (divide by the norm product,
    round, threshold) stays OUTSIDE in the same Spark expressions the
    HOF form used, so bit-equality reduces to exact integer equality
    of the dot — int64 sums of int64 products reassociate freely, so
    numpy's row-wise multiply-sum is bit-equal to the zip_with/
    aggregate HOF (which ran ~2·dims interpreted lambda evals per
    PAIR, outside codegen)."""
    import pyarrow as pa

    def part(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            names = b.schema.names
            ia, ib = names.index("qa"), names.index("qb")
            ca, cb = b.column(ia), b.column(ib)
            if isinstance(ca, pa.ChunkedArray):
                ca = ca.combine_chunks()
            if isinstance(cb, pa.ChunkedArray):
                cb = cb.combine_chunks()
            Xa = ca.flatten().to_numpy(zero_copy_only=False).reshape(
                b.num_rows, -1
            )
            Xb = cb.flatten().to_numpy(zero_copy_only=False).reshape(
                b.num_rows, -1
            )
            dot = (Xa * Xb).sum(axis=1)
            keep = [i for i, n in enumerate(names) if n not in ("qa", "qb")]
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in keep] + [pa.array(dot, pa.int64())],
                names=[names[i] for i in keep] + ["dot"],
            )

    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in pairs.schema.fields
            if f.name not in ("qa", "qb")
        )
        + ", dot long"
    )
    return pairs.mapInArrow(part, out_schema)


@query(
    "embed_knn_bruteforce",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_DOT_SQL} /
                   ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                   6) AS cosine
      FROM q a JOIN q b ON a.vec_id < {_N_QUERIES}
                       AND b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def embed_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the exact-ANN baseline. Query side
    (vec_id < {_N_QUERIES}) is broadcast against the corpus; cosine is
    exact integer arithmetic on quantized vectors (see module doc), so
    ranking is reduction-order-proof.

    Scale: per-query cost is a full corpus scan — the right baseline,
    and the right *measure* for embed_knn_lsh's recall. The broadcast
    keeps it one shuffle-free stage followed by a top-k window over
    query_id (parallelism = query count; use more queries, not a global
    sort, to widen)."""
    qdf = _quantized(spark, sf_dir)
    queries = qdf.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    corpus = qdf.alias("b")
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.round(_cosine("a", "b"), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


# 1-indexed sign-sampled dimensions -> 64 buckets. Bucket count bounds
# BOTH candidate volume (sum of bucket²) and join parallelism (the
# bucket key is the shuffle key — 16 buckets capped the candidate join
# at 16 tasks, measured 4-16x slower than this 64-bucket keying).
_LSH_DIMS = (1, 9, 17, 25, 33, 41)


def _bucket_sql(alias: str) -> str:
    return " || ".join(
        f"(CASE WHEN {alias}.q[{d}] >= 0 THEN '1' ELSE '0' END)"
        for d in _LSH_DIMS
    )


@query(
    "embed_knn_lsh",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_DOT_SQL} /
                   ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                   6) AS cosine
      FROM q a JOIN q b
        ON a.vec_id < {_N_QUERIES}
       AND b.vec_id <> a.vec_id
       AND {_bucket_sql('a')} = {_bucket_sql('b')}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def embed_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — the scale path. Bit-sampling LSH:
    bucket key = sign bits of {len(_LSH_DIMS)} fixed dimensions
    ({2 ** len(_LSH_DIMS)} buckets); candidates only meet inside their
    bucket, then exact quantized cosine ranks them.

    Scale: candidate volume drops by ~the bucket count vs brute force;
    the bucket join is a plain equi-join Catalyst can shuffle-partition
    by bucket key (or broadcast the query side, as here). Recall is
    measured against embed_knn_bruteforce on the same queries; more
    bits/planes (IVF-style) sharpen buckets without changing the plan
    shape."""
    qdf = _quantized(spark, sf_dir)

    def bucket(side: str) -> Column:
        return F.concat(
            *[
                F.when(F.element_at(F.col(f"{side}.q"), d) >= 0, F.lit("1"))
                .otherwise(F.lit("0"))
                for d in _LSH_DIMS
            ]
        )

    queries = qdf.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    corpus = qdf.alias("b")
    scored = (
        F.broadcast(queries)
        .join(
            corpus,
            (F.col("a.vec_id") != F.col("b.vec_id"))
            & (bucket("a") == bucket("b")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.round(_cosine("a", "b"), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


_NEARDUP_COS = 0.35  # synthetic corpus has no true near-dups (max in-bucket
# cosine ≈ 0.49 at sf0.01); threshold tuned so the operator is exercised
# non-vacuously. Real corpora use ~0.95+.


@query(
    "embed_cosine_neardup",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    b AS (SELECT vec_id, q, {_bucket_sql('q')} AS bk
          FROM q q),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_DOT_SQL} /
                   ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                   6) AS cosine
      FROM b a JOIN b b
        ON a.bk = b.bk AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {_NEARDUP_COS}
    """,
)
def embed_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup family's vector
    flavor (exact hash / MinHash / SimHash / n-gram Jaccard / THIS).
    Candidates block on the same sign-bit LSH bucket as embed_knn_lsh,
    then exact quantized cosine decides; emits (vec_a, vec_b, cosine)
    pairs above threshold.

    Scale: the bucket key is a plain equi-join key, so Catalyst shuffles
    both sides by bucket — work is sum(bucket²), never corpus². More
    sign bits shrink buckets geometrically; multi-probe (OR of several
    bucket keyings, one union) recovers recall, all without changing the
    plan shape."""
    qdf = _quantized(spark, sf_dir)

    def bucket(side: str) -> Column:
        return F.concat(
            *[
                F.when(F.element_at(F.col(f"{side}.q"), d) >= 0, F.lit("1"))
                .otherwise(F.lit("0"))
                for d in _LSH_DIMS
            ]
        )

    a = qdf.alias("a")
    b = qdf.alias("b")
    # r13 NEGATIVE experiment (VERDICT_r12 #5, tools/ab_pair_dot.py):
    # routing this verify through _arrow_pair_dot measured SLOWER by
    # interleaved A/B x7 at sf0.1 (HOF median 2.08 s vs Arrow 2.47 s,
    # every order statistic higher) — the sign-bucket blocking leaves
    # FEW candidate pairs, so the Python-boundary round trip costs
    # more than the ~2·dims interpreted lambda evals it removes. The
    # HOF stays here; embed_semdedup_verdicts (cell-sized candidate
    # volume, ~250k pairs) took the Arrow pass with a 1.84x win.
    return (
        a.join(
            b,
            (bucket("a") == bucket("b"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(_cosine("a", "b"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEARDUP_COS)
    )


# IVF: coarse quantizer with _IVF_C deterministic centroids (the first C
# corpus vectors — a fixed "training" both engines share), _IVF_PROBE
# probed cells per query.
_IVF_C = 8
_IVF_PROBE = 2


def _ivf_assign_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF coarse assignment, PRE-checkpoint: every vector ranked
    against the _IVF_C broadcast centroids, kept to crn<=nprobe. Module
    level so tests/test_scale_plans.py asserts the broadcast property on
    the PRODUCTION pipeline (the checkpoint in embed_knn_ivf truncates
    the visible plan at a Scan ExistingRDD, hiding the join strategy).

    r12 (guide §2.4): the centroid table rides as ONE broadcast row
    holding the (cid, cq) struct array, and the per-vector top-nprobe
    is computed IN the map stage — score all C centroids with a
    ``transform``, ``array_sort`` the (-dot, cid) structs (identical
    ordering to the old ``row_number() OVER (ORDER BY dot DESC, cid)``
    tie-break), slice nprobe, posexplode. The old shape crossJoined C
    centroid ROWS (inflating the corpus C-fold) and then paid a
    corpus-sized Exchange + Sort + Window on vec_id to rank them —
    a full shuffle of every (64-long q, C candidates) row that at
    100 TB re-moves the entire corpus once per consumer. Same
    compute bound (C dots per vector), zero shuffle."""
    qdf = _quantized(spark, sf_dir)
    cent_arr = (
        qdf.filter(F.col("vec_id") < _IVF_C)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
        .agg(F.array_sort(F.collect_list(F.struct("cid", "cq"))).alias("cents"))
    )
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (
                -F.aggregate(
                    F.zip_with(F.col("q"), c["cq"], lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
            ).alias("nd"),
            c["cid"].alias("cid"),
        ),
    )
    top = F.slice(F.array_sort(scored), 1, max(_IVF_PROBE, 1))
    return (
        qdf.crossJoin(F.broadcast(cent_arr))
        .select(
            "vec_id",
            "q",
            "qnorm",
            F.posexplode(top).alias("pos", "t"),
        )
        .select(
            "vec_id",
            "q",
            "qnorm",
            F.col("t.cid").alias("cid"),
            (F.col("pos") + 1).alias("crn"),
        )
    )


@query(
    "embed_knn_ivf",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    cent AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < {_IVF_C}),
    assign_scored AS (
      SELECT v.vec_id, v.q, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_sum(list_transform(generate_series(1, len(v.q)),
                                                i -> v.q[i] * c.cq[i])) DESC,
                        c.cid
             ) AS crn
      FROM q v CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, q, cid FROM assign_scored WHERE crn = 1),
    probes AS (SELECT vec_id, q, cid FROM assign_scored
               WHERE vec_id < {_N_QUERIES} AND crn <= {_IVF_PROBE}),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_DOT_SQL} /
                   ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                   6) AS cosine
      FROM probes a JOIN assign b
        ON a.cid = b.cid AND b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def embed_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k — the cell-probed scale path beside
    embed_knn_lsh. Coarse quantizer: {_IVF_C} centroids (deterministic:
    the first {_IVF_C} corpus vectors, so DuckDB and Spark share the
    same "training"); every vector joins its argmax-dot cell; queries
    probe their {_IVF_PROBE} best cells and rank candidates by exact
    quantized cosine.

    Scale: assignment is a broadcast of C centroid rows against the
    corpus — one narrow pass, no shuffle of the corpus (the canonical
    IVF build). The candidate join keys on cell id — an equi-join the
    planner shuffles by cell; probe count and C tune recall vs cost
    (nprobe/nlist in FAISS terms). Real deployments train centroids
    with k-means (embed_kmeans_lloyd is the trainer here) and store
    cell id as a partition column so probes prune files; the plan shape
    is identical."""
    return _ivf_topk(spark, sf_dir, mode=_IVF_MAT)


#: How embed_knn_ivf materializes the shared coarse assignment — set by
#: measurement (tools/ab_ivf.py, SCALE.md §IVF): "checkpoint"
#: (localCheckpoint(eager=False)), "persist" (StorageLevel default), or
#: "none" (recompute per consumer). Deciding rationale is FAULT
#: TOLERANCE: localCheckpoint is non-reliable (a lost executor makes
#: the RDD unrecoverable on a real cluster) while the recomputed
#: assignment is a deterministic zero-shuffle broadcast projection, so
#: the duplicate work is two parallel pruned scans. The r05 interleaved
#: A/B at sf0.1 (none 0.770 s, checkpoint 0.897 s, persist 0.921 s)
#: showed recompute is at least not slower — the deltas sit inside this
#: VM's documented noise band (SCALE.md), so they corroborate rather
#: than decide.
_IVF_MAT = "none"


def _ivf_topk(spark: SparkSession, sf_dir: str, mode: str = "checkpoint") -> DataFrame:
    """embed_knn_ivf's body with a pluggable materialization strategy for
    the shared assignment, so tools/ab_ivf.py A/Bs the PRODUCTION
    pipeline (precedent: _minhash_pairs(materialize=...)).

    Why materialize at all: the ranked assignment feeds BOTH the
    cell-assignment branch (crn=1) and the query-probe branch
    (crn<=nprobe); unmaterialized, the centroid crossJoin + per-vector
    window runs once per consumer (plan showed 2 BNLJ). Filtered to
    crn<=nprobe first so it holds nprobe rows/vector, not C. Checkpoint
    vs persist trade-off: a catalog callable can't unpersist after its
    caller's action, so persist pins cache for the session per
    invocation (bench reps accumulated "already cached" warnings in
    r03); checkpoint blocks are freed by the ContextCleaner once the
    returned DataFrame is unreferenced, but pay a partition
    serialization on first materialization."""
    assign_scored = _ivf_assign_scored(spark, sf_dir)
    if mode == "checkpoint":
        assign_scored = truncate_lineage(assign_scored, eager=False)
    elif mode == "persist":
        assign_scored = assign_scored.persist()
    elif mode != "none":
        raise ValueError(f"unknown IVF materialization mode: {mode!r}")
    assign = assign_scored.filter(F.col("crn") == 1).select(
        "vec_id", "q", "qnorm", "cid"
    )
    probes = assign_scored.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("crn") <= _IVF_PROBE)
    ).select("vec_id", "q", "qnorm", "cid")
    # explicit hint (guide §3.1): probes is N_QUERIES x nprobe rows by
    # construction, but the r12 array-form assignment puts a
    # Generate+BNLJ above the scan and Catalyst's size estimate blows
    # up — without the hint the candidate join planned as a SortMergeJoin
    # that shuffled the CORPUS side by cid
    probes = F.broadcast(probes)
    a, b = probes.alias("a"), assign.alias("b")
    scored = a.join(
        b, (F.col("a.cid") == F.col("b.cid")) & (F.col("b.vec_id") != F.col("a.vec_id"))
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(_cosine("a", "b"), 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


# Lloyd's k-means over the quantized embeddings: _KM_C clusters, 2
# unrolled iterations. Integer-exact end to end — quantized inputs,
# integer squared-L2 distances, and centroid means re-quantized to
# integers via one exact-IEEE division + round — so Spark and DuckDB
# agree bit-for-bit with no float-summation-order risk.
_KM_C = 8

_KM_ORACLE_HEAD = f"""
    WITH e AS ({_Q_SQL}),
    el AS (SELECT vec_id, u.i AS pos, e.q[u.i] AS v
           FROM e, UNNEST(generate_series(1, len(e.q))) AS u(i)),
    c0 AS (SELECT vec_id AS cid, pos, v AS cv FROM el WHERE vec_id < {_KM_C})
"""


def _km_oracle_round(src: str, cent: str, n: int) -> str:
    """One Lloyd iteration in SQL: assign ``src`` against ``cent``,
    then recompute integer centroids."""
    return f"""
    d{n} AS (SELECT el.vec_id, c.cid,
                    sum((el.v - c.cv) * (el.v - c.cv)) AS dist
             FROM {src} el JOIN {cent} c ON el.pos = c.pos
             GROUP BY el.vec_id, c.cid),
    a{n} AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rn
               FROM d{n}) WHERE rn = 1),
    c{n} AS (SELECT a.cid, el.pos,
                    CAST(round(CAST(sum(el.v) AS DOUBLE) / count(*)) AS BIGINT)
                      AS cv
             FROM a{n} a JOIN el ON a.vec_id = el.vec_id
             GROUP BY a.cid, el.pos)
    """


@query(
    "embed_kmeans_lloyd",
    oracle=_KM_ORACLE_HEAD
    + ","
    + _km_oracle_round("el", "c0", 1)
    + ","
    + _km_oracle_round("el", "c1", 2)
    + f""",
    d3 AS (SELECT el.vec_id, c.cid,
                  sum((el.v - c.cv) * (el.v - c.cv)) AS dist
           FROM el JOIN c2 c ON el.pos = c.pos
           GROUP BY el.vec_id, c.cid),
    a3 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn
             FROM d3) WHERE rn = 1),
    cn AS (SELECT cid, sum(cv * cv) AS norm2 FROM c2 GROUP BY cid)
    SELECT a3.cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(a3.vec_id) AS BIGINT) AS sum_vec_id,
           CAST(max(cn.norm2) AS BIGINT) AS c_norm2
    FROM a3 JOIN cn ON a3.cid = cn.cid
    GROUP BY a3.cid
    """,
)
def embed_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (C={_KM_C}, 2 unrolled iterations + final
    assignment) — the iterative-algorithm capability the IVF coarse
    quantizer points at ("real deployments train centroids with
    k-means"): seeds = the first C corpus vectors, then
    assign→update→assign→update→assign, reporting per-cluster size,
    member-id sum, and centroid norm.

    Integer-exact cross-engine determinism: inputs are the quantized
    long vectors the ANN family shares; squared-L2 distances are exact
    integer sums (order-independent, no float eps); the only division —
    the centroid mean — divides an EXACT integer sum by an exact count
    in one IEEE op and re-quantizes with round(), so both engines
    derive bit-identical centroids, and argmin ties (exact, integer)
    break on min cid in both.

    Scale shape: ASSIGNMENT IS A ZERO-SHUFFLE PASS — the C centroids
    are collected once per iteration (C×dims longs, control-plane
    sized — the PQ-codebook pattern) and each task argmins its own
    Arrow batches with exact-int64 numpy (r12; previously a per-row
    interpreted-HOF array_min, same semantics, ~1k lambda evaluations
    per row outside codegen — see _lloyd_train_assign); no N×C row
    explosion, no per-vector window shuffle (the relational
    alternative shuffles N×C rows per iteration — the oracle computes
    that way precisely because DuckDB is single-node). The UPDATE
    shuffles only (cid, pos) partial sums — C×dims rows regardless of
    corpus size, map-side combined, and keeps Spark's F.round mean
    semantics bit-identical across the rewrite."""
    final, c2_tbl = _lloyd_train_assign(spark, sf_dir)
    norms = c2_tbl.select(
        "cid",
        F.aggregate(
            F.transform("c", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("c_norm2"),
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .join(norms, "cid")
        .select("cid", "n_members", "sum_vec_id", "c_norm2")
    )


def _lloyd_train_assign(spark: SparkSession, sf_dir: str):
    """The Lloyd construction shared by `embed_kmeans_lloyd` (cluster
    stats) and `embed_cluster_purity` (label agreement): returns
    (final assignment (vec_id, q, cid), trained centroid table
    (cid, c)). Plan shape documented on the catalog entry.

    r12 (guide §4.2, the embed_knn_pq encode precedent): the argmin
    ASSIGNMENT ran as interpreted HOFs — per row, C=`_KM_C` structs of
    zip_with+aggregate over the 64 dims (~1k lambda evaluations outside
    whole-stage codegen), three times (two training passes + the final
    assignment). Each pass is now a `mapInArrow` task-local numpy
    argmin over exact int64 squared-L2 against the driver-collected
    centroid table (C×dims longs — control-plane-sized, the PQ-codebook
    collect pattern). `np.argmin`'s first-minimum over cid-ascending
    centroids reproduces the old `array_min(struct(dist, cid))`
    tie-break exactly. The UPDATE (the only non-integer step: the
    rounded mean) stays in Spark untouched, so `F.round`'s HALF_UP
    double semantics — and therefore every trained centroid — are
    bit-identical to the previous form; the collected `c2` rows are
    re-wrapped as a literal 8-row DataFrame so the norm consumer reads
    values, not lineage. Bit-equality twin:
    tests/test_recall.py::test_arrow_lloyd_assign_bit_equals_hof."""
    qdf = _quantized(spark, sf_dir).select("vec_id", "q")

    def update(assigned: DataFrame) -> DataFrame:
        lf = assigned.select("cid", F.posexplode("q").alias("pos", "v"))
        cm = lf.groupBy("cid", "pos").agg(
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cv")
        )
        return cm.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("c")
        )

    def assign(cents: list[tuple[int, list[int]]]) -> DataFrame:
        """Corpus pass: exact-int64 numpy argmin per Arrow batch
        against the collected (cid-ascending) centroid list."""
        cids = [cid for cid, _ in cents]
        mat = [vec for _, vec in cents]

        def fn(batches):
            import numpy as np
            import pyarrow as pa

            C = np.asarray(mat, dtype=np.int64)  # (C, dims)
            ids = np.asarray(cids, dtype=np.int64)
            for b in batches:
                n = b.num_rows
                if not n:
                    continue
                qcol = b.column(b.schema.get_field_index("q"))
                if isinstance(qcol, pa.ChunkedArray):
                    qcol = qcol.combine_chunks()
                X = (
                    qcol.flatten()
                    .to_numpy(zero_copy_only=False)
                    .reshape(n, -1)
                )
                d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                cid = ids[np.argmin(d2, axis=1)]
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(b.schema.get_field_index("vec_id")),
                        qcol,
                        pa.array(cid, pa.int64()),
                    ],
                    names=["vec_id", "q", "cid"],
                )

        return qdf.mapInArrow(fn, "vec_id long, q array<long>, cid long")

    def cent_list(rows) -> list[tuple[int, list[int]]]:
        return sorted(
            (int(r["cid"]), [int(x) for x in r["c"]]) for r in rows
        )

    c0 = cent_list(
        qdf.filter(F.col("vec_id") < _KM_C)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("c"))
        .collect()
    )
    c1 = cent_list(update(assign(c0)).collect())
    c2 = cent_list(update(assign(c1)).collect())
    c2_tbl = spark.createDataFrame(
        [(cid, vec) for cid, vec in c2], schema="cid long, c array<long>"
    )
    final = assign(c2)
    return final, c2_tbl


@query(
    "docs_hash_split",
    oracle="""
    SELECT split, count(*) AS n, min(doc_id) AS first_doc
    FROM (
      SELECT doc_id,
             CASE WHEN (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) >= 97
                             THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87
                             ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48
                        END) < 13 THEN 'train'
                  WHEN (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) >= 97
                             THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87
                             ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48
                        END) < 14 THEN 'val'
                  ELSE 'test'
             END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def docs_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-independent hash —
    how a 100 TB pipeline splits (reproducible across runs and engines,
    no sampling state, no shuffle): first md5 hex digit of the doc id
    buckets into 16ths -> 13/1/2 ≈ 81/6/13%.

    Scale: a pure projection the scan stage evaluates; each split
    materializes via a pushed-down filter on the same expression —
    partition-prunable if the split digit is stored as a column."""
    d = table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    nib = F.when(
        F.ascii(digit) >= 97, F.ascii(digit) - 87
    ).otherwise(F.ascii(digit) - 48)
    split = (
        F.when(nib < 13, F.lit("train"))
        .when(nib < 14, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
    )


_BENCH_DOCS = 10  # doc_id < 10 stand in for the benchmark/eval corpus


@query(
    "docs_decontaminate",
    oracle=_SHINGLES_SQL
    + f"""
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id >= {_BENCH_DOCS}
      AND NOT EXISTS (
        SELECT 1 FROM sh t
        JOIN sh b ON t.s = b.s AND b.doc_id < {_BENCH_DOCS}
        WHERE t.doc_id = d.doc_id
      )
    """,
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training doc sharing at
    least one 3-gram shingle with the benchmark set (here: doc_id <
    {_BENCH_DOCS} stands in for the eval corpus). The dual of dedup —
    overlap against a REFERENCE set, removing eval leakage from
    training data.

    Scale: benchmark shingles are a small set -> broadcast anti-join
    (left_anti on the shared shingle), so the corpus streams through
    one shuffle-free stage. A fixed benchmark's shingle set is
    precomputed once and reused across every corpus snapshot."""
    sh = _shingles(spark, sf_dir)
    bench_shingles = sh.filter(F.col("doc_id") < _BENCH_DOCS).select("s").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") >= _BENCH_DOCS)
        .join(F.broadcast(bench_shingles), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") >= _BENCH_DOCS)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )


def _probe_buckets_sql() -> str:
    """Query-side probe set: exact bucket + each 1-bit-flip variant."""
    def bucket_with_flip(flip: int) -> str:
        parts = []
        for i, d in enumerate(_LSH_DIMS):
            bit = f"(CASE WHEN q.q[{d}] >= 0 THEN '1' ELSE '0' END)"
            if i == flip:
                bit = f"(CASE WHEN q.q[{d}] >= 0 THEN '0' ELSE '1' END)"
            parts.append(bit)
        return " || ".join(parts)

    selects = [
        f"SELECT vec_id, q, {bucket_with_flip(-1)} AS bk FROM q q WHERE vec_id < {_N_QUERIES}"
    ]
    for i in range(len(_LSH_DIMS)):
        selects.append(
            f"SELECT vec_id, q, {bucket_with_flip(i)} AS bk FROM q q WHERE vec_id < {_N_QUERIES}"
        )
    return "\nUNION ALL\n".join(selects)


@query(
    "embed_knn_multiprobe",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    corpus AS (SELECT vec_id, q, {_bucket_sql('q')} AS bk FROM q q),
    probes AS ({_probe_buckets_sql()}),
    scored AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_DOT_SQL} /
                   ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                   6) AS cosine
      FROM probes a JOIN corpus b
        ON a.bk = b.bk AND b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def embed_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS the
    {len(_LSH_DIMS)} Hamming-1 neighbor buckets (one sign bit flipped) —
    the standard recall knob (Lv et al., multi-probe LSH): near-misses
    that fell one hyperplane to the other side come back as candidates
    WITHOUT rebucketing or duplicating the corpus.

    Scale: the probe expansion multiplies only the (tiny, broadcast)
    query side x(1+bits); the corpus keeps exactly one bucket row each.
    Candidate volume ≈ (probes x avg bucket); recall approaches
    brute-force as probes grow, plan shape unchanged."""
    qdf = _quantized(spark, sf_dir)

    def corpus_bucket() -> Column:
        return F.concat(
            *[
                F.when(F.element_at(F.col("q"), d) >= 0, F.lit("1"))
                .otherwise(F.lit("0"))
                for d in _LSH_DIMS
            ]
        )

    def probe_bucket(flip: int) -> Column:
        bits = []
        for i, d in enumerate(_LSH_DIMS):
            pos = F.element_at(F.col("q"), d) >= 0
            one = F.when(pos, F.lit("1")).otherwise(F.lit("0"))
            flipped = F.when(pos, F.lit("0")).otherwise(F.lit("1"))
            bits.append(flipped if i == flip else one)
        return F.concat(*bits)

    queries = qdf.filter(F.col("vec_id") < _N_QUERIES)
    probe_set = F.array(
        *[probe_bucket(i) for i in range(-1, len(_LSH_DIMS))]
    )
    probes = queries.select(
        "vec_id", "q", "qnorm", F.explode(probe_set).alias("bk")
    ).alias("a")
    corpus = qdf.select(
        "vec_id", "q", "qnorm", corpus_bucket().alias("bk")
    ).alias("b")
    scored = (
        F.broadcast(probes)
        .join(
            corpus,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.round(_cosine("a", "b"), 6).alias("cosine"),
        )
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


# Per-language sampling fractions (16ths of the md5-nibble space): cap
# the dominant language, keep the tail whole — the standard corpus
# rebalancing move.
_STRATA = {"en": 8, "zh": 16, "es": 16, "de": 16, "fr": 16}
_STRATA_SQL = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {frac}" for lang, frac in _STRATA.items()
) + " ELSE 0 END"


@query(
    "docs_stratified_sample",
    oracle=f"""
    SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc
    FROM (
      SELECT lang, doc_id,
             (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) >= 97
                   THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87
                   ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48
              END) AS nib
      FROM documents
    )
    WHERE nib < ({_STRATA_SQL})
    GROUP BY lang
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep fractions
    (en downsampled to 1/2, tail languages kept whole) decided by the
    same content-independent hash nibble as docs_hash_split — the
    reproducible analog of ``df.sampleBy`` (whose RNG sampling can't be
    mirrored across engines or runs).

    Scale: a projection-stage filter — no shuffle, no sampling state,
    identical keep-set on every run and engine; rebalancing a 100 TB
    corpus is one scan."""
    d = table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    nib = F.when(F.ascii(digit) >= 97, F.ascii(digit) - 87).otherwise(
        F.ascii(digit) - 48
    )
    frac = F.lit(0)
    for lang, f_ in _STRATA.items():
        frac = F.when(F.col("lang") == lang, F.lit(f_)).otherwise(frac)
    return (
        d.filter(nib < frac)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "events_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'click') AS first_click,
             min(ts) FILTER (event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(first_click) AS n_clicked,
           count(*) FILTER (
             first_click IS NOT NULL AND first_purchase IS NOT NULL
             AND first_purchase > first_click
             AND first_purchase <= first_click + INTERVAL 1 DAY
           ) AS n_converted
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users whose first purchase follows their first
    click within 24h — the sequence-detection shape (Spark has no
    MATCH_RECOGNIZE; first-event-per-stage conditional aggregation is
    the scalable formulation: ONE shuffle on user_id, state = two
    timestamps per user, never a per-user event sort)."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = (
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_click"))
        & (
            F.col("first_purchase")
            <= F.col("first_click") + F.expr("INTERVAL 1 DAY")
        )
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_click").alias("n_clicked"),
        F.count(F.when(converted, 1)).alias("n_converted"),
    )


_KEEPERS_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    keepers AS (
      SELECT src AS doc_id FROM reach GROUP BY src HAVING src = min(node)
    )
    SELECT d.doc_id, d.n_chars
    FROM documents d JOIN keepers USING (doc_id)
"""


@query("docs_dedup_apply", oracle=_KEEPERS_ORACLE)
def docs_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup verdict APPLIED — the cleaned corpus a training
    pipeline actually trains on: resolve near-dup clusters
    (docs_dedup_clusters), keep one representative per cluster, semi-join
    the corpus down to the keepers. Completes the dedup story
    end-to-end: pairs -> clusters -> verdicts -> filtered corpus.

    Scale: the keeper list is one row per doc id (ids only, no
    payloads); the final semi-join shuffles on doc_id and prunes every
    non-kept payload at the scan (semi-join pushes no payload columns
    through the join). At 100 TB materialize the keeper list once and
    reuse it across downstream jobs instead of re-deriving per query."""
    from virapipe_spark.graph import connected_components

    pairs = _minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    docs = table(spark, sf_dir, "documents")
    labels = connected_components(pairs, docs.select("doc_id"), node_col="doc_id")
    keepers = labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return docs.join(keepers, "doc_id", "left_semi").select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# Round-5 additions: boilerplate coverage, length distribution, LM-style
# char-gram commonness
# ---------------------------------------------------------------------------

#: A word 3-gram is "boilerplate" when it appears in at least this many
#: distinct documents (CCNet / RefinedWeb drop lines shared across
#: documents; with no line structure in the corpus the shared-span
#: analog is the cross-document n-gram).
_BOILER_MIN_DOCS = 5


@query(
    "docs_boilerplate_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, g AS pos,
             concat_ws(' ', t[g], t[g+1], t[g+2]) AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(g)
      WHERE len(t) >= 3
    ),
    boiler AS (
      SELECT gram FROM grams
      GROUP BY gram HAVING count(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, p.tp
      FROM grams g JOIN boiler b USING (gram),
           UNNEST(generate_series(g.pos, g.pos + 2)) AS p(tp)
    ),
    ncov AS (SELECT doc_id, count(*) AS n_boiler FROM cov GROUP BY doc_id),
    tot AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(n.n_boiler, 0) AS BIGINT) AS n_boiler_tokens,
           round(coalesce(n.n_boiler, 0) / CAST(t.n_tokens AS DOUBLE), 4)
             AS boiler_ratio,
           (coalesce(n.n_boiler, 0) <= 0.3 * t.n_tokens) AS keep
    FROM tot t LEFT JOIN ncov n USING (doc_id)
    """,
)
def docs_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate coverage — the line-dedup signal of
    CCNet (Wenzek et al. 2020) / RefinedWeb (Penedo et al. 2023)
    re-expressed for unstructured text: a word 3-gram appearing in
    >= _BOILER_MIN_DOCS distinct documents is boilerplate; each
    document reports how many of its token positions are covered by at
    least one boilerplate gram and keeps iff coverage <= 30%.

    Shape: gram explode (fused with the scan) -> distinct-doc count per
    gram (map-side combinable, keyed by gram) -> equi-join back on gram
    -> position explode -> distinct (doc, pos) -> per-doc count. Every
    pairing blocks on the gram equi-join; shuffle volume is bounded by
    distinct (doc, gram) pairs, never doc-pairs. The keep verdict is an
    integer comparison (n_boiler <= 0.3 * n_tokens) so no float
    boundary can flip it cross-engine."""
    # r12: spread small inputs before the gram-explode map stage (see
    # spread_scan); counts/distinct downstream are order-insensitive
    d = spread_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    grams = d.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))"
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    boiler = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILER_MIN_DOCS)
        .select("gram")
    )
    covered = (
        grams.join(boiler, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 2)).alias("tp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler_tokens"))
    )
    tot = d.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    nb = F.coalesce(F.col("n_boiler_tokens"), F.lit(0)).cast("long")
    return tot.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        nb.alias("n_boiler_tokens"),
        F.round(nb / F.col("n_tokens").cast("double"), 4).alias("boiler_ratio"),
        (nb * 10 <= F.col("n_tokens") * 3).alias("keep"),
    )


@query(
    "docs_length_percentiles",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 4) AS p25,
           round(quantile_cont(n_chars, 0.50), 4) AS p50,
           round(quantile_cont(n_chars, 0.75), 4) AS p75,
           round(quantile_cont(n_chars, 0.95), 4) AS p95
    FROM documents GROUP BY lang
    """,
)
def docs_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution — the corpus-profiling
    aggregate behind every length-cutoff decision in a data pipeline
    (Gopher drops docs outside [50, 100k] tokens; choosing those bounds
    starts from exactly this query).

    Exact linear-interpolated percentiles (Spark `percentile`, DuckDB
    `quantile_cont` — the same definition), grouped by the
    low-cardinality lang key: one map-side-combinable shuffle keyed by
    lang. Spark's exact percentile buffers per-group values — fine for
    a bounded profile dimension like language (the full corpus profile
    at 100 TB would swap in approx_percentile, whose t-digest merge is
    the scale path; the exact form is kept here because the oracle gate
    hash-compares values)."""
    d = table(spark, sf_dir, "documents")
    pcts = F.percentile(F.col("n_chars"), F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]))
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), pcts.alias("__p"))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("__p")[0], 4).alias("p25"),
            F.round(F.col("__p")[1], 4).alias("p50"),
            F.round(F.col("__p")[2], 4).alias("p75"),
            F.round(F.col("__p")[3], 4).alias("p95"),
        )
    )


@query(
    "docs_chargram_commonness",
    oracle="""
    WITH g AS (
      SELECT doc_id, substr(text, p, 3) AS gram
      FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS u(p)
      WHERE length(text) >= 3
    ),
    lm AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
    scored AS (
      SELECT g.doc_id, lm.cnt
      FROM g JOIN lm USING (gram)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(min(cnt) AS BIGINT) AS rarest_cnt,
           round(sum(cnt) / CAST(count(*) AS DOUBLE), 4) AS avg_cnt
    FROM scored GROUP BY doc_id
    """,
)
def docs_chargram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language-model commonness score — the
    frequency-based stand-in for the KenLM perplexity filter used by
    CCNet: train the char-3-gram table on the corpus itself (one
    count aggregation), then score each document by the average and
    minimum corpus frequency of its grams. Low avg_cnt / rarest_cnt =
    improbable character sequences = the doc a perplexity filter would
    drop. (The classic score is avg log-prob; corpus frequency is the
    same signal monotonically, and integer counts keep both engines
    bit-identical — the repo's integer-exact rule — where cross-engine
    libm log() could differ in the last ulp.)

    Shape (r5, chosen by measured A/B — 3.06 vs 4.04 s at sf0.1,
    equivalence-asserted): the exploded grams collapse to per-(doc,
    gram) counts FIRST (map-side combinable — within-doc duplicate
    trigrams are common on a small charset), the LM table aggregates
    from those counts, and the score join + per-doc rollup run over
    distinct (doc, gram) pairs instead of every gram instance —
    avg = sum(c*cnt)/sum(c) over the collapsed rows is algebraically
    identical. Join and final-shuffle volume drop from corpus gram
    instances to distinct pairs; the LM side stays bounded by charset³
    (AQE broadcasts it from measured size — an explicit hint measured
    a wash). The single division is exact-IEEE on both engines."""
    d = table(spark, sf_dir, "documents")
    g = d.filter(F.length("text") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " p -> substring(text, p, 3))"
            )
        ).alias("gram"),
    )
    gc = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    lm = gc.groupBy("gram").agg(F.sum("c").alias("cnt"))
    return (
        gc.join(lm, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.min("cnt").alias("rarest_cnt"),
            F.round(
                F.sum(F.col("c") * F.col("cnt")) / F.sum("c").cast("double"), 4
            ).alias("avg_cnt"),
        )
    )


@query(
    "docs_novelty_fraction",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', t[g], t[g+1], t[g+2]) AS s
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(g)
      WHERE len(t) >= 3
    ),
    first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty
    FROM sh JOIN first f USING (s)
    GROUP BY sh.doc_id
    """,
)
def docs_novelty_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty — the curation-ordering signal: for each
    document (in doc_id ingest order), the fraction of its distinct
    word-3-gram shingles never seen in any earlier document. Streaming
    data curation ranks candidate shards by exactly this statistic
    (near-1 = fresh content, near-0 = already-covered); it is the
    order-aware complement of the pairwise dedup family.

    Shape: distinct (doc, shingle) explode -> min(doc_id) per shingle
    (map-side combinable, keyed by shingle) -> equi-join back on
    shingle -> per-doc count. First-occurrence blocks on the shingle
    key; no doc-pair is ever formed, so candidate volume is linear in
    corpus shingles, not quadratic in documents. The novelty verdict
    joins cleanly onto docs_dedup_apply's keeper semantics (min doc_id
    is the same representative rule)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    t = F.col("toks")
    sh = (
        d.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 2),
                    lambda g: F.concat_ws(
                        " ",
                        F.element_at(t, g),
                        F.element_at(t, g + 1),
                        F.element_at(t, g + 2),
                    ),
                )
            ).alias("s"),
        )
        .distinct()
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count("*").cast("double"), 4).alias(
                "novelty"
            ),
        )
    )


@query(
    "docs_vocab_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    cnt AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS type_token_ratio,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS hapax_ratio
    FROM cnt GROUP BY doc_id
    """,
)
def docs_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document vocabulary richness: type-token ratio and hapax
    (once-only token) fraction — the degenerate-text signals
    complementing docs_repetition_topgram (low TTR = repeated filler;
    high hapax on long docs = gibberish/OCR noise; both are standard
    corpus-linguistics filters).

    Shape: token explode fused with the scan -> (doc, token) count ->
    per-doc re-aggregate. Both aggregations are map-side combinable
    and keyed by doc(+token) — shuffle bounded by distinct (doc,
    token) pairs, skew-free. Ratios are single divisions of exact
    integers."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tk")
    )
    cnt = d.groupBy("doc_id", "tk").agg(F.count("*").alias("c"))
    hapax = (F.col("c") == 1).cast("long")
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(hapax).alias("n_hapax"),
        F.round(F.count("*") / F.sum("c").cast("double"), 4).alias(
            "type_token_ratio"
        ),
        F.round(F.sum(hapax) / F.count("*").cast("double"), 4).alias(
            "hapax_ratio"
        ),
    )


@query(
    "embed_norm_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv,
             list_sum(list_transform(qv, x -> x * x)) AS norm2
      FROM q
    ),
    q8 AS (
      SELECT vec_id, norm2,
             list_transform(qv,
                            x -> CAST(round(x * 127 / sqrt(norm2)) AS BIGINT))
               AS v8
      FROM n WHERE norm2 > 0
    )
    SELECT vec_id,
           round(sqrt(norm2) / 10000, 6) AS l2_norm,
           CAST(len(v8) AS INTEGER) AS n_dims,
           CAST(list_max(v8) AS BIGINT) AS q8_max,
           CAST(list_min(v8) AS BIGINT) AS q8_min,
           CAST(list_sum(list_transform(v8, x -> abs(x))) AS BIGINT) AS q8_l1
    FROM q8
    """,
)
def embed_norm_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene before indexing: L2 norm + int8 scalar
    quantization (the FAISS SQ8 preprocessing step) — per vector, the
    norm and the profile of the normalized int8 code (dims, max, min,
    L1 mass). Zero-division-safe (zero vectors are dropped, as an
    index build drops them).

    Integer-exact cross-engine: quantize floats to ints first
    (round(x*10000), the repo's embedding convention), so norm² is an
    exact integer sum; the single sqrt and the per-element
    round(q*127/sqrt(norm²)) are bit-identical IEEE on both engines —
    no float-reduction-order risk. Zero-shuffle: one narrow projection
    per vector inside codegen; at 100 TB this runs at scan speed and
    the int8 codes (16x smaller) are what the ANN index ingests."""
    e = table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 10000).cast("long"),
    )
    n = e.select(
        "vec_id",
        qv.alias("qv"),
        F.aggregate(
            F.transform(qv, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("norm2"),
    ).filter(F.col("norm2") > 0)
    v8 = F.transform(
        F.col("qv"),
        lambda x: F.round(x * 127 / F.sqrt(F.col("norm2"))).cast("long"),
    )
    w8 = n.select("vec_id", "norm2", v8.alias("v8"))
    return w8.select(
        "vec_id",
        F.round(F.sqrt("norm2") / 10000, 6).alias("l2_norm"),
        F.size("v8").cast("int").alias("n_dims"),
        F.array_max("v8").alias("q8_max"),
        F.array_min("v8").alias("q8_min"),
        F.aggregate(
            F.transform(F.col("v8"), lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q8_l1"),
    )


_SEMDEDUP_COS = 0.35  # same bar as embed_cosine_neardup (synthetic
# corpus has no true near-dups; this keeps the verdict set non-trivial)


@query(
    "embed_semdedup_verdicts",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    cent AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < {_IVF_C}),
    assign_scored AS (
      SELECT v.vec_id, v.q, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_sum(list_transform(generate_series(1, len(v.q)),
                                                i -> v.q[i] * c.cq[i])) DESC,
                        c.cid
             ) AS crn
      FROM q v CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, q, cid FROM assign_scored WHERE crn = 1),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_DOT_SQL} /
            ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')})
            >= {_SEMDEDUP_COS}
    )
    SELECT s.vec_id, s.cid, (d.vec_id IS NULL) AS keep
    FROM assign s LEFT JOIN drops d ON s.vec_id = d.vec_id
    """,
)
def embed_semdedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-threshold — assign every embedding to its nearest
    coarse centroid, compare pairs ONLY within a cluster, and drop any
    vector with a lower-id near-duplicate (cosine >= threshold) in its
    cell. The modern embedding-space answer to MinHash: it removes
    semantically redundant training examples, not just textual copies.
    Emits one verdict row per vector (vec_id, cluster, keep).

    Scale: reuses the IVF coarse assignment (broadcast centroids,
    zero-shuffle scoring); the pairwise stage blocks on the cluster id
    equi-join, so candidate volume is sum(cluster size²) — the cluster
    count (here the deterministic {_IVF_C}-centroid quantizer; in
    production the k-means trainer with C ~ sqrt(N)) tunes it, exactly
    the SemDeDup recipe. The verdict join-back is one left join on
    vec_id. No all-pairs stage exists at any corpus size."""
    assign = _ivf_assign_scored(spark, sf_dir).filter(F.col("crn") == 1).select(
        "vec_id", "q", "qnorm", "cid"
    )
    a, b = assign.alias("a"), assign.alias("b")
    # r13 (guide §4.2, VERDICT_r12 #5): in-cell pair dots vectorized
    # via _arrow_pair_dot (see embed_cosine_neardup); the threshold
    # compare keeps the identical double expression, bit-equal output.
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("a.q").alias("qa"),
        F.col("b.q").alias("qb"),
        F.col("a.qnorm").alias("na"),
        F.col("b.qnorm").alias("nb"),
    )
    drops = (
        _arrow_pair_dot(pairs)
        .filter(
            F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
            >= _SEMDEDUP_COS
        )
        .select("vec_id")
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return assign.join(drops, "vec_id", "left").select(
        "vec_id", "cid", F.col("__drop").isNull().alias("keep")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ with ADC + exact rerank)
# ---------------------------------------------------------------------------

_PQ_M = 8  # sub-blocks: 64-dim vectors split into 8 blocks of 8 dims
_PQ_D = 8  # dims per block
_PQ_K = 16  # codewords per subspace (subvectors of the first 16 vectors)
_PQ_SHORT = 25  # ADC shortlist size fed to the exact rerank


def _pq_codebook_row(qdf: DataFrame) -> DataFrame:
    """ONE row holding the full codebook as an array of (k, cq) structs,
    sorted by k so ``element_at(cbs, k+1)`` is a direct lookup. The
    "training" is deterministic and shared with DuckDB: codeword k of
    every subspace is the corresponding subvector of corpus vector k
    (the IVF-centroid precedent, extensions.py _IVF_C)."""
    return (
        qdf.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("k"), F.col("q").alias("cq"))
        .agg(F.array_sort(F.collect_list(F.struct("k", "cq"))).alias("cbs"))
    )


def _pq_block_dist(qc: Column, cw: Column, m: Column) -> Column:
    """Exact integer squared L2 between block ``m`` (1-based) of vector
    ``qc`` and the same block of codeword ``cw``."""
    return F.aggregate(
        F.sequence((m - 1) * _PQ_D + 1, m * _PQ_D),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + (F.element_at(qc, i) - F.element_at(cw, i))
        * (F.element_at(qc, i) - F.element_at(cw, i)),
    )


_PQ_ENC_SQL = f"""
    enc_d AS (
      SELECT a.vec_id, m.m, c.k,
             list_sum(list_transform(
               generate_series((m.m-1)*{_PQ_D}+1, m.m*{_PQ_D}),
               i -> (a.q[i]-c.cq[i])*(a.q[i]-c.cq[i]))) AS d
      FROM assign a
      CROSS JOIN generate_series(1, {_PQ_M}) m(m)
      CROSS JOIN cb c
    ),
    enc AS (
      SELECT vec_id, m, k AS code
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d, k) AS ern
            FROM enc_d)
      WHERE ern = 1
    )
"""


@query(
    "embed_knn_pq",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    cb AS (SELECT vec_id AS k, q AS cq FROM q WHERE vec_id < {_PQ_K}),
    cent AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < {_IVF_C}),
    assign_scored AS (
      SELECT v.vec_id, v.q, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_sum(list_transform(generate_series(1, len(v.q)),
                                                i -> v.q[i] * c.cq[i])) DESC,
                        c.cid
             ) AS crn
      FROM q v CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, q, cid FROM assign_scored WHERE crn = 1),
    probes AS (SELECT vec_id, q, cid FROM assign_scored
               WHERE vec_id < {_N_QUERIES} AND crn <= {_IVF_PROBE}),
    {_PQ_ENC_SQL},
    adc_parts AS (
      SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(
               generate_series((e.m-1)*{_PQ_D}+1, e.m*{_PQ_D}),
               i -> (p.q[i]-c.cq[i])*(p.q[i]-c.cq[i]))) AS pd
      FROM probes p
      JOIN assign b ON b.cid = p.cid AND b.vec_id <> p.vec_id
      JOIN enc e ON e.vec_id = b.vec_id
      JOIN cb c ON c.k = e.code
    ),
    adc AS (
      SELECT query_id, neighbor_id, sum(pd) AS adc
      FROM adc_parts GROUP BY query_id, neighbor_id
    ),
    short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc, neighbor_id) AS arn
            FROM adc)
      WHERE arn <= {_PQ_SHORT}
    ),
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             round({_DOT_SQL} /
                   ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                   6) AS cosine
      FROM short s JOIN q a ON a.vec_id = s.query_id
                   JOIN q b ON b.vec_id = s.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def embed_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric-distance scoring and exact rerank — the
    FAISS ``IVFPQ + refine`` recipe, the missing modern piece above the
    SQ8 profile (embed_norm_quantize):

    1. Corpus vectors are product-quantized: each of {_PQ_M} blocks of
       {_PQ_D} dims encodes to the argmin-L2 codeword of its subspace
       ({_PQ_K} codewords = subvectors of the first {_PQ_K} corpus
       vectors — deterministic "training" both engines share).
    2. Queries probe their {_IVF_PROBE} best IVF cells (reuses
       _ivf_assign_scored); candidates are scored by ADC — the query
       stays un-encoded, the candidate is its codes, distance is the
       sum of block distances to the coded words (exact integer math).
    3. The top-{_PQ_SHORT} ADC shortlist per query is reranked by exact
       quantized cosine; top-{_TOP_K} wins.

    Scale: the codebook and the query side are broadcasts; candidates
    carry {_PQ_M} small codes instead of the raw vector (8 bytes vs
    64×8 — the memory-bandwidth win that makes PQ the 100 TB default),
    the candidate join blocks on the IVF cell id, and only the
    {_PQ_SHORT}-per-query shortlist rejoins the full vectors (a
    broadcast against the corpus table). In production the encode pass
    is computed once and stored as a codes column next to the
    embedding; here it is inline so the entry is self-contained."""
    qdf = _quantized(spark, sf_dir)
    cbrow = _pq_codebook_row(qdf)

    # r12 (guide §4.2, the _gram_arrow precedent): the encode pass —
    # argmin-L2 codeword per (row, block) — ran as nested interpreted
    # HOFs ({_PQ_M}×{_PQ_K}×{_PQ_D} ≈ 1k lambda evaluations per row,
    # no codegen). Each task now encodes its Arrow batches with
    # vectorized exact-int64 numpy against the driver-collected
    # codebook ({_PQ_K}×{_PI_DIMS} ints — control-plane-sized, the
    # t-digest/BAM-dictionary collect pattern; production FAISS ships
    # codebooks to workers the same way). np.argmin returns the FIRST
    # minimum = the old array_min struct tie-break (min d, then min k,
    # k ascending by construction). Only (vec_id, cid, q) crosses the
    # boundary; codes come back as {_PQ_M} small ints per row.
    cb_rows = (
        qdf.filter(F.col("vec_id") < _PQ_K).select("vec_id", "q").collect()
    )
    cb_np = [
        [int(x) for x in r["q"]]
        for r in sorted(cb_rows, key=lambda r: r["vec_id"])
    ]

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        C = np.asarray(cb_np, dtype=np.int64)  # (_PQ_K, dims)
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            qcol = b.column(b.schema.get_field_index("q"))
            if isinstance(qcol, pa.ChunkedArray):
                qcol = qcol.combine_chunks()
            X = (
                qcol.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, -1)
            )
            codes = np.empty((n, _PQ_M), dtype=np.int64)
            for m in range(_PQ_M):
                blk = slice(m * _PQ_D, (m + 1) * _PQ_D)
                d2 = ((X[:, None, blk] - C[None, :, blk]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d2, axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    b.column(b.schema.get_field_index("cid")),
                    pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(0, (n + 1) * _PQ_M, _PQ_M),
                            pa.int32(),
                        ),
                        pa.array(codes.ravel(), pa.int64()),
                    ),
                ],
                names=["neighbor_id", "bcid", "bcodes"],
            )

    assign = _ivf_assign_scored(spark, sf_dir)
    cand = (
        assign.filter(F.col("crn") == 1)
        .select("vec_id", "cid", "q")
        .mapInArrow(
            encode, "neighbor_id long, bcid long, bcodes array<long>"
        )
    )
    probes = (
        assign.filter(
            (F.col("vec_id") < _N_QUERIES) & (F.col("crn") <= _IVF_PROBE)
        )
        .crossJoin(F.broadcast(cbrow))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("aq"),
            "cid",
            "cbs",
        )
    )
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(_PQ_M)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + _pq_block_dist(
            F.col("aq"),
            F.element_at(
                F.col("cbs"), (F.element_at(F.col("bcodes"), m) + 1).cast("int")
            )["cq"],
            m,
        ),
    )
    wa = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = (
        F.broadcast(probes)
        .join(
            cand,
            (F.col("cid") == F.col("bcid"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("adc", adc)
        .withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= _PQ_SHORT)
        .select("query_id", "neighbor_id")
    )
    b = qdf.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("bq"),
        F.col("qnorm").alias("bnorm"),
    )
    a = qdf.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("aq"),
        F.col("qnorm").alias("anorm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("aq"), F.col("bq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        b.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(a), "query_id")
        .withColumn(
            "cosine",
            F.round(dot.cast("double") / (F.col("anorm") * F.col("bnorm")), 6),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# Training-batch construction + cross-corpus redundancy + term salience
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048  # tokens per packed training sequence


@query(
    "docs_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS tok_before
      FROM toks
    )
    SELECT source, tok_before // {_PACK_BUDGET} AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY source, bin_id
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the concat-then-chunk batch construction LLM
    training uses: documents stream in deterministic doc_id order per
    source, a running token count assigns each document to the
    {_PACK_BUDGET}-token bin its first token lands in, and the entry
    reports per-bin occupancy. Integer ``div`` (not float-then-floor)
    keys the bins — the r5 merge/Z-order lesson.

    Scale: one window per source (parallelism = source count; at 100 TB
    partition the stream by (source, shard) so no single partition
    holds a whole source) and one groupBy on (source, bin) with
    map-side partial aggregation. No data movement beyond the token
    counts — the text column never leaves the scan."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = toks.select(
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w).cast("long") - F.col("n_tokens")).alias(
            "tok_before"
        ),
    )
    return (
        packed.withColumn("bin_id", F.expr(f"tok_before div {_PACK_BUDGET}"))
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@query(
    "docs_sentence_dedup",
    oracle="""
    WITH sent AS (
      SELECT doc_id, md5(t[g]) AS h
      FROM (SELECT doc_id, string_split(text, '. ') AS t,
                   unnest(generate_series(1, len(string_split(text, '. '))))
                     AS g
            FROM documents)
      WHERE t[g] <> ''
    ),
    owners AS (SELECT h, min(doc_id) AS owner FROM sent GROUP BY h)
    SELECT s.doc_id,
           count(*) AS n_sents,
           CAST(sum(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           round(CAST(sum(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS dup_frac
    FROM sent s JOIN owners o ON s.h = o.h
    GROUP BY s.doc_id
    """,
)
def docs_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (sentence-level) cross-corpus dedup — the
    finer-grained companion to docs_exact_dedup: a sentence is
    redundant when a lower-id document already contains it, and each
    document reports how much of it is corpus-repeated boilerplate
    (the C4/RefinedWeb "repeated spans" hygiene signal, at sentence
    granularity).

    Scale: explode sentences, hash with md5 (the cross-engine hash
    rule), groupBy hash for the min-owner table — shuffle bounded by
    DISTINCT sentences — then one equi-join back on the hash and a
    per-doc aggregate. No pairwise stage at any corpus size: ownership
    blocks on the hash key exactly like exact dedup."""
    d = table(spark, sf_dir, "documents")
    sent = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), "\\. ")).alias("s")
        )
        .filter(F.col("s") != "")
        .select("doc_id", F.md5("s").alias("h"))
    )
    owners = sent.groupBy("h").agg(F.min("doc_id").alias("owner"))
    dup = F.when(F.col("owner") < F.col("doc_id"), 1).otherwise(0)
    return (
        sent.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sents"),
            F.sum(dup).cast("long").alias("n_dup"),
            F.round(
                F.sum(dup).cast("double") / F.count("*"), 4
            ).alias("dup_frac"),
        )
    )


@query(
    "docs_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t[g] AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                     AS g
            FROM documents)
      WHERE t[g] <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(CAST(tf.tf AS DOUBLE) / df.df, 6) AS score
      FROM tf JOIN df USING (term)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, rn FROM ranked WHERE rn <= 3
    """,
)
def docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by rarity-weighted term
    frequency (tf/df — monotone in tf-idf for any fixed idf shape, but
    free of transcendental log whose last-ulp could diverge between
    engines; the ranking both engines produce is bit-identical because
    a single IEEE division of two small ints is exactly rounded).

    Scale: token explode feeds two partial-aggregated groupBys (tf on
    (doc, term); df on term — bounded by vocabulary), an equi-join on
    term (AQE broadcasts df when the vocab is small), and a per-doc
    top-k window. The classic inverted-index build shape; at 100 TB
    the df table is the only global state and it's vocabulary-, not
    corpus-, sized."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score", F.round(F.col("tf").cast("double") / F.col("df"), 6)
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


@query(
    "docs_containment_pairs",
    oracle=_SHINGLES_SQL
    + """
    , sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(common * 1.0 / sa.n, 4) AS containment
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    WHERE common * 1.0 / sa.n >= 0.8
    """,
)
def docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment C(A→B) = |A∩B| / |A| at threshold
    0.8 — the ASYMMETRIC near-dup relation Jaccard misses: a short
    document quoted wholesale inside a long one has high containment
    but low Jaccard (|A∪B| is dominated by B). The measure behind
    quote/subset detection in corpus cleaning (Broder's original
    resemblance/containment pairing).

    Scale: identical blocking to docs_ngram_jaccard — pairs only form
    on a shared shingle, one size join-back on the DIRECTED source
    side only. Same frequent-shingle caveat, same LSH escape hatch."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    cont = F.col("common") / F.col("sa.n")
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .filter(cont >= 0.8)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
    )


@query(
    "llm_corpus_chain",
    oracle=_SHINGLES_SQL
    + f"""
    , tt AS (
      SELECT doc_id, source, n_chars, text, string_split(text, ' ') AS tk
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, n_chars, text,
             len(tk) AS n_tokens,
             len(list_filter(tk, x -> x IN {_STOP_SQL})) AS n_stops
      FROM tt
    ),
    q AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 20 AND 90
        AND n_stops * 10 < n_tokens * 4
        AND n_chars >= 100
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
    clean AS (
      SELECT q.doc_id, q.source, q.n_tokens
      FROM q JOIN keepers USING (doc_id)
      WHERE q.doc_id >= {_BENCH_DOCS}
        AND NOT EXISTS (
          SELECT 1 FROM sh t2
          JOIN sh b ON t2.s = b.s AND b.doc_id < {_BENCH_DOCS}
          WHERE t2.doc_id = q.doc_id
        )
    ),
    packed AS (
      SELECT source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS tok_before
      FROM clean
    )
    SELECT source, tok_before // {_PACK_BUDGET} AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY source, bin_id
    """,
)
def llm_corpus_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-corpus build — the extension surface's answer
    to virapipe_chain: quality gate → exact dedup → benchmark
    decontamination → sequence packing, as ONE dataflow in one session
    (each stage reuses the standalone entry's exact predicate — the
    stages are the operators, composition is just plan chaining):

    1. docs_quality_filter's gate (length band, stopword ceiling);
    2. docs_exact_dedup's keeper rule (min doc_id per content hash),
       re-entering as a semi-join;
    3. docs_decontaminate's shingle rule (no 3-gram shared with the
       benchmark set), re-entering as an anti-join;
    4. docs_pack_sequences' token-budget binning over the survivors.

    Scale: Catalyst fuses the quality projection into the scan; the
    dedup and contamination stages are the same hash-bounded shuffles
    as their standalone entries; packing windows per source over the
    CLEANED corpus only. One SparkSession, no intermediate
    materialization — the single-session thesis applied to the
    training-data pipeline."""
    d = table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    n = F.size(tk).cast("long")
    stops = F.size(F.filter(tk, lambda x: x.isin(*_STOPWORDS))).cast("long")
    q = d.filter(
        n.between(20, 90) & (stops * 10 < n * 4) & (F.col("n_chars") >= 100)
    ).select("doc_id", "source", "text", n.alias("n_tokens"))
    keepers = (
        q.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sh = _shingles(spark, sf_dir)
    contaminated = (
        sh.alias("t2")
        .join(
            sh.filter(F.col("doc_id") < _BENCH_DOCS).alias("b"),
            F.col("t2.s") == F.col("b.s"),
        )
        .select(F.col("t2.doc_id").alias("doc_id"))
        .distinct()
    )
    clean = (
        q.join(keepers, "doc_id", "left_semi")
        .filter(F.col("doc_id") >= _BENCH_DOCS)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = clean.select(
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w).cast("long") - F.col("n_tokens")).alias(
            "tok_before"
        ),
    )
    return (
        packed.withColumn("bin_id", F.expr(f"tok_before div {_PACK_BUDGET}"))
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@query(
    "docs_bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    ), wc AS (
      SELECT w, count(*) AS c
      FROM words WHERE length(w) >= 2
      GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, CAST(i AS INTEGER), 2)))
               AS pair,
             c
      FROM wc
    )
    SELECT pair, CAST(sum(c) AS BIGINT) AS freq
    FROM pairs
    GROUP BY pair
    """,
)
def docs_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, inner-loop step: corpus-wide frequency
    of every adjacent symbol pair at the character stage — the count a
    byte-pair-encoding trainer maximizes over to pick its next merge
    (Sennrich et al. 2016, the standard subword recipe; the full
    trainer repeats this after applying each merge).

    Shape — the vocabulary trick that makes BPE training feasible at
    corpus scale: aggregate words to the VOCABULARY first (shuffle
    bounded by distinct words, map-side combinable), then explode
    adjacent pairs over vocab entries weighted by word count — so the
    quadratic-ish pair explosion runs over ~10^5 vocab rows, not 10^11
    corpus tokens. Both aggregations are plain hash-aggs; the pair
    alphabet (<=26^2 + boundary chars) keeps the final shuffle tiny.
    All counts are exact integers — hash-stable cross-engine."""
    # r12: spread small inputs before the tokenize/explode map stage
    # (see spread_scan); integer counts downstream
    words = spread_scan(table(spark, sf_dir, "documents").select("text")).select(
        F.explode(
            F.split(F.lower(F.col("text")), "[^a-z]+")
        ).alias("w")
    )
    wc = (
        words.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "c",
    )
    return pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("freq"))


@query(
    "docs_weighted_sample",
    oracle="""
    WITH scored AS (
      SELECT source,
             least(n_chars, 2000) * 5 AS keep_bp,
             ((doc_id * 2654435761) % 4294967296) // 429497 AS u
      FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN u < keep_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN u < keep_bp THEN keep_bp ELSE 0 END) AS BIGINT)
             AS kept_weight_bp
    FROM scored
    GROUP BY source
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted sampling — the training-mix
    primitive that keeps each document with probability proportional
    to a quality weight (here: capped length, as a stand-in for a
    quality-classifier score), reproducibly across runs, engines, and
    partitionings (no RNG state: the coin is a Knuth multiplicative
    hash of the doc id, u = high bits of doc_id * 2654435761 mod 2^32,
    scaled to basis points).

    Scale: a pure projection + one per-source aggregate — evaluated in
    the scan stage, shuffle bounded by source count. All arithmetic is
    integer (basis points), so the oracle hash is exact. The 64-bit
    product overflows beyond ~3.4e9 docs; a production run swaps in
    xxhash64 (same determinism contract, no overflow) — the catalog
    keeps the portable arithmetic form DuckDB can mirror."""
    d = table(spark, sf_dir, "documents")
    keep_bp = F.least(F.col("n_chars"), F.lit(2000)) * 5
    u = F.expr("((doc_id * 2654435761) % 4294967296) div 429497")
    kept = (u < keep_bp).cast("long")
    return (
        d.select("source", keep_bp.alias("keep_bp"), kept.alias("k"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("k").cast("long").alias("n_kept"),
            F.sum(F.col("k") * F.col("keep_bp")).cast("long").alias(
                "kept_weight_bp"
            ),
        )
    )


_MIX_BUDGET = 100_000  # target token budget for the mixture allocation


@query(
    "docs_mixture_allocation",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(toks) AS BIGINT) AS t, count(*) AS n_src FROM src
    ), alloc AS (
      SELECT source, toks,
             ({_MIX_BUDGET} * toks) // t AS base_quota,
             ({_MIX_BUDGET} * toks) % t AS rem,
             row_number() OVER (ORDER BY ({_MIX_BUDGET} * toks) % t DESC,
                                source) AS rem_rank,
             {_MIX_BUDGET} - CAST(sum(({_MIX_BUDGET} * toks) // t)
                                  OVER () AS BIGINT) AS leftover
      FROM src, tot
    )
    SELECT source, toks, CAST(base_quota AS BIGINT) AS base_quota,
           CAST(base_quota + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM alloc
    """,
)
def docs_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture apportionment by the largest-remainder
    (Hamilton) method: split a fixed token budget across sources
    proportionally to their token mass, in integers, with the
    fractional leftovers awarded to the largest remainders — quotas
    sum EXACTLY to the budget, the property float rounding can't give
    (and the reason data-mixture tooling uses apportionment, not
    round()).

    Scale: per-source token mass is one map-side-combinable aggregate;
    everything after runs on the ~#sources-row result (1-row total via
    crossJoin broadcast; the remainder ranking is a window over that
    same tiny frame — fine at any corpus size since sources, not
    documents, drive it). Integer-exact throughout; budget * toks
    needs headroom below 2^63 (budget 1e5 x 1e13 tokens fits)."""
    from virapipe_spark.scale import hamilton_allocate

    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("toks")
    )
    return hamilton_allocate(src, _MIX_BUDGET)


@query(
    "docs_incremental_dedup",
    oracle=_SHINGLES_SQL
    + f"""
    , mh AS (
      SELECT doc_id, {_minhash_cols_sql()}
      FROM sh GROUP BY doc_id
    ),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS idx_doc
      FROM bands n JOIN bands i ON n.band = i.band AND n.bk = i.bk
      WHERE n.doc_id % 5 = 0 AND i.doc_id % 5 <> 0
    ),
    scored AS (
      SELECT new_doc, idx_doc,
             CASE WHEN ({_MATCHES_SQL}) / {_H}.0 >= {_EST_THRESHOLD}
                  THEN 1 ELSE 0 END AS dup
      FROM cand
      JOIN mh a ON new_doc = a.doc_id
      JOIN mh b ON idx_doc = b.doc_id
    )
    SELECT d.doc_id AS new_doc,
           count(s.idx_doc) AS n_candidates,
           CAST(coalesce(sum(s.dup), 0) AS BIGINT) AS n_dup_partners,
           coalesce(sum(s.dup), 0) > 0 AS is_dup
    FROM documents d
    LEFT JOIN scored s ON d.doc_id = s.new_doc
    WHERE d.doc_id % 5 = 0
    GROUP BY d.doc_id
    """,
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dedup: an incoming batch (here docs with
    ``doc_id % 5 = 0``, standing in for today's crawl) is checked
    against the already-indexed corpus (the rest) via MinHash band
    collision + signature verification — every new doc gets a verdict
    row (candidate count, confirmed near-dup partners, is_dup), the
    shape an ingest gate consumes.

    This is the asymmetric complement of ``docs_minhash_lsh``: instead
    of the corpus band SELF-join (O(Σ bucket²) over everything), the
    candidate join is batch-bands ⋈ index-bands — cost scales with the
    BATCH's collision volume, which is what makes continuous dedup
    against a 100 TB corpus affordable (the index side mh/bands would
    be a precomputed signature table in production, appended per
    ingest, exactly what ``_minhash_sig_bands`` emits; here both sides
    derive from one read because the driver provides one table).
    LEFT JOIN from the batch keeps zero-collision docs in the output —
    an ingest gate must say "clean", not stay silent."""
    mh, bands = _minhash_sig_bands(spark, sf_dir)
    sig = F.array(*[F.col(f"h{j}") for j in range(1, _H + 1)])
    new_b = bands.filter(F.col("doc_id") % 5 == 0).alias("n")
    idx_b = bands.filter(F.col("doc_id") % 5 != 0).alias("i")
    cand = (
        new_b.join(
            idx_b,
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bk") == F.col("i.bk")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"), F.col("i.doc_id").alias("idx_doc")
        )
        .distinct()
    )
    scored = cand.join(
        mh.select(F.col("doc_id").alias("new_doc"), sig.alias("sig_a")), "new_doc"
    ).join(mh.select(F.col("doc_id").alias("idx_doc"), sig.alias("sig_b")), "idx_doc")
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    scored = scored.select(
        "new_doc",
        "idx_doc",
        (matches / F.lit(float(_H)) >= _EST_THRESHOLD).cast("int").alias("dup"),
    )
    batch = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").alias("new_doc"))
    )
    return (
        batch.join(scored, "new_doc", "left")
        .groupBy("new_doc")
        .agg(
            F.count("idx_doc").alias("n_candidates"),
            F.coalesce(F.sum("dup"), F.lit(0)).cast("long").alias(
                "n_dup_partners"
            ),
            (F.coalesce(F.sum("dup"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


@query(
    "docs_bpe_merge_step",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    ), wc AS (
      SELECT w, count(*) AS c FROM words WHERE length(w) >= 2 GROUP BY w
    ), p1 AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, CAST(i AS INTEGER), 2)))
               AS pair,
             c
      FROM wc
    ), freq1 AS (
      SELECT pair, CAST(sum(c) AS BIGINT) AS f FROM p1 GROUP BY pair
    ), top AS (
      SELECT pair AS top_pair FROM freq1
      ORDER BY f DESC, pair LIMIT 1
    ), merged AS (
      SELECT replace(w, top_pair, 'A') AS w, c FROM wc, top
    ), p2 AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, CAST(i AS INTEGER), 2)))
               AS pair,
             c
      FROM merged WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(c) AS BIGINT) AS freq
    FROM p2
    GROUP BY pair
    """,
)
def docs_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE-trainer iteration on top of the pair-count step:
    pick the globally most frequent adjacent pair (deterministic
    tie-break: lexicographic), APPLY the merge across the vocabulary
    (the merged pair becomes one symbol — surrogate 'A', outside the
    corpus alphabet), and recount pairs — the exact loop body a BPE
    tokenizer trainer runs per merge (Sennrich et al. 2016).

    Scale: everything after the word-count aggregate operates on the
    VOCABULARY (docs_bpe_pair_counts' trick), so one merge round costs
    two vocab-sized explodes + a 1-row argmax broadcast — at 100 TB
    the trainer loop (thousands of merges) would checkpoint the
    evolving vocab every k rounds exactly like graph.pagerank's rank
    frame. replace() is leftmost-non-overlapping in both engines, so
    the merged vocab is string-identical cross-engine."""
    words = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    )
    wc = (
        words.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pair_expr = F.explode(
        F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
    ).alias("pair")
    freq1 = wc.select(pair_expr, "c").groupBy("pair").agg(
        F.sum("c").alias("f")
    )
    top = freq1.orderBy(F.col("f").desc(), "pair").limit(1).select(
        F.col("pair").alias("top_pair")
    )
    merged = wc.crossJoin(F.broadcast(top)).select(
        F.expr("replace(w, top_pair, 'A')").alias("w"), "c"
    )
    return (
        merged.filter(F.length("w") >= 2)
        .select(pair_expr, "c")
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("freq"))
    )


@query("docs_compression_ratio", since=7)  # rows-only: no zlib in DuckDB SQL
def docs_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the classic
    repetitiveness/quality signal (highly compressible text is
    boilerplate or degenerate filler; used by Gopher-class quality
    batteries alongside docs_repetition_topgram). No SQL oracle exists
    (DuckDB has no DEFLATE), so the entry is rows-only with
    SELF-VALIDATING columns: the ratio in integer basis points (exact,
    deterministic — zlib level pinned), and a ``bounds_ok`` flag the
    driver hashes as part of each row (n_comp must exceed 0 and stay
    within n_raw + 64: DEFLATE's worst case is 5 bytes per 16 KB block
    plus a fixed header, which dominates only on tiny documents —
    hence the absolute, not relative, slack). Semantics pinned in pytest: constructed repetitive text
    compresses far below the corpus noise floor, and a repeat run is
    byte-identical.

    Scale: one Arrow-batched pandas_udf (the zlib call is the only
    Python; ~GB/s per core) feeding a scan-side projection — no
    shuffle at all; the output is doc-wise, ready to join into
    docs_quality_filter's gate."""
    import zlib

    @F.pandas_udf("long")
    def comp_len(text: pd.Series) -> pd.Series:
        return text.map(lambda t: len(zlib.compress(t.encode(), 6)))

    d = table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_raw"),
        comp_len("text").alias("n_comp"),
    ).select(
        "doc_id",
        "n_raw",
        "n_comp",
        F.expr("(n_comp * 10000) div n_raw").alias("ratio_bp"),
    )
    return out.select(
        "*",
        ((F.col("n_comp") > 0) & (F.col("n_comp") <= F.col("n_raw") + 64)).alias(
            "bounds_ok"
        ),
    )


@query(
    "docs_setsim_prefix",
    oracle=_SHINGLES_SQL
    + """
    , sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, common,
           sa.n + sb.n - common AS union_n,
           round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    """,
    since=7,
)
def docs_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin-style set-similarity join with PREFIX FILTERING
    (Bayardo et al., WWW'07; Xiao et al., VLDB'08) — the third
    candidate-generation strategy beside shared-shingle blocking
    (`docs_ngram_jaccard`) and MinHash banding (`docs_minhash_lsh`),
    and unlike LSH it is EXACT: shingles are globally ordered
    rarest-first (corpus frequency asc, shingle asc) and each doc
    indexes only its first `n - ceil(t*n) + 1` shingles. Completeness:
    J(a,b) >= t implies overlap c >= t*max(na, nb) (from
    c >= t*(na+nb)/(1+t) and c <= min(na, nb)), and c shared shingles
    cannot all fit in a suffix of length ceil(t*na) - 1 < c, so some
    shared shingle lies in BOTH prefixes — the candidate join on
    prefix shingles misses no qualifying pair. The length filter
    (nb >= t*na, same bound) prunes candidates before verification.
    The oracle verifies the guarantee end-to-end: it brute-forces via
    full shared-shingle blocking and the results must match exactly.

    Scale: the inverted index holds ~(1-t) of each doc's shingles,
    and rarest-first ordering makes prefix buckets the LOW-frequency
    tail — candidate volume is sum over prefix shingles of bucket²,
    far below full blocking even on this small corpus (measured at
    sf0.01: 772 candidate pairs vs 11533 under full shared-shingle
    blocking, 15x — and the gap widens with corpus skew, since the
    head shingles that dominate full blocking never enter a prefix).
    Verification joins touch only candidate pairs. All shuffles key on
    shingle or doc_id; the frequency table joins on shingle (bounded
    by distinct-shingle count, not corpus size)."""
    t = 0.5
    sets = _shingles(spark, sf_dir).select("doc_id", "s").distinct()
    # the set table is consumed FIVE times (sizes, freq, prefix join,
    # both sides of the verification join) — without truncation each
    # consumer recomputes the corpus explode+distinct. Interleaved A/B
    # x7 at sf0.1 on a quiet machine (tools/ab_setsim.py): checkpoint
    # median 4.37 s vs recompute 4.95 s, every order statistic lower —
    # the pagerank-edge-list precedent (shuffle-aggregate subtree,
    # unlike the IVF broadcast projection where recompute won).
    sets = truncate_lineage(sets, eager=False)
    sizes = sets.groupBy("doc_id").agg(F.count("*").alias("n"))
    freq = sets.groupBy("s").agg(F.count("*").alias("cnt"))
    w_doc = W.partitionBy("doc_id").orderBy("cnt", "s")
    prefix = (
        sets.join(freq, "s")
        .withColumn("rn", F.row_number().over(w_doc))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.col("n") * t) + 1)
        .select("doc_id", "s", "n", "rn")
    )
    # r13 (guide §2.3 — prune before the expensive join): the PPJoin
    # POSITIONAL filter (Xiao et al., VLDB'08 §3.2). A match row knows
    # the shared shingle's rank inside both docs' rarest-first orders;
    # the full-set overlap is bounded by 1 + min(na - rn_a, nb - rn_b)
    # at the pair's FIRST common shingle, so rows where that bound is
    # below the minimum qualifying overlap ceil((na+nb)/3) (Jaccard
    # t=1/2: c >= t/(1+t)*(na+nb)) drop BEFORE the pair-distinct and
    # the verification explode-join. No false negatives: for a
    # qualifying pair the first common shingle w1 sits inside BOTH
    # prefixes (if w1 were outside a's prefix, every common shingle
    # would be — they all rank >= w1 — putting all c common shingles
    # in a suffix of length ceil(t*na) - 1 < c), and at w1's row all c
    # common shingles occupy distinct ranks >= rn in each doc, so the
    # bound holds and that row SURVIVES; the pair-distinct needs any
    # one surviving row. Measured at sf0.1: candidate pairs 309,803 ->
    # 124,979 (59.7% pruned); interleaved A/B x7 median 6.63 -> 3.93 s,
    # every order statistic lower, results identical
    # (tools/ab_setsim_positional.py).
    minov = F.floor(
        (F.col("a.n") + F.col("b.n") + F.lit(2)) / F.lit(3)
    ).cast("long")
    ubound = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (F.col("b.n") >= F.col("a.n") * t)
            & (F.col("a.n") >= F.col("b.n") * t)
        )
        .filter(ubound >= minov)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    common = (
        cand.join(sets.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            sets.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.s") == F.col("tb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("union_n", F.col("sa.n") + F.col("sb.n") - F.col("common"))
        .filter(F.col("common") * 1.0 / F.col("union_n") >= t)
        .select(
            "doc_a",
            "doc_b",
            "common",
            "union_n",
            F.round(F.col("common") * 1.0 / F.col("union_n"), 4).alias(
                "jaccard"
            ),
        )
    )


_PI_DIMS = 64


def _gram(dims: DataFrame, materialize: bool = True) -> DataFrame:
    """Integer Gram matrix X^T X as (d1, d2, g): one vec_id-blocked
    self-join, map-side combined — the only data-sized pass of the
    spectral family; checkpointed because every iteration plus the
    per-vector moment joins reuse it (2-4 consumers per entry).
    Verified by interleaved A/B x7 at sf0.1 on a quiet machine
    (tools/ab_gram.py, embed_abtt_residual end-to-end): checkpoint
    median 2.28 s vs recompute 2.77 s, every paired rep lower — the
    shuffle-aggregate precedent (pagerank edges, setsim sets) holds;
    contrast the IVF broadcast projection where recompute won.

    ``materialize=False`` skips the checkpoint for single-consumer
    callers (r12: the `_power_direction` collect reads the Gram exactly
    once — storing blocks nobody re-reads is pure overhead there)."""
    gram = (
        dims.alias("a")
        .join(dims.alias("b"), "vec_id")
        .groupBy(F.col("a.d").alias("d1"), F.col("b.d").alias("d2"))
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).cast("long").alias("g"))
    )
    return truncate_lineage(gram, eager=False) if materialize else gram


def _gram_arrow(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """ZERO-JOIN Gram over the production quantized table (r12, guide
    §2.4 + §4.2): ``G[d1][d2] = Σ_v q[d1]·q[d2]`` needs no pairing of
    rows ACROSS vectors, so the self-join of the position-exploded
    table — which shuffled corpus×dims rows TWICE (both join sides
    keyed on vec_id) before the map-side combine — was pure data
    movement. Instead each task hands its Arrow batches to numpy
    (``X.T @ X``, exact int64 matmul — the §4.2 "vectorized native
    library inside the boundary" pattern; only the ``q`` column
    crosses) and emits ONE dims²-row partial per task; the final
    aggregate shuffles dims² × tasks rows regardless of corpus size.
    Exactness: integer matmul and integer sums reassociate freely, so
    this is BIT-equal to the join form — asserted on the real table in
    tests/test_recall.py, and the interpreted-HOF row-wise alternative
    measured SLOWER than the join (1.14 s vs 0.86 s — 64 aggregate
    fields fall out of whole-stage codegen), which is why the boundary
    is the right tool here: join 0.86 s → arrow 0.45 s at sf0.1.
    :func:`_gram` keeps the generic (vec_id, d, qv)-frame interface
    for synthetic-frame tests and the distributed `_pi_step` twins."""
    import numpy as np
    import pyarrow as pa

    q = _quantized(spark, sf_dir).select("q")

    def part(batches):
        G = None
        for b in batches:
            col = b.column(0)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            flat = col.flatten()
            X = flat.to_numpy(zero_copy_only=False).reshape(len(col), -1)
            g = X.T @ X
            G = g if G is None else G + g
        if G is not None:
            d = G.shape[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.arange(1, d + 1), d), pa.int64()),
                    pa.array(np.tile(np.arange(1, d + 1), d), pa.int64()),
                    pa.array(G.ravel(), pa.int64()),
                ],
                names=["d1", "d2", "g"],
            )

    parts = q.mapInArrow(part, "d1 long, d2 long, g long")
    gram = parts.groupBy("d1", "d2").agg(F.sum("g").cast("long").alias("g"))
    return truncate_lineage(gram, eager=False) if materialize else gram


def _pi_step(gram: DataFrame, v: DataFrame, out_scale: int) -> DataFrame:
    """One power-iteration round: u = G·v, then integer-rescale so
    max|component| ~= out_scale (both engines truncate div toward
    zero — QUIRKS cross-engine note 0)."""
    u = (
        gram.join(v, F.col("d2") == F.col("vd"))
        .groupBy(F.col("d1").alias("d"))
        .agg(F.sum(F.col("g") * F.col("v")).cast("long").alias("u"))
    )
    s = (
        u.agg((F.max(F.abs(F.col("u"))) / F.lit(out_scale)).cast("long").alias("s"))
        .withColumn("s", F.col("s") + 1)
    )
    return u.crossJoin(F.broadcast(s)).select(
        F.col("d").alias("vd"), F.expr("u div s").alias("v")
    )


def _power_direction(
    gram: DataFrame, scales: tuple[int, ...]
) -> tuple[dict[int, int], int]:
    """Driver-side power iteration over the COLLECTED Gram matrix —
    bit-identical to chaining :func:`_pi_step` (r12 optimization,
    guide §5: the driver does control-plane work, and the Gram matrix
    is control-plane by construction — dims² = 64² = 4096 rows at ANY
    corpus size, the t-digest/BAM-dictionary collect pattern).
    The distributed chain ran ~8 tiny Spark jobs (per-step G·v joins,
    scalar-rescale crossJoins, the n² aggregate) over 64-row frames;
    those jobs cost the same fixed seconds at 100 TB as at sf0.1,
    which is exactly why they belong on the driver.

    Exactness: G entries and iterates stay within int64 by the rescale
    envelope (see `embed_abtt_residual`), so Python's exact ints equal
    Spark's non-overflowing longs; the per-step scale
    ``s = trunc(double(max|u|) / double(scale)) + 1`` reproduces
    Spark's double division + cast(long) (same IEEE op on the same
    operands), and ``u div s`` truncates toward zero (Spark's integer
    div), NOT Python's floor ``//``. Returns ({d: v}, Σv²) for the
    final iterate."""
    rows = gram.collect()  # dims² rows — fixed size, data-independent
    g: dict[tuple[int, int], int] = {(r["d1"], r["d2"]): r["g"] for r in rows}
    ds = sorted({d1 for d1, _ in g})
    v = {d: 1 for d in ds}
    for out_scale in scales:
        u = {
            d1: sum(
                gv * v[d2] for (gd1, d2), gv in g.items() if gd1 == d1
            )
            for d1 in ds
        }
        maxabs = max(abs(x) for x in u.values()) if u else 0
        s = int(float(maxabs) / float(out_scale)) + 1
        v = {
            d: (abs(x) // s if x >= 0 else -(abs(x) // s))
            for d, x in u.items()
        }
    n2 = sum(x * x for x in v.values())
    return v, n2



@query(
    "embed_power_iteration",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    dims AS (
      SELECT vec_id, g AS d, q[g] AS qv
      FROM q, (SELECT unnest(generate_series(1, {_PI_DIMS})) AS g)
    ),
    gram AS (
      SELECT a.d AS d1, b.d AS d2, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
      FROM dims a JOIN dims b USING (vec_id) GROUP BY 1, 2
    ),
    u1 AS (SELECT d1 AS d, CAST(sum(g) AS BIGINT) AS u FROM gram GROUP BY 1),
    s1 AS (SELECT max(abs(u)) // {_QUANT} + 1 AS s FROM u1),
    v1 AS (SELECT d, u // (SELECT s FROM s1) AS v FROM u1),
    u2 AS (
      SELECT g.d1 AS d, CAST(sum(g.g * v.v) AS BIGINT) AS u
      FROM gram g JOIN v1 v ON g.d2 = v.d GROUP BY 1
    ),
    s2 AS (SELECT max(abs(u)) // {_QUANT} + 1 AS s FROM u2),
    v2 AS (SELECT d, u // (SELECT s FROM s2) AS v FROM u2),
    witness AS (
      SELECT round(
        CAST(sum(a.v * b.v) AS DOUBLE) /
        (sqrt(CAST((SELECT sum(v * v) FROM v1) AS DOUBLE)) *
         sqrt(CAST((SELECT sum(v * v) FROM v2) AS DOUBLE))), 6) AS align
      FROM v1 a JOIN v2 b USING (d)
    )
    SELECT a.d, a.v AS v1, b.v AS v2, (SELECT align FROM witness) AS align
    FROM v1 a JOIN v2 b USING (d)
    """,
    since=7,
)
def embed_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER ITERATION on the integer Gram matrix — the spectral
    primitive under PCA whitening / ABTT common-direction removal
    ("All-but-the-Top"), which an embedding-cleanup pipeline runs
    before similarity search. Two matrix-vector rounds from the
    all-ones start, entirely in the repo's integer-exact idiom: Gram
    entries are exact sums of quantized products, each round's vector
    is rescaled to ~QUANT magnitude by integer division (both engines
    truncate toward zero — verified; a floor-vs-trunc divergence on
    negative components would break the hash), so every component is
    bitwise cross-engine.

    Honest convergence accounting: the iterate is bit-faithful to
    exact float power iteration (pinned vs numpy in
    tests/test_recall.py — cosine ~1.0 to G²·1), and when a dominant
    direction EXISTS two rounds recover it (same test, constructed
    anisotropic fixture, cosine > 0.99 to the true eigenvector). This
    driver corpus is near-isotropic — measured lambda2/lambda1 ~ 0.98
    — so here v2 is the deterministic 2-round iterate, NOT yet the
    eigenvector; real embedding corpora are exactly the anisotropic
    case (the ABTT premise is a LARGE spectral gap on the common
    direction). The `align` witness is iterate-to-iterate stability —
    a necessary signal that also saturates early when the spectrum is
    flat, which is why the fixture test, not the witness, carries the
    convergence claim. Deeper iteration counts chain the same step
    (checkpoint cadence as graph.pagerank).

    Scale: the Gram matrix is the ONLY data-sized pass — dims² cells
    via a vec_id-blocked self-join of the position-exploded vectors,
    map-side combinable (the classic X^T X reduction; at 100 TB this
    is one shuffle of dims² partial sums per partition, independent of
    row count). Iterations then touch dims²-sized frames only — no
    driver loop over data, no collect; deeper iteration counts chain
    the same tiny join (checkpoint cadence as in graph.pagerank)."""
    gram = _gram_arrow(spark, sf_dir)
    v0 = (
        gram.select(F.col("d1").alias("vd"))
        .distinct()
        .withColumn("v", F.lit(1).cast("long"))
    )
    # r12 (§3.3 plan truncation): each iterate is a DIMS-row frame (64
    # rows — control-plane by construction) consumed 3-4 times (next
    # step, norm, dot, final join); uncut, the chained _pi_step plans
    # compounded to 2,378 explain lines re-analyzed per consumer.
    # Checkpointing each iterate is one fixed-size job per step —
    # unchanged at any corpus size.
    v1 = truncate_lineage(_pi_step(gram, v0, _QUANT), reliable=True)
    v2 = truncate_lineage(_pi_step(gram, v1, _QUANT), reliable=True)
    n1 = v1.agg(F.sum(F.col("v") * F.col("v")).cast("long").alias("n1"))
    n2 = v2.agg(F.sum(F.col("v") * F.col("v")).cast("long").alias("n2"))
    dot = (
        v1.alias("x")
        .join(v2.alias("y"), F.col("x.vd") == F.col("y.vd"))
        .agg(F.sum(F.col("x.v") * F.col("y.v")).cast("long").alias("dp"))
    )
    witness = (
        dot.crossJoin(n1)
        .crossJoin(n2)
        .select(
            F.round(
                F.col("dp").cast("double")
                / (
                    F.sqrt(F.col("n1").cast("double"))
                    * F.sqrt(F.col("n2").cast("double"))
                ),
                6,
            ).alias("align")
        )
    )
    return (
        v1.alias("x")
        .join(v2.alias("y"), F.col("x.vd") == F.col("y.vd"))
        .crossJoin(F.broadcast(witness))
        .select(
            F.col("x.vd").cast("int").alias("d"),
            F.col("x.v").alias("v1"),
            F.col("y.v").alias("v2"),
            "align",
        )
    )


#: BM25 per-term scorer, shared VERBATIM by the Spark side (F.expr) and
#: the DuckDB oracle so both engines evaluate the IDENTICAL float
#: expression tree — every op is an exactly-rounded IEEE double op on
#: exact inputs (tf/dl/df/N integers, avgdl one int/int division), so
#: the scores are bitwise cross-engine. k1=1.2, b=0.75. The idf is the
#: raw Robertson-Sparck-Jones odds (N - df + 0.5)/(df + 0.5) WITHOUT
#: the log — the repo-wide no-transcendental rule (see
#: docs_tfidf_topterms): libm last-ulp drift would break the hash, and
#: for per-term scoring the monotone log changes no ranking.
_BM25_TERM = (
    "(CASE WHEN {tf} IS NULL THEN CAST(0.0 AS DOUBLE) ELSE "
    "((CAST({n} AS DOUBLE) - {df} + 0.5) / ({df} + 0.5)) * "
    "(({tf} * 2.2) / ({tf} + 1.2 * (0.25 + 0.75 * ({dl} / {avgdl})))) "
    "END)"
)


def _bm25_score_sql(n: str, avgdl: str) -> str:
    terms = [
        _BM25_TERM.format(tf=f"tf{i}", df=f"df{i}", dl="dl", n=n, avgdl=avgdl)
        for i in (1, 2, 3)
    ]
    # fixed association order — float addition is not associative and
    # neither engine may reassociate it
    return f"(({terms[0]} + {terms[1]}) + {terms[2]})"


@query(
    "docs_bm25_rank",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t[g] AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                     AS g
            FROM documents)
      WHERE t[g] <> ''
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    qterms AS (
      SELECT term, df, row_number() OVER (ORDER BY df, term) AS r
      FROM df ORDER BY df, term LIMIT 3
    ),
    tf AS (
      SELECT t.doc_id, q.r, count(*) AS tf, max(q.df) AS df
      FROM toks t JOIN qterms q USING (term)
      GROUP BY t.doc_id, q.r
    ),
    wide AS (
      SELECT d.doc_id, d.dl,
             max(CASE WHEN r = 1 THEN tf END) AS tf1,
             max(CASE WHEN r = 2 THEN tf END) AS tf2,
             max(CASE WHEN r = 3 THEN tf END) AS tf3,
             max(CASE WHEN r = 1 THEN df END) AS df1,
             max(CASE WHEN r = 2 THEN df END) AS df2,
             max(CASE WHEN r = 3 THEN df END) AS df3
      FROM tf JOIN dl d USING (doc_id)
      GROUP BY d.doc_id, d.dl
    ),
    qconst AS (
      SELECT (SELECT max(df) FROM qterms WHERE r = 1) AS df1,
             (SELECT max(df) FROM qterms WHERE r = 2) AS df2,
             (SELECT max(df) FROM qterms WHERE r = 3) AS df3
    ),
    scored AS (
      SELECT w.doc_id, w.dl,
             {_bm25_score_sql("(SELECT n FROM stats)", "(SELECT avgdl FROM stats)").replace("df1", "q.df1").replace("df2", "q.df2").replace("df3", "q.df3")} AS score
      FROM wide w, qconst q
    )
    SELECT doc_id, dl, round(score, 6) AS score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
             AS rnk
    FROM scored
    ORDER BY rnk LIMIT 20
    """,
    since=7,
)
def docs_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-family retrieval ranking for a fixed 3-term query (the 3
    globally rarest tokens — data-derived so the entry is
    deterministic at every scale factor): full BM25 term-frequency
    saturation (k1=1.2, b=0.75, document-length normalization against
    corpus avgdl) with the log-free RSJ-odds idf, completing the
    retrieval line begun by `docs_tfidf_topterms`. The 3 per-term
    scores combine in a PINNED association order, and both engines
    evaluate the VERBATIM-shared `_BM25_TERM` expression tree — the
    float-determinism contract that lets a scoring function hash-check
    exactly (see the constant's comment).

    Scale: one token explode feeding tf (doc,term) and df (term)
    partial aggregates; the query-term table is 3 rows (broadcast), so
    per-doc scoring is a conditional pivot on the rank key — no
    per-term join fan-out; global stats (N, avgdl, per-term df) ride a
    one-row broadcast. BOTH ranked picks — the 3 rarest terms out of
    the vocabulary and the top-20 out of the candidate docs — are
    orderBy().limit(k) TakeOrderedAndProject with the rank derived
    from the k-row result in column space: the plan contains no
    global window and no full sort anywhere."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # the 3 rarest terms via orderBy().limit(3) — TakeOrderedAndProject
    # over the term vocabulary (per-partition 3-row heaps + one k-row
    # merge), NEVER a vocabulary-sized single-partition window (the
    # r9 residual: at 100 TB the distinct-term table is itself
    # billions of rows). The rank r is then derived from the 3-row
    # result in column space (sort_array over a collected struct +
    # posexplode), so the plan carries no window node at all.
    qterms = (
        df.orderBy("df", "term")
        .limit(3)
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("df", "term"))).alias("a"))
        .select(F.posexplode("a").alias("r0", "st"))
        .select(
            F.col("st.term").alias("term"),
            F.col("st.df").alias("df"),
            (F.col("r0") + 1).alias("r"),
        )
    )
    tf = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "r")
        .agg(F.count("*").alias("tf"))
    )
    wide = (
        tf.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("r") == 1, F.col("tf"))).alias("tf1"),
            F.max(F.when(F.col("r") == 2, F.col("tf"))).alias("tf2"),
            F.max(F.when(F.col("r") == 3, F.col("tf"))).alias("tf3"),
        )
        .join(dl, "doc_id")
    )
    qconst = qterms.groupBy().agg(
        F.max(F.when(F.col("r") == 1, F.col("df"))).alias("df1"),
        F.max(F.when(F.col("r") == 2, F.col("df"))).alias("df2"),
        F.max(F.when(F.col("r") == 3, F.col("df"))).alias("df3"),
    )
    scored = (
        wide.crossJoin(F.broadcast(qconst))
        .crossJoin(F.broadcast(stats))
        .withColumn("score", F.expr(_bm25_score_sql("n", "avgdl")))
    )
    # top-20 via orderBy().limit() (TakeOrderedAndProject — per-
    # partition heaps + one k-row merge, no single-partition sort of
    # the candidate set), then rnk derived from the 20-row result the
    # same window-free way as qterms above: negate the (finite,
    # positive) score so an ascending struct sort yields
    # (score DESC, doc_id ASC), posexplode for the rank. Ranking runs
    # on the FULL-precision score; round() only shapes the output.
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(20)
    return (
        top.select(
            F.struct(
                (-F.col("score")).alias("ns"),
                F.col("doc_id").alias("doc_id"),
                F.col("dl").alias("dl"),
                F.round("score", 6).alias("score"),
            ).alias("st")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list("st")).alias("a"))
        .select(F.posexplode("a").alias("rnk0", "st"))
        .select(
            F.col("st.doc_id").alias("doc_id"),
            F.col("st.dl").alias("dl"),
            F.col("st.score").alias("score"),
            (F.col("rnk0") + 1).cast("long").alias("rnk"),
        )
        .orderBy("rnk")
    )


#: Residual-fraction scorer shared verbatim by both engines (same
#: float-determinism contract as _BM25_TERM): every input is an exact
#: int64, so the two sqrt/divide ops are exactly-rounded on identical
#: operands.
_ABTT_RATIO = (
    "round(sqrt(CAST(qn2 * n2 - dot * dot AS DOUBLE) / n2)"
    " / sqrt(CAST(qn2 AS DOUBLE)), 6)"
)


@query(
    "embed_abtt_residual",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    dims AS (
      SELECT vec_id, g AS d, q[g] AS qv
      FROM q, (SELECT unnest(generate_series(1, {_PI_DIMS})) AS g)
    ),
    gram AS (
      SELECT a.d AS d1, b.d AS d2, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
      FROM dims a JOIN dims b USING (vec_id) GROUP BY 1, 2
    ),
    u1 AS (SELECT d1 AS d, CAST(sum(g) AS BIGINT) AS u FROM gram GROUP BY 1),
    s1 AS (SELECT max(abs(u)) // {_QUANT} + 1 AS s FROM u1),
    v1 AS (SELECT d, u // (SELECT s FROM s1) AS v FROM u1),
    u2 AS (
      SELECT g.d1 AS d, CAST(sum(g.g * v.v) AS BIGINT) AS u
      FROM gram g JOIN v1 v ON g.d2 = v.d GROUP BY 1
    ),
    s2 AS (SELECT max(abs(u)) // 1000 + 1 AS s FROM u2),
    v2 AS (SELECT d, u // (SELECT s FROM s2) AS v FROM u2),
    n2t AS (SELECT CAST(sum(v * v) AS BIGINT) AS n2 FROM v2),
    per AS (
      SELECT m.vec_id,
             CAST(sum(m.qv * v.v) AS BIGINT) AS dot,
             CAST(sum(m.qv * m.qv) AS BIGINT) AS qn2
      FROM dims m JOIN v2 v USING (d)
      GROUP BY m.vec_id
    )
    SELECT vec_id, dot, qn2 * n2 - dot * dot AS res_num,
           {_ABTT_RATIO} AS res_ratio
    FROM per, n2t
    """,
    since=7,
)
def embed_abtt_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top residual profile (Mu & Viswanath, ICLR'18 —
    removing the corpus-common direction from embeddings before
    similarity search): for each vector, the fraction of its mass
    OUTSIDE the direction `embed_power_iteration`'s two Gram rounds
    produce (on an anisotropic corpus that IS the common direction —
    see that entry's convergence accounting; on this near-isotropic
    test corpus it is the deterministic 2-round iterate). The whole computation stays in exact int64 via the
    Gram identity n2*|r|^2 = (q.q)(v.v) - (q.v)^2 (Cauchy-Schwarz
    keeps it non-negative): the direction is rescaled to ~1e3
    magnitude so every product stays under 2^63 with the corpus'
    measured |x| <= 0.58 envelope; only the final two sqrt/divides are
    float — the verbatim-shared `_ABTT_RATIO` tree, exactly rounded on
    identical integer operands, hence bitwise cross-engine. A vector
    with res_ratio near 0 IS the common-direction hub — the ones ABTT
    deletes before cosine ranking.

    Scale: reuses `_gram` (the one data-sized pass, dims^2 partial
    sums); the per-vector pass is one equi-join of the exploded
    vectors against a 64-row broadcast direction + a vec_id-keyed
    integer aggregate — linear, map-side combinable, no float
    reduction anywhere."""
    # r12 optimization: direction + n² computed driver-side from the
    # collected (dims²-sized, control-plane) Gram and inlined as
    # literals; per-vector moments reduce each row's own q array — see
    # embed_knn_abtt for the full rationale. Bit-identical: exact
    # integer sums reassociate, and _power_direction reproduces
    # _pi_step's rescale op-for-op.
    v2m, n2 = _power_direction(
        _gram_arrow(spark, sf_dir, materialize=False), (_QUANT, 1000)
    )
    v2arr = F.array(
        *[F.lit(v2m.get(d, 0)).cast("long") for d in range(1, _PI_DIMS + 1)]
    )
    dot = F.aggregate(
        F.zip_with(F.col("q"), v2arr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qn2 = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per = _quantized(spark, sf_dir).select(
        "vec_id",
        dot.alias("dot"),
        qn2.alias("qn2"),
        F.lit(n2).cast("long").alias("n2"),
    )
    return per.select(
        "vec_id",
        "dot",
        (F.col("qn2") * F.col("n2") - F.col("dot") * F.col("dot")).alias(
            "res_num"
        ),
        F.expr(_ABTT_RATIO).alias("res_ratio"),
    )


_CHUNK = 40  # tokens per chunk
_STRIDE = 30  # tokens between chunk starts (25% overlap)


@query(
    "docs_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((g - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
             g AS start_tok,
             t[g:least(g + {_CHUNK} - 1, len(t))] AS c
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t), 1), {_STRIDE}))
                     AS g
            FROM toks)
      WHERE len(t) > 0
    )
    SELECT doc_id, chunk_idx, CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(c) AS BIGINT) AS n_tokens,
           md5(array_to_string(c, ' ')) AS chunk_hash
    FROM chunks
    """,
    since=7,
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking — the context-window prep
    step between cleaning and training: each document splits into
    {_CHUNK}-token windows on a {_STRIDE}-token stride (25% overlap so
    no boundary loses context), the dual of `docs_pack_sequences`
    (chunking splits long docs down to budget; packing bins short ones
    up to it). Each chunk carries its md5 content hash — the join key
    chunk-level dedup and retrieval indexing both need — so the oracle
    checks the exact chunk CONTENT, not just offsets.

    Scale: one projection computes the token array; the per-doc
    explode emits ceil(len/stride) rows whose payload is a slice
    reference — all JVM-side codegen (sequence + transform + slice +
    array_join), no Python boundary, no shuffle at all until a
    downstream aggregate. The chunk table is what feeds the ANN index
    build (embed_* family) in a real pipeline."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("t"),
    ).filter(F.size("t") > 0)
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(_STRIDE))
        ).alias("g"),
    )
    c = F.slice(
        F.col("t"),
        F.col("g"),
        F.least(F.lit(_CHUNK), F.size("t") - F.col("g") + 1),
    )
    return starts.select(
        "doc_id",
        ((F.col("g") - 1) / _STRIDE).cast("long").alias("chunk_idx"),
        F.col("g").cast("long").alias("start_tok"),
        F.size(c).cast("long").alias("n_tokens"),
        F.md5(F.array_join(c, " ")).alias("chunk_hash"),
    )


#: ABTT-corrected cosine: every operand is an exact int64 (n2 = |v|²,
#: dab = a·b, da/db = a·v, b·v, qa2/qb2 = |a|², |b|²), so the shared
#: tree is bitwise cross-engine (same contract as _ABTT_RATIO).
#: Identity: residual cosine = (n2·(a·b) − (a·v)(b·v)) /
#: (sqrt(n2·|a|² − (a·v)²) · sqrt(n2·|b|² − (b·v)²)).
_ABTT_COS = (
    "round((n2 * dab - da * db)"
    " / (sqrt(CAST(n2 * qa2 - da * da AS DOUBLE))"
    " * sqrt(CAST(n2 * qb2 - db * db AS DOUBLE))), 6)"
)


@query(
    "embed_knn_abtt",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    dims AS (
      SELECT vec_id, g AS d, q[g] AS qv
      FROM q, (SELECT unnest(generate_series(1, {_PI_DIMS})) AS g)
    ),
    gram AS (
      SELECT a.d AS d1, b.d AS d2, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
      FROM dims a JOIN dims b USING (vec_id) GROUP BY 1, 2
    ),
    u1 AS (SELECT d1 AS d, CAST(sum(g) AS BIGINT) AS u FROM gram GROUP BY 1),
    s1 AS (SELECT max(abs(u)) // {_QUANT} + 1 AS s FROM u1),
    v1 AS (SELECT d, u // (SELECT s FROM s1) AS v FROM u1),
    u2 AS (
      SELECT g.d1 AS d, CAST(sum(g.g * v.v) AS BIGINT) AS u
      FROM gram g JOIN v1 v ON g.d2 = v.d GROUP BY 1
    ),
    s2 AS (SELECT max(abs(u)) // 1000 + 1 AS s FROM u2),
    v2 AS (SELECT d, u // (SELECT s FROM s2) AS v FROM u2),
    n2t AS (SELECT CAST(sum(v * v) AS BIGINT) AS n2 FROM v2),
    per AS (
      SELECT m.vec_id,
             CAST(sum(m.qv * v.v) AS BIGINT) AS dv,
             CAST(sum(m.qv * m.qv) AS BIGINT) AS qn2
      FROM dims m JOIN v2 v USING (d)
      GROUP BY m.vec_id
    ),
    vecs AS (
      SELECT q.vec_id, q.q, p.dv, p.qn2
      FROM q JOIN per p USING (vec_id)
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             (SELECT n2 FROM n2t) AS n2,
             CAST({_DOT_SQL} AS BIGINT) AS dab,
             a.dv AS da, b.dv AS db, a.qn2 AS qa2, b.qn2 AS qb2
      FROM vecs a JOIN vecs b
        ON a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, {_ABTT_COS} AS cosine_resid,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY {_ABTT_COS} DESC, neighbor_id)
               AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_resid, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """,
    since=7,
)
def embed_knn_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k under ABTT-corrected cosine — similarity search
    AFTER removing the corpus-common direction (the
    `embed_abtt_residual` cleanup applied to ranking, which is the
    point of ABTT: hub vectors that score high against everything on
    raw cosine stop dominating once the shared component is projected
    out). The whole pipeline composes the spectral helpers: Gram →
    power direction → per-vector (q·v, |q|²) moments → pairwise
    residual cosine via the integer identity in `_ABTT_COS` — no
    residual VECTORS are ever materialized (the correction is three
    extra int64 scalars per pair on top of the raw dot), and the
    shared float tree keeps ranking bitwise cross-engine.

    Scale: identical shape to `embed_knn_bruteforce` (broadcast query
    rows × corpus scan + per-query top-k window) plus the Gram pass;
    the moments ride the same row, so ABTT correction at 100 TB costs
    one extra broadcast join — not a second vector pass. IVF/LSH
    candidate generation composes in front unchanged."""
    # r12 optimization: the spectral chain up to the direction is
    # control-plane-sized (Gram = dims² rows regardless of corpus), so
    # the two power-iteration rounds run driver-side on the collected
    # Gram (_power_direction — bit-identical integer math) and the
    # direction comes back as a 64-element LITERAL array. The
    # per-vector moments then reduce over each row's own q array —
    # no posexplode, no dims join, no vec_id re-aggregation shuffle,
    # and no join-back onto _quantized (the moments ride the same
    # projection). Plan: 10 jobs -> 3, the 1987-line physical plan
    # collapses to ~40 lines; measured 3.1 s -> ~1 s at sf0.1 with the
    # same oracle hash. Integer sums reassociate exactly, so the
    # array-order reduction equals the exploded groupBy sum.
    v2m, n2 = _power_direction(
        _gram_arrow(spark, sf_dir, materialize=False), (_QUANT, 1000)
    )
    v2arr = F.array(
        *[F.lit(v2m.get(d, 0)).cast("long") for d in range(1, _PI_DIMS + 1)]
    )
    dv = F.aggregate(
        F.zip_with(F.col("q"), v2arr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qn2 = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    vecs = _quantized(spark, sf_dir).select(
        "vec_id", "q", dv.alias("dv"), qn2.alias("qn2")
    )
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    corpus = vecs.alias("b")
    dab = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.lit(n2).cast("long").alias("n2"),
            dab.cast("long").alias("dab"),
            F.col("a.dv").alias("da"),
            F.col("b.dv").alias("db"),
            F.col("a.qn2").alias("qa2"),
            F.col("b.qn2").alias("qb2"),
        )
        .withColumn("cosine_resid", F.expr(_ABTT_COS))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_resid").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine_resid", "rn")
    )


@query(
    "embed_cluster_purity",
    oracle=_KM_ORACLE_HEAD
    + ","
    + _km_oracle_round("el", "c0", 1)
    + ","
    + _km_oracle_round("el", "c1", 2)
    + f""",
    d3 AS (SELECT el.vec_id, c.cid,
                  sum((el.v - c.cv) * (el.v - c.cv)) AS dist
           FROM el JOIN c2 c ON el.pos = c.pos
           GROUP BY el.vec_id, c.cid),
    a3 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn
             FROM d3) WHERE rn = 1),
    cont AS (
      SELECT a.cid, e.label, count(*) AS n
      FROM a3 a JOIN embeddings e USING (vec_id)
      GROUP BY a.cid, e.label
    ),
    top AS (
      SELECT cid, label AS top_label, n AS top_n,
             CAST(nm AS BIGINT) AS n_members
      FROM (SELECT cid, label, n,
                   sum(n) OVER (PARTITION BY cid) AS nm,
                   row_number() OVER (PARTITION BY cid
                                      ORDER BY n DESC, label) AS rn
            FROM cont)
      WHERE rn = 1
    ),
    tot AS (
      SELECT CAST(sum(top_n) AS BIGINT) AS agree,
             CAST(sum(n_members) AS BIGINT) AS total
      FROM top
    )
    SELECT t.cid, t.n_members, CAST(t.top_label AS BIGINT) AS top_label,
           CAST(t.top_n AS BIGINT) AS top_n,
           round(CAST(g.agree AS DOUBLE) / g.total, 6) AS purity
    FROM top t, tot g
    """,
    since=7,
)
def embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering evaluation — PURITY of the integer-exact Lloyd
    clusters against the embeddings table's ground-truth labels: per
    cluster the majority label and its count (ties broken on min
    label, deterministic), plus the corpus-level purity score
    Σ majority / N as a constant column — the quality metric that
    closes the train→assign→evaluate loop (`embed_kmeans_lloyd` trains
    and assigns; this entry grades). Counts are integers; the single
    purity division is one exactly-rounded IEEE op.

    Scale: reuses the shared Lloyd construction (`_lloyd_train_assign`
    — zero-shuffle broadcast assignment); evaluation adds one
    (cid,label)-keyed count (C x labels rows), a per-cluster top-1
    window over that tiny frame, and a one-row broadcast total."""
    final, _ = _lloyd_train_assign(spark, sf_dir)
    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cont = (
        final.join(labels, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("cid").orderBy(F.col("n").desc(), "label")
    sizes = W.partitionBy("cid")
    top = (
        cont.withColumn("n_members", F.sum("n").over(sizes).cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            "n_members",
            F.col("label").cast("long").alias("top_label"),
            F.col("n").cast("long").alias("top_n"),
        )
    )
    tot = top.agg(
        F.sum("top_n").cast("long").alias("agree"),
        F.sum("n_members").cast("long").alias("total"),
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_members",
        "top_label",
        "top_n",
        F.round(F.col("agree").cast("double") / F.col("total"), 6).alias(
            "purity"
        ),
    )


@query(
    "docs_minhash_recall",
    oracle=_SHINGLES_SQL
    + f"""
    , sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    ov AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ),
    exact AS (
      SELECT doc_a, doc_b FROM ov
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    ),
    mh AS (
      SELECT doc_id, {_minhash_cols_sql()}
      FROM sh GROUP BY doc_id
    ),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    lsh AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN mh a ON doc_a = a.doc_id
      JOIN mh b ON doc_b = b.doc_id
      WHERE ({_MATCHES_SQL}) / {_H}.0 >= {_EST_THRESHOLD}
    ),
    counts AS (
      SELECT (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM lsh) AS n_lsh,
             (SELECT count(*) FROM exact e
              WHERE EXISTS (SELECT 1 FROM lsh l
                            WHERE l.doc_a = e.doc_a
                              AND l.doc_b = e.doc_b)) AS n_hit
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_exact = 0 THEN NULL
                ELSE round(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall,
           CASE WHEN n_lsh = 0 THEN NULL
                ELSE round(CAST(n_hit AS DOUBLE) / n_lsh, 6) END AS precision
    FROM counts
    """,
    since=7,
)
def docs_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED MinHash-LSH quality — recall AND precision of the
    banded-signature near-dup pipeline against the exact shingle-
    Jaccard truth set, as a hash-checked single row: the approximation
    trade every 100 TB dedup makes (LSH instead of all-pairs) carried
    as data the driver verifies, not a claim in a docstring (same
    self-measuring pattern as `join_bloom_prefilter`'s false-positive
    funnel; the pytest recall pin in tests/test_recall.py checks the
    ANN family — this entry puts the dedup family's number under the
    oracle). Both sides are deterministic — md5 minima for signatures,
    exact integer overlap counts for truth — so recall/precision are
    exactly reproducible, and regressions in band count, hash family,
    or threshold flip the row.

    Scale: the truth side is the shared-shingle blocked join (the
    exact oracle this engine keeps for exactly this purpose, SCALE.md
    trade-offs); the LSH side is the production one-shuffle signature
    pipeline (`_minhash_pairs`); the comparison itself is two
    pair-keyed semi-joins on frames already bounded by the dedup
    candidate volume."""
    exact = docs_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    hit = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    return (
        n_exact.crossJoin(n_lsh)
        .crossJoin(n_hit)
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            F.when(
                F.col("n_exact") != 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_exact"), 6),
            ).alias("recall"),
            F.when(
                F.col("n_lsh") != 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_lsh"), 6),
            ).alias("precision"),
        )
    )


@query(
    "docs_length_outliers_mad",
    oracle="""
    WITH lens AS (SELECT doc_id, n_chars FROM documents),
    med AS (
      SELECT n_chars AS median FROM (
        SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
               count(*) OVER () AS n
        FROM lens)
      WHERE rn = (n + 1) // 2
    ),
    devs AS (
      SELECT l.doc_id, l.n_chars,
             abs(l.n_chars - m.median) AS dev, m.median
      FROM lens l, med m
    ),
    mad AS (
      SELECT dev AS mad FROM (
        SELECT dev, row_number() OVER (ORDER BY dev, doc_id) AS rn,
               count(*) OVER () AS n
        FROM devs)
      WHERE rn = (n + 1) // 2
    )
    SELECT d.doc_id, d.n_chars, d.median, m.mad,
           d.dev > 2 * m.mad AS is_outlier
    FROM devs d, mad m
    WHERE d.dev > 2 * m.mad
    """,
    since=7,
)
def docs_length_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by MEDIAN ABSOLUTE DEVIATION — the
    length-distribution screen a quality pipeline runs where
    mean/stddev would be dragged by the very outliers it hunts
    (`docs_length_percentiles` profiles the distribution; this entry
    flags the tail). Integer-exact throughout: the median is the
    count-based lower median (row_number = (n+1) div 2, doc_id
    tie-break — deterministic, no interpolation to drift cross-engine),
    deviations are integer |x − med|, MAD is the median of those, and
    the 2×MAD fence is an integer comparison (2× not the classic 3×:
    this corpus' length spread is tight enough that 3×MAD flags
    nothing — the fence is a parameter, chosen non-empty so the
    correctness gate checks real rows). No float anywhere.

    Scale: two global sorts (median, MAD-median) are the honest exact
    cost — each is a single-column sort of (value, id) pairs; at
    warehouse scale swap in approx_percentile for the median and keep
    the integer fence (the same exact-vs-approx stance documented on
    the RFM and ABC entries)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.orderBy("n_chars", "doc_id")
    lens = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(W.partitionBy())
    )
    med = lens.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("n_chars").alias("median"))
    devs = d.crossJoin(F.broadcast(med)).select(
        "doc_id",
        "n_chars",
        "median",
        F.abs(F.col("n_chars") - F.col("median")).alias("dev"),
    )
    wd = W.orderBy("dev", "doc_id")
    mad = (
        devs.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count("*").over(W.partitionBy()))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("dev").alias("mad"))
    )
    return (
        devs.crossJoin(F.broadcast(mad))
        .filter(F.col("dev") > 2 * F.col("mad"))
        .select(
            "doc_id",
            "n_chars",
            "median",
            "mad",
            (F.col("dev") > 2 * F.col("mad")).alias("is_outlier"),
        )
    )


#: The ONLY float arithmetic in the HHI entry, shared VERBATIM between
#: Spark and DuckDB: both engines evaluate it once, on one row, over
#: exact integers — no reduction order exists to drift.
_HHI_EXPR = (
    "round(CAST(sumsq AS DOUBLE) * 10000.0 / "
    "(CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 4)"
)


@query(
    "supplier_concentration_hhi",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total,
                   count(*) AS n_suppliers,
                   CAST(max(cents) AS BIGINT) AS top_cents,
                   sum(CAST(cents AS HUGEINT) * cents) AS sumsq
            FROM rev)
    SELECT n_suppliers, total, top_cents,
           {_HHI_EXPR} AS hhi,
           round(10000.0 / n_suppliers, 4) AS hhi_uniform
    FROM tot
    """,
    since=7,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration profile: the Herfindahl–Hirschman index of
    supplier revenue shares (Σ share², ×10000 points — the antitrust
    scale), with the uniform-market floor 10000/n for context.

    Integer-exact per ADVICE r6: HHI = Σcents² / total² — both moments
    accumulate as EXACT wide integers (decimal(38,0) in Spark, HUGEINT
    in DuckDB; cents² ≈ 1e20 overflows int64, hence the widening), so
    no float reduction exists anywhere and partition/reduce order
    cannot move the result. The one float expression (``_HHI_EXPR``) is
    evaluated once on the single result row, over identical exact
    inputs, with its SQL text shared verbatim between both engines.

    Scale: one suppkey aggregate, then a one-row total — the HHI fold
    rides the same aggregate (n_suppliers ≪ rows), the concentration
    dashboard every marketplace computes."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(cents).cast("long").alias("cents")
    )
    wide = F.col("cents").cast("decimal(38,0)")
    tot = rev.agg(
        F.sum("cents").cast("long").alias("total"),
        F.count("*").alias("n_suppliers"),
        F.max("cents").cast("long").alias("top_cents"),
        F.sum(wide * wide).alias("sumsq"),
    )
    return tot.select(
        "n_suppliers",
        "total",
        "top_cents",
        F.expr(_HHI_EXPR).alias("hhi"),
        # 10000.0 lexes as decimal(5,1) in Spark but DOUBLE in DuckDB —
        # pin the double type explicitly
        F.expr("round(CAST(10000.0 AS DOUBLE) / n_suppliers, 4)").alias(
            "hhi_uniform"
        ),
    )


@query(
    "embed_ivf_recall",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    cent AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < {_IVF_C}),
    assign_scored AS (
      SELECT v.vec_id, v.q, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_sum(list_transform(generate_series(1, len(v.q)),
                                                i -> v.q[i] * c.cq[i])) DESC,
                        c.cid
             ) AS crn
      FROM q v CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, q, cid FROM assign_scored WHERE crn = 1),
    probes AS (SELECT vec_id, q, cid FROM assign_scored
               WHERE vec_id < {_N_QUERIES} AND crn <= {_IVF_PROBE}),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round({_DOT_SQL} /
                           ({_NORM_SQL.format(s='a')} *
                            {_NORM_SQL.format(s='b')}), 6) AS cosine
              FROM probes a JOIN assign b
                ON a.cid = b.cid AND b.vec_id <> a.vec_id))
      WHERE rn <= {_TOP_K}
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round({_DOT_SQL} /
                           ({_NORM_SQL.format(s='a')} *
                            {_NORM_SQL.format(s='b')}), 6) AS cosine
              FROM q a JOIN q b ON a.vec_id < {_N_QUERIES}
                                AND b.vec_id <> a.vec_id))
      WHERE rn <= {_TOP_K}
    )
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(i.neighbor_id) AS DOUBLE) / {_TOP_K}, 6)
             AS recall_at_k
    FROM bf b LEFT JOIN ivf i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    """,
    since=7,
)
def embed_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED ANN quality — per-query recall@{_TOP_K} of the IVF
    cell-probed search against the brute-force exact top-k, as
    oracle-checked data: the similarity-search twin of
    `docs_minhash_recall` (tests/test_recall.py pins the same number
    in pytest; this entry puts it under the driver's hash so a probe-
    count or quantizer regression is a CORRECTNESS failure, not just a
    test failure). Both sides are deterministic — quantized integer
    cosines, doc-id tie-breaks — so per-query hit counts are exact.

    Scale: reuses the production IVF pipeline and the brute-force
    baseline unchanged; the comparison is a (query, neighbor)-keyed
    left join on two K-row-per-query frames — negligible beside
    either search."""
    ivf = _ivf_topk(spark, sf_dir, mode=_IVF_MAT).select(
        "query_id", "neighbor_id"
    )
    bf = embed_knn_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_neighbor")
    )
    joined = bf.join(
        ivf,
        (bf["query_id"] == ivf["query_id"])
        & (bf["bf_neighbor"] == ivf["neighbor_id"]),
        "left",
    )
    return (
        joined.groupBy(bf["query_id"].alias("query_id"))
        .agg(F.count(ivf["neighbor_id"]).cast("long").alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            F.round(F.col("n_hit").cast("double") / _TOP_K, 6).alias(
                "recall_at_k"
            ),
        )
    )


@query(
    "docs_substring_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    wins AS (
      SELECT doc_id, g AS pos,
             md5(array_to_string(toks[g : g + 7], ' ')) AS fp
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 7)) AS g
            FROM t WHERE len(toks) >= 8)
    ),
    dup_fp AS (SELECT fp FROM wins GROUP BY fp HAVING count(*) >= 2),
    dwin AS (SELECT w.doc_id, w.pos, w.pos + 7 AS "end"
             FROM wins w SEMI JOIN dup_fp d ON w.fp = d.fp),
    flagged AS (
      SELECT doc_id, pos, "end",
             CASE WHEN max("end") OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR pos > max("end") OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) + 1
             THEN 1 ELSE 0 END AS new_span
      FROM dwin
    ),
    spans AS (
      SELECT doc_id,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id,
             pos, "end"
      FROM flagged
    ),
    per_span AS (
      SELECT doc_id, span_id, min(pos) AS s, max("end") AS e
      FROM spans GROUP BY doc_id, span_id
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_dup_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM per_span GROUP BY doc_id
    ),
    nwin AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
             FROM dwin GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(coalesce(nwin.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
    FROM documents d
    LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    LEFT JOIN nwin ON d.doc_id = nwin.doc_id
    """,
)
def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring duplication profile — the C4/RefinedWeb training
    -data hygiene step (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": repeated >=N-token substrings are the
    memorization vector): every 8-token window is fingerprinted
    (md5 — the corpus-scale variant swaps in a cheaper rolling hash,
    same plan shape), windows whose fingerprint occurs >=2 times
    ANYWHERE in the corpus are duplicated, and per document the
    duplicated windows merge into maximal covered SPANS (the
    adjacency-merge union — the scalable approximation of true
    suffix-array maximal repeats) with exact integer outputs:
    n_tokens, n_dup_windows, n_dup_spans, dup_tokens. A trainer drops
    or trims spans; docs with zero duplication ride along with zeros.

    Scale: windows are built by slice() over the token array (NO
    self-join fan-out — one row per token, window text materialized
    only into the md5); the fingerprint groupBy is the one big shuffle
    (key cardinality = distinct windows, uniformly hashed, no skew);
    the dup set flows back over a fingerprint semi-join; span merging
    is a per-doc ordered window (partition = document). Linear end to
    end; at 100 TB the dup-fingerprint table is the only global state
    and it shrinks with the duplication rate."""
    # r12: spread small inputs before the window-fingerprint map stage
    # (md5 per 8-token window, scan-rooted — one task on a single-split
    # file); no-op at scale, aggregates all integer/count
    t = spread_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "text", F.split("text", " ").alias("toks"))
    wins = (
        t.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - 7)
            ).alias("pos"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.array_join(F.slice("toks", F.col("pos"), F.lit(8)), " ")
            ).alias("fp"),
        )
    )
    dup_fp = wins.groupBy("fp").count().filter(F.col("count") >= 2).select("fp")
    dwin = wins.join(dup_fp, "fp", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + 7).alias("end")
    )
    w_prev = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = dwin.withColumn(
        "new_span",
        F.when(
            F.max("end").over(w_prev).isNull()
            | (F.col("pos") > F.max("end").over(w_prev) + 1),
            1,
        ).otherwise(0),
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    spans = flagged.withColumn("span_id", F.sum("new_span").over(w_run))
    per_span = spans.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )
    per_doc = per_span.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    nwin = dwin.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows")
    )
    return (
        t.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .join(nwin, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
        )
    )


@query(
    "docs_bigram_familiarity",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    bg AS (
      SELECT doc_id, concat(toks[g], ' ', toks[g + 1]) AS bigram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS g
            FROM t WHERE len(toks) >= 2)
    ),
    lm AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c
           FROM bg GROUP BY bigram),
    scored AS (
      SELECT bg.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(length(bin(lm.c))) AS BIGINT) AS familiarity_bits,
             CAST(sum(CASE WHEN lm.c <= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS rare_bigrams
      FROM bg JOIN lm USING (bigram)
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, familiarity_bits, rare_bigrams,
           round(CAST(familiarity_bits AS DOUBLE) / n_bigrams, 4)
             AS avg_bits,
           round(CAST(rare_bigrams AS DOUBLE) / n_bigrams, 4)
             AS rare_pct
    FROM scored
    """,
)
def docs_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM familiarity score — the perplexity-filter shape of
    CCNet/CC-pipeline quality gating (train an n-gram LM, keep docs
    the model finds unsurprising), made INTEGER-EXACT: the corpus
    bigram table is the trained model, and each document scores
    Σ bit_length(corpus_count(bigram)) over its bigrams —
    floor(log2)+1, a monotone integer surrogate for summed log-counts
    (what log-likelihood sums up to a normalization the ranking
    doesn't need), so no transcendental ever crosses an engine
    boundary. rare_bigrams (count <= 2) is the gibberish signal:
    documents dominated by corpus-rare transitions rank for removal.
    The two ratio columns are single exactly-rounded IEEE divisions
    (the tf/df precedent).

    Scale: one token-pair explode (row count = token count), one
    bigram-keyed count aggregate (the trained LM — vocabulary², in
    practice Zipf-bounded), one equi-join of doc bigrams back to the
    LM (AQE broadcasts small LMs), one per-doc aggregate. The LM
    table is the only global state; scoring a NEW batch against a
    frozen LM reuses the same join, which is how the incremental
    deployment runs."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    bg = (
        t.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("g"),
            "toks",
        )
        .select(
            "doc_id",
            F.concat(
                F.element_at("toks", F.col("g")),
                F.lit(" "),
                F.element_at("toks", F.col("g") + 1),
            ).alias("bigram"),
        )
    )
    lm = bg.groupBy("bigram").agg(F.count("*").cast("long").alias("c"))
    scored = (
        bg.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.length(F.bin("c"))).cast("long").alias(
                "familiarity_bits"
            ),
            F.sum(F.when(F.col("c") <= 2, 1).otherwise(0))
            .cast("long")
            .alias("rare_bigrams"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "familiarity_bits",
        "rare_bigrams",
        F.round(
            F.col("familiarity_bits").cast("double") / F.col("n_bigrams"), 4
        ).alias("avg_bits"),
        F.round(
            F.col("rare_bigrams").cast("double") / F.col("n_bigrams"), 4
        ).alias("rare_pct"),
    )


@query(
    "docs_winnowing_fingerprints",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    grams AS (
      SELECT doc_id, g AS pos,
             md5(array_to_string(toks[g : g + 2], ' ')) AS h
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS g
            FROM t WHERE len(toks) >= 3)
    ),
    keyed AS (
      SELECT doc_id, pos, h,
             h || '#' || lpad(CAST(pos AS VARCHAR), 6, '0') AS hk
      FROM grams
    ),
    winmin AS (
      SELECT doc_id,
             min(hk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
             pos,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM keyed
      QUALIFY pos <= n_grams - 3
    ),
    selected AS (
      SELECT DISTINCT doc_id, substr(sel, 1, 32) AS h,
             CAST(substr(sel, 34, 6) AS BIGINT) AS pos
      FROM winmin
    ),
    shared AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM selected)
               GROUP BY h HAVING count(*) >= 2),
    per_doc AS (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_selected,
             CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM selected s LEFT JOIN shared sh ON s.h = sh.h
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_selected, n_shared,
           round(CAST(n_shared AS DOUBLE) / n_selected, 4) AS shared_pct
    FROM per_doc
    """,
)
def docs_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT winnowing match analysis — the second half of
    the MOSS pipeline (Schleimer/Wilkerson/Aiken, SIGMOD'03).
    ``docs_fingerprint_winnow`` pins the SELECTION stage (char-k-gram
    window minima, per-doc fingerprint count); this entry runs the
    stage MOSS exists for: which selected fingerprints are SHARED
    between documents. Token-3-grams (word grain, not char grain) are
    hashed, each 4-window's minimum selected with a deterministic
    position tie-break (the lexicographic 'hash#pos' key, so both
    engines pick the identical gram — plain min(h) would be ambiguous
    under hash ties), then every selected fingerprint is checked for
    presence in >= 2 documents. The winnowing guarantee: any shared
    run of >= window+gram tokens yields at least one shared selected
    fingerprint, at ~2/(w+1) the storage of full shingling. Output per
    doc: fingerprints selected, shared count, shared fraction — the
    plagiarism / near-dup triage signal. Exact integers + one rounded
    division; hash-checked.

    Scale: gram hashing is slice+md5 per token (no fan-out); window
    minima are a per-doc ordered window; the shared set is one
    fingerprint-keyed aggregate (cardinality = selected fingerprints,
    ~n_tokens/2 per doc). The selected-fingerprint table IS the
    persisted index at 100 TB — queries probe it, never the corpus."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = (
        t.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 2)).alias("pos"),
            "toks",
        )
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.array_join(F.slice("toks", F.col("pos"), F.lit(3)), " ")
            ).alias("h"),
        )
    )
    keyed = grams.withColumn(
        "hk",
        F.concat(
            F.col("h"), F.lit("#"), F.lpad(F.col("pos").cast("string"), 6, "0")
        ),
    )
    w_cnt = W.partitionBy("doc_id")
    w_win = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    )
    winmin = (
        keyed.withColumn("n_grams", F.count("*").over(w_cnt))
        .withColumn("sel", F.min("hk").over(w_win))
        .filter(F.col("pos") <= F.col("n_grams") - 3)
    )
    selected = winmin.select(
        "doc_id",
        F.substring("sel", 1, 32).alias("h"),
        F.substring("sel", 34, 6).cast("long").alias("pos"),
    ).distinct()
    shared = (
        selected.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .count()
        .filter(F.col("count") >= 2)
        .select("h")
    )
    per_doc = (
        selected.join(shared.withColumn("is_shared", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_selected"),
            F.sum(F.coalesce("is_shared", F.lit(0))).cast("long").alias(
                "n_shared"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_selected",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_selected"), 4
        ).alias("shared_pct"),
    )


_RP_K = 16
_RP_SIGN_SQL = (
    "CASE WHEN substr(md5(CAST(i AS STRING) || ':' || CAST(j AS STRING)),"
    " 1, 1) < '8' THEN 1 ELSE -1 END"
)


@query(
    "embed_random_projection",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    proj AS (
      SELECT vec_id, j,
             list_sum(list_transform(generate_series(1, len(q)),
                      i -> ({_RP_SIGN_SQL}) * q[i])) AS y
      FROM q, unnest(generate_series(0, {_RP_K - 1})) AS t(j)
    )
    SELECT vec_id, CAST(j AS INTEGER) AS dim, CAST(y AS BIGINT) AS y
    FROM proj
    """,
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection, 64 -> {_RP_K} dims with
    a DETERMINISTIC Rademacher (+-1) matrix — the dimensionality-
    reduction front-end every 100 TB embedding pipeline runs before
    LSH/IVF (Achlioptas 2001: +-1 entries preserve pairwise distances
    in expectation exactly like Gaussian projections, with integer
    arithmetic). The sign s(i,j) derives from md5('i:j') (first hex
    char < '8'), so BOTH engines synthesize the identical matrix from
    nothing, the projection of the integer-quantized vectors is EXACT
    (sums of int64 — no float reduction anywhere), and the driver row
    hash-checks every output coordinate. The JL distortion guarantee
    itself is measured independently in tests/test_recall.py against
    numpy on real pairs.

    Scale: one pass, no shuffle at all — each vector's {_RP_K}
    projections are a per-row zip_with over its own array against a
    LITERAL sign row. The signs are hashed ONCE on the driver (k*d =
    1024 md5 calls — the oracle recomputes the identical hashes in
    SQL) and folded into the plan as constants, instead of re-hashing
    per (row, i, j): interleaved A/B at sf0.1 measured 1.95 s (md5 per
    element) -> 0.30 s steady-state (literal signs; a
    project-then-posexplode variant measured 0.42 s and lost). At
    billion-vector scale the difference is the md5 throughput of the
    whole cluster."""
    import hashlib

    q = _quantized(spark, sf_dir)
    signs = [
        [
            1
            if hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0] < "8"
            else -1
            for i in range(1, 65)
        ]
        for j in range(_RP_K)
    ]
    sign_lit = F.array(
        *[F.array(*[F.lit(s) for s in row]) for row in signs]
    )
    proj = q.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_RP_K - 1))).alias("j"),
        "q",
        sign_lit.alias("s"),
    )
    y = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.element_at("s", F.col("j") + 1),
            lambda x, s: x * s,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return proj.select(
        "vec_id",
        F.col("j").cast("int").alias("dim"),
        y.cast("long").alias("y"),
    )


_SHARD_N = 8


@query(
    "docs_shard_assignment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
             md5(CAST(doc_id AS STRING)) AS h
      FROM documents
    ),
    cum AS (
      SELECT doc_id, tokens, h,
             CAST(sum(tokens) OVER (ORDER BY h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS c,
             CAST(sum(tokens) OVER () AS BIGINT) AS total
      FROM t
    )
    SELECT doc_id, tokens,
           CAST(((c - 1) * {_SHARD_N}) // total AS BIGINT) AS shard
    FROM cum
    """,
)
def docs_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + TOKEN-balanced shard assignment —
    the training-shard build step (shuffle the corpus, then cut it
    into N shards of ~equal token budget, not equal doc count):
    documents order by md5(doc_id) (the reproducible shuffle), the
    running token total assigns shard = (cum-1)*N div total — exact
    integer arithmetic, every doc's assignment hash-checked.

    Scale: the naive cumulative sum is a GLOBAL ordered window — a
    single-partition sort at 100 TB. This implementation uses the
    distributed two-level prefix sum instead: 16 hash buckets (first
    md5 hex digit) each compute their internal ordered cumsum IN
    PARALLEL, bucket totals (16 rows) produce per-bucket offsets via a
    broadcast, and cum = bucket_offset + within_bucket_cum. Identical
    result (bucket boundaries respect the global md5 order because the
    bucket IS the leading hex digit), parallelism = bucket count x
    within-bucket partitions. The DuckDB oracle uses the plain global
    window — same arithmetic, different physical plan, which is the
    point."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    t = t.withColumn("bucket", F.substring("h", 1, 1))
    w_in = (
        W.partitionBy("bucket")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    t = t.withColumn("in_cum", F.sum("tokens").over(w_in).cast("long"))
    btot = t.groupBy("bucket").agg(
        F.sum("tokens").cast("long").alias("btokens")
    )
    w_b = (
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    )
    boff = btot.select(
        "bucket",
        F.coalesce(F.sum("btokens").over(w_b), F.lit(0))
        .cast("long")
        .alias("offset"),
    )
    total = t.agg(F.sum("tokens").cast("long").alias("total"))
    out = (
        t.join(F.broadcast(boff), "bucket")
        .crossJoin(F.broadcast(total))
        .withColumn("c", F.col("offset") + F.col("in_cum"))
    )
    return out.select(
        "doc_id",
        "tokens",
        F.expr(f"CAST(((c - 1) * {_SHARD_N}) div total AS BIGINT)").alias(
            "shard"
        ),
    )


@query(
    "lineitem_skew_report",
    oracle="""
    WITH sizes AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS sz
      FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT key, sz,
             row_number() OVER (ORDER BY sz, key) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n_keys,
             CAST(sum(sz) OVER () AS BIGINT) AS total_rows,
             CAST(max(sz) OVER () AS BIGINT) AS max_sz
      FROM sizes
    ),
    pct AS (
      SELECT n_keys, total_rows, max_sz,
             max(CASE WHEN rn * 2 >= n_keys THEN NULL ELSE sz END) AS _x,
             min(CASE WHEN rn * 2 >= n_keys THEN sz ELSE NULL END) AS p50,
             min(CASE WHEN rn * 100 >= n_keys * 99 THEN sz ELSE NULL END)
               AS p99
      FROM ranked GROUP BY n_keys, total_rows, max_sz
    )
    SELECT n_keys, total_rows, max_sz,
           CAST(p50 AS BIGINT) AS p50, CAST(p99 AS BIGINT) AS p99,
           round(CAST(max_sz AS DOUBLE) * n_keys / total_rows, 4)
             AS skew_factor
    FROM pct
    """,
    since=8,
)
def lineitem_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW diagnostics — the planning pass a 100 TB pipeline
    runs BEFORE choosing a join strategy (broadcast? salt factor? AQE
    skew threshold?): per-key partition sizes for the prospective
    shuffle key (l_suppkey), reduced to the decision numbers — key
    count, max partition, exact integer p50/p99 (rank thresholds, no
    interpolation), and skew_factor = max/mean (one exactly-rounded
    division): 1.0 = perfectly uniform, >> 1 = salt or AQE-split the
    top keys. This is the measurement feeding scale.salted_join's
    factor (the engine measures before it salts — the same discipline
    the repo applies to its own perf work).

    Scale: one partially-aggregated count by key, then windows over
    the KEY-GRAIN frame (n_keys rows, not input rows) — the report
    costs one shuffle regardless of input size."""
    sizes = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count("*").cast("long").alias("sz"))
    )
    w_rank = W.orderBy("sz", "key")
    w_all = W.partitionBy()
    ranked = sizes.select(
        "key",
        "sz",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).cast("long").alias("n_keys"),
        F.sum("sz").over(w_all).cast("long").alias("total_rows"),
        F.max("sz").over(w_all).cast("long").alias("max_sz"),
    )
    pct = ranked.groupBy("n_keys", "total_rows", "max_sz").agg(
        F.min(
            F.when(F.col("rn") * 2 >= F.col("n_keys"), F.col("sz"))
        ).alias("p50"),
        F.min(
            F.when(F.col("rn") * 100 >= F.col("n_keys") * 99, F.col("sz"))
        ).alias("p99"),
    )
    return pct.select(
        "n_keys",
        "total_rows",
        "max_sz",
        F.col("p50").cast("long").alias("p50"),
        F.col("p99").cast("long").alias("p99"),
        F.round(
            F.col("max_sz").cast("double") * F.col("n_keys")
            / F.col("total_rows"),
            4,
        ).alias("skew_factor"),
    )


_ALS_K = 4
_ALS_LAMBDA = 0.1


def _als_init_factors(spark: SparkSession, items: DataFrame, key: str) -> DataFrame:
    """Deterministic factor init: factor f of key k =
    ((int(md5('k:f')[:8], 16) % 2001) - 1000) / 1000 in [-1, 1] —
    reproducible across runs and partitionings (the JL sign-matrix
    discipline applied to dense init)."""
    fs = [
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col(key).cast("string"),
                                F.lit(f":{f}"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            ).cast("double")
            / 1000.0
        ).alias(f"f{f}")
        for f in range(_ALS_K)
    ]
    return items.select(key, F.array(*fs).alias("factors"))


def _als_share(df: DataFrame) -> DataFrame:
    """Share a multiply-consumed ALS subtree across the final plan
    (vf: 3 consumers; uf1: 3 consumers) — persist(), the r12 shape.

    r13 NEGATIVE experiment (VERDICT_r12 #7, guide §3.3): swapping the
    persists for LAZY localCheckpoints was measured WORSE by
    interleaved A/B x7 at sf0.01 (tools/ab_als_ckpt.py: persist median
    7.73 s vs lazy-ckpt 9.02 s, pairwise ~1 s slower every rep) while
    flattening the printed plan only 1,444 -> 1,193 lines — the share
    points truncate, but the three objective subtrees dominate the
    line count, and the checkpoint's row-copy + optimization fence
    costs real time at this scale. The plan stays analysis-bounded
    (under the 1,500-line catalog budget; execution reuses the cache),
    so persist stays. The A/B tool monkeypatches this helper to flip
    variants."""
    return df.persist()


@query("embed_als_factorize", since=8)  # rows-only: least-squares factors are
# float linear algebra no SQL oracle reproduces; self-check columns below
def embed_als_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating Least Squares matrix factorization — the
    recommendation-model family (Koren/Bell/Volinsky 2009; Spark's
    flagship MLlib workload) built on the engine's own primitives:
    customer x part quantity ratings factorize into rank-4 embeddings
    by alternately solving per-user then per-item ridge regressions
    (closed-form k x k solve per key, numpy inside applyInPandas — the
    grouped-solve pattern, k**2-sized state per key). Factor init is
    md5-deterministic and each group's rows are sorted before the
    solve, so the whole factorization is reproducible bit-for-bit.

    Self-validating output (no oracle): the FULL training objective
    (SSE + the weighted-lambda ridge penalty — raw SSE alone carries
    no guarantee, a solve may trade fit for smaller norms) rides along
    after init, after the user half-step, and after the item
    half-step — ALS guarantees each half-step cannot increase it
    (each solve is exact for its subproblem with the other side
    fixed); ``u_step_ok`` / ``v_step_ok`` certify the decrease,
    pinned in tests/test_recall.py along with reproducibility.

    Scale: ratings join factors on the alternating key (equi-join,
    item factors broadcast when small); each solve sees one key's
    ratings (bounded by that key's degree — the skew knob is the same
    per-key bound lineitem_skew_report measures); objective is one
    aggregated pass. The classic 100 TB recommender shape."""
    import numpy as np
    import pandas as pd

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 400)
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )
    ratings = truncate_lineage(li, eager=False)

    # r12 (§5 caching): vf feeds THREE consumers (user-solve join, s0,
    # s1) and uf1 below feeds three more (item-solve join, s1, s2) —
    # unpersisted, each consumer re-ran the init distinct-shuffle and,
    # for uf1, the whole applyInPandas ridge solve. _als_share (r13:
    # lazy localCheckpoint) shares the computed result across the
    # final plan's subtrees without adding a materialization job AND
    # truncates the logical plan at the share point (the r12 persists
    # kept a 1,445-line printed plan — Catalyst re-embedded the full
    # subtree per consumer; VERDICT_r12 #7).
    vf = _als_share(
        _als_init_factors(
            spark, ratings.select("item").distinct(), "item"
        ).withColumnRenamed("factors", "vfac")
    )
    uf0 = _als_init_factors(
        spark, ratings.select("user").distinct(), "user"
    ).withColumnRenamed("factors", "ufac")

    def _solve(joined: DataFrame, group: str, fac_col: str) -> DataFrame:
        def fit(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("other")
            A = np.array(pdf[fac_col].tolist())
            r = pdf["r"].to_numpy()
            G = A.T @ A + _ALS_LAMBDA * len(r) * np.eye(_ALS_K)
            x = np.linalg.solve(G, A.T @ r)
            return pd.DataFrame(
                {group: [pdf[group].iloc[0]], "factors": [x.tolist()]}
            )

        return joined.groupBy(group).applyInPandas(
            fit, f"{group} long, factors array<double>"
        )

    u_deg = ratings.groupBy("user").agg(F.count("*").alias("nu"))
    v_deg = ratings.groupBy("item").agg(F.count("*").alias("ni"))
    sqnorm = F.aggregate(
        F.transform("factors", lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _penalty(fac: DataFrame, key: str, deg: DataFrame, dcol: str):
        return (
            fac.join(deg, key)
            .agg(
                (F.lit(_ALS_LAMBDA) * F.sum(F.col(dcol) * sqnorm)).alias(
                    "pen"
                )
            )
        )

    def _obj(u: DataFrame, v: DataFrame):
        """SSE + lambda*(sum_u n_u||U_u||^2 + sum_i n_i||V_i||^2) —
        the exact quantity each half-step's closed-form solve
        minimizes with the other side fixed."""
        j = (
            ratings.join(u.withColumnRenamed("factors", "uf"), "user")
            .join(v.withColumnRenamed("factors", "vf"), "item")
        )
        pred = F.aggregate(
            F.zip_with("uf", "vf", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sse = j.agg(
            F.sum((F.col("r") - pred) * (F.col("r") - pred)).alias("sse"),
            F.count("*").alias("n"),
        )
        pu = _penalty(u, "user", u_deg, "nu")
        pv = _penalty(v, "item", v_deg, "ni")
        return (
            sse.crossJoin(F.broadcast(pu.withColumnRenamed("pen", "pu")))
            .crossJoin(F.broadcast(pv.withColumnRenamed("pen", "pv")))
            .select(
                "sse",
                "n",
                (F.col("sse") + F.col("pu") + F.col("pv")).alias("obj"),
            )
        )

    # user half-step: solve U given V
    ju = ratings.join(vf, "item").select(
        "user", F.col("item").alias("other"), "r", "vfac"
    )
    uf1 = _als_share(_solve(ju, "user", "vfac"))
    # item half-step: solve V given new U
    jv = (
        ratings.join(
            uf1.withColumnRenamed("factors", "ufac2"), "user"
        ).select("item", F.col("user").alias("other"), "r", "ufac2")
    )
    vf1 = _solve(jv, "item", "ufac2")

    s0 = _obj(
        uf0.withColumnRenamed("ufac", "factors"),
        vf.withColumnRenamed("vfac", "factors"),
    )
    s1 = _obj(uf1, vf.withColumnRenamed("vfac", "factors"))
    s2 = _obj(uf1, vf1)
    out = (
        s0.select(
            F.col("obj").alias("obj_init"),
            F.col("sse").alias("sse_init"),
            F.col("n").alias("n_ratings"),
        )
        .crossJoin(
            F.broadcast(s1.select(F.col("obj").alias("obj_after_u")))
        )
        .crossJoin(
            F.broadcast(
                s2.select(
                    F.col("obj").alias("obj_after_v"),
                    F.col("sse").alias("sse_after_v"),
                )
            )
        )
    )
    return out.select(
        "n_ratings",
        F.round("obj_init", 4).alias("obj_init"),
        F.round("obj_after_u", 4).alias("obj_after_u"),
        F.round("obj_after_v", 4).alias("obj_after_v"),
        F.round("sse_init", 4).alias("sse_init"),
        F.round("sse_after_v", 4).alias("sse_after_v"),
        (F.col("obj_after_u") <= F.col("obj_init")).alias("u_step_ok"),
        (F.col("obj_after_v") <= F.col("obj_after_u")).alias("v_step_ok"),
        F.round(F.sqrt(F.col("sse_after_v") / F.col("n_ratings")), 4).alias(
            "rmse"
        ),
    )


_FH_DIM = 64


@query(
    "docs_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t[g] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                     AS g
            FROM documents)
      WHERE t[g] <> ''
    ),
    hashed AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                  % {_FH_DIM} AS BIGINT) AS dim,
             CASE WHEN substr(md5(tok), 9, 1) < '8' THEN 1 ELSE -1 END
               AS sign
      FROM toks
    )
    SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, dim
    HAVING sum(sign) <> 0
    """,
    since=8,
)
def docs_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick / signed feature hashing (Weinberger et al.
    2009; the Vowpal-Wabbit featurizer): each token maps to dimension
    md5(tok)[:8] % {_FH_DIM} with a +-1 sign from the next hex char
    (the signed variant makes collision noise zero-mean), and a
    document's feature vector is the per-(doc, dim) signed count —
    fixed-width training features with NO vocabulary table, the
    featurization step that feeds the stump/ALS/kmeans family.
    Integer-exact and hash-checked (both engines synthesize the same
    hash function, the JL sign-matrix discipline); zero weights drop
    so the output is the sparse representation.

    Scale: one token explode + one (doc, dim)-keyed partial-aggregated
    count — no vocabulary state AT ALL is the trick's entire point at
    100 TB (contrast docs_tfidf_topterms, which carries the df
    table)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    hashed = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _FH_DIM
        ).alias("dim"),
        F.when(F.substring(F.md5("tok"), 9, 1) < "8", 1)
        .otherwise(-1)
        .alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@query(
    "docs_bpe_apply",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    ),
    wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, CAST(i AS INTEGER), 2)))
               AS pair, c
      FROM wc
    ),
    ranked AS (
      SELECT pair, sum(c) AS freq,
             row_number() OVER (ORDER BY sum(c) DESC, pair) AS rn
      FROM pairs GROUP BY pair
    ),
    m AS (
      SELECT rn,
             '^' || substr(pair, 1, 1) || ';^' || substr(pair, 2, 1) || ';'
               AS pat,
             '^' || pair || ';' AS rep
      FROM ranked WHERE rn <= 5
    ),
    top_words AS (
      SELECT w, c, regexp_replace(w, '(.)', '^\\1;', 'g') AS s,
             row_number() OVER (ORDER BY c DESC, w) AS wrn
      FROM wc
    ),
    applied AS (
      SELECT w, c, wrn,
        replace(replace(replace(replace(replace(s,
          (SELECT pat FROM m WHERE rn = 1), (SELECT rep FROM m WHERE rn = 1)),
          (SELECT pat FROM m WHERE rn = 2), (SELECT rep FROM m WHERE rn = 2)),
          (SELECT pat FROM m WHERE rn = 3), (SELECT rep FROM m WHERE rn = 3)),
          (SELECT pat FROM m WHERE rn = 4), (SELECT rep FROM m WHERE rn = 4)),
          (SELECT pat FROM m WHERE rn = 5), (SELECT rep FROM m WHERE rn = 5))
          AS s
      FROM top_words WHERE wrn <= 30
    )
    SELECT w AS word, c AS freq,
           trim(replace(replace(s, '^', ''), ';', ' ')) AS tokenized,
           CAST(length(s) - length(replace(s, '^', '')) AS BIGINT)
             AS n_tokens
    FROM applied
    """,
    since=8,
)
def docs_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the inference half completing the trainer
    entries (docs_bpe_pair_counts counts, docs_bpe_merge_step picks
    one true merge): the top-5 merges by initial pair frequency apply
    IN RANK ORDER to the 30 most frequent vocabulary words, and every
    resulting subword sequence is hash-checked. Ranking merges by
    initial counts (instead of re-counting after each merge, which
    the merge_step entry demonstrates) is the stated simplification —
    the APPLY mechanics are what this entry pins.

    The representation is the correctness trick: tokens are encoded
    '^tok;' (start anchor + trailing delimiter), so a plain replace()
    of '^a;^b;' -> '^ab;' is EXACTLY BPE's left-to-right
    non-overlapping merge — consecutive occurrences share no
    characters (space-separated forms do, silently skipping every
    second merge site), and a pattern can never match a token SUFFIX
    (the '^' only occurs at token starts). Both engines' replace() is
    plain substring replace-all with identical left-to-right
    semantics.

    Scale: the merge table is 5 one-row broadcasts (the argmax
    scalar-subquery pattern, docs_bpe_merge_step precedent); apply is
    a per-row expression over the VOCABULARY (bounded by distinct
    words, never corpus tokens) — at 100 TB the tokenizer applies to
    the vocab once and the corpus joins the (word -> tokens) table."""
    words = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    )
    wc = (
        words.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "c",
    )
    ranked = (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("freq"))
        .withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.col("freq").desc(), "pair")),
        )
        .filter(F.col("rn") <= 5)
        .select(
            "rn",
            F.concat(
                F.lit("^"),
                F.substring("pair", 1, 1),
                F.lit(";^"),
                F.substring("pair", 2, 1),
                F.lit(";"),
            ).alias("pat"),
            F.concat(F.lit("^"), F.col("pair"), F.lit(";")).alias("rep"),
        )
    )
    # five one-row consumers below — materialize the 5-row merge table
    # once instead of recomputing the pair-ranking pipeline per merge
    # (measured 20.3 s -> ~4 s at sf0.01)
    ranked = truncate_lineage(ranked, eager=False)
    top_words = (
        wc.withColumn(
            "wrn", F.row_number().over(W.orderBy(F.col("c").desc(), "w"))
        )
        .filter(F.col("wrn") <= 30)
        .select(
            "w",
            "c",
            F.regexp_replace("w", "(.)", "^$1;").alias("s"),
        )
    )
    out = top_words
    for i in range(1, 6):
        mi = (
            ranked.filter(F.col("rn") == i)
            .select(
                F.col("pat").alias(f"pat{i}"), F.col("rep").alias(f"rep{i}")
            )
        )
        out = out.crossJoin(F.broadcast(mi)).withColumn(
            "s", F.replace(F.col("s"), F.col(f"pat{i}"), F.col(f"rep{i}"))
        )
    return out.select(
        F.col("w").alias("word"),
        F.col("c").alias("freq"),
        F.trim(
            F.replace(
                F.replace(F.col("s"), F.lit("^"), F.lit("")),
                F.lit(";"),
                F.lit(" "),
            )
        ).alias("tokenized"),
        (
            F.length("s")
            - F.length(F.replace(F.col("s"), F.lit("^"), F.lit("")))
        ).cast("long").alias("n_tokens"),
    )


@query(
    "docs_editdist_neardup",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars // 8 AS lb, substr(text, 1, 4) AS pre,
             substr(text, 1, 64) AS head
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.lb = b.lb AND a.pre = b.pre
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 24
    """,
    since=8,
)
def docs_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the character-level tier of the
    dedup funnel (beside token Jaccard, MinHash-LSH, SimHash, SemDeDup,
    PPJoin, and substring dedup): candidates block on
    (lang, length-band, 4-char prefix) — an equi-join key, so pairs
    only ever form inside a block — then exact Levenshtein over the
    64-char head decides, threshold 24. Catches small in-place edits
    (typo/boilerplate variants) that token-level shingles smear across
    many n-grams. Integer-exact, hash-checked.

    Scale: the three-part block key bounds candidates to
    sum-over-blocks |b|^2 (measured 1 635 pairs / 5 000 docs at sf0.1
    vs 12.5M unblocked); Spark's banded `levenshtein(l, r, threshold)`
    is O(len*k) per pair, not O(len^2), and returns -1 early the
    moment a row of the DP band exceeds k — cost is capped per
    candidate. At 100 TB widen recall with a second pass blocked on a
    mid-document prefix (prefix blocking misses edits inside the first
    4 chars); each pass stays an equi-join."""
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / F.lit(8)).cast("long").alias("lb"),
            F.substring("text", 1, 4).alias("pre"),
            F.substring("text", 1, 64).alias("head"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"), 24)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.pre") == F.col("b.pre"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


@query(
    "docs_nb_classify",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, doc_id % 2 = 0 AS is_train, t[g] AS tok
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                     AS g
            FROM documents)
      WHERE t[g] <> ''
    ),
    cnt AS MATERIALIZED (
      SELECT lang AS cls, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks WHERE is_train GROUP BY lang, tok
    ),
    classes AS MATERIALIZED (
      SELECT lang AS cls,
             CAST(length(bin(count(DISTINCT doc_id) + 1)) AS BIGINT)
               AS prior_bits,
             CAST(length(bin(count(*) + 1)) AS BIGINT) AS tot_bits
      FROM toks WHERE is_train GROUP BY lang
    ),
    scored AS (
      SELECT tt.doc_id, tt.lang AS true_lang, cl.cls,
             any_value(cl.prior_bits)
               + sum(length(bin(coalesce(cnt.c, 0) + 1)))
               - count(*) * any_value(cl.tot_bits) AS score
      FROM (SELECT * FROM toks WHERE NOT is_train) tt
      CROSS JOIN classes cl
      LEFT JOIN cnt ON cnt.cls = cl.cls AND cnt.tok = tt.tok
      GROUP BY tt.doc_id, tt.lang, cl.cls
    ),
    ranked AS (
      SELECT doc_id, true_lang, cls AS pred_lang,
             CAST(score AS BIGINT) AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cls) AS rn
      FROM scored
    )
    SELECT doc_id, true_lang, pred_lang, score,
           true_lang = pred_lang AS correct
    FROM ranked WHERE rn = 1
    """,
    since=8,
)
def docs_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes text classifier — the classifier-based
    quality/language gate of pretraining pipelines (fastText-style:
    train on a labeled slice, score the whole corpus), made
    INTEGER-EXACT with the bit-length log surrogate
    (docs_bigram_familiarity precedent): even doc_ids train a
    per-(lang, token) count model, odd doc_ids are scored
    score(c, d) = bits(ndocs_c+1) + Σ_t bits(cnt_c(t)+1)
                  − |d|·bits(total_c+1)
    (floor-log2 class prior + per-token likelihood − length
    normalization, Laplace-smoothed by the +1), predicted class =
    argmax with lexicographic tie-break. The per-doc verdicts ship as
    data — no accuracy claim is baked in (honest-claims rule: the
    corpus is near-uniform word salad, so the measured confusion is
    the result, not a fitness guarantee).

    Scale: the model is a (class, token)-keyed count table (Zipf-
    bounded, broadcastable); scoring is one 5-row class broadcast ×
    test tokens (constant-cardinality NLJ, the centroid precedent)
    followed by an equi-join on (class, token) and a per-(doc, class)
    partial aggregate. A frozen model scores new batches with the
    same join — the incremental deployment."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    train = toks.filter("is_train")
    cnt = train.groupBy(
        F.col("lang").alias("cls"), "tok"
    ).agg(F.count("*").cast("long").alias("c"))
    bits = lambda c: F.length(F.bin(c + F.lit(1)))  # noqa: E731
    classes = train.groupBy(F.col("lang").alias("cls")).agg(
        bits(F.countDistinct("doc_id")).cast("long").alias("prior_bits"),
        bits(F.count("*")).cast("long").alias("tot_bits"),
    )
    tt = toks.filter(~F.col("is_train")).select(
        "doc_id", F.col("lang").alias("true_lang"), "tok"
    )
    scored = (
        tt.crossJoin(F.broadcast(classes))
        .join(
            cnt.withColumnRenamed("cls", "c_cls").withColumnRenamed(
                "tok", "c_tok"
            ),
            (F.col("cls") == F.col("c_cls")) & (F.col("tok") == F.col("c_tok")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cls")
        .agg(
            (
                F.first("prior_bits")
                + F.sum(bits(F.coalesce(F.col("c"), F.lit(0))))
                - F.count("*") * F.first("tot_bits")
            ).cast("long").alias("score")
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("score").desc(), "cls")
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        "true_lang",
        F.col("cls").alias("pred_lang"),
        "score",
        (F.col("true_lang") == F.col("cls")).alias("correct"),
    )


_SN_W = 4


@query(
    "docs_sorted_neighborhood",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang, substr(text, 1, 16) AS head16,
             row_number() OVER (ORDER BY lang, text, doc_id) AS rn
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.rn AS rank_a, b.rn AS rank_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           a.lang = b.lang AS same_lang,
           CAST(levenshtein(a.head16, b.head16) AS BIGINT) AS head_dist
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {_SN_W}
    """,
    since=8,
)
def docs_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández & Stolfo 1995 —
    the THIRD classic blocking discipline beside hash blocks
    (editdist entry) and LSH bands (minhash entry)): order the corpus
    by a similarity-preserving sort key (lang, text, doc_id), and only
    rows within a rank window of w={_SN_W} ever pair. Near-identical
    records sort adjacent regardless of which block boundary a hash
    scheme would split them across — the blocker of choice when dup
    clusters straddle block keys. Pairs carry rank distance plus the
    16-char-head Levenshtein as the cheap verifier; candidate volume
    is EXACTLY N·w by construction (vs data-dependent block sizes).

    Scale: the global rank is computed by the TWO-PHASE distributed
    sort this docstring always promised (r10: promise made real, the
    global-order exemption pruned): repartitionByRange on the sort
    key spreads the corpus over defaultParallelism ordered ranges,
    each range ranks ITSELF with a partitioned window, and the global
    rank adds per-range row-count offsets — a partition-count-sized
    (control-plane) collect, the t-digest/BAM-dictionary pattern, NOT
    a data-sized single-partition sort. The frame is checkpointed
    between range assignment and the two passes so both see the same
    frozen partitioning (range sampling is not otherwise stable).
    Pairing stays an equi-join on the rank bucket (each row joins its
    own and its predecessor bucket, never a rank inequality join)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 16).alias("head16"), "text"
    )
    ranked, _n = two_phase_rank(d, ["lang", "text", "doc_id"])
    # rn stays LONG (two_phase_rank's native width): an int cast here
    # would overflow past 2^31 rows, contradicting the corpus-scale
    # claim above; the div bucket arithmetic is exact in long.
    r = ranked.select("doc_id", "lang", "head16", "rn").withColumn(
        "bucket", F.expr(f"(rn - 1) div {_SN_W}L")
    )
    # a-side probes its own and the NEXT bucket so every pair with
    # 1 <= gap <= w is covered by an equi-join on bucket
    a = r.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("head16").alias("head_a"),
        F.col("rn").alias("rank_a"),
        F.explode(
            F.array(F.col("bucket"), F.col("bucket") + 1)
        ).alias("probe"),
    )
    b = r.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("head16").alias("head_b"),
        F.col("rn").alias("rank_b"),
        F.col("bucket").alias("probe"),
    )
    return (
        a.join(b, "probe")
        .filter(
            (F.col("rank_b") - F.col("rank_a") >= 1)
            & (F.col("rank_b") - F.col("rank_a") <= _SN_W)
        )
        .select(
            "doc_a",
            "doc_b",
            "rank_a",
            "rank_b",
            (F.col("rank_b") - F.col("rank_a")).cast("long").alias(
                "rank_gap"
            ),
            (F.col("lang_a") == F.col("lang_b")).alias("same_lang"),
            F.levenshtein(F.col("head_a"), F.col("head_b"))
            .cast("long")
            .alias("head_dist"),
        )
    )


_COLL_MIN_N = 5


@query(
    "docs_collocations",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    uni AS MATERIALIZED (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
      FROM (SELECT unnest(toks) AS tok FROM t) WHERE tok <> ''
      GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT toks[g] AS w1, toks[g + 1] AS w2
      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS g
            FROM t WHERE len(toks) >= 2)
      WHERE toks[g] <> '' AND toks[g + 1] <> ''
    ),
    pair AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM bg GROUP BY w1, w2
      HAVING count(*) >= {_COLL_MIN_N}
    )
    SELECT p.w1, p.w2, p.n_pair, u1.n_tok AS n_w1, u2.n_tok AS n_w2,
           tot.n AS n_tokens,
           CAST(p.n_pair * tot.n * 1000 // (u1.n_tok * u2.n_tok)
                AS BIGINT) AS lift_x1000,
           p.n_pair * tot.n > u1.n_tok * u2.n_tok AS collocated
    FROM pair p
    JOIN uni u1 ON p.w1 = u1.tok
    JOIN uni u2 ON p.w2 = u2.tok
    CROSS JOIN tot
    """,
    since=8,
)
def docs_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — corpus-level PMI ranking without the log
    (PMI = log lift, and log is monotone, so ranking and the
    independence test carry over to the INTEGER lift
    n_ab·N/(n_a·n_b), scaled x1000 by floor division; the
    positively-associated verdict is the cross-multiplication
    n_ab·N > n_a·n_b — no transcendental, no float): adjacent-token
    bigrams with >= {_COLL_MIN_N} occurrences against unigram
    independence. The bigram-familiarity entry scores DOCUMENTS
    against the LM; this ranks the corpus's own phrases — the
    collocation lexicon a tokenizer/phrase-merge step consumes
    (word2vec's phrase pass is exactly this statistic).

    Scale: one unigram count, one adjacent-pair count (row count =
    token count, no pair join — adjacency is positional, the
    association-rules contrast), two equi-joins back to the unigram
    table, a one-row total broadcast. Zipf bounds both count
    tables."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n_tok"))
    )
    uni = truncate_lineage(uni, eager=False)
    tot = uni.agg(F.sum("n_tok").cast("long").alias("n"))
    bg = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("g"),
            "toks",
        )
        .select(
            F.element_at("toks", F.col("g")).alias("w1"),
            F.element_at("toks", F.col("g") + 1).alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pair = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= _COLL_MIN_N)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n_w2"))
    return (
        pair.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.col("n").alias("n_tokens"),
            F.expr("n_pair * n * 1000 div (n_w1 * n_w2)")
            .cast("long")
            .alias("lift_x1000"),
            (F.col("n_pair") * F.col("n") > F.col("n_w1") * F.col("n_w2"))
            .alias("collocated"),
        )
    )


_GC_ROUNDS = 6


def _greedy_coverage_oracle(rounds: int) -> str:
    """Unrolled greedy max-coverage oracle: the adaptive argmax loop
    (pick, re-score, pick) has no SQL fixpoint form, so ``rounds``
    picks are unrolled as chained CTEs — the kcore/sssp unroll
    precedent. Each round's score CTE anti-joins the covered-shingle
    set and the picked-doc set, takes the (marginal DESC, doc_id)
    top-1, and folds the winner's shingles into the covered set
    (MATERIALIZED: each is referenced by the next round twice)."""
    parts = [
        """
    WITH raw AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    toks AS MATERIALIZED (
      SELECT DISTINCT doc_id, concat_ws(' ', t[g], t[g+1], t[g+2]) AS tok
      FROM raw, UNNEST(generate_series(1, len(t) - 2)) AS u(g)
      WHERE len(t) >= 3
    ),
    s1 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS marginal
      FROM toks GROUP BY doc_id
    ),
    p1 AS MATERIALIZED (
      SELECT 1 AS rnd, doc_id, marginal FROM s1
      ORDER BY marginal DESC, doc_id LIMIT 1
    ),
    c1 AS MATERIALIZED (
      SELECT DISTINCT t.tok FROM toks t JOIN p1 ON t.doc_id = p1.doc_id
    )"""
    ]
    for i in range(2, rounds + 1):
        picked = " UNION ALL ".join(
            f"SELECT doc_id FROM p{j}" for j in range(1, i)
        )
        parts.append(
            f""",
    s{i} AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS marginal
      FROM toks t LEFT JOIN c{i - 1} c ON t.tok = c.tok
      WHERE c.tok IS NULL AND t.doc_id NOT IN ({picked})
      GROUP BY t.doc_id
    ),
    p{i} AS MATERIALIZED (
      SELECT {i} AS rnd, doc_id, marginal FROM s{i}
      ORDER BY marginal DESC, doc_id LIMIT 1
    ),
    c{i} AS MATERIALIZED (
      SELECT tok FROM c{i - 1}
      UNION
      SELECT t.tok FROM toks t JOIN p{i} ON t.doc_id = p{i}.doc_id
    )"""
        )
    allp = " UNION ALL ".join(
        f"SELECT * FROM p{j}" for j in range(1, rounds + 1)
    )
    parts.append(
        f"""
    SELECT CAST(rnd AS BIGINT) AS round, doc_id, marginal,
           CAST(sum(marginal) OVER (ORDER BY rnd) AS BIGINT)
             AS covered_total
    FROM ({allp})"""
    )
    return "".join(parts)


@query(
    "docs_greedy_coverage", oracle=_greedy_coverage_oracle(_GC_ROUNDS), since=8
)
def docs_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular max-coverage corpus selection (the
    Nemhauser-Wolsey-Fisher 1-1/e greedy, the facility-location /
    set-cover shape): pick the document covering the most distinct
    word-3-gram shingles, fold its shingles into the covered set,
    re-score every remaining document by MARGINAL new-shingle count,
    repeat — the data-SELECTION step of a training-data pipeline
    (choose k shards that maximize content coverage), the ADAPTIVE
    complement of docs_novelty_fraction's fixed ingest-order scan.
    Integer marginals with a (marginal DESC, doc_id) total order make
    every pick deterministic; the output is the pick transcript
    (round, doc, marginal gain, running covered total — the running
    sum equals the true covered-set size because marginals count only
    new shingles).

    Scale: per round one anti-join against the covered set (keyed by
    shingle, partial-aggregated count) + a global top-1
    (TakeOrderedAndProject — a cheap reduce, not a sort); the covered
    set is bounded by k docs' shingles (broadcastable); the
    multi-consumer shingle table is lazily checkpoint-deduped (the
    PPJoin precedent). Greedy's sequential picks are inherently
    k round-trips — at 100 TB this exact loop runs on per-shard
    aggregates, k stays small, and each round is one map-side-combined
    count."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.split("text", " ")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(t) >= 3, F.sequence(F.lit(0), F.size(t) - 3)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("g"),
            t.alias("t"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.col("t")[F.col("g")],
                F.col("t")[F.col("g") + 1],
                F.col("t")[F.col("g") + 2],
            ).alias("tok"),
        )
        .distinct()
    )
    toks = truncate_lineage(toks, eager=False)
    covered = None
    picked = None
    sels: list[DataFrame] = []
    for rnd in range(1, _GC_ROUNDS + 1):
        cand = toks
        if picked is not None:
            cand = cand.join(F.broadcast(picked), "doc_id", "left_anti")
        if covered is not None:
            cand = cand.join(F.broadcast(covered), "tok", "left_anti")
        scores = cand.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("marginal")
        )
        sel = (
            scores.orderBy(F.col("marginal").desc(), "doc_id")
            .limit(1)
            .select(F.lit(rnd).cast("long").alias("round"), "doc_id", "marginal")
        )
        # r12 (§3.3 plan truncation): persist() alone let the LOGICAL
        # tree grow combinatorially — each round's sel embedded every
        # prior round's full plan via the covered/picked chains, and by
        # round 6 the composed plan was 8.4k lines / 920 Exchanges of
        # pure Catalyst re-analysis cost (measured 12-24 s warm at
        # sf0.01). Checkpointing the ONE-ROW sel cuts every chain at
        # the round boundary: covered/picked then build on flat
        # LogicalRDD leaves, so covered only needs a persist (its
        # linear union-of-checkpointed-leaves plan is cheap to
        # re-analyze, and skipping its checkpoint job measured 5.4 ->
        # 3.5 s warm; tools/ab_greedy_truncate.py).
        sel = truncate_lineage(sel, reliable=True)
        sels.append(sel)
        new_cov = toks.join(sel.select("doc_id"), "doc_id").select("tok")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        )
        covered = covered.persist()
        pick_ids = sel.select("doc_id")
        picked = (
            pick_ids if picked is None else picked.unionByName(pick_ids)
        )
    out = sels[0]
    for s in sels[1:]:
        out = out.unionByName(s)
    return out.select(
        "round",
        "doc_id",
        "marginal",
        F.sum("marginal")
        .over(
            W.orderBy("round").rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("long")
        .alias("covered_total"),
    )


@query(
    "docs_bigram_drift",
    oracle="""
    WITH raw AS (
      SELECT doc_id % 2 AS half, string_split(text, ' ') AS t
      FROM documents
    ),
    toks AS (
      SELECT half, concat_ws(' ', t[g], t[g+1]) AS tok
      FROM raw, UNNEST(generate_series(1, len(t) - 1)) AS u(g)
      WHERE len(t) >= 2
    ),
    cnt AS (
      SELECT tok,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM toks GROUP BY tok
    ),
    tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
             CAST(sum(n_b) AS BIGINT) AS t_b
      FROM cnt
    )
    SELECT tok, n_a, n_b,
           CAST(n_a * 1000000 // t_a AS BIGINT) AS rate_a_ppm,
           CAST(n_b * 1000000 // t_b AS BIGINT) AS rate_b_ppm,
           CAST(abs(n_a * 1000000 // t_a - n_b * 1000000 // t_b)
                AS BIGINT) AS delta_ppm
    FROM cnt, tot
    WHERE n_a + n_b >= 20
    """,
    since=8,
)
def docs_bigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-snapshot DISTRIBUTION DRIFT: the word-bigram occurrence
    distribution of corpus half A (even doc_id — the 'reference
    snapshot') vs half B (odd — the 'candidate snapshot'), each
    bigram's rate in both halves as integer ppm with the absolute
    rate delta — the ingest-validation report that catches a content
    shift between training-data snapshots before it reaches a model
    (the PSI/KL use case, kept transcendental-free per the repo's
    oracle discipline: ranking bigrams by |Δppm| orders them the same
    way the per-token PSI term does for rates of this magnitude).
    Low-mass bigrams (joint count < 20) drop: rate estimates below
    that are noise at both test scales.

    Scale: one bigram explode -> one (tok)-keyed partial-aggregated
    conditional count carrying BOTH halves in one pass (no
    self-join), one-row totals broadcast; output bounded by vocab²,
    not corpus size. Mergeable across shards (sums), so the drift
    report is incrementally maintainable."""
    d = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"), F.split("text", " ").alias("t")
    )
    toks = d.select(
        "half",
        F.explode(
            F.when(
                F.size("t") >= 2, F.sequence(F.lit(0), F.size("t") - 2)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("g"),
        "t",
    ).select(
        "half",
        F.concat_ws(
            " ", F.col("t")[F.col("g")], F.col("t")[F.col("g") + 1]
        ).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
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
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("n_a") + F.col("n_b") >= 20)
        .select(
            "tok",
            "n_a",
            "n_b",
            F.expr("n_a * 1000000 div t_a").cast("long").alias("rate_a_ppm"),
            F.expr("n_b * 1000000 div t_b").cast("long").alias("rate_b_ppm"),
            F.abs(
                F.expr("n_a * 1000000 div t_a")
                - F.expr("n_b * 1000000 div t_b")
            )
            .cast("long")
            .alias("delta_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Positional inverted-index phrase search
# ---------------------------------------------------------------------------

#: Batch phrase workload: (phrase_id, words). Constant literals shared
#: with the oracle so both engines search the same queries.
_PHRASE_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["table", "hash"]),
    (2, ["merge", "group"]),
    (3, ["scan", "query", "big"]),
]

_PHRASE_ORACLE = """
WITH raw AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ph AS (
  SELECT * FROM (VALUES
    (1, ['table', 'hash']),
    (2, ['merge', 'group']),
    (3, ['scan', 'query', 'big'])
  ) AS v(pid, w)
),
m AS (
  SELECT ph.pid, raw.doc_id
  FROM raw, ph, UNNEST(generate_series(1, len(t) - len(w) + 1)) AS u(g)
  WHERE len(t) >= len(w) AND t[g:g + len(w) - 1] = w
)
SELECT CAST(pid AS BIGINT) AS pid, doc_id,
       CAST(count(*) AS BIGINT) AS matches
FROM m GROUP BY pid, doc_id
"""


@query("docs_phrase_search", oracle=_PHRASE_ORACLE, since=8)
def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE SEARCH over a positional inverted index — the
    retrieval primitive BM25 ranking cannot express (term order and
    adjacency matter: ``"table hash"`` must match only consecutive
    occurrences). The engine path is the index one: posexplode the
    corpus into (doc, position, term) postings, semi-join against the
    broadcast query-term dimension so only postings for queried terms
    survive the scan, align each surviving posting to its candidate
    phrase START (position - offset), and count a match where every
    offset of the phrase contributed — a group-all-offsets-present
    check, no string rescanning. The oracle is the INDEPENDENT naive
    construction: slide a window over every token position and compare
    the token slice against the phrase literal (DuckDB list-slice
    equality), so the index path is verified against a scan that never
    builds an index. Output: (pid, doc_id, matches) per matching doc,
    counting overlapping occurrences.

    Scale: the broadcast term dim prunes postings to the query
    vocabulary BEFORE any shuffle (for a 3-phrase workload that is a
    few terms out of the whole vocab — the classic search-engine
    read pattern); the one shuffle keys on (pid, doc, start) whose
    cardinality is bounded by surviving postings, with map-side
    partial counts. Phrases of repeated words stay correct because
    offsets, not terms, are counted. At 100 TB the posting explode is
    embarrassingly parallel per document shard and term-partitioned
    posting lists would serve the same plan incrementally.
    """
    # r12: spread small inputs before the posting-explode map stage
    # (see spread_scan); the downstream agg is an integer offset count
    d = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    dim = spark.createDataFrame(
        [
            (pid, off, term, len(words))
            for pid, words in _PHRASE_QUERIES
            for off, term in enumerate(words)
        ],
        "pid long, off int, term string, plen int",
    )
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    cand = tok.join(F.broadcast(dim), "term").select(
        "pid", "doc_id", (F.col("pos") - F.col("off")).alias("start"), "plen"
    )
    hits = (
        cand.filter(F.col("start") >= 0)
        .groupBy("pid", "doc_id", "start", "plen")
        .agg(F.count("*").alias("n_off"))
        .filter(F.col("n_off") == F.col("plen"))
    )
    return hits.groupBy("pid", "doc_id").agg(
        F.count("*").cast("long").alias("matches")
    )


# ---------------------------------------------------------------------------
# Bloom-filter benchmark decontamination (the scale path of
# docs_decontaminate, with the approximation layer measured as data)
# ---------------------------------------------------------------------------

from virapipe_spark.queries.relational import _BF_K, _BF_M, _BF_POS  # noqa: E402

_DCB_ORACLE = (
    _SHINGLES_SQL
    + f""",
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < {_BENCH_DOCS}),
    bits AS (
      SELECT DISTINCT {_BF_POS} AS pos
      FROM (SELECT md5(concat(j, ':', s)) AS h
            FROM bench,
                 (SELECT unnest(generate_series(0, {_BF_K - 1})) AS j))
    ),
    probe AS (SELECT doc_id, s FROM sh WHERE doc_id >= {_BENCH_DOCS}),
    vocab AS (SELECT DISTINCT s FROM probe),
    vpos AS (
      SELECT s, {_BF_POS} AS pos
      FROM (SELECT s, md5(concat(j, ':', s)) AS h
            FROM vocab,
                 (SELECT unnest(generate_series(0, {_BF_K - 1})) AS j))
    ),
    bloom_s AS (
      SELECT s FROM vpos v JOIN bits b ON v.pos = b.pos
      GROUP BY s HAVING count(*) = {_BF_K}
    ),
    exact_s AS (SELECT s FROM vocab WHERE s IN (SELECT s FROM bench))
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bloom_hits,
           CAST(sum(CASE WHEN es.s IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_hits,
           sum(CASE WHEN es.s IS NOT NULL THEN 1 ELSE 0 END) > 0
             AS contaminated,
           sum(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END)
             >= sum(CASE WHEN es.s IS NOT NULL THEN 1 ELSE 0 END)
             AS no_false_negatives
    FROM probe p
    LEFT JOIN bloom_s bs ON p.s = bs.s
    LEFT JOIN exact_s es ON p.s = es.s
    GROUP BY p.doc_id
    """
)


@query("docs_decontaminate_bloom", oracle=_DCB_ORACLE, since=8)
def docs_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER of the eval
    set's shingles — how docs_decontaminate actually deploys when the
    benchmark suite is large: the filter is {_BF_M} bits no matter how
    many eval shingles exist (a fixed-size broadcast where the exact
    shingle set would outgrow broadcast limits), probe shingles test
    their {_BF_K} md5-derived bit positions scan-side, and only
    bloom-flagged shingles reach the exact verification join. The
    approximation layer is emitted AS DATA per training doc: shingle
    count, bloom-flagged count, exact-contaminated count, the
    contamination verdict, and the Bloom guarantee
    (`no_false_negatives`: every exact hit was bloom-flagged — the
    property that makes the prefilter safe for decontamination, where
    a false negative means eval leakage into training data). False
    positives cost only wasted verification, never leakage; the
    n_bloom_hits - n_exact_hits gap measures them per doc.

    Scale: positions are probed per DISTINCT shingle (the vocabulary,
    not the corpus — shared shingles hash once), the bit-set travels
    as a broadcast join on position (no driver collect), and the
    flag-back joins key on the shingle so partial aggregation bounds
    the per-doc rollup. The whole funnel is one broadcast + two
    shingle-keyed shuffles regardless of benchmark size."""
    sh = _shingles(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") < _BENCH_DOCS).select("s").distinct()
    )
    probe = sh.filter(F.col("doc_id") >= _BENCH_DOCS)
    vocab = probe.select("s").distinct()
    vocab = truncate_lineage(vocab, eager=False)
    js = F.explode(F.array(*[F.lit(j) for j in range(_BF_K)])).alias("j")

    def positions(df: DataFrame) -> DataFrame:
        return (
            df.select("s", js)
            .withColumn("h", F.md5(F.concat(F.col("j"), F.lit(":"), F.col("s"))))
            .withColumn("pos", F.expr(_BF_POS))
        )

    bits = positions(bench).select("pos").distinct()
    bloom_s = (
        positions(vocab)
        .join(F.broadcast(bits), "pos")
        .groupBy("s")
        .agg(F.count("*").alias("nset"))
        .filter(F.col("nset") == _BF_K)
        .select("s", F.lit(1).alias("bloom"))
    )
    exact_s = vocab.join(bench, "s", "left_semi").select(
        "s", F.lit(1).alias("exact")
    )
    return (
        probe.join(bloom_s, "s", "left")
        .join(exact_s, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("bloom"), F.lit(0)))
            .cast("long")
            .alias("n_bloom_hits"),
            F.sum(F.coalesce(F.col("exact"), F.lit(0)))
            .cast("long")
            .alias("n_exact_hits"),
            (F.sum(F.coalesce(F.col("exact"), F.lit(0))) > 0).alias(
                "contaminated"
            ),
            (
                F.sum(F.coalesce(F.col("bloom"), F.lit(0)))
                >= F.sum(F.coalesce(F.col("exact"), F.lit(0)))
            ).alias("no_false_negatives"),
        )
    )


# ---------------------------------------------------------------------------
# DBSCAN density clustering over embeddings
# ---------------------------------------------------------------------------

_DBSCAN_COS = 0.25  # epsilon, as a cosine floor (the near-isotropic
# synthetic corpus has no tight clusters; 0.25 yields cores, borders
# AND noise at both test scales — real corpora use ~0.8+)
_DBSCAN_MINN = 2  # core point: >= 2 epsilon-neighbors


@query(
    "embed_dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE q AS ({_Q_SQL}),
    b AS (SELECT vec_id, q, {_bucket_sql('q')} AS bk FROM q q),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM b a JOIN b b ON a.bk = b.bk AND a.vec_id < b.vec_id
      WHERE round({_DOT_SQL} /
                  ({_NORM_SQL.format(s='a')} * {_NORM_SQL.format(s='b')}),
                  6) >= {_DBSCAN_COS}
    ),
    e AS (SELECT va AS a, vb AS vb2 FROM p
          UNION ALL SELECT vb, va FROM p),
    deg AS (SELECT a AS vec_id, CAST(count(*) AS BIGINT) AS degree
            FROM e GROUP BY a),
    core AS (SELECT vec_id FROM deg WHERE degree >= {_DBSCAN_MINN}),
    ce AS (
      SELECT e.a, e.vb2 FROM e
      WHERE e.a IN (SELECT vec_id FROM core)
        AND e.vb2 IN (SELECT vec_id FROM core)
    ),
    reach(src, node) AS (
      SELECT vec_id, vec_id FROM core
      UNION
      SELECT r.src, ce.vb2 FROM reach r JOIN ce ON ce.a = r.node
    ),
    clab AS (SELECT src AS vec_id, CAST(min(node) AS BIGINT) AS cluster_id
             FROM reach GROUP BY src),
    blab AS (
      SELECT e.a AS vec_id, CAST(min(c.cluster_id) AS BIGINT) AS cluster_id
      FROM e JOIN clab c ON c.vec_id = e.vb2
      WHERE e.a NOT IN (SELECT vec_id FROM core)
      GROUP BY e.a
    )
    SELECT emb.vec_id,
           CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
           CASE WHEN clab.cluster_id IS NOT NULL THEN 'core'
                WHEN blab.cluster_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(clab.cluster_id, blab.cluster_id) AS cluster_id
    FROM embeddings emb
    LEFT JOIN deg ON deg.vec_id = emb.vec_id
    LEFT JOIN clab ON clab.vec_id = emb.vec_id
    LEFT JOIN blab ON blab.vec_id = emb.vec_id
    """,
    since=9,
)
def embed_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding corpus — DENSITY clustering, the
    member of the clustering family k-means cannot be (no k chosen, no
    centroid, arbitrary shapes, an explicit NOISE verdict — the
    outlier-scrubbing semantics a training-data pipeline wants when
    'cluster' means 'organic content mass' and everything sparse is
    suspect). Epsilon-neighborhoods are cosine >= {_DBSCAN_COS} within
    the sign-bit LSH bucket (the approximate-DBSCAN construction:
    blocking bounds candidate pairs, the embed_cosine_neardup layer),
    core points have >= {_DBSCAN_MINN} neighbors, clusters are
    connected components of the CORE-CORE graph (min-label fixpoint,
    the dedup_clusters machinery), borders attach to their minimum
    core cluster, the rest is noise. Every vector is emitted with
    degree, role, and nullable cluster id — the full DBSCAN verdict.

    Scale: pair volume is sum-over-buckets |b|² (never corpus²); the
    component loop runs on the CORE subgraph only (density pruning
    shrinks it first — the reason DBSCAN-at-scale implementations all
    run CC on cores); border/noise assembly is two key-keyed joins.
    The recursive oracle replays reachability exactly, so cluster ids
    — not just counts — are under the hash."""
    from virapipe_spark.graph import connected_components

    qdf = _quantized(spark, sf_dir)

    def bucket(side: str) -> Column:
        return F.concat(
            *[
                F.when(F.element_at(F.col(f"{side}.q"), d) >= 0, F.lit("1"))
                .otherwise(F.lit("0"))
                for d in _LSH_DIMS
            ]
        )

    a = qdf.alias("a")
    b = qdf.alias("b")
    pairs = (
        a.join(
            b,
            (bucket("a") == bucket("b"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(_cosine("a", "b"), 6) >= _DBSCAN_COS)
        .select(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
    )
    e = pairs.select(
        F.col("va").alias("a"), F.col("vb").alias("b")
    ).unionAll(pairs.select(F.col("vb").alias("a"), F.col("va").alias("b")))
    e = truncate_lineage(e, eager=False)
    deg = e.groupBy(F.col("a").alias("vec_id")).agg(
        F.count("*").cast("long").alias("degree")
    )
    core = deg.filter(F.col("degree") >= _DBSCAN_MINN).select("vec_id")
    ce = e.join(
        core.withColumnRenamed("vec_id", "a"), "a", "left_semi"
    ).join(core.withColumnRenamed("vec_id", "b"), "b", "left_semi")
    clab = connected_components(
        ce.select("a", "b"), core, node_col="vec_id", label_col="cluster_id"
    )
    blab = (
        e.join(
            clab.select(F.col("vec_id").alias("b"), "cluster_id"), "b"
        )
        .join(core.withColumnRenamed("vec_id", "a"), "a", "left_anti")
        .groupBy(F.col("a").alias("vec_id"))
        .agg(F.min("cluster_id").cast("long").alias("b_cluster"))
    )
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        emb.join(deg, "vec_id", "left")
        .join(
            clab.select("vec_id", F.col("cluster_id").alias("c_cluster")),
            "vec_id",
            "left",
        )
        .join(blab, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            F.when(F.col("c_cluster").isNotNull(), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("c_cluster", "b_cluster")
            .cast("long")
            .alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (the storage-dedup / rsync primitive)
# ---------------------------------------------------------------------------


@query(
    "docs_cdc_chunk_dedup",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text, unnest(generate_series(2, len(text) - 7)) AS g
      FROM documents WHERE len(text) >= 8
    ),
    bnd AS (
      SELECT doc_id, text, g FROM pos
      WHERE substr(md5(substr(text, g, 8)), 1, 1) = '0'
      UNION ALL
      SELECT doc_id, text, 1 FROM documents WHERE len(text) >= 1
    ),
    chunk AS (
      SELECT doc_id, g AS s,
             coalesce(lead(g) OVER (PARTITION BY doc_id ORDER BY g) - 1,
                      len(text)) AS e,
             text
      FROM bnd
    ),
    h AS (
      SELECT md5(substr(text, s, e - s + 1)) AS ch, e - s + 1 AS clen
      FROM chunk
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(clen) AS BIGINT) AS bytes_total
      FROM h
    ),
    u AS (
      SELECT CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(clen) AS BIGINT) AS bytes_unique
      FROM (SELECT ch, min(clen) AS clen FROM h GROUP BY ch)
    )
    SELECT n_chunks, n_distinct, bytes_total, bytes_unique,
           CAST((n_chunks - n_distinct) * 1000000 // n_chunks AS BIGINT)
             AS dup_chunk_ppm,
           CAST((bytes_total - bytes_unique) * 1000000 // bytes_total
                AS BIGINT) AS saved_bytes_ppm
    FROM t, u
    """,
    since=9,
)
def docs_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup — the storage-layer primitive
    (rsync/LBFS/FastCDC, every backup dedup appliance) the document-
    level dedup family doesn't cover: chunk boundaries are declared
    where a rolling content hash gates (here: the 8-gram's md5 starts
    with a zero nibble, expected chunk ~16 bytes), so an insertion
    shifts only the chunks it touches — unlike fixed-size blocks,
    where one byte realigns everything downstream. Chunks dedup by
    content hash across the WHOLE corpus (sub-document, cross-document
    — shared phrases dedup even between unrelated docs; ~36% of this
    corpus's chunks are duplicates). One report row: chunk/distinct
    counts, raw vs deduped bytes, and the two savings ratios in exact
    ppm. FastCDC's min/max chunk clamps are omitted for algebra both
    engines can share verbatim; they'd be one extra predicate.

    Scale: the gate test is per-position but fuses into the scan
    (explode -> filter, no shuffle before the boundary rows leave the
    stage); the chunking shuffle carries ONLY (doc_id, offset) pairs —
    partial-aggregated map-side into per-doc offset arrays — and the
    full text crosses a shuffle AT MOST once, in the doc-keyed join
    that follows (at sf0.1 AQE broadcasts the offset table, so the
    text leg never shuffles at all; past broadcast size it shuffles
    exactly once). The r8 shape instead windowed over boundary ROWS
    each carrying the whole text (~1 copy per 16 bytes of text =
    O(len^2/16) shuffle bytes per doc — a skew/volume trap for long
    documents at 100 TB; r8 VERDICT watch item, retired by this
    rewrite). tools/ab_cdc_singletext.py measured it bit-identical
    with total shuffle write 5.05 -> 2.07 MiB at sf0.1 (2.4x even
    though lz4 + ~760 B/doc mask the quadratic term here; the gap is
    the text-copy count, len/16 -> <=1 per doc, so it widens linearly
    with document length) at a wall cost of ~1.06x (2.48 -> 2.64 s
    median) — the accepted trade for removing the quadratic term.
    Chunk spans then derive from the offset array with a transform
    lambda, so the generator emits only (hash, len) — the exploded
    text copies never outlive their stage. Dedup is one hash-keyed
    partial-aggregated count — the exact_dedup cost model at chunk
    grain. Mergeable: per-shard chunk stores union by hash."""
    # r12: the per-position md5 gate is the heaviest map stage in the
    # bench and runs at the scan's parallelism — spread small inputs
    # (no-op at scale; every downstream agg is count/sum-of-int or a
    # sort_array'd collect_list, partition-order-insensitive)
    d = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    # >= 9, not >= 8: at length 8 the candidate range [2, len-7] = [2, 1]
    # is EMPTY in the oracle (generate_series(2, 1) -> no rows) but
    # Spark's sequence(2, 1) DESCENDS ([2, 1], default step -1), which
    # would fabricate a doc-start duplicate and a truncated 7-char
    # window — a cross-engine divergence on 8-char docs (r9 review).
    bpos = (
        d.filter(F.length("text") >= 9)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(2), F.length("text") - 7)).alias("g"),
        )
        .filter(F.substring(F.md5(F.expr("substr(text, g, 8)")), 1, 1) == "0")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("g")).alias("bs"))
    )
    doc = (
        d.filter(F.length("text") >= 1)
        .join(bpos, "doc_id", "left")
        .select(
            "text",
            F.when(
                F.col("bs").isNotNull(),
                F.concat(F.array(F.lit(1)), F.col("bs")),
            )
            .otherwise(F.array(F.lit(1)))
            .alias("bs"),
        )
    )
    # IF() evaluates lazily, so element_at never sees an out-of-range
    # index under ANSI; chunk i ends where boundary i+1 starts, the
    # last chunk at end-of-text — exactly the retired window's lead().
    h = doc.select(
        F.explode(
            F.expr(
                """
                transform(bs, (s, i) -> named_struct(
                  'ch', md5(substr(text, s,
                    IF(i = size(bs) - 1, length(text),
                       element_at(bs, i + 2) - 1) - s + 1)),
                  'clen',
                    IF(i = size(bs) - 1, length(text),
                       element_at(bs, i + 2) - 1) - s + 1))
                """
            )
        ).alias("z")
    ).select(F.col("z.ch").alias("ch"), F.col("z.clen").alias("clen"))
    h = truncate_lineage(h, eager=False)
    t = h.agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("clen").cast("long").alias("bytes_total"),
    )
    u = (
        h.groupBy("ch")
        .agg(F.min("clen").alias("clen"))
        .agg(
            F.count("*").cast("long").alias("n_distinct"),
            F.sum("clen").cast("long").alias("bytes_unique"),
        )
    )
    return t.crossJoin(F.broadcast(u)).select(
        "n_chunks",
        "n_distinct",
        "bytes_total",
        "bytes_unique",
        F.expr("(n_chunks - n_distinct) * 1000000 div n_chunks")
        .cast("long")
        .alias("dup_chunk_ppm"),
        F.expr("(bytes_total - bytes_unique) * 1000000 div bytes_total")
        .cast("long")
        .alias("saved_bytes_ppm"),
    )


# ---------------------------------------------------------------------------
# Consistent-hash ring sharding (elastic rescale audit)
# ---------------------------------------------------------------------------


def _ch_nib(p: int) -> str:
    return (
        f"(CASE WHEN ascii(substr(h, {p}, 1)) >= 97"
        f" THEN ascii(substr(h, {p}, 1)) - 87"
        f" ELSE ascii(substr(h, {p}, 1)) - 48 END)"
    )


#: 24-bit ring position from the first six md5 nibbles (the _BF_POS
#: device, widened) — shared verbatim by both engines.
_CH_RING = 16777216  # 16^6
_CH_POS = (
    f"({_ch_nib(1)} * 1048576 + {_ch_nib(2)} * 65536 + {_ch_nib(3)} * 4096"
    f" + {_ch_nib(4)} * 256 + {_ch_nib(5)} * 16 + {_ch_nib(6)})"
)
_CH_VNODES = 8


@query(
    "docs_consistent_hash_ring",
    oracle=f"""
    WITH ringall AS (
      SELECT node, {_CH_POS} AS rp
      FROM (
        SELECT node, md5(concat(node, ':', v)) AS h
        FROM (VALUES ('s0'), ('s1'), ('s2'), ('s3'), ('s4')) AS n(node),
             (SELECT unnest(generate_series(0, {_CH_VNODES - 1})) AS v)
      )
    ),
    docs AS (
      SELECT doc_id, {_CH_POS} AS dp
      FROM (SELECT doc_id, md5(CAST(doc_id AS STRING)) AS h
            FROM documents)
    ),
    rings AS (
      SELECT 'A' AS ring, node, rp FROM ringall WHERE node <> 's4'
      UNION ALL
      SELECT 'B', node, rp FROM ringall
    ),
    asg AS (
      SELECT doc_id, ring, node FROM (
        SELECT d.doc_id, r.ring, r.node,
               row_number() OVER (
                 PARTITION BY d.doc_id, r.ring
                 ORDER BY (r.rp - d.dp + {_CH_RING}) % {_CH_RING}, r.node
               ) AS rn
        FROM docs d, rings r
      ) WHERE rn = 1
    ),
    a AS (SELECT doc_id, node FROM asg WHERE ring = 'A'),
    b AS (SELECT doc_id, node FROM asg WHERE ring = 'B'),
    mv AS (
      SELECT CAST(sum(CASE WHEN a.node <> b.node THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM a JOIN b USING (doc_id)
    )
    SELECT n.node,
           CAST(coalesce(na.c, 0) AS BIGINT) AS n_before,
           CAST(coalesce(nb.c, 0) AS BIGINT) AS n_after,
           CAST(mv.n_moved * 1000000 // mv.n_docs AS BIGINT) AS moved_ppm
    FROM (SELECT DISTINCT node FROM ringall) n
    LEFT JOIN (SELECT node, count(*) AS c FROM a GROUP BY node) na
      USING (node)
    LEFT JOIN (SELECT node, count(*) AS c FROM b GROUP BY node) nb
      USING (node)
    CROSS JOIN mv
    """,
    since=9,
)
def docs_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT-HASH RING sharding with an elastic-rescale audit —
    the distributed-systems primitive behind every cache/shard tier
    (Dynamo, Cassandra, memcached routing), and the property
    docs_shard_assignment's modulo assignment lacks: adding a node
    must move only ~1/(n+1) of keys, not reshuffle everything (mod-N
    moves ~n/(n+1)). Each node projects {_CH_VNODES} virtual points
    onto a 24-bit md5 ring (the _BF_POS nibble device, widened);
    a doc routes to the first ring point at-or-after its own hash
    clockwise (min ring-distance, vnode ties broken by node name).
    The entry assigns the corpus twice — 4 nodes, then 5 — and emits
    per node: docs before, docs after, and the measured moved
    fraction in ppm, which lands near the 200 000 ppm the theory
    promises (vs ~800 000 for mod-N). Both engines replay ring
    construction, routing, and the diff exactly.

    Scale: the ring is a constant {5 * _CH_VNODES}-point broadcast
    (never grows with data); routing is a per-doc min over those
    points (a bounded window per key — no data-sized shuffle beyond
    the doc scan); the rescale diff is one doc-keyed self-join of the
    two assignment columns. At 100 TB this IS the shard router, and
    the moved-set output is the migration manifest."""
    ring_rows = [
        (node, v)
        for node in ["s0", "s1", "s2", "s3", "s4"]
        for v in range(_CH_VNODES)
    ]
    ringall = (
        spark.createDataFrame(ring_rows, "node string, v int")
        .withColumn("h", F.md5(F.concat("node", F.lit(":"), F.col("v"))))
        .select("node", F.expr(_CH_POS).alias("rp"))
    )
    rings = ringall.filter(F.col("node") != "s4").select(
        F.lit("A").alias("ring"), "node", "rp"
    ).unionByName(
        ringall.select(F.lit("B").alias("ring"), "node", "rp")
    )
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
        .select("doc_id", F.expr(_CH_POS).alias("dp"))
    )
    dist = (F.col("rp") - F.col("dp") + _CH_RING) % _CH_RING
    asg = (
        docs.join(F.broadcast(rings))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id", "ring").orderBy(
                    dist.asc(), F.col("node").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "ring", "node")
    )
    asg = truncate_lineage(asg, eager=False)
    a = asg.filter(F.col("ring") == "A").select(
        "doc_id", F.col("node").alias("node_a")
    )
    b = asg.filter(F.col("ring") == "B").select(
        "doc_id", F.col("node").alias("node_b")
    )
    ab = a.join(b, "doc_id")
    mv = ab.agg(
        F.sum(F.when(F.col("node_a") != F.col("node_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved"),
        F.count("*").cast("long").alias("n_docs"),
    )
    na = a.groupBy(F.col("node_a").alias("node")).agg(
        F.count("*").alias("ca")
    )
    nb = b.groupBy(F.col("node_b").alias("node")).agg(
        F.count("*").alias("cb")
    )
    nodes = ringall.select("node").distinct()
    return (
        nodes.join(na, "node", "left")
        .join(nb, "node", "left")
        .crossJoin(F.broadcast(mv))
        .select(
            "node",
            F.coalesce("ca", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("n_after"),
            F.expr("n_moved * 1000000 div n_docs")
            .cast("long")
            .alias("moved_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding dimension-truncation recall (the Matryoshka question)
# ---------------------------------------------------------------------------

_TRUNC_DIMS = (8, 16, 64)  # prefix lengths; 64 = full = ground truth


def _trunc_rank_sql(d: int) -> str:
    dot = (
        f"list_sum(list_transform(generate_series(1, {d}), "
        f"i -> a.q[i] * b.q[i]))"
    )
    norm = (
        "sqrt(list_sum(list_transform(list_slice({s}.q, 1, %d), "
        "x -> x * x)))" % d
    )
    return f"""
      SELECT {d} AS dim, a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round({dot} / ({norm.format(s='a')}
                              * {norm.format(s='b')}), 6) DESC,
                        b.vec_id
             ) AS rn
      FROM q a JOIN q b
        ON a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
    """


@query(
    "embed_dim_truncation_recall",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    ranked AS (
      {" UNION ALL ".join(_trunc_rank_sql(d) for d in _TRUNC_DIMS)}
    ),
    top AS (
      SELECT dim, query_id, neighbor_id FROM ranked WHERE rn <= {_TOP_K}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM top WHERE dim = 64
    ),
    hits AS (
      SELECT t.dim, t.query_id,
             CAST(count(tr.neighbor_id) AS BIGINT) AS n_hits
      FROM top t
      LEFT JOIN truth tr ON tr.query_id = t.query_id
                        AND tr.neighbor_id = t.neighbor_id
      GROUP BY t.dim, t.query_id
    ),
    summary AS (
      SELECT dim, CAST(sum(n_hits) * 1000000 // (count(*) * {_TOP_K})
                       AS BIGINT) AS recall_ppm
      FROM hits GROUP BY dim
    )
    SELECT CAST(hits.dim AS BIGINT) AS dim, hits.query_id, hits.n_hits,
           summary.recall_ppm
    FROM hits JOIN summary ON summary.dim = hits.dim
    """,
    since=9,
)
def embed_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION-TRUNCATION recall sweep — the Matryoshka-embedding
    question ('how much ANN quality survives keeping only the first d
    dims?') answered as measured DATA, the embed_ivf_recall pattern
    turned on the representation itself: brute-force top-{_TOP_K} by
    exact quantized cosine over the first 8 and 16 dims, scored
    against the full-64-dim ranking as ground truth; per (dim, query)
    the hit count, per dim the recall in exact ppm. The d=64 rows are
    the self-test (recall exactly 1e6 ppm by construction — visible
    in the output, the honest-claims device). Prefix norms are
    re-derived per truncation (a truncated cosine is NOT the full
    cosine re-scaled), ties at the rank boundary break by neighbor id
    after 6-dp rounding — both pinned identically in both engines.

    Scale: the query side is a {_N_QUERIES}-row broadcast against the
    corpus scan (the brute-force baseline's plan, x|dims| truncation
    passes fused into one union); ranking partitions by query. The
    production decision this feeds — store d dims instead of 64 —
    multiplies scan throughput by 64/d, which is the whole point of
    the sweep."""
    qdf = _quantized(spark, sf_dir)
    queries = qdf.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    corpus = qdf.alias("b")
    parts: list[DataFrame] = []
    for d in _TRUNC_DIMS:
        def tdot(d: int) -> Column:
            return F.aggregate(
                F.zip_with(
                    F.slice(F.col("a.q"), 1, d),
                    F.slice(F.col("b.q"), 1, d),
                    lambda x, y: x * y,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        def tnorm(side: str, d: int) -> Column:
            return F.sqrt(
                F.aggregate(
                    F.transform(
                        F.slice(F.col(f"{side}.q"), 1, d), lambda x: x * x
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).cast("double")
            )

        cos = F.round(
            tdot(d).cast("double") / (tnorm("a", d) * tnorm("b", d)), 6
        )
        scored = (
            F.broadcast(queries)
            .join(corpus, F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.lit(d).cast("long").alias("dim"),
                F.col("a.vec_id").alias("query_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                cos.alias("cosine"),
            )
        )
        wq = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), "neighbor_id"
        )
        parts.append(
            scored.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= _TOP_K)
            .select("dim", "query_id", "neighbor_id")
        )
    top = parts[0]
    for p in parts[1:]:
        top = top.unionByName(p)
    top = truncate_lineage(top, eager=False)
    truth = top.filter(F.col("dim") == 64).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    hits = (
        top.join(
            truth,
            (F.col("query_id") == F.col("tq"))
            & (F.col("neighbor_id") == F.col("tn")),
            "left",
        )
        .groupBy("dim", "query_id")
        .agg(F.count("tn").cast("long").alias("n_hits"))
    )
    summary = hits.groupBy("dim").agg(
        F.expr(f"sum(n_hits) * 1000000 div (count(*) * {_TOP_K})")
        .cast("long")
        .alias("recall_ppm")
    )
    return hits.join(summary, "dim").select(
        "dim", "query_id", "n_hits", "recall_ppm"
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (degree/frequency phrase scoring)
# ---------------------------------------------------------------------------


@query(
    "docs_rake_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, g AS pos, t[g] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t))) AS u(g)
      WHERE len(t) >= 1 AND t[g] <> ''
    ),
    stop AS (
      SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        FROM tok GROUP BY w
      ) WHERE rn <= 3
    ),
    flagged AS (
      SELECT doc_id, pos, w, w IN (SELECT w FROM stop) AS is_stop,
             sum(CASE WHEN w IN (SELECT w FROM stop) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS pid
      FROM tok
    ),
    pw AS (
      SELECT doc_id, pid, pos, w,
             count(*) OVER (PARTITION BY doc_id, pid) AS plen
      FROM flagged WHERE NOT is_stop
    ),
    ws AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM pw GROUP BY w
    ),
    phr AS (
      SELECT p.doc_id, p.pid,
             string_agg(p.w, ' ' ORDER BY p.pos) AS phrase,
             CAST(sum(ws.deg * 1000 // ws.freq) AS BIGINT) AS score_x1000
      FROM pw p JOIN ws ON ws.w = p.w
      WHERE p.plen <= 4
      GROUP BY p.doc_id, p.pid
    )
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(score_x1000) AS BIGINT) AS score_x1000
    FROM phr GROUP BY phrase
    ORDER BY score_x1000 DESC, phrase LIMIT 20
    """,
    since=9,
)
def docs_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction — the degree-over-frequency phrase
    scorer (Rose et al.), the KEYWORD member of the text family that
    tf-idf (document-discriminative terms) and collocations
    (word-pair lift) both miss: candidate phrases are maximal runs
    between STOPWORDS, a word's degree is the total length of phrases
    it appears in (co-occurrence mass), and a phrase scores the sum
    of its words' deg/freq ratios — words that live in long phrases
    outrank frequent-but-isolated ones. Stopwords are data-derived
    (top-3 corpus tokens, tie-pinned by string) since the synthetic
    corpus has no natural ones; phrase segmentation is
    gaps-and-islands on the stop flag (the VAD/sessionize device);
    phrases over 4 words drop (RAKE's usual cap); ratios are x1000
    integers and the global top-20 is a total-ordered
    TakeOrderedAndProject. Phrase text reassembles position-ordered
    in both engines (sorted collect vs ordered string_agg).

    Scale: tokenization fuses into the scan; segmentation is one
    doc-keyed window; word stats and the score join key on the word;
    the only global step is the top-20 reduce. Stop-set derivation is
    one token-keyed count + a 3-row broadcast."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        d.filter(F.length("text") >= 1)
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    tok = truncate_lineage(tok, eager=False)
    stop = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(3)
        .select("w")
    )
    flagged = tok.join(
        F.broadcast(stop.withColumn("is_stop", F.lit(True))), "w", "left"
    ).select(
        "doc_id",
        "pos",
        "w",
        F.coalesce("is_stop", F.lit(False)).alias("is_stop"),
    )
    wd = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    flagged = flagged.withColumn(
        "pid", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wd)
    )
    pw = flagged.filter(~F.col("is_stop")).withColumn(
        "plen", F.count("*").over(W.partitionBy("doc_id", "pid"))
    )
    ws = pw.groupBy("w").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    phr = (
        pw.filter(F.col("plen") <= 4)
        .join(ws, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
            ).alias("phrase"),
            F.sum(F.expr("deg * 1000 div freq"))
            .cast("long")
            .alias("score_x1000"),
        )
    )
    return (
        phr.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("score_x1000").cast("long").alias("score_x1000"),
        )
        .orderBy(F.col("score_x1000").desc(), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Label-centroid separation audit (between-distance vs within-scatter)
# ---------------------------------------------------------------------------


@query(
    "embed_centroid_separation",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    dims AS (
      SELECT label, CAST(i AS BIGINT) AS d, q[i] AS qx
      FROM q, UNNEST(generate_series(1, 64)) AS u(i)
    ),
    cent AS (
      SELECT label, d,
             CAST(sum(qx) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(qx) AS BIGINT) // CAST(count(*) AS BIGINT)
                  AS BIGINT) AS c
      FROM dims GROUP BY label, d
    ),
    scat AS (
      SELECT m.label, CAST(sum((m.qx - c.c) * (m.qx - c.c)) AS BIGINT)
               AS scatter,
             CAST(count(*) // 64 AS BIGINT) AS n_members
      FROM dims m JOIN cent c ON c.label = m.label AND c.d = m.d
      GROUP BY m.label
    ),
    dist AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist2
      FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b, d.dist2,
           CAST(sa.scatter // sa.n_members AS BIGINT) AS within_a,
           CAST(sb.scatter // sb.n_members AS BIGINT) AS within_b,
           CAST(d.dist2 * 1000000
                // greatest(sa.scatter // sa.n_members
                            + sb.scatter // sb.n_members, 1) AS BIGINT)
             AS separation_ppm
    FROM dist d
    JOIN scat sa ON sa.label = d.label_a
    JOIN scat sb ON sb.label = d.label_b
    """,
    since=9,
)
def embed_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-CENTROID separation audit — the Davies-Bouldin /
    Calinski-Harabasz question ('are these classes actually separated
    in embedding space, and which pair is confusable?') as exact
    integer data: per label-pair, squared distance between truncated
    integer centroids vs each side's mean within-scatter around that
    same centroid, ratio in ppm (low = the pair a linear probe will
    confuse). Centroids are sum-div-count in TRUNCATING integer
    arithmetic on the x10000 quantized grid — a pinned convention
    both engines replay exactly (both truncate toward zero, QUIRKS
    0), trading ~1e-4 centroid precision for a hash-stable result;
    the scatter is then exact around that pinned centroid. Complements
    embed_cluster_purity (label agreement of FOUND clusters) by
    auditing the GIVEN labels' geometry.

    Scale: one dim-exploded aggregate builds all centroids (64 x
    |labels| rows — tiny); the scatter pass re-joins members to the
    centroid table on (label, dim) — broadcast; centroid PAIRS join
    on the dim equi-key (never a cross join) and reduce per pair.
    Nothing here grows with corpus size except the two linear
    passes."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * _QUANT).cast("long"),
            )
        ).alias("d0", "qx"),
    ).select("label", (F.col("d0") + 1).cast("long").alias("d"), "qx")
    cent = dims.groupBy("label", "d").agg(
        F.sum("qx").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    ).select(
        "label",
        "d",
        F.expr("s div n").cast("long").alias("c"),
    )
    cent = truncate_lineage(cent, eager=False)
    scat = (
        dims.join(F.broadcast(cent), ["label", "d"])
        .groupBy("label")
        .agg(
            F.sum((F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c")))
            .cast("long")
            .alias("scatter"),
            F.expr("count(*) div 64").cast("long").alias("n_members"),
        )
        .select(
            "label",
            F.expr("scatter div n_members").cast("long").alias("within"),
        )
    )
    cb = cent.select(
        F.col("label").alias("label_b"),
        F.col("d").alias("db"),
        F.col("c").alias("cb"),
    )
    dist = (
        cent.join(
            cb,
            (F.col("d") == F.col("db")) & (F.col("label") < F.col("label_b")),
        )
        .groupBy(F.col("label").alias("label_a"), "label_b")
        .agg(
            F.sum((F.col("c") - F.col("cb")) * (F.col("c") - F.col("cb")))
            .cast("long")
            .alias("dist2")
        )
    )
    sa = scat.select(F.col("label").alias("label_a"), F.col("within").alias("within_a"))
    sb = scat.select(F.col("label").alias("label_b"), F.col("within").alias("within_b"))
    return (
        dist.join(F.broadcast(sa), "label_a")
        .join(F.broadcast(sb), "label_b")
        .select(
            "label_a",
            "label_b",
            "dist2",
            "within_a",
            "within_b",
            F.expr("dist2 * 1000000 div greatest(within_a + within_b, 1)")
            .cast("long")
            .alias("separation_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch-Kincaid grade in exact scaled integers)
# ---------------------------------------------------------------------------


@query(
    "docs_readability_fk",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS w,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  + len(regexp_extract_all(
                        lower(text), '\\b[b-df-hj-np-tv-xz0-9]+\\b'))
                  AS BIGINT) AS y
      FROM documents
    )
    SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
           CAST(39 * w * w + 1180 * y * s - 1559 * s * w AS BIGINT)
             AS grade_num,
           CAST(100 * s * w AS BIGINT) AS grade_den,
           CAST(39 * w * w + 1180 * y * s - 1559 * s * w AS BIGINT)
             / CAST(100 * s * w AS BIGINT) AS fk_grade
    FROM m WHERE w >= 10
    """,
    since=9,
)
def docs_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH-KINCAID readability grading — the classic corpus-quality
    signal (pretraining filters routinely band documents by grade
    level). Grade = 0.39·(words/sentences) + 11.8·(syllables/words) −
    15.59, with syllables approximated by the standard vowel-group
    heuristic (maximal [aeiouy]+ runs, floor one per word — the
    vowel-free-word correction is counted explicitly). The float
    formula is cleared to exact integers by multiplying through by
    100·S·W: grade_num = 39W² + 1180YS − 1559SW over grade_den =
    100SW, so the hash check covers the counts and the scaled grade
    exactly, and the one output double is a single division of two
    exact integers — bit-identical IEEE in both engines.

    Scale: three regexp passes inside the scan stage — zero shuffles,
    zero Python, runs at parquet scan speed; the regex classes are
    ASCII-simple so Java and RE2 agree by construction (the same
    cross-engine contract the text-stats battery relies on)."""
    d = table(spark, sf_dir, "documents")
    w = F.size(
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    ).cast("long")
    s = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"),
    )
    y = (
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        + F.size(
            F.expr(
                r"regexp_extract_all(lower(text),"
                r" '\\b[b-df-hj-np-tv-xz0-9]+\\b', 0)"
            )
        )
    ).cast("long")
    m = d.select(
        "doc_id", w.alias("w"), s.alias("s"), y.alias("y")
    ).filter(F.col("w") >= 10)
    num = (
        39 * F.col("w") * F.col("w")
        + 1180 * F.col("y") * F.col("s")
        - 1559 * F.col("s") * F.col("w")
    ).cast("long")
    den = (100 * F.col("s") * F.col("w")).cast("long")
    return m.select(
        "doc_id",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        num.alias("grade_num"),
        den.alias("grade_den"),
        (num / den).alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (integer-exact multi-ranker combination)
# ---------------------------------------------------------------------------


@query(
    "docs_rank_fusion_rrf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t[g] AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                     AS g
            FROM documents)
      WHERE t[g] <> ''
    ),
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks GROUP BY term),
    qterms AS (
      SELECT term, df FROM df, n_docs
      WHERE df * 2 < n ORDER BY df DESC, term LIMIT 3
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS s1,
             CAST(sum((SELECT n FROM n_docs) - q.df) AS BIGINT) AS s2
      FROM toks t JOIN qterms q USING (term)
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, s1, s2,
             CAST(row_number() OVER (ORDER BY s1 DESC, doc_id) AS BIGINT)
               AS r1,
             CAST(row_number() OVER (ORDER BY s2 DESC, doc_id) AS BIGINT)
               AS r2
      FROM scored
    )
    SELECT doc_id, r1, r2,
           CAST(120 + r1 + r2 AS BIGINT) AS rrf_num,
           CAST((60 + r1) * (60 + r2) AS BIGINT) AS rrf_den,
           CAST(120 + r1 + r2 AS BIGINT)
             / CAST((60 + r1) * (60 + r2) AS BIGINT) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    since=9,
)
def docs_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-RANK FUSION — the standard way hybrid search merges
    rankers with incomparable score scales (BM25 + dense retrieval;
    every "hybrid" RAG stack ships it): score(d) = sum over rankers of
    1/(k + rank_r(d)), k = 60 per the original Cormack et al. setting.
    Two integer scorers rank the same candidate set (raw query-term
    frequency, and rarity-weighted frequency — deliberately different
    orderings), ranks come from deterministic (score DESC, doc_id)
    row_numbers, and the fused score is kept EXACT: with two rankers
    1/(60+r1) + 1/(60+r2) = (120+r1+r2) / ((60+r1)(60+r2)), emitted as
    exact integer numerator/denominator plus the one-division double.
    The top-20 ordering ties break by doc_id, so the selected set is
    deterministic in both engines even where distinct rationals round
    to equal doubles.

    Scale: candidate set = docs containing a query term — inverted-
    index semantics, but the df < n/2 term pick admits candidate sets
    a constant fraction of the corpus, so the candidate table is
    DATA-SIZED (measured at 10x synth: grows with the corpus,
    tools/measure_window_inputs.py). r11: both global rank windows
    replaced by scale.two_phase_rank (range-partitioned two-phase
    sort rank, control-plane offsets — exact, window-free); the
    global-order exemption is pruned. The top-20 emission is an
    orderBy().limit (TakeOrderedAndProject), never a global sort."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    qterms = (
        df.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 2 < F.col("n"))
        .orderBy(F.col("df").desc(), "term")
        .limit(3)
        .select("term", "df")
    )
    scored = (
        toks.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("s1"),
            F.sum(F.col("n") - F.col("df")).cast("long").alias("s2"),
        )
    )
    with_r1, _n1 = two_phase_rank(
        scored, [F.col("s1").desc(), F.col("doc_id")], rank_col="r1"
    )
    with_r2, _n2 = two_phase_rank(
        with_r1, [F.col("s2").desc(), F.col("doc_id")], rank_col="r2"
    )
    ranked = with_r2.select("doc_id", "r1", "r2")
    num = (120 + F.col("r1") + F.col("r2")).cast("long")
    den = ((60 + F.col("r1")) * (60 + F.col("r2"))).cast("long")
    return (
        ranked.select(
            "doc_id",
            "r1",
            "r2",
            num.alias("rrf_num"),
            den.alias("rrf_den"),
            (num / den).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Rice-coded posting-list size accounting (index compression)
# ---------------------------------------------------------------------------


@query(
    "docs_rice_postings",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, t[g] AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                     AS g
            FROM documents)
      WHERE regexp_matches(t[g], '^[a-z]{4,}$')
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM toks GROUP BY term),
    picked AS (
      SELECT term, df FROM df WHERE df >= 2
      ORDER BY df DESC, term LIMIT 50
    ),
    gaps AS (
      SELECT t.term, p.df,
             COALESCE(t.doc_id - lag(t.doc_id)
                        OVER (PARTITION BY t.term ORDER BY t.doc_id),
                      t.doc_id + 1) AS g
      FROM toks t JOIN picked p USING (term)
    ),
    kparam AS (
      SELECT term, df, CAST(length(bin(sum(g) // df)) - 1 AS BIGINT) AS k,
             CAST(max(g) AS BIGINT) AS max_gap
      FROM gaps GROUP BY term, df
    )
    SELECT g.term, k.df, k.k, k.max_gap,
           CAST(sum((g.g - 1) // (1 << k.k) + 1 + k.k) AS BIGINT)
             AS rice_bits,
           CAST(k.df * length(bin(k.max_gap)) AS BIGINT) AS fixed_bits
    FROM gaps g JOIN kparam k USING (term)
    GROUP BY g.term, k.df, k.k, k.max_gap
    """,
    since=9,
)
def docs_rice_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICE/GOLOMB POSTING-LIST compression accounting — the
    d-gap coding math every inverted index (Lucene, web search)
    lives on: sorted doc ids become gaps, each gap g encodes as
    unary(q)+binary(r) with q = (g-1) >> k, and the per-term Rice
    parameter k = floor(log2(mean gap)) — the optimal power-of-two
    Golomb divisor for geometric gaps. floor(log2) is computed
    WITHOUT floats as length(bin(m)) - 1 (exact at powers of two,
    where float log2 famously rounds wrong), and every bit count is
    an exact integer. Per term: df, chosen k, the Rice-coded size,
    and the fixed-width-delta size it beats — the measured
    compression win as data, same shape as docs_minhash_recall's
    measured-quality contract.

    Scale: gaps are a per-term lag window (shuffle on term, the
    inverted index's natural key); k and the bit totals are plain
    aggregates. Term selection bounds output at 50 rows; the same
    pipeline unbounded is the index-build cost model."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").rlike("^[a-z]{4,}$"))
        .distinct()
    )
    df = toks.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    picked = (
        df.filter(F.col("df") >= 2)
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )
    gaps = (
        toks.join(F.broadcast(picked), "term")
        .select(
            "term",
            "df",
            F.coalesce(
                F.col("doc_id")
                - F.lag("doc_id").over(
                    W.partitionBy("term").orderBy("doc_id")
                ),
                F.col("doc_id") + 1,
            ).alias("g"),
        )
    )
    kparam = gaps.groupBy("term", "df").agg(
        (F.length(F.bin(F.expr("sum(g) div df"))) - 1)
        .cast("long")
        .alias("k"),
        F.max("g").cast("long").alias("max_gap"),
    )
    return (
        gaps.join(kparam.drop("df"), "term")
        .groupBy("term", "df", "k", "max_gap")
        .agg(
            F.sum(
                F.expr("(g - 1) div shiftleft(1, k)") + 1 + F.col("k")
            )
            .cast("long")
            .alias("rice_bits"),
            (F.col("df") * F.length(F.bin(F.col("max_gap"))))
            .cast("long")
            .alias("fixed_bits"),
        )
        .select(
            "term", "df", "k", "max_gap", "rice_bits", "fixed_bits"
        )
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox audit (pooled-vs-stratified trend reversal)
# ---------------------------------------------------------------------------


@query(
    "lineitem_simpson_reversal",
    oracle="""
    WITH x AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_discount * 100) AS BIGINT) AS d,
             CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(d * q) AS BIGINT) AS sdq
      FROM x GROUP BY brand
    ),
    t AS (
      SELECT brand, n,
             CAST(n * sdq - sd * sq AS BIGINT) AS slope_num,
             CAST(sum(n) OVER () * sum(sdq) OVER ()
                  - sum(sd) OVER () * sum(sq) OVER () AS BIGINT)
               AS pooled_num
      FROM g
    )
    SELECT brand, n, slope_num, pooled_num,
           CAST(CASE WHEN (slope_num > 0) = (pooled_num > 0)
                       OR slope_num = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS agrees_with_pooled
    FROM t
    """,
    since=9,
)
def lineitem_simpson_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX audit — the confounding check any metrics
    platform should run before trusting a pooled trend: does the
    discount→quantity relationship hold WITHIN each part brand, or is
    the pooled slope an artifact of brand mix? The trend test is the
    OLS slope SIGN with the division and variance denominator
    algebraically cleared — sign(nΣdq − ΣdΣq) over exact integer
    discount points and quantities (the events_user_trend moment
    identity, repurposed as a stratified-vs-pooled comparison) — so
    every comparison is exact and the reversal flags are
    deterministic. Output: per-brand slope numerator, the pooled
    numerator (identical on every row — the audit's reference
    column), and the agreement flag; a 0 row is a stratum whose trend
    contradicts the headline number.

    Scale: one fact-dim equi-join (part side broadcastable), one
    25-group aggregate; the pooled moments are window totals OVER the
    25-row aggregate — summing per-stratum moment sums IS the pooled
    moment sum, so no second pass over the fact table and no scalar
    crossJoin at all."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    g = x.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("d") * F.col("q")).cast("long").alias("sdq"),
    )
    w = W.partitionBy()
    t = g.select(
        "brand",
        "n",
        (F.col("n") * F.col("sdq") - F.col("sd") * F.col("sq"))
        .cast("long")
        .alias("slope_num"),
        (
            F.sum("n").over(w) * F.sum("sdq").over(w)
            - F.sum("sd").over(w) * F.sum("sq").over(w)
        )
        .cast("long")
        .alias("pooled_num"),
    )
    return t.select(
        "brand",
        "n",
        "slope_num",
        "pooled_num",
        F.when(
            ((F.col("slope_num") > 0) == (F.col("pooled_num") > 0))
            | (F.col("slope_num") == 0),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("agrees_with_pooled"),
    )


# ---------------------------------------------------------------------------
# Binary quantization ANN (sign bits + Hamming funnel + exact rerank)
# ---------------------------------------------------------------------------

_BQ_PACK_SQL_1 = (
    "list_sum(list_transform(generate_series(1, 32), i -> CASE WHEN"
    " q[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END))"
)
_BQ_PACK_SQL_2 = (
    "list_sum(list_transform(generate_series(33, 64), i -> CASE WHEN"
    " q[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END))"
)


@query(
    "embed_knn_binary",
    oracle=f"""
    WITH q AS ({_Q_SQL}),
    qq AS (
      SELECT vec_id, q,
             sqrt(list_sum(list_transform(q, x -> x * x))) AS qnorm,
             {_BQ_PACK_SQL_1} AS h1,
             {_BQ_PACK_SQL_2} AS h2
      FROM q
    ),
    ham AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(bit_count(xor(a.h1, b.h1))
                  + bit_count(xor(a.h2, b.h2)) AS BIGINT) AS hamming,
             round({_DOT_SQL} / (a.qnorm * b.qnorm), 6) AS cosine
      FROM qq a JOIN qq b ON a.vec_id < {_N_QUERIES}
       AND b.vec_id <> a.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, hamming, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS hrn
      FROM ham
    ),
    rer AS (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM cand WHERE hrn <= 20
    ),
    approx AS (SELECT query_id, neighbor_id, hamming FROM rer
               WHERE rn <= {_TOP_K}),
    exact AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id)
                     AS rn
            FROM ham) WHERE rn <= {_TOP_K}
    )
    SELECT a.query_id,
           CAST(count(*) AS BIGINT) AS k_returned,
           CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                * 100 // {_TOP_K} AS BIGINT) AS recall_pct,
           CAST(max(a.hamming) AS BIGINT) AS max_hamming
    FROM approx a
    LEFT JOIN exact e ON e.query_id = a.query_id
     AND e.neighbor_id = a.neighbor_id
    GROUP BY a.query_id
    """,
    since=10,
)
def embed_knn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY QUANTIZATION ANN — the 1-bit-per-dimension funnel modern
    vector stores lead with (sign bits -> 64x memory cut; Hamming
    distance via XOR+popcount at register speed; exact rerank only on
    survivors): candidates come from the top-20 by Hamming between
    packed sign words, the final top-{_TOP_K} from exact cosine on
    that 20-element shortlist, and — the entry's contract — measured
    RECALL against the brute-force exact top-{_TOP_K} is emitted AS
    DATA per query (the docs_minhash_recall/embed_ivf_recall pattern:
    the approximation layer itself is what the oracle gate proves).
    Completes the quantization family: SQ8 (embed_norm_quantize), PQ
    (embed_knn_pq), and now the 1-bit extreme.

    Scale: sign packing is two 32-term integer folds per vector at
    scan time; the Hamming scan is 2 XOR+popcount ops per pair — the
    cheapest possible pair filter, SIMD-friendly by construction —
    and exact cosine touches only 20 candidates per query. The
    query-side broadcast is the embed_knn_bruteforce precedent; at
    corpus scale the Hamming stage drops behind an IVF cell key
    exactly as PQ does."""
    qdf = _quantized(spark, sf_dir)
    pack1 = F.expr(
        "aggregate(sequence(1, 32), 0L, (acc, i) -> acc +"
        " CASE WHEN element_at(q, i) >= 0"
        " THEN shiftleft(1L, i - 1) ELSE 0L END)"
    )
    pack2 = F.expr(
        "aggregate(sequence(33, 64), 0L, (acc, i) -> acc +"
        " CASE WHEN element_at(q, i) >= 0"
        " THEN shiftleft(1L, i - 33) ELSE 0L END)"
    )
    qq = qdf.select(
        "vec_id", "q", "qnorm", pack1.alias("h1"), pack2.alias("h2")
    )
    queries = qq.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    corpus = qq.alias("b")
    ham = (
        F.broadcast(queries)
        .join(corpus, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.expr("a.h1 ^ b.h1"))
                + F.bit_count(F.expr("a.h2 ^ b.h2"))
            )
            .cast("long")
            .alias("hamming"),
            F.round(_cosine("a", "b"), 6).alias("cosine"),
        )
    )
    ham = truncate_lineage(ham, reliable=True)
    hw = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cw = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    approx = (
        ham.withColumn("hrn", F.row_number().over(hw))
        .filter(F.col("hrn") <= 20)
        .withColumn("rn", F.row_number().over(cw))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "hamming")
    )
    exact = (
        ham.withColumn("rn", F.row_number().over(cw))
        .filter(F.col("rn") <= _TOP_K)
        # rename BOTH keys: approx and exact share ham's lineage, and
        # same-attribute join conditions silently collapse (the
        # region-label lesson)
        .select(
            F.col("query_id").alias("eq"),
            F.col("neighbor_id").alias("en"),
        )
    )
    return (
        approx.join(
            exact,
            (F.col("query_id") == F.col("eq"))
            & (F.col("neighbor_id") == F.col("en")),
            "left",
        )
        .drop("eq")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("k_returned"),
            F.sum(
                F.when(F.col("en").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
            F.expr(
                f"sum(CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END)"
                f" * 100 div {_TOP_K}"
            )
            .cast("long")
            .alias("recall_pct"),
            F.max("hamming").cast("long").alias("max_hamming"),
        )
    )


# ---------------------------------------------------------------------------
# Huffman code construction (distributed frequencies, 15 exact merges)
# ---------------------------------------------------------------------------

_HUF_ROUNDS = 15  # 16 symbols -> 1 cluster


def _huffman_oracle() -> str:
    parts = []
    for r in range(1, _HUF_ROUNDS + 1):
        parts.append(
            f"""cf{r} AS MATERIALIZED (
      SELECT cluster, sum(f) AS cf, min(sym) AS msym
      FROM st{r - 1} GROUP BY cluster
    ),
    pk{r} AS MATERIALIZED (
      SELECT cluster, min(cluster) OVER () AS newc
      FROM (
        SELECT cluster,
               row_number() OVER (ORDER BY cf, msym) AS rn
        FROM cf{r}
      ) WHERE rn <= 2
    ),
    st{r} AS MATERIALIZED (
      SELECT s.sym, s.f,
             CASE WHEN p.cluster IS NOT NULL THEN p.newc
                  ELSE s.cluster END AS cluster,
             s.len + CASE WHEN p.cluster IS NOT NULL THEN 1 ELSE 0 END
               AS len
      FROM st{r - 1} s LEFT JOIN pk{r} p ON p.cluster = s.cluster
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH syms AS (
      SELECT unnest(string_split('0123456789abcdef', '')) AS sym
    ),
    freq AS (
      SELECT h.sym, CAST(count(*) AS BIGINT) AS f
      FROM (
        SELECT substr(md5(text), i, 1) AS sym
        FROM documents, unnest(generate_series(1, 32)) t(i)
      ) h GROUP BY h.sym
    ),
    st0 AS MATERIALIZED (
      SELECT s.sym, COALESCE(fr.f, 0) AS f, s.sym AS cluster,
             CAST(0 AS BIGINT) AS len
      FROM syms s LEFT JOIN freq fr ON fr.sym = s.sym
    ),
    {body},
    fin AS (
      SELECT sym, f, len,
             CAST(1 AS BIGINT) << (20 - CAST(len AS INTEGER)) AS kraft_term
      FROM st{_HUF_ROUNDS}
    )
    SELECT sym, f AS freq, CAST(len AS BIGINT) AS code_len,
           kraft_term,
           CAST(CASE WHEN sum(kraft_term) OVER () = 1048576
                     THEN 1 ELSE 0 END AS BIGINT) AS kraft_ok
    FROM fin
    """



def _huffman_fold_expr(rounds: int) -> str:
    """The Huffman merge fold over the single-row (sym, f) array `s0`:
    each round re-derives the cluster table, picks the two lightest by
    the engine-independent (freq, min-symbol) struct order, and
    relabels members with len+1. The single-element transform is the
    let-binding emulation (QUIRKS #11). Module-level so the tie-heavy
    property tests can drive it with literal distributions."""
    return f"""
    aggregate(sequence(1, {rounds}),
      transform(s0, x -> named_struct('sym', x.sym, 'f', x.f,
                                      'cluster', x.sym,
                                      'len', cast(0 as bigint))),
      (st, r) -> element_at(transform(array(
          slice(array_sort(transform(
            array_distinct(transform(st, x -> x.cluster)),
            c -> named_struct(
              'cf', aggregate(filter(st, x -> x.cluster = c),
                              cast(0 as bigint), (s, x) -> s + x.f),
              'msym', array_min(transform(filter(st, x -> x.cluster = c),
                                          x -> x.sym)),
              'cluster', c))), 1, 2)), two ->
        transform(st, x ->
          IF(x.cluster = element_at(two, 1).cluster
             OR x.cluster = element_at(two, 2).cluster,
             named_struct('sym', x.sym, 'f', x.f,
               'cluster', least(element_at(two, 1).cluster,
                                element_at(two, 2).cluster),
               'len', x.len + 1),
             x))), 1))
    """


@query("docs_huffman_lengths", oracle=_huffman_oracle(), since=10)
def docs_huffman_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUFFMAN CODE CONSTRUCTION — the optimal-prefix-code primitive
    under DEFLATE/zstd literal tables and every entropy-coding stage:
    symbol frequencies are ONE distributed aggregate over the corpus
    (the 100 TB part — this is the pass a real encoder fans out), and
    the tree build is the textbook 15-merge loop over a 16-symbol
    alphabet — an ALPHABET-sized object, so it folds inside a single
    row: the frequency table collects into one sorted array
    (control-plane-sized, the sketch-collect exemption class) and one
    `aggregate` runs the 15 merges, each round re-deriving the
    cluster table (cf, min-symbol) from the state, array_sort-picking
    the two smallest by the engine-independent (freq, min-symbol)
    tie-break (struct ordering), and relabeling members to the
    smaller cluster id with len+1 — a symbol's code length is exactly
    the number of merges its cluster survived. The single-element
    `transform(array(...), two -> ...)` wrapper is a let-binding
    emulation so the two-smallest pick is computed once per round.
    (r9's first cut ran the loop in-plan over a 16-row FRAME — 15
    rounds of groupBy + two windows + join with periodic reliable
    checkpoints, preserved in git history; correct and equally
    control-plane-sized, but ~45 plan stages for arithmetic on 16
    values.) The KRAFT EQUALITY — sum over symbols of 2^-len = 1, the
    theorem a valid complete prefix code must satisfy — is emitted as
    exact shifted integers (kraft_term = 2^(20-len), kraft_ok = their
    sum hitting 2^20 exactly), so optimality bookkeeping is itself
    hash-checked; the twin test additionally proves minimality
    against python heapq Huffman (equal weighted length, the
    canonical-ambiguity-free invariant). The ORACLE keeps the
    unrolled 15-CTE merge chain — independent evaluation order.

    Scale: frequency counting is a fused explode->groupBy with
    map-side combine (alphabet-bounded result); the merge fold is
    O(alphabet^2 * rounds) scalar ops on one row — byte alphabets
    mean 255 merges over 256 entries, still microseconds.

    Reference capability class: corpus statistics / compression
    modeling (docs_compression_ratio's analytical counterpart)."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(F.sequence(F.lit(1), F.lit(32))).alias("i"),
            F.md5("text").alias("h"),
        )
        .select(F.expr("substr(h, i, 1)").alias("sym"))
        .groupBy("sym")
        .agg(F.count("*").cast("long").alias("f"))
    )
    syms = spark.createDataFrame(
        [(c,) for c in "0123456789abcdef"], "sym string"
    )
    arr = (
        syms.join(freq, "sym", "left")
        .select("sym", F.coalesce("f", F.lit(0)).cast("long").alias("f"))
        .agg(F.sort_array(F.collect_list(F.struct("sym", "f"))).alias("s0"))
    )
    fold = _huffman_fold_expr(_HUF_ROUNDS)
    return (
        arr.select(F.explode(F.expr(fold)).alias("z"))
        .select(
            F.col("z.sym").alias("sym"),
            F.col("z.f").alias("freq"),
            F.col("z.len").cast("long").alias("code_len"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(20 - z.len AS INT))")
            .cast("long")
            .alias("kraft_term"),
        )
        .withColumn(
            "kraft_ok",
            F.when(
                F.sum("kraft_term").over(
                    W.orderBy().rowsBetween(
                        W.unboundedPreceding, W.unboundedFollowing
                    )
                )
                == 1048576,
                1,
            )
            .otherwise(0)
            .cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# CRC32 computed relationally (table-driven fold, 32 unrolled byte rounds)
# ---------------------------------------------------------------------------

_CRC_POLY = 3988292384  # 0xEDB88320, reflected IEEE 802.3
_CRC_LEN = 32  # payload = md5 hex digest (fixed-length ASCII)


def _crc_oracle() -> str:
    tparts = ["t0 AS (SELECT i, i AS c FROM range(256) r(i))"]
    for s in range(1, 9):
        tparts.append(
            f"""t{s} AS (
      SELECT i, CASE WHEN c % 2 = 1
                     THEN xor(c >> 1, {_CRC_POLY})
                     ELSE c >> 1 END AS c
      FROM t{s - 1}
    )"""
        )
    sparts = [
        """st0 AS MATERIALIZED (
      SELECT doc_id, md5(text) AS h,
             CAST(4294967295 AS BIGINT) AS crc
      FROM documents
    )"""
    ]
    for r in range(1, _CRC_LEN + 1):
        sparts.append(
            f"""st{r} AS MATERIALIZED (
      SELECT s.doc_id, s.h,
             xor(s.crc >> 8, t.c) AS crc
      FROM st{r - 1} s
      JOIN t8 t ON t.i = xor(s.crc, ascii(substr(s.h, {r}, 1))) % 256
    )"""
        )
    body = ",\n    ".join(tparts + sparts)
    return f"""
    WITH {body}
    SELECT doc_id, CAST(xor(crc, 4294967295) AS BIGINT) AS crc32
    FROM st{_CRC_LEN}
    """


@query("docs_crc32_relational", oracle=_crc_oracle(), since=10)
def docs_crc32_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRC32 AS A RELATIONAL FOLD — the integrity checksum every
    object store and wire protocol stamps on data (S3 ETags, gzip
    trailers, Parquet page CRCs), computed here without any bit-loop
    UDF: the 256-entry reflected-polynomial table is eight unrolled
    column transforms over range(256), and the byte fold is 32 rounds
    (the payload is a fixed-length md5-hex ASCII string) of one
    equi-join each against that table — crc' = (crc >> 8) XOR
    T[(crc XOR byte) & 0xFF]. Two engines independently reproducing a
    STANDARDIZED checksum is a stronger cross-check than agreeing on
    an ad-hoc hash: any table error, shift slip, or byte-order mistake
    lands on a different 32-bit value with probability ~1; the twin
    test additionally pins the result to zlib.crc32 AND to Spark's
    built-in crc32() — three implementations, one value.

    Scale: per round the state is one row per document and the build
    side a constant 256-row broadcast hash join; rounds scale with
    payload length, not corpus size (real bulk checksumming fuses the
    table into a scan-side expression — F.crc32 — which this entry's
    twin proves equivalent; the relational unroll is the
    cross-engine-verifiable form).

    Reference capability class: data integrity accounting (the
    files_listing/compaction checksum family)."""
    tbl = spark.range(256).select(
        F.col("id").cast("long").alias("i"),
        F.col("id").cast("long").alias("c"),
    )
    for _ in range(8):
        tbl = tbl.select(
            "i",
            F.expr(
                f"CASE WHEN c % 2 = 1 THEN shiftright(c, 1) ^ {_CRC_POLY}"
                " ELSE shiftright(c, 1) END"
            ).alias("c"),
        )
    tbl = tbl.select("i", F.col("c").alias("tc"))
    st = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("h"),
        F.lit(4294967295).cast("long").alias("crc"),
    )
    for r in range(1, _CRC_LEN + 1):
        st = (
            st.join(
                F.broadcast(tbl),
                tbl["i"]
                == F.expr(f"(crc ^ ascii(substr(h, {r}, 1))) % 256"),
            )
            .select(
                "doc_id",
                "h",
                (F.expr("shiftright(crc, 8)").bitwiseXOR(F.col("tc")))
                .alias("crc"),
            )
        )
        if r % 8 == 0:
            st = truncate_lineage(st, eager=True, reliable=True)
    return st.select(
        "doc_id",
        F.expr("crc ^ 4294967295").cast("long").alias("crc32"),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking (greedy diverse top-k)
# ---------------------------------------------------------------------------

_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    parts = []
    for r in range(1, _MMR_K + 1):
        ms = "0.0" if r == 1 else "ms"
        parts.append(
            f"""sc{r} AS MATERIALIZED (
      SELECT query_id, vec_id, rel, ms,
             {lam} * rel - {1 - lam:.1f} * {ms} AS score
      FROM rem{r - 1}
    ),
    pk{r} AS MATERIALIZED (
      SELECT query_id, vec_id, rel, score FROM (
        SELECT query_id, vec_id, rel, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM sc{r}
      ) WHERE rn = 1
    ),
    rem{r} AS MATERIALIZED (
      SELECT s.query_id, s.vec_id, s.rel,
             greatest(s.ms, p.sim) AS ms
      FROM (
        SELECT c.query_id, c.vec_id, c.rel, c.ms,
               k.vec_id AS picked
        FROM sc{r} c JOIN pk{r} k ON k.query_id = c.query_id
        WHERE c.vec_id <> k.vec_id
      ) s
      JOIN sims p ON p.query_id = s.query_id
                 AND p.i = s.vec_id AND p.j = s.picked
    )"""
        )
    body = ",\n    ".join(parts)
    sel = "\n    UNION ALL ".join(
        f"SELECT query_id, {r} AS rank, vec_id, rel, score FROM pk{r}"
        for r in range(1, _MMR_K + 1)
    )
    return f"""
    WITH q AS ({_Q_SQL}),
    qn AS (
      SELECT vec_id, q, {_NORM_SQL.format(s='q').replace('{{s}}.', '')}
               AS qnorm
      FROM (SELECT vec_id, q FROM q) q
    ),
    pool AS MATERIALIZED (
      SELECT query_id, vec_id, rel FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               round({_DOT_SQL} / (a.qnorm * b.qnorm), 6) AS rel,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({_DOT_SQL}
                                    / (a.qnorm * b.qnorm), 6) DESC,
                                  b.vec_id) AS rn
        FROM qn a JOIN qn b ON a.vec_id < 4 AND b.vec_id <> a.vec_id
      ) WHERE rn <= {_MMR_POOL}
    ),
    sims AS MATERIALIZED (
      SELECT x.query_id, x.vec_id AS i, y.vec_id AS j,
             round({_DOT_SQL.replace('a.q', 'qa.q').replace('b.q', 'qb.q')}
                   / (qa.qnorm * qb.qnorm), 6) AS sim
      FROM pool x
      JOIN pool y ON y.query_id = x.query_id AND y.vec_id <> x.vec_id
      JOIN qn qa ON qa.vec_id = x.vec_id
      JOIN qn qb ON qb.vec_id = y.vec_id
    ),
    rem0 AS (
      SELECT query_id, vec_id, rel, 0.0 AS ms FROM pool
    ),
    {body}
    SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, rel,
           score AS mmr_score
    FROM ({sel})
    """


@query("embed_mmr_rerank", oracle=_mmr_oracle(), since=10)
def embed_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE — the diversity re-ranker every RAG
    retriever and search-results page runs after ANN (Carbonell &
    Goldstein 1998): greedily pick argmax of lambda*relevance -
    (1-lambda)*max-similarity-to-already-picked, so near-duplicate
    hits can't monopolize the top-k (the redundancy failure SemDeDup
    measures corpus-wide, fixed at query time). Five unrolled greedy
    rounds over a top-20 candidate pool per query: each round one
    per-query argmax window (score DESC, vec_id — rounded-6 cosines
    make the comparison engine-stable) and one equi-join against the
    precomputed pool-pairwise similarity table to fold the new
    max-sim penalty via greatest(). Round 1's penalty term is
    DEFINED as zero (empty selected set), not a maxsim sentinel —
    negative similarities stay honest. The greedy-loop twin test
    re-runs MMR sequentially in python.

    Scale: the pool is the ANN output (constant k' per query) — MMR
    cost is pool^2 pairwise sims + K argmax rounds per query,
    independent of corpus size; pool and sims tables shuffle on
    query_id only. The relevance stage reuses the established
    broadcast-query brute-force shape (recall measured elsewhere —
    embed_ivf_recall et al.).

    Reference capability class: retrieval post-processing (BM25 /
    rank-fusion family completion)."""
    lam = _MMR_LAMBDA
    qdf = _quantized(spark, sf_dir)
    queries = qdf.filter(F.col("vec_id") < 4).alias("a")
    corpus = qdf.alias("b")
    pool = (
        F.broadcast(queries)
        .join(corpus, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("vec_id"),
            F.round(_cosine("a", "b"), 6).alias("rel"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("rel").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
    )
    pool = truncate_lineage(pool, reliable=True)
    qa = qdf.select(
        F.col("vec_id").alias("i"),
        F.col("q").alias("qa"),
        F.col("qnorm").alias("na"),
    )
    qb = qdf.select(
        F.col("vec_id").alias("j"),
        F.col("q").alias("qb"),
        F.col("qnorm").alias("nb"),
    )
    x = pool.select("query_id", F.col("vec_id").alias("i"))
    y = pool.select(
        F.col("query_id").alias("qy"), F.col("vec_id").alias("j")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda u, v: u * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sims = (
        x.join(y, (x["query_id"] == y["qy"]) & (x["i"] != y["j"]))
        .join(qa, "i")
        .join(qb, "j")
        .select(
            "query_id",
            "i",
            "j",
            F.round(dot.cast("double") / (F.col("na") * F.col("nb")), 6)
            .alias("sim"),
        )
    )
    sims = truncate_lineage(sims, reliable=True)
    rem = pool.select(
        "query_id", "vec_id", "rel", F.lit(0.0).alias("ms")
    )
    picks = []
    for r in range(1, _MMR_K + 1):
        sc = rem.select(
            "query_id",
            "vec_id",
            "rel",
            "ms",
            (
                F.lit(lam) * F.col("rel")
                - F.lit(round(1 - lam, 1))
                * (F.lit(0.0) if r == 1 else F.col("ms"))
            ).alias("score"),
        )
        pk = (
            sc.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.col("score").desc(), "vec_id"
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).cast("long").alias("rank"),
                "vec_id",
                "rel",
                "score",
            )
        )
        pk = truncate_lineage(pk, eager=True, reliable=True)
        picks.append(pk)
        rem = (
            sc.join(
                pk.select(
                    F.col("query_id").alias("pq"),
                    F.col("vec_id").alias("picked"),
                ),
                (F.col("query_id") == F.col("pq"))
                & (F.col("vec_id") != F.col("picked")),
            )
            .join(
                sims.select(
                    F.col("query_id").alias("sq"),
                    F.col("i"),
                    F.col("j"),
                    "sim",
                ),
                (F.col("query_id") == F.col("sq"))
                & (F.col("i") == F.col("vec_id"))
                & (F.col("j") == F.col("picked")),
            )
            .select(
                "query_id",
                "vec_id",
                "rel",
                F.greatest("ms", "sim").alias("ms"),
            )
        )
        rem = truncate_lineage(rem, eager=True, reliable=True)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select(
        "query_id", "rank", "vec_id", "rel", F.col("score").alias(
            "mmr_score"
        )
    )


# ---------------------------------------------------------------------------
# TextTiling-style topic segmentation (block-cohesion dips)
# ---------------------------------------------------------------------------

_TT_BLOCK = 8  # tokens per block
_TT_BUCKETS = 64


def _tt_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, t.tok, t.i
      FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS i,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) t WHERE t.tok <> ''
    ),
    bl AS (
      SELECT doc_id, (i - 1) // {_TT_BLOCK} AS blk,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
               % {_TT_BUCKETS} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY doc_id, blk, bucket
    ),
    dots AS (
      SELECT l.doc_id, l.blk AS gap,
             CAST(sum(l.cnt * r.cnt) AS BIGINT) AS sim
      FROM bl l JOIN bl r ON r.doc_id = l.doc_id
                         AND r.blk = l.blk + 1
                         AND r.bucket = l.bucket
      GROUP BY l.doc_id, l.blk
    ),
    blocks AS (SELECT DISTINCT doc_id, blk FROM bl),
    mx AS (SELECT doc_id, max(blk) AS m FROM blocks GROUP BY doc_id),
    -- a zero-overlap gap is the STRONGEST boundary; an inner join on
    -- shared buckets would silently drop it (caught by the twin test)
    gaps AS (
      SELECT b.doc_id, b.blk AS gap, COALESCE(d.sim, 0) AS sim
      FROM blocks b
      JOIN mx ON mx.doc_id = b.doc_id
      LEFT JOIN dots d ON d.doc_id = b.doc_id AND d.gap = b.blk
      WHERE b.blk < mx.m
    ),
    tot AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(sim) AS BIGINT) AS simsum
      FROM gaps GROUP BY doc_id
    )
    SELECT g.doc_id, CAST(g.gap AS BIGINT) AS gap, g.sim, t.n_gaps,
           CAST(CASE WHEN g.sim * t.n_gaps < t.simsum
                     THEN 1 ELSE 0 END AS BIGINT) AS is_boundary
    FROM gaps g JOIN tot t ON t.doc_id = g.doc_id
    WHERE t.n_gaps >= 2
    """


@query("docs_texttiling_segments", oracle=_tt_oracle(), since=10)
def docs_texttiling_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPIC SEGMENTATION by lexical-cohesion dips — the TextTiling
    idea (Hearst 1997) that long-document chunkers for RAG pipelines
    reinvent: adjacent token blocks that share vocabulary belong to
    one topic; a gap whose block-overlap score dips below the
    document's mean is a topic boundary (the chunk_windows entry cuts
    by SIZE; this cuts by CONTENT — the two chunking policies a
    training-data pipeline actually chooses between). Cohesion is the
    exact integer dot product of hashed-token count vectors of the
    two adjacent blocks (64 buckets, md5 tokens — feature-hashing
    precedent), and the boundary test is integer-cleared
    (sim * n_gaps < sum(sim)), so no float appears anywhere. Gaps,
    not documents, are the output grain: every dip is auditable.

    Scale: token explode fuses into the scan; block count vectors are
    one (doc, block, bucket) aggregate; the adjacent-block dot is one
    self-equi-join on (doc, bucket, block+1) — the bigram-drift shape;
    the threshold total is a doc-keyed aggregate joined back. Zero
    cross-document traffic.

    Reference capability class: corpus-construction chunking
    (SURVEY.md LLM-pipeline extras; chunk_windows' content-aware
    sibling)."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "tok")
        )
        .filter(F.col("tok") != "")
        .select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    )
    bl = (
        tok.select(
            "doc_id",
            ((F.col("i") - 1) / _TT_BLOCK).cast("long").alias("blk"),
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % _TT_BUCKETS
            ).alias("bucket"),
        )
        .groupBy("doc_id", "blk", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    r = bl.select(
        F.col("doc_id").alias("rdoc"),
        F.col("blk").alias("rblk"),
        F.col("bucket").alias("rbucket"),
        F.col("cnt").alias("rcnt"),
    )
    dots = (
        bl.join(
            r,
            (F.col("rdoc") == F.col("doc_id"))
            & (F.col("rblk") == F.col("blk") + 1)
            & (F.col("rbucket") == F.col("bucket")),
        )
        .groupBy("doc_id", F.col("blk").alias("gap"))
        .agg(F.sum(F.col("cnt") * F.col("rcnt")).cast("long").alias("sim"))
    )
    # a zero-overlap gap is the STRONGEST boundary; an inner join on
    # shared buckets silently dropped those gaps (caught by the twin
    # test) — build the full gap spine and left-join the dots
    blocks = bl.select("doc_id", "blk").distinct()
    mx = blocks.groupBy("doc_id").agg(F.max("blk").alias("m"))
    gaps = (
        blocks.join(mx, "doc_id")
        .filter(F.col("blk") < F.col("m"))
        .select("doc_id", F.col("blk").alias("gap"))
        .join(dots, ["doc_id", "gap"], "left")
        .select(
            "doc_id", "gap", F.coalesce("sim", F.lit(0)).cast("long")
            .alias("sim")
        )
    )
    tot = gaps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("sim").cast("long").alias("simsum"),
    )
    return (
        gaps.join(tot, "doc_id")
        .filter(F.col("n_gaps") >= 2)
        .select(
            "doc_id",
            F.col("gap").cast("long").alias("gap"),
            "sim",
            "n_gaps",
            F.when(F.col("sim") * F.col("n_gaps") < F.col("simsum"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_boundary"),
        )
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (per-doc weighted PageRank, integer-exact)
# ---------------------------------------------------------------------------

_TR_TOPK = 3


def _textrank_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, t.i, t.tok
      FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS i,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) t WHERE t.tok <> ''
    ),
    co AS (
      SELECT a.doc_id, a.tok AS ta, b.tok AS tb,
             CAST(count(*) AS BIGINT) AS w
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND b.i > a.i AND b.i <= a.i + 2
       AND b.tok <> a.tok
      GROUP BY a.doc_id, a.tok, b.tok
    ),
    edges AS MATERIALIZED (
      -- merge the two directed observations (x before y / y before x)
      -- into ONE undirected edge weight: per-edge floor division makes
      -- parallel edges arithmetically different from a merged edge
      SELECT doc_id, src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT doc_id, ta AS src, tb AS dst, w FROM co
        UNION ALL
        SELECT doc_id, tb AS src, ta AS dst, w FROM co
      ) GROUP BY doc_id, src, dst
    ),
    wdeg AS MATERIALIZED (
      SELECT doc_id, src, CAST(sum(w) AS BIGINT) AS d
      FROM edges GROUP BY doc_id, src
    ),
    in1 AS (
      SELECT e.doc_id, e.dst,
             CAST(sum((1000000 * e.w) // g.d) AS BIGINT) AS s
      FROM edges e
      JOIN wdeg g ON g.doc_id = e.doc_id AND g.src = e.src
      GROUP BY e.doc_id, e.dst
    ),
    r1 AS MATERIALIZED (
      SELECT g.doc_id, g.src AS node,
             CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT)
               AS rank,
             g.d
      FROM wdeg g
      LEFT JOIN in1 i ON i.doc_id = g.doc_id AND i.dst = g.src
    ),
    in2 AS (
      SELECT e.doc_id, e.dst,
             CAST(sum((r.rank * e.w) // r.d) AS BIGINT) AS s
      FROM edges e
      JOIN r1 r ON r.doc_id = e.doc_id AND r.node = e.src
      GROUP BY e.doc_id, e.dst
    ),
    r2 AS (
      SELECT g.doc_id, g.src AS node,
             CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT)
               AS rank
      FROM wdeg g
      LEFT JOIN in2 i ON i.doc_id = g.doc_id AND i.dst = g.src
    )
    SELECT doc_id, node AS token, rank, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, node, rank,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY rank DESC, node) AS rn
      FROM r2
    ) WHERE rn <= {_TR_TOPK}
    """


@query("docs_textrank_keywords", oracle=_textrank_oracle(), since=10)
def docs_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK — graph-based keyword extraction (Mihalcea & Tarau
    2004), the PageRank-on-co-occurrence sibling of RAKE (which ranks
    by degree/frequency heuristics; TextRank diffuses importance, so
    a word bridging many contexts outranks a merely frequent one):
    per document, tokens are nodes, co-occurrences within a 2-token
    window are weighted edges, and two unrolled rounds of WEIGHTED
    integer PageRank (ppm ranks, contribution = rank*w // wdeg — the
    graph_pagerank arithmetic with weights) score the nodes; top-3
    per doc with deterministic tie-break. Per-doc graphs keep the
    iteration embarrassingly parallel — the (doc, token) key
    partitions every join and aggregate, no global state at all.

    Scale: co-occurrence pairs are position-blocked (b.i <= a.i + 2 —
    a self-join bounded by 2 rows per position, linear in corpus
    tokens); each round one (doc, node)-keyed equi-join + aggregate.
    This is the corpus-scale keyword pass a training-data pipeline
    runs per shard.

    Reference capability class: text analysis (RAKE's graph-ranking
    sibling; SURVEY.md LLM-pipeline extras)."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "tok")
        )
        .filter(F.col("tok") != "")
        .select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    )
    b = tok.select(
        F.col("doc_id").alias("bd"),
        F.col("i").alias("bi"),
        F.col("tok").alias("btok"),
    )
    co = (
        tok.join(
            b,
            (F.col("bd") == F.col("doc_id"))
            & (F.col("bi") > F.col("i"))
            & (F.col("bi") <= F.col("i") + 2)
            & (F.col("btok") != F.col("tok")),
        )
        .groupBy(
            "doc_id",
            F.col("tok").alias("ta"),
            F.col("btok").alias("tb"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    # merge the two directed observations into ONE undirected edge
    # weight — per-edge floor division makes parallel edges
    # arithmetically different from a merged edge (caught by the twin)
    edges = (
        co.select(
            "doc_id", F.col("ta").alias("src"), F.col("tb").alias("dst"),
            "w",
        )
        .unionAll(
            co.select(
                "doc_id",
                F.col("tb").alias("src"),
                F.col("ta").alias("dst"),
                "w",
            )
        )
        .groupBy("doc_id", "src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    edges = truncate_lineage(edges, reliable=True)
    wdeg = edges.groupBy("doc_id", "src").agg(
        F.sum("w").cast("long").alias("d")
    )
    rank = wdeg.select(
        "doc_id",
        F.col("src").alias("node"),
        F.lit(1_000_000).cast("long").alias("rank"),
        "d",
    )
    for _ in range(2):
        contrib = (
            edges.join(
                rank.select(
                    F.col("doc_id").alias("rd"),
                    F.col("node").alias("rn_"),
                    "rank",
                    F.col("d").alias("rdeg"),
                ),
                (F.col("rd") == F.col("doc_id"))
                & (F.col("rn_") == F.col("src")),
            )
            .groupBy("doc_id", "dst")
            .agg(
                F.sum(
                    F.expr("CAST(rank * w AS BIGINT) div rdeg")
                )
                .cast("long")
                .alias("s")
            )
        )
        rank = (
            wdeg.join(
                contrib.select(
                    F.col("doc_id").alias("cd"), F.col("dst"), "s"
                ),
                (F.col("cd") == F.col("doc_id"))
                & (F.col("dst") == F.col("src")),
                "left",
            )
            .select(
                "doc_id",
                F.col("src").alias("node"),
                (
                    150_000
                    + F.expr(
                        "CAST(85 * coalesce(s, 0) AS BIGINT) div 100"
                    )
                )
                .cast("long")
                .alias("rank"),
                "d",
            )
        )
    return (
        rank.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.col("rank").desc(), "node"
                )
            ),
        )
        .filter(F.col("rn") <= _TR_TOPK)
        .select(
            "doc_id",
            F.col("node").alias("token"),
            "rank",
            F.col("rn").cast("long").alias("rn"),
        )
    )
