"""Plan-shape assertions: lock in the SCALE.md audit as tests.

These tests assert physical-plan PROPERTIES (pushdown, broadcast, no
cartesian pairs, map-side partial aggregation, shuffle-free bucketed
joins, salted-join correctness) rather than timings — the properties
are what survive a 1000×-data scale-up; timings don't."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from virapipe_spark import catalog, scale


SF_DIR = "/root/testdata/sf0.001"

# The two catalog-wide sweeps (no-cartesian, no-row-UDF) are parametrized
# per entry, so the audited name list must exist at collection time.
# load_all() is pure registration (no Spark) — cheap at import.
catalog.load_all()
_AUDITED = dict(catalog.QUERIES)
_AUDITED_NAMES = sorted(_AUDITED)


@pytest.fixture(scope="module", autouse=True)
def _load():
    catalog.load_all()


@pytest.fixture(scope="session")
def plan_cache(spark):
    """One executed-plan string per audited entry, built ONCE per
    session and shared by BOTH catalog sweeps (cartesian + row-UDF) —
    r7 the two sweeps each rebuilt all 356 plans and stopped
    terminating in practical time (>10 min apiece). Builds run on a
    thread pool: plan construction is dominated by JVM analysis +
    the eager fixture-write/checkpoint jobs some entries perform, all
    of which release the GIL, and entries share no scratch tags or
    temp-view names (audited: the only temp view is sql_passthrough's
    'records'; scratch_dir tags are unique per entry), so concurrent
    builds are independent. Build failures are stored and re-raised
    per-entry so a single bad entry fails its own parametrized item,
    not the whole sweep."""
    from concurrent.futures import ThreadPoolExecutor

    cache: dict[str, str | Exception] = {}

    def build(name: str) -> None:
        try:
            cache[name] = _plan(_AUDITED[name](spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — surfaced per-entry
            cache[name] = e

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(build, _AUDITED_NAMES))
    # One serial retry for concurrent-only failures: eager-checkpoint
    # entries (dtw wavefront, median cut) can lose localCheckpoint
    # blocks under pool memory pressure — a transient the quiet retry
    # distinguishes from a real plan-build bug (r8: the dtw item failed
    # under the pool, passed serially).
    for name, v in list(cache.items()):
        if isinstance(v, Exception):
            build(name)
    return cache


def _entry_plan(plan_cache: dict, name: str) -> str:
    p = plan_cache[name]
    if isinstance(p, Exception):
        raise AssertionError(f"{name}: plan build failed: {p!r}") from p
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPlanProperties:
    def test_scan_pushdown_and_pruning(self, spark):
        df = catalog.QUERIES["scan_project"](spark, SF_DIR)
        p = _plan(df)
        assert "PushedFilters: [" in p and "PushedFilters: []" not in p
        # column pruning: full lineitem is 16 columns; the scan must not
        # read them all
        read_schema = p.split("ReadSchema:")[1].splitlines()[0]
        assert read_schema.count(",") < 8

    #: No catalog query may form unblocked pairs — the single most
    #: important 100 TB property. Every exemption below is a deliberate
    #: broadcast of a tiny fixed-size side (a ONE-ROW scalar aggregate
    #: or a constant-cardinality centroid/codebook table), never a
    #: data-sized build. The founding three: the brute-force ANN
    #: baseline (all-pairs scan IS its semantics — broadcast query
    #: side), the IVF coarse-assignment (corpus × C centroids —
    #: broadcast centroid side; since the r05 A/B dropped the
    #: localCheckpoint, the two consumers each recompute it, so the
    #: BNLJ is visible in the returned plan), and embed_kmeans_lloyd,
    #: which broadcasts a SINGLE centroid-array row per assignment
    #: (argmin is a per-row array_min projection — zero-shuffle by
    #: design), so its one BNLJ is a 1-row build side. assembly_n50_stats
    #: (live since the r05 promotion) joins two ONE-ROW aggregates back
    #: to the length table (metrics.assembly_stats: the totals row and
    #: the n50 row) — constant-size build sides by construction.
    ALLOWED_NLJ = {
            "embed_knn_bruteforce",
            # (embed_kmeans_lloyd left this set in r12: the assignment
            # argmin moved to a mapInArrow numpy pass against the
            # driver-collected centroid list, so no centroid-row
            # crossJoin remains — the ABTT-residual pruning precedent.
            # embed_cluster_purity below keeps its exemption: its own
            # ONE-ROW purity-total crossJoin is untouched.)
            "embed_knn_ivf",
            "assembly_n50_stats",
            # reuses _ivf_assign_scored: the same 8-row centroid
            # broadcast as embed_knn_ivf; the pair stage blocks on cid
            "embed_semdedup_verdicts",
            # r6 invariant column: per-file counts crossJoin a ONE-ROW
            # independently-aggregated total (rows_complete self-check)
            "files_listing",
            # r6: same 8-row centroid broadcast via _ivf_assign_scored,
            # plus a ONE-ROW codebook crossJoin (the kmeans precedent);
            # the ADC pair stage blocks on the IVF cell id
            "embed_knn_pq",
            # r6: TPC-H Q22's scalar subquery — a ONE-ROW avg(acctbal)
            # aggregate crossJoined as the comparison cutoff
            "q22_dormant_value",
            # r6 (sweep completion): Q11's HAVING threshold — a ONE-ROW
            # re-reduction of an already-aggregated relation,
            # crossJoined back (the decorrelated scalar-subquery plan,
            # q22 precedent). Q15's scalar-max crossJoin needs no
            # exemption: its equality filter lets Catalyst extract an
            # equi-condition and plan a BroadcastHashJoin.
            "q11_important_stock",
            # r6: the same ONE-ROW scalar-aggregate crossJoin — the
            # global token total (mixture apportionment) and the
            # distinct-order count (association-rule lift denominator)
            "docs_mixture_allocation",
            "parts_association_rules",
            # r6: the BPE trainer's argmax merge — a ONE-ROW top-pair
            # frame broadcast across the vocabulary (limit-1 of an
            # aggregate, the scalar-subquery pattern again)
            "docs_bpe_merge_step",
            # r6 continuation: every one is the ONE-ROW scalar-aggregate
            # crossJoin pattern — funnel/count totals (bloom prefilter,
            # minhash recall, DQ
            # audit, AB z-score denominators), rescale/witness scalars
            # (power iteration, ABTT pair moments x2 entries), corpus
            # stats and query-term constants (BM25), revenue/size
            # totals (ABC, HHI), medians (MAD screen), purity total.
            # (join_bloom_prefilter left this set in r8: the single-pass
            # rewrite folds all four count branches into one aggregate —
            # no crossJoin remains; tools/ab_bloom_singlepass.py)
            # (embed_abtt_residual left this set in r12: the power
            # iteration runs driver-side on the collected 64x64 Gram, so
            # the direction is a LITERAL — no rescale crossJoin and no
            # direction broadcast remain; the residual moments reduce
            # each row's own array. embed_knn_abtt keeps its exemption:
            # its final query x corpus stage is still the brute-force
            # 10-row broadcast NLJ on the != condition.)
            "embed_power_iteration",
            "embed_knn_abtt",
            "docs_bm25_rank",
            "docs_minhash_recall",
            "docs_length_outliers_mad",
            "embed_cluster_purity",
            "lineitem_abc_analysis",
            "lineitem_dq_audit",
            # (supplier_concentration_hhi left this set in r7: the
            # integer-exact rewrite folded the one-row total into a
            # single aggregate — no join remains at all)
            # same family: reuses the IVF centroid broadcast + brute-force
            # query broadcast; both BNLJ sides are the established 8-row/
            # query-subset constants
            "embed_ivf_recall",
            # same pattern: three ONE-ROW broadcasts (total, max-dev, argmax)
            "events_change_point",
            # r7: theta-sketch algebra — the theta/common/exact frames
            # crossJoined at the end are ONE-ROW aggregates (k-row
            # sketches upstream)
            "events_theta_intersection",
            # r7: the global token total — the ONE-ROW scalar-aggregate
            # crossJoin pattern (mixture-allocation precedent)
            "docs_shard_assignment",
            # r7 (staged r8): ALS objective telemetry — three ONE-ROW
            # objective/penalty aggregates crossJoined into the report
            "embed_als_factorize",
            # r7 (staged r8): exact-size and estimate frames are both
            # ONE-ROW aggregates crossJoined into the report row
            "join_size_estimate_cm",
            # r7 (staged r8): five ONE-ROW merge-table broadcasts (the
            # bpe_merge_step argmax pattern, chained)
            "docs_bpe_apply",
            # r7 (staged r8): 5-row class-model broadcast × test tokens —
            # the constant-cardinality centroid/codebook precedent
            "docs_nb_classify",
            # r7 (staged r8): the null/min/max and multi-distinct one-row
            # aggregates crossJoin into the profile report (split to dodge
            # a measured ~25 s RewriteDistinctAggregates compile)
            "lineitem_column_profile",
            # r7 (staged r8): the ONE-ROW total/key-count broadcast that
            # carries the relative heavy-hitter threshold
            "events_cm_heavy_hitters",
            # r7 (staged r8): before/after compaction checksums are two
            # ONE-ROW aggregates crossJoined into the report row
            "files_compaction",
            # r7 (staged r8): the ONE-ROW day-bounds broadcast the spine
            # sequence() explodes from
            "events_calendar_spine",
            # r7 (staged r8): the ONE-ROW token-total broadcast in the
            # collocation lift expression
            "docs_collocations",
            # r7 (staged r8): the ONE-ROW per-half token totals broadcast
            # in the ppm rate expressions
            "docs_bigram_drift",
            # r7 (staged r8): two ONE-ROW broadcasts — the (n, s)
            # centering constants and the acf denominator
            "events_autocorr_daily",
            # r7 (staged r8): ONE-ROW broadcasts — the (n, obs)
            # constants and the two percentile-bracket scalars
            "events_bootstrap_ci",
            # r7 (staged r8): six ONE-ROW delete/survive count
            # aggregates crossJoined into the cascade manifest row
            "orders_cascade_delete",
            # r7 (staged r8): the ONE-ROW (chi2, dof) total broadcast
            # riding along every contingency cell
            "events_chisq_independence",
            # r7 (staged r8): the ONE-ROW user-count broadcast in the
            # support_ppm denominator
            "events_seq_patterns",
            # r7 (staged r8): the ONE-ROW accuracy report (n, MAE,
            # WAPE) broadcast along every backtest day
            "events_snaive_backtest",
            # r7 (staged r8): the ONE-ROW half-totals and total-EMD
            # broadcasts in the CDF-gap/report expressions
            "events_wasserstein_drift",
            # r7 (staged r8): the pairwise-slope theta join over the
            # DAYS series — both sides bounded by calendar days, the
            # textbook Theil-Sen O(n^2) on an n=days frame
            "events_theilsen_trend",
            # r7 (staged r8): the ONE-ROW totals/distinct-totals
            # crossJoined into the dedup report row
            "docs_cdc_chunk_dedup",
            # r7 (staged r8): the constant 72-point ring broadcast every
            # doc routes against (the centroid/codebook precedent) plus
            # the ONE-ROW moved-count report
            "docs_consistent_hash_ring",
            # r7 (staged r8): ONE-ROW broadcasts — the period-midpoint
            # bound and the 2x2 cell-means frame
            "events_diff_in_diff",
            # r7 (staged r9): the ONE-ROW session-count x ONE-ROW
            # argmax-peak crossJoin assembling the report row
            "events_peak_concurrency",
            # r7 (staged r9): the day-pair theta join — both sides the
            # calendar-bounded DAILY aggregate (Theil-Sen precedent)
            "events_kendall_tau",
            # (embed_dim_truncation_recall needs no exemption: its
            # 10-row query broadcast — the embed_knn_bruteforce
            # precedent — sits behind the union's lineage truncation,
            # so the visible plan starts at the checkpoint scan)
            # (docs_rank_fusion_rrf left this set in r11: its two
            # ONE-ROW corpus-size broadcasts still execute, but the
            # two_phase_rank rewrite's lineage truncation puts them
            # behind the checkpoint scan — the
            # embed_dim_truncation_recall precedent — so the RETURNED
            # plan is NLJ-free and the exemption went stale)
            # r7 (staged r9): the CONSTANT 9-row structuring-element
            # offsets broadcast, scattered against foreground pixels in
            # both morphology passes (the boxsum corner-offset
            # precedent)
            "multimodal_morph_open",
            # r7 (staged r9): ONE-ROW broadcasts — the pre/post period
            # midpoint and the theta moment frame (CUPED scalars)
            "events_cuped_adjustment",
            # (events_qini_uplift left this set in r11: its ONE-ROW
            # midpoint broadcast still executes, but the
            # two_phase_rank decile rewrite's lineage truncation puts
            # it behind the checkpoint scan — the rrf/
            # embed_dim_truncation_recall precedent)
            # r7 (staged r10): ONE-ROW broadcasts — the N total and
            # the summary-mass scalar in the guarantee columns
            "events_misra_gries",
            # r7 (staged r10): the ONE-ROW slot-count scalar (m)
            # crossJoined into the part index; the round-state copy of
            # the same broadcast sits behind the eager lineage cut
            "supplier_stable_matching",
            # r7 (staged r10): the minimax triple's j<=i<=k theta join —
            # both sides calendar-bounded day frames (Theil-Sen/Kendall
            # precedent, one order higher, days^3/6 rows)
            "events_isotonic_daily",
            # r7 (staged r10): the forward/backward rounds crossJoin a
            # ONE-ROW day-emission frame per step (the GS round shape);
            # rounds between eager cuts stay visible as 1-row NLJs
            "events_viterbi_burst",
            # r7 (staged r10): per peel round the ONE-ROW (|V|, |E|)
            # totals frame crossJoins the stats/threshold paths (k-core
            # round shape with a global threshold)
            "graph_densest_subgraph",
        }
    # multimodal_median_cut: level-1's box key constant-folds to 0
    # (every pixel starts in box 0), so the one-row ch/med frames
    # join as one-row NLJ broadcasts — but the per-level lineage
    # cut hides them behind the checkpoint boundary, so the
    # RETURNED plan is NLJ-free and it needs no exemption.

    @pytest.mark.parametrize("name", _AUDITED_NAMES)
    def test_no_cartesian_anywhere(self, spark, plan_cache, name):
        """Per-entry sweep over the catalog (see ALLOWED_NLJ above);
        plans come from the shared session cache so the 356-entry
        audit builds each plan exactly once across both sweeps."""
        p = _entry_plan(plan_cache, name)
        assert "CartesianProduct" not in p, name
        if name in self.ALLOWED_NLJ:
            assert "BroadcastNestedLoopJoin Build" in p, name
        else:
            assert "BroadcastNestedLoopJoin" not in p, name

    def test_ivf_assignment_plan_is_broadcast_nlj(self, spark):
        """embed_knn_ivf's coarse assignment (corpus × C centroids) must
        broadcast the tiny centroid side; assert it directly on the
        assignment stage (extensions._ivf_assign_scored — the exact
        pipeline both embed_knn_ivf consumers recompute)."""
        from virapipe_spark.queries import extensions as ext

        p = _plan(ext._ivf_assign_scored(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin Build" in p
        assert "CartesianProduct" not in p

    def test_broadcast_if_small_is_size_gated(self, spark):
        """q5's supplier/customer hints come from the MEASURED parquet
        size (scale.broadcast_if_small), not a blanket F.broadcast —
        below threshold the fact joins are all BroadcastHashJoin (no
        fact-side shuffle before the agg); above (simulated with
        threshold=0) and for unknown paths the hint must vanish."""
        p = _plan(catalog.QUERIES["q5_local_supplier_volume"](spark, SF_DIR))
        assert "SortMergeJoin" not in p
        assert p.count("BroadcastHashJoin") >= 4
        li = catalog.table(spark, SF_DIR, "lineitem")
        o = catalog.table(spark, SF_DIR, "orders")
        hinted = scale.broadcast_if_small(
            o, f"{SF_DIR}/orders.parquet", threshold=0
        )
        assert hinted is o
        assert scale.broadcast_if_small(o, "/nonexistent/path") is o
        small = scale.broadcast_if_small(o, f"{SF_DIR}/orders.parquet")
        pj = _plan(li.join(small, li["l_orderkey"] == small["o_orderkey"]))
        assert "BroadcastHashJoin" in pj

    def test_dim_join_broadcasts(self, spark):
        p = _plan(catalog.QUERIES["join_broadcast_dims"](spark, SF_DIR))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_kmer_agg_is_fused_single_shuffle(self, spark):
        """explode -> count must shuffle once, with map-side partials —
        shuffle bytes bounded by distinct kmers, not exploded rows.
        The r12 `spread_scan` round-robin adds one Exchange BELOW the
        explode (it moves compact pre-explode scan rows, small by the
        spread gate's own size bound, and only fires under it); the
        invariant is that exploded rows still cross exactly one
        hash-partitioned shuffle, as map-side partials."""
        df = catalog.QUERIES["kmer_count_band"](spark, SF_DIR)
        p = _plan(df)
        hash_ex = p.count("Exchange hashpartitioning")
        rr_ex = p.count("Exchange RoundRobinPartitioning")
        assert hash_ex == 1, p
        assert p.count("Exchange") == hash_ex + rr_ex, p
        assert "partial_count" in p
        # the round-robin spread (if it fired) must sit below the
        # explode: no exploded row crosses it (the tree prints the
        # downstream operator first, so upstream = larger index)
        if rr_ex:
            assert p.index("Generate explode") < p.index(
                "Exchange RoundRobinPartitioning"
            ), "spread must be below the explode"

    def test_minhash_signatures_single_pass(self, spark):
        """All 16 min-aggregates must compute in one aggregation, not 16
        self-joined passes. materialize=False because the production
        localCheckpoint truncates the visible plan at the signature
        table — same pipeline, checkpoint boundary off."""
        from virapipe_spark.queries.extensions import _minhash_pairs

        df = _minhash_pairs(spark, SF_DIR, materialize=False)
        o = _optimized(df)
        # one Aggregate node computes all h1..h16 columns (each a 32-bit
        # chunk of one of 4 md5s — see _minhash_cols_sql)
        assert o.count("min(substring(md5(") >= 16

    #: Catalog queries stay JVM-side: no BatchEvalPython (row UDF)
    #: nodes; Arrow-batched nodes are allowed only in the known
    #: pandas-boundary ops.
    ALLOWED_PANDAS = {
            "orf_six_frame",
            "multimodal_frame_sample",
            "multimodal_image_features",
            "multimodal_audio_features",
            "multimodal_png_features",
            "multimodal_gif_features",
            "multimodal_ulaw_features",
            # r6: zlib ratio — the DEFLATE call is the one Python step
            "docs_compression_ratio",
            # r6: two chained Arrow stages (resize -> feature extract)
            "multimodal_resize_features",
            # r6: binary BAM decode (BGZF+record layout) is inherently
            # a bytes->rows Python boundary, Arrow-batched per file
            "bam_scan_roundtrip",
            # r7 promotions: same codec-boundary class as the above —
            # BAM write path re-reads its own binary output via read_bam
            "bam_write_roundtrip",
            # TIFF decode (both byte orders) is a bytes->rows codec
            "multimodal_tiff_features",
            # audio resample: decode (AU/µ-law) + polyphase resample are
            # Arrow-batched numpy stages
            "multimodal_audio_resample",
            # r7: baseline JPEG encode->decode is a bytes<->rows codec
            # boundary like the PNG/GIF/TIFF twins
            "multimodal_jpeg_features",
            # r7: sub-file split scan — member-index + chunk-decode are
            # the same codec-boundary class as bam_scan_roundtrip
            "bam_split_scan_roundtrip",
            # r7: FLAC encode->decode is a bytes<->rows codec boundary
            # like the WAV/AU twins
            "multimodal_flac_features",
            # r7: AVI container walk + per-frame MJPEG decode — same
            # codec-boundary class
            "multimodal_mjpeg_frame_sample",
            # r7 (staged r8): BMP encode + decode/dHash fingerprint are
            # the codec boundary; banding/Hamming stay JVM-side
            "multimodal_dhash_neardup",
            # r7 (staged r8): AVI build + container-walk/JPEG-decode
            # intensity extraction are the codec boundary; shot
            # segmentation stays JVM-side windows
            "multimodal_shot_boundaries",
            # r7 (staged r8): AU/µ-law decode + integer window energy
            # are the codec boundary; the VAD automaton is JVM windows
            "multimodal_vad_segments",
            # r7 (staged r8): AU decode to per-sample rows is the codec
            # boundary; the DFT correlation is a JVM broadcast join
            "multimodal_dft_bins",
            # r7 (staged r9): same AU decode boundary; the lag-banded
            # autocorrelation self-join is JVM-side
            "multimodal_pitch_autocorr",
            # r7 (staged r9): BMP decode to pixel rows is the codec
            # boundary; Otsu's histogram algebra is JVM windows
            "multimodal_otsu_threshold",
            # r7 (staged r8): BMP decode to coordinate pixel rows is the
            # codec boundary; the Sobel scatter is a JVM explode+groupBy
            "multimodal_sobel_energy",
            # r12 (sweep extended to FlatMapGroupsInPandas — these two
            # were already-designed boundaries the old pattern list
            # missed, not new ones): the t-digest build/merge is the
            # sketch boundary, DOMAIN-sized by the r12 pre-aggregation
            # (measured: 10.0M -> 685k boundary rows at the 10x synth);
            # ALS's per-user/item least-squares solve is grouped numpy
            # on k x k normal equations (k=8), group-bounded.
            "events_tdigest_daily_merge",
            "embed_als_factorize",
            # r12: the PQ encode (argmin-L2 codeword per row x block)
            # moved from ~1k interpreted HOF lambdas per row to a
            # vectorized exact-int64 numpy argmin per Arrow batch
            # against the driver-collected control-plane codebook —
            # the FAISS-shaped boundary; tie-break twin-checked by the
            # unchanged oracle hash
            "embed_knn_pq",
            # r12: the Lloyd assignment (argmin over C centroids) moved
            # from the interpreted-HOF array_min to the same vectorized
            # exact-int64 numpy argmin per Arrow batch (PQ precedent);
            # the final assignment pass is the MapInArrow node in both
            # consumers' plans. Bit-equality twin in tests/test_recall.py.
            "embed_kmeans_lloyd",
            "embed_cluster_purity",
            # (r12 note: the spectral family's _gram_arrow matmul
            # boundary does NOT appear in entry plans — it runs at
            # plan-build time under _power_direction's control-plane
            # collect, or behind embed_power_iteration's checkpoint —
            # its bit-equality twin is tests/test_recall.py)
            # r13: semdedup's in-cell cosine verify (cell-sized
            # candidate volume, ~250k pairs at sf0.1) moved to the
            # vectorized exact-int64 numpy dot per Arrow batch
            # (_arrow_pair_dot — the PQ/Lloyd precedent; 1.84x by
            # interleaved A/B); divide/threshold stay JVM expressions,
            # so the boundary carries (ids, qa, qb, norms) in and
            # (ids, dot, norms) out. Bit-equality pinned in
            # tests/test_recall.py. embed_cosine_neardup measured
            # NEGATIVE on the same pass (few LSH-bucket pairs — the
            # boundary round trip outweighs the HOF) and keeps the HOF.
            "embed_semdedup_verdicts",
        }

    @pytest.mark.parametrize("name", _AUDITED_NAMES)
    def test_no_python_row_udfs(self, spark, plan_cache, name):
        """Per-entry sweep over the catalog (see ALLOWED_PANDAS
        above); shares the session plan cache with the cartesian
        sweep. r12: the sweep now also catches MapInArrow and
        FlatMapGroupsInPandas (applyInPandas) nodes — previously only
        ArrowEvalPython/MapInPandas were matched, so grouped-pandas
        and Arrow-iterator boundaries escaped the audit entirely."""
        p = _entry_plan(plan_cache, name)
        assert "BatchEvalPython" not in p, name
        if name not in self.ALLOWED_PANDAS:
            for node in (
                "ArrowEvalPython",
                "MapInPandas",
                "MapInArrow",
                "FlatMapGroupsInPandas",
            ):
                assert node not in p, (name, node)


class TestTwoPhaseRank:
    """scale.two_phase_rank / scale.exact_ntile — the window-free
    global-rank machinery the r10 rewrites (sorted-neighborhood,
    ntile_cume, RFM) stand on. Twin checks against the window
    functions they replace."""

    def _df(self, spark, n=317):
        # keys deliberately collide on the leading column so range
        # boundaries land INSIDE key groups; id is the unique tiebreak
        return spark.range(0, n).select(
            (F.col("id") * 37 % 11).alias("k"),
            F.col("id").alias("id"),
        )

    def test_rank_matches_global_row_number(self, spark):
        df = self._df(spark)
        ranked, total = scale.two_phase_rank(
            df, ["k", "id"], num_partitions=7
        )
        want = {
            (r["k"], r["id"]): r["rn"]
            for r in df.select(
                "k",
                "id",
                F.row_number().over(W.orderBy("k", "id")).alias("rn"),
            ).collect()
        }
        got = {(r["k"], r["id"]): r["rn"] for r in ranked.collect()}
        assert total == 317 and got == want

    def test_rank_handles_desc_and_single_partition(self, spark):
        df = self._df(spark, n=23)
        ranked, total = scale.two_phase_rank(
            df, [F.col("k").desc(), "id"], num_partitions=1
        )
        want = {
            (r["k"], r["id"]): r["rn"]
            for r in df.select(
                "k",
                "id",
                F.row_number()
                .over(W.orderBy(F.col("k").desc(), "id"))
                .alias("rn"),
            ).collect()
        }
        got = {(r["k"], r["id"]): r["rn"] for r in ranked.collect()}
        assert total == 23 and got == want

    def test_plan_has_no_global_window(self, spark):
        ranked, _ = scale.two_phase_rank(self._df(spark), ["k", "id"])
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert not TestGlobalWindowSweep._has_global_window(plan)

    def test_adaptive_range_count_scales_with_data(self, spark):
        """r11: the range count is sized by DATA, not cores — with a
        small target_rows_per_range the frame re-ranges to
        ceil(total/target) partitions, and the ranks stay bit-identical
        to the global row_number (partition layout cannot change
        results)."""
        df = self._df(spark, n=317)
        ranked, total = scale.two_phase_rank(
            df, ["k", "id"], target_rows_per_range=25
        )
        # ceil(317/25) = 13 ranges > the defaultParallelism floor would
        # give at this size only if cores < 13 — assert via the plan's
        # actual partitioning instead: the checkpointed frame inside
        # carries spark_partition_id, so count distinct pids downstream
        want = {
            (r["k"], r["id"]): r["rn"]
            for r in df.select(
                "k",
                "id",
                F.row_number().over(W.orderBy("k", "id")).alias("rn"),
            ).collect()
        }
        got = {(r["k"], r["id"]): r["rn"] for r in ranked.collect()}
        assert total == 317 and got == want
        # the adaptive step must actually fire: floor is
        # defaultParallelism, need = ceil(317/25) = 13; with local[32]
        # the floor wins (32 > 13) — so pin num ranges via a tiny
        # parallelism-independent probe: re-run with target=1, where
        # need=317 ranges must exceed ANY core count here
        ranked2, _ = scale.two_phase_rank(
            df, ["k", "id"], target_rows_per_range=1
        )
        got2 = {(r["k"], r["id"]): r["rn"] for r in ranked2.collect()}
        assert got2 == want
        n_ranges = (
            ranked2.select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        # 317 single-row ranges planned; the post-join output keeps at
        # least a data-sized partition count (>> the 32-core floor)
        assert n_ranges > 32

    def test_prefix_sum_matches_global_window(self, spark):
        df = self._df(spark, n=317).withColumn(
            "v", (F.col("id") % 13 + 1).cast("long")
        )
        got = {
            (r["k"], r["id"]): r["cum"]
            for r in scale.two_phase_prefix_agg(
                df, ["k", "id"], "v", "cum", num_partitions=7
            ).collect()
        }
        want = {
            (r["k"], r["id"]): r["cum"]
            for r in df.select(
                "k",
                "id",
                F.sum("v")
                .over(
                    W.orderBy("k", "id").rowsBetween(
                        W.unboundedPreceding, W.currentRow
                    )
                )
                .alias("cum"),
            ).collect()
        }
        assert got == want

    def test_prefix_max_exclusive_matches_global_window(self, spark):
        # the skyline frame: running max over STRICT predecessors; on a
        # DISTINCT order key this equals RANGE ... 1 PRECEDING
        df = spark.range(0, 101).select(
            F.col("id").alias("price"),
            ((F.col("id") * 31) % 57).cast("long").alias("size"),
        )
        got = {
            r["price"]: r["best"]
            for r in scale.two_phase_prefix_agg(
                df,
                ["price"],
                "size",
                "best",
                agg="max",
                inclusive=False,
                num_partitions=9,
            ).collect()
        }
        want = {
            r["price"]: r["best"]
            for r in df.select(
                "price",
                F.max("size")
                .over(
                    W.orderBy("price").rangeBetween(
                        W.unboundedPreceding, -1
                    )
                )
                .alias("best"),
            ).collect()
        }
        assert got == want  # incl. None for the global minimum price

    def test_prefix_agg_plan_has_no_global_window(self, spark):
        df = self._df(spark).withColumn("v", F.lit(1).cast("long"))
        out = scale.two_phase_prefix_agg(df, ["k", "id"], "v", "cum")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert not TestGlobalWindowSweep._has_global_window(plan)

    @pytest.mark.parametrize("n,k", [(10, 4), (317, 4), (3, 4), (12, 4),
                                     (100, 7), (1, 1)])
    def test_exact_ntile_matches_window_ntile(self, spark, n, k):
        df = spark.range(0, n).select(F.col("id"))
        want = {
            r["id"]: r["t"]
            for r in df.select(
                "id", F.ntile(k).over(W.orderBy("id")).alias("t")
            ).collect()
        }
        got = {
            r["id"]: r["t"]
            for r in df.select(
                "id",
                scale.exact_ntile(F.col("id") + 1, n, k).alias("t"),
            ).collect()
        }
        assert got == want, (n, k)


class TestKeyedRanges:
    """scale.KeyedRanges — the distributed segmented scan the r12
    sessionize rewrite stands on (per-key lag / running sum without
    ``W.partitionBy(key)``'s one-task-per-key serialization). Twin
    checks against the keyed windows it replaces, with a HOT key that
    must straddle many ranges so the boundary chaining is exercised."""

    def _df(self, spark, hot=97, n_keys=9, per_key=7):
        # key 3 is hot (``hot`` rows); every key's (ts, id) sequence is
        # deterministic; v alternates so prefix sums differ per row
        rows = []
        eid = 0
        for k in range(n_keys):
            for i in range(hot if k == 3 else per_key):
                rows.append((k, (i * 13 + k) % 1000 + i * 3, eid, eid % 2))
                eid += 1
        return spark.createDataFrame(
            rows, "k int, ts long, id long, v int"
        ).repartition(5)

    def _truth(self, df):
        w = W.partitionBy("k").orderBy("ts", "id")
        t = df.withColumn("lg", F.lag("ts").over(w)).withColumn(
            "ps",
            F.sum("v").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        return {(r["k"], r["ts"], r["id"]): (r["lg"], r["ps"]) for r in t.collect()}

    @pytest.mark.parametrize("npart", [1, 4, 23])
    def test_lag_and_prefix_sum_match_keyed_windows(self, spark, npart):
        df = self._df(spark)
        want = self._truth(df)
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("ts",), num_partitions=npart
        )
        f = kr.lag_col(kr.frame, "ts", "lg")
        f = kr.prefix_sum(f, "v", "ps")
        got = {(r["k"], r["ts"], r["id"]): (r["lg"], r["ps"]) for r in f.collect()}
        assert got == want

    def test_hot_key_splits_across_ranges(self, spark):
        """The point of the machinery: with 23 ranges over ~153 rows,
        the 97-row hot key CANNOT fit one range — assert it actually
        spans several, and the results above still match (the chained
        carry across a multi-range key is what test 1 proved)."""
        df = self._df(spark)
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("ts",), num_partitions=23
        )
        spans = (
            kr.frame.filter(F.col("k") == 3)
            .select("__pid")
            .distinct()
            .count()
        )
        assert spans >= 3

    def test_prefix_sum_on_derived_column(self, spark):
        """The sessionize shape: the summed column is DERIVED from the
        corrected lag (gap flag), so the tail-total job must see the
        same corrected values the scan sums."""
        df = self._df(spark)
        w = W.partitionBy("k").orderBy("ts", "id")
        flag = F.when(
            F.lag("ts").over(w).isNull() | (F.col("ts") - F.lag("ts").over(w) > 7),
            1,
        ).otherwise(0)
        want = {
            (r["k"], r["ts"], r["id"]): r["sid"]
            for r in df.withColumn("f", flag)
            .withColumn(
                "sid",
                F.sum("f").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            )
            .collect()
        }
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("ts",), num_partitions=11
        )
        f = kr.lag_col(kr.frame, "ts", "lg")
        f = f.withColumn(
            "f",
            F.when(F.col("lg").isNull() | (F.col("ts") - F.col("lg") > 7), 1).otherwise(0),
        )
        f = kr.prefix_sum(f, "f", "sid")
        got = {(r["k"], r["ts"], r["id"]): r["sid"] for r in f.collect()}
        assert got == want

    def test_lead_matches_keyed_window(self, spark):
        df = self._df(spark)
        w = W.partitionBy("k").orderBy("ts", "id")
        want = {
            (r["k"], r["ts"], r["id"]): r["nx"]
            for r in df.withColumn("nx", F.lead("ts").over(w)).collect()
        }
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("ts",), num_partitions=17
        )
        f = kr.lead_col(kr.frame, "ts", "nx")
        got = {(r["k"], r["ts"], r["id"]): r["nx"] for r in f.collect()}
        assert got == want

    def test_lag_of_nullable_column_preserves_genuine_nulls(self, spark):
        """The boundary substitution matches the edge ROW identity (key
        + order), never a NULL probe — a lag column that itself holds
        NULLs must round-trip them exactly."""
        df = self._df(spark).withColumn(
            "maybe", F.when(F.col("id") % 3 == 0, F.col("ts"))
        )
        w = W.partitionBy("k").orderBy("ts", "id")
        want = {
            (r["k"], r["ts"], r["id"]): (r["lg"], r["nx"])
            for r in df.withColumn("lg", F.lag("maybe").over(w))
            .withColumn("nx", F.lead("maybe").over(w))
            .collect()
        }
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("maybe",), num_partitions=19
        )
        f = kr.lag_col(kr.frame, "maybe", "lg")
        f = kr.lead_col(f, "maybe", "nx")
        got = {
            (r["k"], r["ts"], r["id"]): (r["lg"], r["nx"]) for r in f.collect()
        }
        assert got == want

    def test_prefix_last_matches_ignorenulls_window(self, spark):
        """Forward-fill twin: last(v, ignorenulls) over the cumulative
        keyed frame, with NULL-dense values so all-NULL tail segments
        occur and the carry must pass THROUGH ranges (the multi-range
        NULL-gap case)."""
        df = self._df(spark).withColumn(
            "vv", F.when(F.col("id") % 11 == 0, F.col("id"))
        )
        w = (
            W.partitionBy("k")
            .orderBy("ts", "id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        want = {
            (r["k"], r["ts"], r["id"]): r["f"]
            for r in df.withColumn(
                "f", F.last("vv", ignorenulls=True).over(w)
            ).collect()
        }
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], num_partitions=29)
        got = {
            (r["k"], r["ts"], r["id"]): r["f"]
            for r in kr.prefix_last(kr.frame, "vv", "f").collect()
        }
        assert got == want

    def test_merged_lags_multi_offset(self, spark):
        """lags() with mixed offsets in ONE pass: the per-spec rank
        guard matters — a deeper sibling's lookup row (rank <= maxoff)
        must not clobber a shallower spec's correct within-range value
        (the bug the first implementation had), and all window
        expressions must agree with the per-key window truth."""
        df = self._df(spark).withColumn(
            "s", F.concat(F.lit("t"), (F.col("id") % 5).cast("string"))
        )
        w = W.partitionBy("k").orderBy("ts", "id")
        truth = (
            df.withColumn("l1", F.lag("s", 1).over(w))
            .withColumn("l2", F.lag("s", 2).over(w))
            .withColumn("l3", F.lag("s", 3).over(w))
            .withColumn("t1", F.lag("ts", 1).over(w))
        )
        want = {
            (r["k"], r["ts"], r["id"]): (r["l1"], r["l2"], r["l3"], r["t1"])
            for r in truth.collect()
        }
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("s", "ts"), num_partitions=37
        )
        f = kr.lags(
            kr.frame,
            [("s", "l1", 1), ("s", "l2", 2), ("s", "l3", 3), ("ts", "t1", 1)],
        )
        got = {
            (r["k"], r["ts"], r["id"]): (r["l1"], r["l2"], r["l3"], r["t1"])
            for r in f.collect()
        }
        assert got == want

    def test_deep_lag_rejects_derived_columns(self, spark):
        df = self._df(spark)
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], num_partitions=3)
        f = kr.frame.withColumn("dv", F.col("v") * 2)
        with pytest.raises(ValueError, match="construction frame"):
            kr.lags(f, [("dv", "x", 2)])

    def test_prefix_max_and_exclusive_variants(self, spark):
        """prefix_max (keyed high-water mark) and the exclusive forms
        of both aggregates: NULL on each key's first row (empty-frame
        convention), negative values so exclusive-sum's NULL-vs-0
        distinction is observable."""
        df = self._df(spark).withColumn("sv", F.col("id") % 7 - 3)
        w = W.partitionBy("k").orderBy("ts", "id")
        truth = (
            df.withColumn(
                "mi", F.max("sv").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            )
            .withColumn(
                "mx", F.max("sv").over(w.rowsBetween(W.unboundedPreceding, -1))
            )
            .withColumn(
                "sx", F.sum("sv").over(w.rowsBetween(W.unboundedPreceding, -1))
            )
        )
        want = {
            (r["k"], r["ts"], r["id"]): (r["mi"], r["mx"], r["sx"])
            for r in truth.collect()
        }
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], num_partitions=21)
        f = kr.prefix_max(kr.frame, "sv", "mi")
        f = kr.prefix_max(f, "sv", "mx", inclusive=False)
        f = kr.prefix_sum(f, "sv", "sx", inclusive=False)
        got = {
            (r["k"], r["ts"], r["id"]): (r["mi"], r["mx"], r["sx"])
            for r in f.collect()
        }
        assert got == want

    def test_null_key_group_carries_across_ranges(self, spark):
        """r12 review: W.partitionBy treats a NULL key as a normal
        group, so the prefix carries must be NULL-SAFE on the key — a
        NULL-key group straddling a range boundary previously lost its
        cross-range carry silently (the == filter dropped the tail
        segment). NULL keys sort first in range partitioning, so a
        large NULL group + many ranges forces the straddle."""
        rows = [(None, i, i, 1) for i in range(60)] + [
            (k, i, 100 + k * 50 + i, 1) for k in range(1, 4) for i in range(5)
        ]
        df = spark.createDataFrame(rows, "k int, ts long, id long, v int")
        w = W.partitionBy("k").orderBy("ts", "id")
        want = {
            (r["k"], r["ts"]): (r["ps"], r["lg"], r["fl"])
            for r in df.withColumn(
                "ps",
                F.sum("v").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            )
            .withColumn("lg", F.lag("ts").over(w))
            .withColumn(
                "fl",
                F.last(
                    F.when(F.col("id") % 7 == 0, F.col("ts")), ignorenulls=True
                ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            )
            .collect()
        }
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("ts",), num_partitions=12
        )
        f = kr.frame.withColumn(
            "mv", F.when(F.col("id") % 7 == 0, F.col("ts"))
        )
        f = kr.prefix_sum(f, "v", "ps")
        f = kr.lag_col(f, "ts", "lg")
        f = kr.prefix_last(f, "mv", "fl")
        got = {
            (r["k"], r["ts"]): (r["ps"], r["lg"], r["fl"]) for r in f.collect()
        }
        assert got == want
        # and the NULL group genuinely straddled ranges
        spans = (
            kr.frame.filter(F.col("k").isNull())
            .select("__pid")
            .distinct()
            .count()
        )
        assert spans >= 2

    def test_lag_requires_carried_column(self, spark):
        """r12 review: a shallow lag of a column outside the edge stats
        must fail deterministically at call time, not only when some
        range happens to continue a key."""
        df = self._df(spark)
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], num_partitions=3)
        with pytest.raises(ValueError, match="carry_cols"):
            kr.lag_col(kr.frame, "v", "x")
        with pytest.raises(ValueError, match="carry_cols"):
            kr.lead_col(kr.frame, "v", "x")

    def test_prefix_sum_of_derived_double(self, spark):
        """r12 review: the carry dtype must come from the PASSED frame
        (a derived double column used to hit a silent bigint fallback
        that only crashed when a boundary carry materialized)."""
        df = self._df(spark)
        w = W.partitionBy("k").orderBy("ts", "id")
        want = {
            (r["k"], r["ts"], r["id"]): r["ps"]
            for r in df.withColumn("dv", F.col("v") / 2.0)
            .withColumn(
                "ps",
                F.sum("dv").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            )
            .collect()
        }
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], num_partitions=17)
        f = kr.frame.withColumn("dv", F.col("v") / 2.0)
        got = {
            (r["k"], r["ts"], r["id"]): r["ps"]
            for r in kr.prefix_sum(f, "dv", "ps").collect()
        }
        assert got == want

    def test_no_per_key_window_in_plan(self, spark):
        """The executed plan's window specs partition by (__pid, k),
        never by the bare key — the serialization this machinery
        removes must not sneak back in."""
        df = self._df(spark)
        kr = scale.KeyedRanges(
            df, "k", ["ts", "id"], carry_cols=("ts",), num_partitions=4
        )
        f = kr.prefix_sum(kr.frame, "v", "ps")
        plan = f._jdf.queryExecution().executedPlan().toString()
        import re as _re

        for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "__pid" in spec, f"bare-key window spec: {spec}"


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        fact = spark.range(0, 1000).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )
        dim = spark.createDataFrame(
            [(i, f"name_{i}") for i in range(7)], ["k", "label"]
        )
        plain = fact.join(dim, "k").select("k", "v", "label")
        salted = scale.salted_join(fact, dim, "k").select("k", "v", "label")
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_spreads_hot_key(self, spark):
        # one key owns 90% of the fact table; salting must spread it
        fact = spark.range(0, 1000).select(
            F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.createDataFrame([(i, f"n{i}") for i in range(7)], ["k", "label"])
        salted = scale.salted_join(fact, dim, "k", n_salts=8)
        assert salted.count() == 1000
        # the salt column is internal — never leaks
        assert "__salt" not in salted.columns


class TestBucketedJoin:
    def test_cobucketed_join_has_no_shuffle(self, spark, tmp_path):
        a = spark.range(0, 500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 500).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        scale.write_bucketed(a, "bkt_a", "k", 4, path=str(tmp_path / "a"))
        scale.write_bucketed(b, "bkt_b", "k", 4, path=str(tmp_path / "b"))
        # disable auto-broadcast: at test size Spark would broadcast the
        # 500-row side; the property under test is the fact-fact shape,
        # where neither side fits in memory and bucketing must remove
        # the shuffle
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            p = _plan(j)
            assert "SortMergeJoin" in p
            assert "Exchange hashpartitioning" not in p  # shuffle eliminated
            assert j.count() == 500
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")

    def test_join_bucketed_entry_single_exchange(self, spark):
        """The join_bucketed catalog entry's only Exchange must be the
        final aggregation's — the orders⋈lineitem join itself reads
        co-located buckets shuffle-free. Auto-broadcast is disabled so
        the small sf0.01 side can't hide the property behind a BHJ."""
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = catalog.QUERIES["join_bucketed"](spark, SF_DIR)
            p = _plan(df)
            assert "SortMergeJoin" in p
            assert p.count("Exchange hashpartitioning") == 1, p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestSplitSizeControl:
    def test_max_partition_bytes_governs_scan_parallelism(self, spark, tmp_path):
        """Split-size control (SURVEY §2.7; the reference fixes split
        counts via mapreduce.input.fileinputformat.split.minsize,
        Decompress.java:71-76). Spark's equivalent scan knob is
        spark.sql.files.maxPartitionBytes: halving it must increase the
        number of scan partitions for the same file, and a huge value
        must collapse the scan to one partition per file."""
        path = str(tmp_path / "lines.txt")
        with open(path, "w") as f:
            for i in range(20_000):
                f.write(f"line-{i:08d}-{'x' * 64}\n")
        prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024 * 512))
            one = spark.read.text(path).rdd.getNumPartitions()
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
            many = spark.read.text(path).rdd.getNumPartitions()
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        assert one == 1
        assert many > 8  # ~1.5 MB file / 64 KiB splits


class TestConnectedComponents:
    def test_path_graph_converges_with_bounded_plan(self, spark):
        """A 12-node path is the adversarial case: diameter 11 forces 11
        propagation rounds. Correctness: every node must land in
        component 0. Scale: the per-round checkpoint must keep the final
        plan's join count bounded by one round's joins, not the round
        count (uncheckpointed, 11 rounds chain ~22 joins)."""
        from virapipe_spark.graph import connected_components

        n = 12
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["a", "b"]
        )
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        labels = connected_components(edges, nodes, node_col="doc_id")
        rows = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        assert rows == {i: 0 for i in range(n)}
        o = _optimized(labels)
        # lineage is truncated every round: one round's joins, + slack
        assert o.count("Join") <= 8, f"lineage not truncated:\n{o}"

    def test_isolated_nodes_self_label(self, spark):
        from virapipe_spark.graph import connected_components

        edges = spark.createDataFrame([(1, 2)], ["a", "b"])
        nodes = spark.range(4).select(F.col("id").alias("doc_id"))
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(edges, nodes, node_col="doc_id").collect()
        }
        assert got == {0: 0, 1: 1, 2: 1, 3: 3}

    def test_raises_instead_of_returning_partial_labels(self, spark):
        """Exceeding max_rounds must raise, never return wrongly split
        components — the caller has no way to detect partial labels."""
        import pytest

        from virapipe_spark.graph import connected_components

        n = 6  # diameter 5 > max_rounds=2
        edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, nodes, node_col="doc_id", max_rounds=2)

    def test_doubling_converges_in_log_rounds(self, spark):
        """Pointer doubling must solve a 64-node path (diameter 63) well
        inside 10 rounds — plain propagation needs all 63. max_rounds=10
        doubles as the assertion: exceeding it raises."""
        from virapipe_spark.graph import connected_components_doubling

        n = 64
        edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        labels = connected_components_doubling(
            edges, nodes, node_col="doc_id", max_rounds=10
        )
        rows = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        assert rows == {i: 0 for i in range(n)}

    def test_doubling_matches_plain_on_mixed_graph(self, spark):
        """Both algorithms must produce identical labelings (several
        components, isolated nodes, a cycle, duplicate edges)."""
        from virapipe_spark.graph import (
            connected_components,
            connected_components_doubling,
        )

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (4, 5), (5, 6), (6, 7), (4, 7), (9, 10),
             (9, 10), (12, 11)],
            ["a", "b"],
        )
        nodes = spark.range(14).select(F.col("id").alias("doc_id"))
        plain = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(edges, nodes, node_col="doc_id").collect()
        }
        doubled = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_doubling(
                edges, nodes, node_col="doc_id"
            ).collect()
        }
        assert plain == doubled
        assert doubled[3] == 3 and doubled[8] == 8  # isolated self-labels


class TestTwoPhaseTopK:
    def test_equals_single_window(self, spark):
        from pyspark.sql import Window as W

        li = catalog.table(spark, SF_DIR, "lineitem")
        order = [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
        w = W.partitionBy("l_returnflag").orderBy(*order)
        single = (
            li.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("l_returnflag", "l_orderkey", "rn")
        )
        two = scale.topk_per_group(
            li, ["l_returnflag"], order, 3, ["l_orderkey", "l_linenumber"]
        ).select("l_returnflag", "l_orderkey", "rn")
        assert sorted(map(tuple, two.collect())) == sorted(
            map(tuple, single.collect())
        )


class TestStarProbe:
    def test_q3_broadcasts_dim_and_pushes_dates(self, spark):
        """The selective customer filter must broadcast (never shuffle a
        dim against the fact-fact join) and both date predicates must
        reach the parquet scans."""
        df = catalog.QUERIES["q3_shipping_priority"](spark, SF_DIR)
        p = _plan(df)
        assert "BroadcastHashJoin" in p
        assert "TakeOrderedAndProject" in p  # top-k, no global sort
        assert p.count("PushedFilters: [IsNotNull") >= 2  # date pushdown


class TestSplitSizeControlParallelism:
    def test_max_partition_bytes_drives_scan_parallelism(self, spark, tmp_path):
        """SURVEY §2.7 split-size control: the engine's answer to the
        reference's NLineInputFormat reads-per-split knob is
        spark.sql.files.maxPartitionBytes — smaller splits must yield
        more scan partitions on the same file."""
        p = str(tmp_path / "big.txt")
        with open(p, "w") as f:
            for i in range(200_000):
                f.write(f"line-{i:07d}-{'x' * 40}\n")
        prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
            coarse = spark.read.text(p).rdd.getNumPartitions()
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024))
            fine = spark.read.text(p).rdd.getNumPartitions()
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        assert fine > coarse >= 1
        # rows identical regardless of split size
        assert spark.read.text(p).count() == 200_000

    def test_salted_join_rejects_outer(self, spark):
        import pytest as _pytest

        fact = spark.range(5).select(F.col("id").alias("k"))
        dim = spark.range(5).select(F.col("id").alias("k"))
        with _pytest.raises(ValueError, match="inner/left"):
            scale.salted_join(fact, dim, "k", how="full_outer")


class TestSketches:
    def test_hll_kmer_estimate_within_bound(self, spark):
        """The HLL entry must land within 5% of the exact distinct count
        (rsd=2%, so 5% is a generous, non-flaky bound), and its plan
        must show partial sketch aggregation map-side."""
        row = catalog.QUERIES["kmer_unique_approx"](spark, SF_DIR).first()
        approx, exact = row["n_unique_approx"], row["n_unique_exact"]
        assert abs(approx - exact) / exact < 0.05, (approx, exact)
        assert row["within_5pct"] is True  # the entry's own verdict column
        ext_exact = catalog.QUERIES["kmer_unique_set"](spark, SF_DIR).first()[0]
        assert exact == ext_exact  # ride-along exact == standalone exact
        p = _plan(catalog.QUERIES["kmer_unique_approx"](spark, SF_DIR))
        assert "partial_approx_count_distinct" in p

    def test_q5_deep_join_broadcasts_all_dims(self, spark):
        """Q5's 6-table tree: every dim side broadcasts; the only
        sort-merge-eligible exchange is orders⋈lineitem."""
        p = _plan(catalog.QUERIES["q5_local_supplier_volume"](spark, SF_DIR))
        assert p.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in p


class TestConnectedComponentsProperty:
    def test_random_graphs_match_union_find(self, spark):
        """connected_components must agree with a pure-Python union-find
        on random graphs (hypothesis-driven shapes: sparse, dense,
        self-loops, duplicate edges)."""
        from hypothesis import given, settings, strategies as st

        from virapipe_spark.graph import connected_components

        @settings(max_examples=8, deadline=None)
        @given(
            n=st.integers(2, 30),
            edges=st.lists(
                st.tuples(st.integers(0, 29), st.integers(0, 29)), max_size=40
            ),
        )
        def prop(n, edges):
            edges = [(a, b) for a, b in edges if a < n and b < n]
            # union-find reference
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            expected = {i: find(i) for i in range(n)}
            # min-label propagation gives min reachable id == union-find
            # root when roots are always the min of their tree (ensured
            # by the min-directed union above)
            nodes = spark.range(n).select(F.col("id").alias("doc_id"))
            if edges:
                edf = spark.createDataFrame(edges, ["a", "b"])
            else:
                edf = spark.createDataFrame([], "a long, b long")
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in connected_components(
                    edf, nodes, node_col="doc_id", max_rounds=40
                ).collect()
            }
            assert got == expected

        prop()


class TestRound6Plans:
    """Plan properties of the round-6 operators — the shapes their
    docstrings promise."""

    def test_q6_pushes_all_predicates_into_scan(self, spark):
        p = _plan(catalog.QUERIES["q6_forecast_revenue"](spark, SF_DIR))
        import re

        scan = [l for l in p.splitlines() if "PushedFilters" in l]
        assert scan, "no FileScan with PushedFilters in q6 plan"
        # all four predicate columns reach the scan's pushed-filter list
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in scan[0], (col, scan[0])
        m = re.search(r"ReadSchema: [^\n]*", p)
        assert m and m.group(0).count(",") <= 3  # 4-column projection

    def test_exists_shapes_plan_semi_joins(self, spark):
        for name in ("q4_order_priority", "q18_large_orders"):
            p = _plan(catalog.QUERIES[name](spark, SF_DIR))
            assert "LeftSemi" in p, name
        # NOT EXISTS decorrelates to an anti join
        p = _plan(catalog.QUERIES["q22_dormant_value"](spark, SF_DIR))
        assert "LeftAnti" in p

    def test_triangle_count_all_equi_joins(self, spark):
        """The wedge/closure joins must be hash/merge equi-joins — never
        a cartesian (the support-thresholded edge set meets only on
        vertex keys)."""
        p = _plan(catalog.QUERIES["graph_triangle_count"](spark, SF_DIR))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_pack_and_chain_window_partitions_by_source(self, spark):
        """Sequence packing must never plan a global (unpartitioned)
        window — parallelism is the source count."""
        for name in ("docs_pack_sequences", "llm_corpus_chain"):
            p = _plan(catalog.QUERIES[name](spark, SF_DIR))
            assert "partial_sum" in p or "partial_count" in p, name
            import re

            for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", p):
                assert "source" in m.group(1), (name, m.group(0)[:120])

    def test_markov_probability_rows_sum_to_one(self, spark):
        """Each src row of the transition matrix is a distribution."""
        rows = catalog.QUERIES["events_markov_transitions"](spark, SF_DIR).collect()
        by_src: dict[str, float] = {}
        for r in rows:
            by_src[r["src"]] = by_src.get(r["src"], 0.0) + r["p"]
        assert by_src and all(abs(s - 1.0) < 1e-4 for s in by_src.values())

    def test_gap_fill_is_dense_and_never_null(self, spark):
        """Every user's series must cover [min, max] day contiguously
        with no NULL cents after the fill."""
        out = catalog.QUERIES["events_gap_fill_ffill"](spark, SF_DIR)
        assert out.filter(F.col("cents").isNull()).count() == 0
        spans = out.groupBy("user_id").agg(
            F.count("*").alias("n"),
            (F.max("day") - F.min("day") + 1).alias("span"),
        )
        assert spans.filter(F.col("n") != F.col("span")).count() == 0


class TestTpchSweepPlans:
    """Plan + semantic properties of the round-6 queries completing the
    22-query TPC-H sweep (queries/tpch.py) — each pins the decorrelated
    shape its docstring promises."""

    def test_q20_nested_in_plans_semi_join(self, spark):
        p = _plan(catalog.QUERIES["q20_part_promotion"](spark, SF_DIR))
        assert "LeftSemi" in p

    def test_q16_not_in_plans_broadcast_anti_join(self, spark):
        p = _plan(catalog.QUERIES["q16_supplier_count"](spark, SF_DIR))
        assert "LeftAnti" in p and "BroadcastHashJoin" in p

    def test_q9_dims_broadcast_single_fact_shuffle(self, spark):
        """part/supplier/nation broadcast; only lineitem⋈orders may
        shuffle — the fact table must cross the wire at most once
        before aggregation."""
        p = _plan(catalog.QUERIES["q9_product_profit"](spark, SF_DIR))
        assert p.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in p

    def test_q17_correlated_avg_runs_once(self, spark):
        """The correlated-AVG subquery must appear as ONE aggregate of
        lineitem (partial_avg map-side), never a per-row re-scan: the
        plan carries exactly two lineitem scans (outer + avg input),
        not one per brand-filtered row."""
        p = _plan(catalog.QUERIES["q17_small_quantity_revenue"](spark, SF_DIR))
        assert p.count("lineitem.parquet") <= 2 or p.count("FileScan") <= 3
        assert "partial_avg" in p

    def test_q13_histogram_covers_every_customer(self, spark):
        """Left-outer semantics: zero-order customers must appear in
        the c_count=0 bucket, so the histogram's total equals the
        customer count exactly."""
        rows = catalog.QUERIES["q13_customer_distribution"](spark, SF_DIR).collect()
        total = sum(r["custdist"] for r in rows)
        n_cust = catalog.table(spark, SF_DIR, "customer").count()
        assert total == n_cust
        assert any(r["c_count"] == 0 for r in rows) or total == n_cust

    def test_q2_min_cost_rows_are_true_minima(self, spark):
        """Every returned (part, supplier) must achieve the exact
        minimum European unit cost for that part — no near-miss rows
        from float drift."""
        out = catalog.QUERIES["q2_min_cost_supplier"](spark, SF_DIR)
        per_part = out.groupBy("p_partkey").agg(
            F.count_distinct("min_cost").alias("n_costs")
        )
        assert per_part.filter(F.col("n_costs") != 1).count() == 0

    def test_q21_only_late_supplier_is_unique_per_order(self, spark):
        """numwait totals must never exceed the number of late
        lineitems in multi-supplier orders (sanity on the decorrelated
        EXISTS/NOT-EXISTS rewrite)."""
        rows = catalog.QUERIES["q21_waiting_orders"](spark, SF_DIR).collect()
        assert rows and all(r["numwait"] >= 1 for r in rows)


class TestPagerank:
    """Semantic invariants of graph.pagerank's integer-exact rounds."""

    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    def test_symmetric_cycle_is_rank_uniform(self, spark):
        """On a regular graph (directed 4-cycle, all degrees 1) every
        node receives exactly what it emits, so ranks stay identical
        across nodes at every iteration."""
        from virapipe_spark.graph import pagerank

        edges = self._edges(
            spark, [(1, 2), (2, 3), (3, 4), (4, 1)]
        )
        rows = pagerank(edges, iterations=3).collect()
        ranks = {r["rank"] for r in rows}
        assert len(rows) == 4 and len(ranks) == 1

    def test_star_center_outranks_leaves(self, spark):
        """On a symmetrized star the hub aggregates every leaf's
        contribution and must outrank all leaves."""
        from virapipe_spark.graph import pagerank

        und = [(0, i) for i in range(1, 6)]
        edges = self._edges(spark, und + [(b, a) for a, b in und])
        rows = {r["node"]: r["rank"] for r in pagerank(edges, iterations=2).collect()}
        assert all(rows[0] > rows[i] for i in range(1, 6))

    def test_matches_float_pagerank_within_ppm(self, spark):
        """The integer truncation must stay within a few ppm of the
        float recursion computed in plain Python on the same graph."""
        from virapipe_spark.graph import pagerank

        und = [(1, 2), (2, 3), (1, 3), (3, 4)]
        pairs = und + [(b, a) for a, b in und]
        edges = self._edges(spark, pairs)
        got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=2).collect()}

        out: dict[int, list[int]] = {}
        for a, b in pairs:
            out.setdefault(a, []).append(b)
        ranks = {n: 1_000_000.0 for n in out}
        for _ in range(2):
            nxt = {n: 150_000.0 for n in out}
            for src, dsts in out.items():
                for dst in dsts:
                    nxt[dst] += 0.85 * ranks[src] / len(dsts)
            ranks = nxt
        for n, expect in ranks.items():
            assert abs(got[n] - expect) <= 16, (n, got[n], expect)

    def test_plan_is_equi_join_only(self, spark):
        p = _plan(catalog.QUERIES["graph_pagerank"](spark, SF_DIR))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


class TestMixtureAllocation:
    def test_quotas_sum_exactly_to_budget(self, spark):
        """The Hamilton-method guarantee: integer quotas sum to the
        budget exactly, at every scale."""
        from virapipe_spark.queries.extensions import _MIX_BUDGET

        rows = catalog.QUERIES["docs_mixture_allocation"](spark, SF_DIR).collect()
        assert sum(r["quota"] for r in rows) == _MIX_BUDGET
        # base quotas alone always undershoot by < #sources
        under = _MIX_BUDGET - sum(r["base_quota"] for r in rows)
        assert 0 <= under < len(rows)

    def test_weighted_sample_rate_tracks_weight(self, spark):
        """Deterministic coin: a re-run returns the identical kept set,
        and the corpus-wide kept fraction approximates the mean keep
        probability (the weights are basis points)."""
        q = catalog.QUERIES["docs_weighted_sample"]
        a = {r["source"]: r["n_kept"] for r in q(spark, SF_DIR).collect()}
        b = {r["source"]: r["n_kept"] for r in q(spark, SF_DIR).collect()}
        assert a == b
        rows = q(spark, SF_DIR).collect()
        n_total = sum(r["n_total"] for r in rows)
        n_kept = sum(r["n_kept"] for r in rows)
        assert 0 < n_kept < n_total


class TestHamiltonProperty:
    def test_quota_is_floor_or_ceil_of_exact_share(self, spark):
        """Hamilton's defining property on adversarial weight sets:
        every quota is floor or ceil of the exact proportional share,
        and quotas sum exactly to the budget."""
        from virapipe_spark.scale import hamilton_allocate

        cases = [
            [1, 1, 1],                      # uniform, budget not divisible
            [999999, 1],                    # extreme skew
            [7],                            # single source
            [3, 3, 3, 3, 3, 3, 7],          # remainder-heavy ties
            [17, 29, 41, 53, 61, 5, 2, 1],  # coprime mix
        ]
        for budget in (10, 1000, 99991):
            for weights in cases:
                src = spark.createDataFrame(
                    [(f"s{i}", w) for i, w in enumerate(weights)],
                    "source string, toks long",
                )
                rows = hamilton_allocate(src, budget).collect()
                total = sum(w for w in weights)
                assert sum(r["quota"] for r in rows) == budget, (budget, weights)
                for r in rows:
                    exact = budget * dict(
                        (f"s{i}", w) for i, w in enumerate(weights)
                    )[r["source"]] / total
                    assert exact // 1 <= r["quota"] <= -(-exact // 1) + 0, (
                        budget,
                        weights,
                        r,
                        exact,
                    )


class TestCompressionRatio:
    def test_repetitive_text_scores_below_corpus_and_is_deterministic(
        self, spark
    ):
        import zlib

        catalog.load_all()
        fn = catalog.QUERIES["docs_compression_ratio"]
        rows = fn(spark, SF_DIR).collect()
        assert rows and all(r["bounds_ok"] for r in rows)
        corpus_min = min(r["ratio_bp"] for r in rows)
        # a pathological repetitive doc compresses far below the corpus
        rep = "spam " * 2000
        rep_bp = len(zlib.compress(rep.encode(), 6)) * 10000 // len(rep)
        assert rep_bp < corpus_min
        again = fn(spark, SF_DIR).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


class TestTpchSweepPlansMore:
    def test_q8_dims_broadcast_no_cartesian(self, spark):
        """The widest join tree in the suite: part, supplier, region,
        and both nation roles must all arrive by broadcast."""
        p = _plan(catalog.QUERIES["q8_market_share"](spark, SF_DIR))
        assert p.count("BroadcastHashJoin") >= 5
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    def test_q20_dates_push_into_lineitem_scan(self, spark):
        p = _plan(catalog.QUERIES["q20_part_promotion"](spark, SF_DIR))
        scans = [l for l in p.splitlines() if "PushedFilters" in l]
        assert any("l_shipdate" in s for s in scans), scans

    def test_q13_preserves_outer_join(self, spark):
        """The join-time residual must NOT collapse the outer join to
        inner (zero-order customers are the point of Q13)."""
        p = _plan(catalog.QUERIES["q13_customer_distribution"](spark, SF_DIR))
        assert "LeftOuter" in p


class TestBfsHops:
    def test_path_graph_distances_and_unreached(self, spark):
        """Directed path 0->1->...->5 plus an isolated node 9: from
        source {0}, dist(i) = i for i <= max_hops, nodes beyond the hop
        bound and the isolated node are ABSENT (sparse contract)."""
        from virapipe_spark.graph import bfs_hops

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(5)] + [(9, 9)], ["src", "dst"]
        ).filter(F.col("src") != 9)
        sources = spark.createDataFrame([(0,)], ["node"])
        out = {
            r["node"]: r["dist"]
            for r in bfs_hops(edges, sources, max_hops=3).collect()
        }
        assert out == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_multi_source_takes_min_and_cycle_terminates(self, spark):
        """On a 4-cycle with sources {0, 2}, every node is 1 hop from
        some source; revisiting a node never lowers a settled dist."""
        from virapipe_spark.graph import bfs_hops

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"]
        )
        sources = spark.createDataFrame([(0,), (2,)], ["node"])
        out = {
            r["node"]: r["dist"]
            for r in bfs_hops(edges, sources, max_hops=4).collect()
        }
        assert out == {0: 0, 1: 1, 2: 0, 3: 1}


class TestBfsProperty:
    def test_random_graphs_match_python_bfs(self, spark):
        """bfs_hops must agree with a pure-Python BFS (dict-of-lists
        frontier walk) on random directed graphs — random sources,
        cycles, self-loops, duplicate edges, unreachable nodes. hops
        spans BOTH r10 shapes (<= 4 lazy min-fold, > 4 checkpointed
        frontier expansion with the empty-frontier early exit and the
        lazy final-hop tail)."""
        from collections import deque

        from hypothesis import given, settings, strategies as st

        from virapipe_spark.graph import bfs_hops

        @settings(max_examples=8, deadline=None)
        @given(
            n=st.integers(2, 20),
            edges=st.lists(
                st.tuples(st.integers(0, 19), st.integers(0, 19)), max_size=30
            ),
            srcs=st.lists(st.integers(0, 19), min_size=1, max_size=3),
            hops=st.sampled_from([1, 2, 3, 4, 5, 6, 8]),
        )
        def prop(n, edges, srcs, hops):
            edges = [(a, b) for a, b in edges if a < n and b < n]
            srcs = sorted({s for s in srcs if s < n}) or [0]
            adj = {}
            for a, b in edges:
                adj.setdefault(a, []).append(b)
            expected = {s: 0 for s in srcs}
            q = deque((s, 0) for s in srcs)
            while q:
                u, d = q.popleft()
                if d >= hops:
                    continue
                for v in adj.get(u, ()):
                    if v not in expected:
                        expected[v] = d + 1
                        q.append((v, d + 1))
            if edges:
                edf = spark.createDataFrame(edges, ["src", "dst"])
            else:
                edf = spark.createDataFrame([], "src long, dst long")
            sdf = spark.createDataFrame([(s,) for s in srcs], ["node"])
            got = {
                r["node"]: r["dist"]
                for r in bfs_hops(edf, sdf, max_hops=hops).collect()
            }
            assert got == expected

        prop()


class TestPartitionPruning:
    def test_events_partition_prune_prunes_directories(self, spark):
        """The pruned re-read must resolve the event_type predicate
        against the directory structure: the scan's plan carries
        PartitionFilters on event_type (3 of 5 directories never
        read), not a post-scan Filter over all rows."""
        df = catalog.QUERIES["events_partition_prune"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m, "no PartitionFilters in scan plan"
        assert "event_type" in m.group(1), m.group(1)
        # and the result is still exactly the two requested groups
        rows = {r["event_type"] for r in df.collect()}
        assert rows == {"click", "purchase"}


class TestPlanSizeSweep:
    """Catalog-wide PLAN-SIZE budget (r12) — the cheap detector for
    the compounding-lineage failure class: an iterative loop that
    persists (caches DATA) without truncating LINEAGE returns a
    2^rounds-node logical tree that Catalyst re-analyzes on every
    action and every consumer. docs_greedy_coverage hit 8,427
    formatted-explain lines and embed_dbscan_clusters 38,619 before
    the r12 checkpoint fixes (measured 12-24 s of pure re-analysis);
    post-fix the catalog's LARGEST executed plan is ~360 lines at the
    test SF. The budget is 4x that — generous enough for honest
    growth, far below the exponential class. A failure here means a
    loop is missing its per-round truncate_lineage, not that the
    budget needs raising (see tools/plan_size_sweep.py for the
    exploratory form)."""

    MAX_EXECUTED_PLAN_LINES = 1_500

    @pytest.mark.parametrize("name", _AUDITED_NAMES)
    def test_plan_size_within_budget(self, spark, plan_cache, name):
        p = _entry_plan(plan_cache, name)
        n = p.count("\n")
        assert n <= self.MAX_EXECUTED_PLAN_LINES, (
            f"{name}: executed plan is {n} lines (budget "
            f"{self.MAX_EXECUTED_PLAN_LINES}) — compounding lineage? "
            f"Add a per-round truncate_lineage (the plain-CC r12 fix) "
            f"rather than raising the budget."
        )


class TestGlobalWindowSweep:
    """Catalog-wide audit of GLOBAL (unpartitioned) windows — the
    third per-entry sweep, extending the ALLOWED_NLJ discipline to
    WindowExec: an unpartitioned window moves its whole input to ONE
    partition, so every occurrence must be justified by the input
    being provably small, or carry a documented scale path. A NEW
    entry that plans a global window without an exemption fails the
    sweep; an exemption whose entry stops planning one fails too
    (stale-exemption pruning, both directions tight).

    Justification categories (the value strings below):
    - calendar: the frame is one row per day/time-bucket — bounded by
      the calendar, not the data (the viterbi/change-point family).
    - grid: a fixed algorithmic grid — percentile buckets, deciles,
      folds, rounds, shards, ntile cells, Benford digits, Shapley
      sample index, histogram/equi-depth buckets, file listing.
    - alphabet: symbol- or vocabulary-bounded (Huffman's 16 symbols,
      BPE pair vocabulary, category mixtures).
    - summary: the window runs over per-bucket/per-group SUMMARIES a
      bounded aggregation produced (n50's bucket totals, skew report's
      top keys, stump thresholds, length-MAD distinct lengths).
    - value-domain: a rank/ECDF test over the DISTINCT measurement
      values of a pooled sample (KS, Mann-Whitney, Spearman,
      Wasserstein, ABC cumulative share, Lorenz/Gini, matched pairs,
      Kaplan-Meier event times, Theil-Sen day pairs, pareto skyline
      sweep, peak-concurrency boundaries). Bounded by the value
      domain, which grows slower than rows but is not constant: the
      100 TB path is the same crossing test over the equi-depth
      histogram (lineitem_equidepth_histogram precedent) — each
      entry's docstring carries that note.
    - global-order: the algorithm's DEFINING step is one global order
      (sorted-neighborhood blocking, global top-k ranks, RFM ntile,
      stable matching's proposal order, ntile demo). Scale path:
      range-partitioned sort / two-phase top-k (scale.two_phase_topk)
      / approx-quantile thresholds; documented per entry.
    """

    import re as _re

    _SPEC = _re.compile(r"windowspecdefinition\((.*?)specifiedwindowframe", _re.S)

    ALLOWED_GLOBAL_WINDOW = {
        "assembly_n50_stats": "summary",
        "docs_bpe_apply": "alphabet",
        "docs_greedy_coverage": "grid",
        "docs_huffman_lengths": "alphabet",
        "docs_length_outliers_mad": "summary",
        "docs_mixture_allocation": "alphabet",
        "docs_shard_assignment": "grid",
        "events_bootstrap_ci": "calendar",
        "events_change_point": "calendar",
        "events_isotonic_daily": "calendar",
        "events_kaplan_meier": "value-domain",
        "events_ks_test": "value-domain",
        "events_mannwhitney_u": "value-domain",
        "events_matched_pairs_att": "value-domain",
        "events_max_drawdown": "calendar",
        "events_ols_cramer": "grid",
        "events_path_trigrams": "global-order",
        "events_qini_uplift": "grid",
        "events_snaive_backtest": "calendar",
        "events_spearman_daily": "value-domain",
        "events_stump_classifier": "summary",
        "events_theilsen_trend": "value-domain",
        "events_viterbi_burst": "calendar",
        "events_wasserstein_drift": "value-domain",
        "files_listing": "grid",
        "graph_densest_subgraph": "grid",
        "graph_link_prediction": "global-order",
        "lineitem_benford_audit": "grid",
        "lineitem_equidepth_histogram": "grid",
        "lineitem_gini_lorenz": "grid",
        "lineitem_simpson_reversal": "grid",
        "lineitem_skew_report": "summary",
        "supplier_airport_shapley": "grid",
        # Pruned in r11 after the empirical input audit
        # (tools/measure_window_inputs.py): docs_rank_fusion_rrf and
        # supplier_stable_matching (global-order: candidate-set ranks /
        # dim index builders — data-sized, now two_phase_rank);
        # events_peak_concurrency (the sweep is 2 rows PER SESSION —
        # grows with data; now two_phase_prefix_agg + TakeOrdered),
        # lineitem_abc_analysis and parts_pareto_skyline (part is
        # SF-linear; running revenue share now two_phase_prefix_agg,
        # skyline pre-aggregates per-price max then strict prefix-max
        # over the distinct-price value domain).
    }

    @staticmethod
    def _split_top_level(s: str) -> list[str]:
        """Split spec args on commas at paren depth 0 only — a sort
        key containing a comma-bearing expression (substr(x, 1, 2)
        DESC) must stay one token, or its fragments lack ASC/DESC
        markers and the all(...) check below goes false-negative,
        letting an unexempted global window slip the sweep (r9
        ADVICE)."""
        out, depth, start = [], 0, 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append(s[start:i])
                start = i + 1
        out.append(s[start:])
        return out

    @classmethod
    def _has_global_window(cls, plan: str) -> bool:
        for line in plan.splitlines():
            if "windowspecdefinition" not in line:
                continue
            for m in cls._SPEC.finditer(line):
                args = [
                    a.strip()
                    for a in cls._split_top_level(
                        m.group(1).strip().rstrip(",")
                    )
                    if a.strip()
                ]
                # partition columns carry no sort marker; a spec whose
                # every leading arg is ordered (or that has none) has
                # no partition columns at all -> global
                if all((" ASC" in a or " DESC" in a) for a in args):
                    return True
        return False

    @pytest.mark.parametrize("name", _AUDITED_NAMES)
    def test_global_windows_are_exempted_and_exemptions_live(
        self, spark, plan_cache, name
    ):
        p = _entry_plan(plan_cache, name)
        has = self._has_global_window(p)
        if name in self.ALLOWED_GLOBAL_WINDOW:
            assert has, (
                f"{name}: exempted as '{self.ALLOWED_GLOBAL_WINDOW[name]}' "
                f"but plans no global window — prune the stale exemption"
            )
        else:
            assert not has, (
                f"{name}: plans a GLOBAL (unpartitioned) window with no "
                f"exemption — justify it in ALLOWED_GLOBAL_WINDOW or "
                f"partition the window"
            )

    def test_detector_handles_comma_bearing_sort_keys(self):
        """The r9 ADVICE false negative: a GLOBAL window whose sort key
        embeds commas (substr(x, 1, 2) DESC) must still be detected —
        the bare-comma split fragmented it into marker-less pieces."""
        frame = "specifiedwindowframe(RowFrame, a, b))"
        g = (
            "windowspecdefinition(substr(x#1, 1, 2) DESC NULLS LAST, "
            + frame
        )
        assert self._has_global_window(g)
        g2 = (
            "windowspecdefinition(coalesce(y#2, 0L) ASC NULLS FIRST, "
            "z#3 DESC NULLS LAST, " + frame
        )
        assert self._has_global_window(g2)
        # partitioned windows stay undetected, commas or not
        p = (
            "windowspecdefinition(k#4, substr(x#1, 1, 2) DESC NULLS "
            "LAST, " + frame
        )
        assert not self._has_global_window(p)
        assert not self._has_global_window(
            "windowspecdefinition(k#4, x#1 ASC NULLS FIRST, " + frame
        )


class TestKeyedRangesSmallPath:
    """r12 optimization: KeyedRanges' scale-adaptive fallback. Below
    the size threshold (and with num_partitions unpinned) every method
    must emit the plain keyed-window formulation — no range shuffle,
    no checkpoint, no stats collect — and match the segmented path's
    results exactly. The segmented twins above all pin num_partitions,
    so they keep covering the scaffold."""

    def _df(self, spark, monkeypatch=None):
        # createDataFrame frames carry Catalyst's unknown-size sentinel
        # (Long.MaxValue — and projections can scale it PAST 2**63:
        # Catalyst stats are BigInt), which correctly routes to the
        # segmented path; tests of the SMALL path raise the threshold
        # far above the sentinel so the path mechanics are exercised
        # without IO.
        if monkeypatch is not None:
            monkeypatch.setenv("SPARK_GRAFT_SEGSCAN_SMALL_BYTES", str(2**127))
        rows = [(k, i * 7 + k, k * 100 + i, (k + i) % 3) for k in range(4)
                for i in range(9)]
        return spark.createDataFrame(rows, "k int, ts long, id long, v int")

    def test_parquet_input_takes_window_path_by_default(
        self, spark, tmp_path
    ):
        """The realistic case: a parquet-backed frame estimates its
        file footprint, which at test/bench scale is far under the
        small-bytes bound — the plain-window path must be chosen with
        NO env override."""
        p = str(tmp_path / "kr_small.parquet")
        self._df(spark).write.parquet(p)
        df = spark.read.parquet(p)
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], carry_cols=("ts",))
        assert kr._small is True
        # no scaffold: the construction frame IS the input (no __pid)
        assert "__pid" not in kr.frame.columns

    def test_unknown_size_falls_back_to_segmented(self, spark):
        """createDataFrame input has no size estimate (MaxValue
        sentinel) — the conservative choice is the segmented path."""
        kr = scale.KeyedRanges(self._df(spark), "k", ["ts", "id"],
                               carry_cols=("ts",))
        assert kr._small is False
        assert "__pid" in kr.frame.columns

    def test_zero_threshold_forces_segmented(self, spark, monkeypatch, tmp_path):
        monkeypatch.setenv("SPARK_GRAFT_SEGSCAN_SMALL_BYTES", "0")
        p = str(tmp_path / "kr_force.parquet")
        self._df(spark).write.parquet(p)
        kr = scale.KeyedRanges(spark.read.parquet(p), "k", ["ts", "id"],
                               carry_cols=("ts",))
        assert kr._small is False
        assert "__pid" in kr.frame.columns

    def test_small_results_match_segmented(self, spark, monkeypatch):
        df = self._df(spark, monkeypatch).withColumn(
            "maybe", F.when(F.col("id") % 3 == 0, F.col("ts"))
        )
        small = scale.KeyedRanges(df, "k", ["ts", "id"],
                                  carry_cols=("ts", "maybe"))
        assert small._small
        seg = scale.KeyedRanges(df, "k", ["ts", "id"],
                                carry_cols=("ts", "maybe"),
                                num_partitions=7)
        assert not seg._small

        def run(kr):
            f = kr.lag_col(kr.frame, "ts", "lg")
            f = kr.lead_col(f, "maybe", "nx")
            f = kr.prefix_sum(f, "v", "ps")
            f = kr.prefix_max(f, "v", "pm", inclusive=False)
            f = kr.prefix_last(f, "maybe", "ff")
            return {
                (r["k"], r["ts"], r["id"]): (
                    r["lg"], r["nx"], r["ps"], r["pm"], r["ff"]
                )
                for r in f.collect()
            }

        assert run(small) == run(seg)

    def test_small_path_keeps_error_contract(self, spark, monkeypatch):
        kr = scale.KeyedRanges(self._df(spark, monkeypatch), "k", ["ts", "id"])
        assert kr._small
        with pytest.raises(ValueError, match="carry_cols"):
            kr.lag_col(kr.frame, "v", "lg")  # v not carried
        with pytest.raises(ValueError, match="not in frame"):
            kr.prefix_sum(kr.frame, "nope", "ps")
        with pytest.raises(ValueError, match="offset must be"):
            kr.lags(kr.frame, [("ts", "lg", 0)])

    def test_small_deep_lag_matches_window(self, spark, monkeypatch):
        df = self._df(spark, monkeypatch)
        kr = scale.KeyedRanges(df, "k", ["ts", "id"], carry_cols=("ts",))
        assert kr._small
        f = kr.lags(kr.frame, [("ts", "l1", 1), ("ts", "l3", 3)])
        w = W.partitionBy("k").orderBy("ts", "id")
        want = {
            (r["k"], r["ts"], r["id"]): (r["l1"], r["l3"])
            for r in df.withColumn("l1", F.lag("ts", 1).over(w))
            .withColumn("l3", F.lag("ts", 3).over(w))
            .collect()
        }
        got = {(r["k"], r["ts"], r["id"]): (r["l1"], r["l3"])
               for r in f.collect()}
        assert got == want


class TestSpreadScan:
    """r12 optimization: scale-adaptive scan spreading. A small
    parquet-backed frame (single file, one row group → one scan task)
    must be round-robin repartitioned to defaultParallelism so the map
    stage above it parallelizes; anything above the byte bound, or of
    unknown size, must pass through UNCHANGED (no data-sized payload
    shuffle at scale)."""

    def test_small_parquet_is_spread(self, spark, tmp_path):
        p = str(tmp_path / "spread_small.parquet")
        spark.range(100).write.parquet(p)
        df = spark.read.parquet(p)
        out = scale.spread_scan(df)
        assert out is not df
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        # round-robin only moves rows, never changes them
        assert sorted(r["id"] for r in out.collect()) == list(range(100))

    def test_explicit_num_partitions(self, spark, tmp_path):
        p = str(tmp_path / "spread_n.parquet")
        spark.range(50).write.parquet(p)
        out = scale.spread_scan(spark.read.parquet(p), num=7)
        assert out.rdd.getNumPartitions() == 7

    def test_large_input_passes_through(self, spark, tmp_path, monkeypatch):
        """Above the bound the split planner already spreads the scan —
        the helper must be a no-op (threshold forced to 0 to simulate
        'large' without writing gigabytes)."""
        monkeypatch.setenv("SPARK_GRAFT_SPREAD_SMALL_BYTES", "0")
        p = str(tmp_path / "spread_large.parquet")
        spark.range(10).write.parquet(p)
        df = spark.read.parquet(p)
        assert scale.spread_scan(df) is df

    def test_unknown_size_passes_through(self, spark):
        """createDataFrame frames carry Catalyst's MaxValue sentinel
        (unknown = possibly huge) — never spread those."""
        df = spark.createDataFrame([(1,)], "x int")
        assert scale.spread_scan(df) is df
