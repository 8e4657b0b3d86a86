"""Catalog invariants: the driver-window budget and the semantic
guarantees of the round-4 text operators.

The window test is the structural lesson of round 3: the driver
hash-checks only the FIRST 50 entries of ``__spark_entry__.queries()``,
so every never-proven entry must sort inside that window or it
accumulates zero evidence. ``ordered_queries`` now derives the ordering
from the ``CORRECTNESS_r*.json`` files; this test fails the build the
moment the catalog grows more unproven entries than the window holds —
the failure mode that silently cost 27 queries their evidence in
rounds 1-3.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from virapipe_spark import catalog

DRIVER_WINDOW = 50


class TestDriverWindow:
    def test_every_unproven_entry_fits_the_window(self):
        catalog.load_all()
        proven = catalog._verified_rounds()
        ordered = list(catalog.ordered_queries())
        unproven = [n for n in ordered if proven.get(n, 0) == 0]
        assert len(unproven) <= DRIVER_WINDOW, (
            f"{len(unproven)} never-driver-proven entries > {DRIVER_WINDOW}-entry "
            f"window; some would accumulate zero correctness evidence: "
            f"{unproven[DRIVER_WINDOW:]}"
        )
        head = set(ordered[:DRIVER_WINDOW])
        missing = [n for n in unproven if n not in head]
        assert not missing, f"unproven entries sorted outside the window: {missing}"

    def test_regression_demotes_to_never_verified(self, tmp_path):
        """An entry whose MOST RECENT driver check failed must sort as
        never-verified (rotate back into the window immediately), even
        if older rounds proved it — the window_lag_gap r1-pass/r2-crash
        precedent."""
        import json

        ok = {"rows_match": True, "schema_match": True, "hash_match": True,
              "spark_rows": 1, "oracle_rows": 1, "err": None}
        fail = dict(ok, hash_match=False)
        crash = dict(ok, rows_match=None, err="boom")
        rows_only = {"rows_match": None, "schema_match": None, "hash_match": None,
                     "spark_rows": 7, "oracle_rows": None, "err": "no_oracle"}
        (tmp_path / "CORRECTNESS_r01.json").write_text(
            json.dumps({"a": ok, "b": ok, "c": ok, "d": rows_only})
        )
        (tmp_path / "CORRECTNESS_r02.json").write_text(
            json.dumps({"a": ok, "b": fail, "c": crash})
        )
        proven = catalog._verified_rounds(str(tmp_path))
        assert proven.get("a") == 2
        assert "b" not in proven  # latest check failed -> demoted
        assert "c" not in proven  # latest check crashed -> demoted
        assert proven.get("d") == 1  # rows-only pass counts

    def test_rewritten_after_proof_ranks_after_never_proven(self):
        """An entry rewritten after its latest driver proof must rank
        0.5 — behind every never-proven entry (which has first claim on
        the window) but ahead of every valid proof — and self-heal once a
        proof at-or-after the rewrite round exists (r8 VERDICT item 2)."""
        proven = {"a": 7, "b": 3, "c": 9, "e": 7}
        rewritten = {"a": 8, "d": 8, "e": 7}
        # d: never proven -> 0; a: proof 7 < rewrite 8 -> 0.5;
        # e: proof 7 >= rewrite 7 -> healed, ranks 7; b,c: plain proofs.
        order = catalog._ranked(["a", "b", "c", "d", "e"], proven, rewritten)
        assert order == ["d", "a", "b", "e", "c"]

    def test_live_rewritten_entries_queue_directly_behind_the_window(self):
        """Every rewritten entry (REWRITTEN_IN) must exist in the live
        catalog and — while their proofs predate the rewrite —
        sort immediately after the never-proven block, so they re-prove
        the first round with spare window slots."""
        catalog.load_all()
        assert set(catalog.REWRITTEN_IN) <= set(catalog.QUERIES)
        proven = catalog._verified_rounds()
        ordered = list(catalog.ordered_queries())
        pending = sorted(
            n
            for n in catalog.REWRITTEN_IN
            if 0 < proven.get(n, 0) < catalog.REWRITTEN_IN[n]
        )
        if not pending:
            return  # all re-proven; nothing to queue
        n_zero = sum(1 for n in ordered if proven.get(n, 0) == 0)
        block = ordered[n_zero : n_zero + len(pending)]
        assert sorted(block) == pending, (
            f"rewritten-after-proof entries not queued directly behind "
            f"the never-proven block: expected {pending}, got {block}"
        )

    def test_ordering_is_a_permutation_of_the_registry(self):
        catalog.load_all()
        assert list(catalog.ordered_queries().keys()) != []
        assert set(catalog.ordered_queries()) == set(catalog.QUERIES)
        assert set(catalog.ORACLES) <= set(catalog.QUERIES)

    def test_every_driver_proven_entry_stays_registered(self):
        """No entry the driver ever proved may drop out of the registry."""
        catalog.load_all()
        missing = set(catalog._verified_rounds()) - set(catalog.QUERIES)
        assert not missing, f"driver-proven entries not registered: {missing}"

    def test_rows_only_entries_match_the_driver_record(self):
        """Every entry keeps the oracle the driver last compared it
        against: the rows-only set is exactly the entries whose latest
        driver row is ``no_oracle``."""
        import glob
        import json
        import os

        catalog.load_all()
        root = os.path.dirname(os.path.dirname(os.path.abspath(catalog.__file__)))
        latest_err = {}
        for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
            with open(path) as f:
                for name, row in json.load(f).items():
                    if isinstance(row, dict):
                        latest_err[name] = row.get("err")
        driver_rows_only = {n for n, e in latest_err.items() if e == "no_oracle"}
        assert set(catalog.QUERIES) - set(catalog.ORACLES) == driver_rows_only

    def test_registry_is_grouped_by_since_and_stable(self):
        """``ordered_queries`` breaks ties by registration order, so that
        order must be grouped by ``since`` and survive repeated loads."""
        catalog.load_all()
        names = list(catalog.QUERIES)
        since = [catalog._SINCE[n] for n in names]
        assert since == sorted(since)
        oracles = list(catalog.ORACLES)
        assert oracles == [n for n in names if n in catalog.ORACLES]
        catalog.load_all()
        assert list(catalog.QUERIES) == names
        assert list(catalog.ORACLES) == oracles


class TestSinceRegistration:
    """``@catalog.query(..., since=N)`` is the only registration path;
    ``load_all`` groups the registry by ``since``."""

    @pytest.mark.parametrize(
        "since,size", [(0, 179), (5, 9), (7, 32), (8, 50), (9, 50), (10, 38), (11, 3)]
    )
    def test_each_generation_is_live_and_proven_since_it_went_live(
        self, since, size
    ):
        """Every generation keeps its size, and each of its entries has a
        driver proof from the round it went live or later."""
        catalog.load_all()
        proven = catalog._verified_rounds()
        gen = [n for n in catalog.QUERIES if catalog._SINCE[n] == since]
        assert len(gen) == size
        early = [n for n in gen if proven.get(n, 0) < max(since, 1)]
        assert not early, f"since={since}: no proof from round {since} on: {early}"

    def test_annotation_entries_lead_each_since_group(self):
        """``load_all`` imports ``queries.annotation`` first, so inside
        every ``since`` group its entries come before all others."""
        from virapipe_spark.queries import annotation

        catalog.load_all()
        names = list(catalog.QUERIES)
        for since in set(catalog._SINCE.values()):
            group = [n for n in names if catalog._SINCE[n] == since]
            first = [
                catalog.QUERIES[n].__module__ == annotation.__name__ for n in group
            ]
            assert first == sorted(first, reverse=True), (
                f"since={since}: annotation entries do not lead the group"
            )

    def test_load_all_reads_no_files(self, monkeypatch):
        """Registration is declaration data only: no artifact globbing."""
        import glob
        import os

        def refuse(*a, **k):
            raise AssertionError("load_all touched the filesystem")

        monkeypatch.setattr(glob, "glob", refuse)
        monkeypatch.setattr(glob, "iglob", refuse)
        monkeypatch.setattr(os, "listdir", refuse)
        monkeypatch.setattr(os, "scandir", refuse)
        before = list(catalog.QUERIES)
        catalog.load_all()
        assert list(catalog.QUERIES) == before

    def test_since_defaults_to_zero(self, monkeypatch):
        monkeypatch.setattr(catalog, "QUERIES", dict(catalog.QUERIES))
        monkeypatch.setattr(catalog, "ORACLES", dict(catalog.ORACLES))
        monkeypatch.setattr(catalog, "_SINCE", dict(catalog._SINCE))

        @catalog.query("_t_default", oracle="SELECT 1")
        def _t(spark, sf_dir):
            return None

        assert catalog._SINCE["_t_default"] == 0

    def test_late_registration_is_sorted_into_its_group(self, monkeypatch):
        """An entry registered after the load sorts by ``since`` on the
        next ``load_all``: a since-0 entry ends the since-0 group, a
        later-round entry goes last, in both registries."""
        catalog.load_all()
        monkeypatch.setattr(catalog, "QUERIES", dict(catalog.QUERIES))
        monkeypatch.setattr(catalog, "ORACLES", dict(catalog.ORACLES))
        monkeypatch.setattr(catalog, "_SINCE", dict(catalog._SINCE))
        n0 = sum(1 for s in catalog._SINCE.values() if s == 0)
        late = max(catalog._SINCE.values()) + 1

        for name, since in (("_t_late", late), ("_t_zero", 0)):
            catalog.query(name, oracle="SELECT 1", since=since)(lambda s, d: None)
        catalog.load_all()
        names = list(catalog.QUERIES)
        assert names.index("_t_zero") == n0
        assert names[-1] == "_t_late"
        oracles = list(catalog.ORACLES)
        assert oracles == [n for n in names if n in catalog.ORACLES]

    def test_duplicate_name_is_rejected(self):
        catalog.load_all()
        name = next(iter(catalog.QUERIES))
        with pytest.raises(ValueError, match="duplicate query name"):
            catalog.query(name, since=99)(lambda s, d: None)
        assert catalog._SINCE[name] != 99


class TestOracleDtypeFidelity:
    """Round-5 lesson (sessionize_events): DuckDB HUGEINT/DECIMAL output
    columns are materialized by pandas as float64/object, so the
    driver's exact hash compares ``3.0`` against Spark's bigint ``3``
    and fails even when every value matches. These tests make that
    divergence class impossible to ship."""

    #: DuckDB logical types pandas renders lossily vs Spark's output.
    LOSSY = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT", "UINTEGER")

    def test_no_oracle_emits_a_lossy_duckdb_type(self, sf_dir):
        """DESCRIBE every oracle against the sf0.001 views — no output
        column may be HUGEINT/DECIMAL/unsigned (cast to BIGINT/DOUBLE in
        the oracle SQL instead)."""
        import duckdb

        catalog.load_all()
        con = duckdb.connect()
        for t in catalog.TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if __import__("os").path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        offenders = []
        for name, sql in catalog.ORACLES.items():
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
            for col, ctype, *_ in cols:
                if any(l in ctype.upper() for l in self.LOSSY):
                    offenders.append(f"{name}.{col}: {ctype}")
        assert not offenders, (
            "oracle output columns with pandas-lossy DuckDB types "
            f"(driver hash would diverge from local): {offenders}"
        )

    def test_strict_mode_catches_int_float_divergence(self):
        """strict_problems must flag the exact sessionize_events shape:
        identical values, int64 on one side, float64 on the other."""
        import pandas as pd

        from virapipe_spark.oracle_compare import compare_frames, strict_problems

        s = pd.DataFrame({"sid": pd.array([1, 2, 3], dtype="int64")})
        d = pd.DataFrame({"sid": pd.array([1.0, 2.0, 3.0], dtype="float64")})
        assert compare_frames(s, d) == []  # normalized compare masks it
        assert strict_problems(s, d) != []  # strict mode refuses it
        assert compare_frames(s, d, strict=True) != []

    def test_strict_mode_passes_identical_kinds(self):
        import decimal

        import pandas as pd

        from virapipe_spark.oracle_compare import strict_problems

        s = pd.DataFrame({"a": [1, 2], "b": [1.5, float("nan")], "c": ["x", None]})
        d = pd.DataFrame({"a": [1, 2], "b": [1.5, float("nan")], "c": ["x", None]})
        assert strict_problems(s, d) == []
        dec = pd.DataFrame({"a": [decimal.Decimal("1"), decimal.Decimal("2")]})
        assert strict_problems(s[["a"]], dec) != []  # decimal vs int flagged


class TestRowsOnlyInvariants:
    """The 4 no-oracle entries prove only rows>0 to the driver, so each
    now carries self-validating output: an invariant column that must
    hold by construction, plus determinism across runs (VERDICT r5 #5).
    """

    def test_orf_six_frame_summary(self, spark, sf_dir):
        catalog.load_all()
        rows = {
            (r["strand"], r["frame"]): r
            for r in catalog.QUERIES["orf_six_frame"](spark, sf_dir).collect()
        }
        # all six frames present, counts/checksums positive
        assert set(rows) == {(s, f) for s in ("forw", "rev") for f in (1, 2, 3)}
        for r in rows.values():
            assert r["n_orfs"] > 0 and r["total_aa"] > 0 and r["protein_crc"] > 0
        again = {
            (r["strand"], r["frame"]): (r["n_orfs"], r["total_aa"], r["protein_crc"])
            for r in catalog.QUERIES["orf_six_frame"](spark, sf_dir).collect()
        }
        assert again == {
            k: (r["n_orfs"], r["total_aa"], r["protein_crc"]) for k, r in rows.items()
        }

    def test_frame_sample_matches_declared_duration(self, spark, sf_dir):
        catalog.load_all()
        out = catalog.QUERIES["multimodal_frame_sample"](spark, sf_dir).collect()
        assert out and all(r["frames_ok"] for r in out)
        crc = {r["media_id"]: r["frame_crc"] for r in out}
        out2 = catalog.QUERIES["multimodal_frame_sample"](spark, sf_dir).collect()
        assert {r["media_id"]: r["frame_crc"] for r in out2} == crc

    def test_files_listing_counts_are_complete(self, spark, sf_dir):
        catalog.load_all()
        out = catalog.QUERIES["files_listing"](spark, sf_dir).collect()
        assert out and all(r["rows_complete"] for r in out)
        exact = catalog.table(spark, sf_dir, "lineitem").count()
        assert sum(r["n_rows"] for r in out) == exact


class TestTextOperators:
    def test_pii_scrub_leaves_no_matches(self, spark, sf_dir):
        """The scrub must be total: re-applying the extraction patterns
        to the scrubbed text (recovered from the entry's own pipeline,
        pre-md5) finds nothing."""
        from virapipe_spark.queries.extensions import _PII_EMAIL, _PII_PHONE

        d = catalog.table(spark, sf_dir, "documents")
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
        leftovers = d.select(
            (
                F.size(F.regexp_extract_all(scrubbed, F.lit(_PII_EMAIL), F.lit(0)))
                + F.size(F.regexp_extract_all(scrubbed, F.lit(_PII_PHONE), F.lit(0)))
            ).alias("n")
        ).agg(F.sum("n").alias("total"))
        assert leftovers.collect()[0]["total"] == 0

    def test_repetition_ratio_bounds(self, spark, sf_dir):
        """top-gram count never exceeds total grams; ratio in (0, 1]."""
        catalog.load_all()
        df = catalog.QUERIES["docs_repetition_topgram"](spark, sf_dir)
        bad = df.filter(
            (F.col("top_cnt") > F.col("n_grams"))
            | (F.col("top_2gram_ratio") <= 0)
            | (F.col("top_2gram_ratio") > 1)
        ).count()
        assert bad == 0

    def test_kmeans_partitions_the_corpus(self, spark, sf_dir):
        """Cluster sizes must sum to the corpus size (every vector
        assigned exactly once) with at most _KM_C clusters."""
        from virapipe_spark.queries.extensions import _KM_C

        catalog.load_all()
        out = catalog.QUERIES["embed_kmeans_lloyd"](spark, sf_dir).collect()
        n_vecs = catalog.table(spark, sf_dir, "embeddings").count()
        assert sum(r["n_members"] for r in out) == n_vecs
        assert 0 < len(out) <= _KM_C
