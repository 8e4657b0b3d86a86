"""bench.py rep-escalation policy (_needs_more) — pure-Python unit
coverage for the r10-verdict noise hardening: every query medians at
least REPS samples; sub-second medians escalate to MAX_REPS; the 1-5 s
band (where r10's six phantom >1.5x flags all lived) escalates to
MID_REPS; a noisy spread escalates ANY query to MAX_REPS; nothing
samples past MAX_REPS."""

from __future__ import annotations

import bench


class TestNeedsMore:
    def test_everyone_gets_reps_minimum(self):
        assert bench._needs_more([])
        assert bench._needs_more([10.0] * (bench.REPS - 1))

    def test_stable_slow_query_stops_at_reps(self):
        # 10 s median, tight spread: REPS samples suffice
        assert not bench._needs_more([10.0, 10.1, 9.9, 10.0, 10.05])

    def test_subsecond_escalates_to_max(self):
        reps = [0.3] * bench.REPS
        assert bench._needs_more(reps)
        assert not bench._needs_more([0.3] * bench.MAX_REPS)

    def test_mid_band_escalates_to_mid_reps(self):
        # 2 s median, tight spread: sample to MID_REPS, then stop
        reps = [2.0, 2.01, 1.99, 2.0, 2.02]
        assert bench._needs_more(reps)
        assert not bench._needs_more([2.0] * bench.MID_REPS)

    def test_noisy_spread_escalates_anything_to_max(self):
        # 10 s median but one 2.3x hiccup sample (the r10 phantom
        # shape): spread > NOISY_SPREAD keeps sampling
        noisy = [10.0, 10.1, 23.0, 9.9, 10.0, 10.05, 10.1]
        assert bench._needs_more(noisy)
        assert not bench._needs_more(noisy + [10.0, 10.0])  # MAX_REPS cap

    def test_never_past_max_reps(self):
        assert not bench._needs_more([0.1] * bench.MAX_REPS)
        assert not bench._needs_more([100.0, 0.1] * bench.MAX_REPS)


class TestEmitTailBudget:
    """r12 output contract (BENCH_r11's `parsed: null` postmortem): the
    driver keeps only ~2,000 chars of stdout tail AND parses the final
    line's ``queries`` dict (per-query medians feed its core-count
    scaling measurement), so the line must carry queries yet stay
    inside the tail; only ``queries_min`` (the half whose addition
    caused the r11 overflow) moves to bench_full.json."""

    def test_line_carries_queries_and_fits_tail_at_todays_headline(self, tmp_path):
        import json

        # real headline names, worst-case 4-char values: the driver-facing
        # line must parse AND fit the ~2,000-char tail with margin
        timings = {n: 9.999 for n in bench.HEADLINE}
        minima = {k: 9.888 for k in timings}
        line = bench.emit(timings, minima, 0.1, str(tmp_path / "full.json"))
        assert len(line) < 1900, (
            "final stdout line outgrew the driver tail budget — trim the "
            "headline list or re-negotiate the contract before it truncates"
        )
        parsed = json.loads(line)
        assert parsed["metric"] == "headline_queries_total"
        assert parsed["queries"] == timings  # driver contract: per-query medians
        assert parsed["value"] == round(9.999 * len(bench.HEADLINE), 3)
        assert parsed["value_min"] == round(9.888 * len(bench.HEADLINE), 3)
        assert parsed["sf"] == 0.1

    def test_detail_field_names_the_actual_file(self, tmp_path):
        import json

        line = bench.emit({"a": 1.0}, {"a": 1.0}, 0.1, str(tmp_path / "x.json"))
        assert json.loads(line)["detail"] == "x.json"

    def test_detail_write_failure_still_returns_compact_line(self, tmp_path):
        """r12 review: a failed side-channel write (read-only dir, disk
        full) must not destroy the stdout contract after minutes of
        timed reps."""
        import json

        bad = tmp_path / "nonexistent-dir" / "full.json"
        line = bench.emit({"a": 2.0}, {"a": 1.9}, 0.1, str(bad))
        parsed = json.loads(line)
        assert parsed["value"] == 2.0 and parsed["value_min"] == 1.9

    def test_full_detail_written_to_file(self, tmp_path):
        import json

        timings = {"a": 1.0, "b": 2.0}
        minima = {"a": 0.9, "b": 1.8}
        path = tmp_path / "full.json"
        bench.emit(timings, minima, 0.01, str(path))
        full = json.loads(path.read_text())
        assert full["queries"] == timings
        assert full["queries_min"] == minima
        assert full["value"] == 3.0
        assert full["value_min"] == 2.7

    def test_default_detail_path_is_per_core_count(self, monkeypatch):
        """r13 (VERDICT_r12 #3): the driver's lower-core-count re-run
        must not clobber the 32-core detail file — the default detail
        path is named by $SPARK_GRAFT_CPUS and the detail JSON records
        the core count it was measured at."""
        import json

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
        written = {}

        def fake_replace(tmp, dst):
            written["dst"] = dst
            import os

            os.unlink(tmp)

        monkeypatch.setattr(bench.os, "replace", fake_replace)
        line = bench.emit({"a": 1.0}, {"a": 1.0}, 0.1)
        assert written["dst"].endswith("bench_full_c8.json")
        assert json.loads(line)["detail"] == "bench_full_c8.json"

    def test_unset_core_count_defaults_to_the_machine(self, monkeypatch):
        """With $SPARK_GRAFT_CPUS unset, the run is named by the machine's
        own core count, not a fixed 32."""
        import json

        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.setattr(bench.os, "cpu_count", lambda: 3)
        written = {}

        def fake_replace(tmp, dst):
            written["dst"] = dst
            bench.os.unlink(tmp)

        monkeypatch.setattr(bench.os, "replace", fake_replace)
        line = bench.emit({"a": 1.0}, {"a": 1.0}, 0.1)
        assert written["dst"].endswith("bench_full_c3.json")
        assert json.loads(line)["detail"] == "bench_full_c3.json"


class TestSessionCoreCount:
    """session.session() sizes ``local[N]`` and the shuffle partitions
    from $SPARK_GRAFT_CPUS, or the machine's core count when unset."""

    @staticmethod
    def _built(monkeypatch):
        import importlib

        sess = importlib.import_module("virapipe_spark.session")
        seen = {}

        class Builder:
            def appName(self, name):
                return self

            def master(self, m):
                seen["master"] = m
                return self

            def config(self, k, v):
                seen[k] = v
                return self

            def getOrCreate(self):
                raise RuntimeError("stop before launching a JVM")

        class FakeSparkSession:
            builder = Builder()

        monkeypatch.setattr(sess, "SparkSession", FakeSparkSession)
        try:
            sess.session()
        except RuntimeError:
            pass
        return seen

    def test_unset_core_count_defaults_to_the_machine(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.setattr("os.cpu_count", lambda: 3)
        seen = self._built(monkeypatch)
        assert seen["master"] == "local[3]"
        assert seen["spark.sql.shuffle.partitions"] == "3"

    def test_core_count_comes_from_the_environment(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
        seen = self._built(monkeypatch)
        assert seen["master"] == "local[5]"
        assert seen["spark.sql.shuffle.partitions"] == "5"
