"""Local Spark-vs-DuckDB re-proof of every catalog entry whose current
code the driver has not proven, plus oracle-contract regression tests.

The re-proof runs the driver's exact compare
(virapipe_spark.oracle_compare) at sf0.001 on each oracle-backed entry
that is never-driver-proven, or whose latest driver proof predates its
rewrite round (catalog.REWRITTEN_IN). It retires itself: once a driver
row at or after that round exists (catalog._verified_rounds), the entry
leaves the to-do list. The on-demand full gate is
``tools/check_oracle.py --strict``.

GRANULARITY CONTRACT: the re-arm key is a ROUND number, and the driver
generates CORRECTNESS_r{N} from the code committed at round N's END. A
round-N driver row therefore reflects post-rewrite code for any round-N
rewrite — which is why ``proven < rewrite_round`` is the re-arm test and
equality counts as proven. (If the driver ever wrote artifacts at round
start, from pre-rewrite code, equality would become a silent
mis-retire; key the re-arm on the implementation file's code SHA then.)
"""

from __future__ import annotations

import os

import duckdb
import pytest

from virapipe_spark import catalog
from virapipe_spark.oracle_compare import compare_frames

SF_DIR = "/root/testdata/sf0.001"


def _reproof_todo() -> list[str]:
    catalog.load_all()
    proven = catalog._verified_rounds()
    return [
        n
        for n in catalog.ORACLES
        if n not in proven or proven[n] < catalog.REWRITTEN_IN.get(n, 0)
    ]


_TODO = _reproof_todo()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in catalog.TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield c
    c.close()


@pytest.fixture(scope="module")
def reproof_results(spark, con):
    """Every to-do compare, run ONCE on a thread pool and shared by the
    per-entry items below. Entries share no scratch tags or temp views;
    each worker gets its own DuckDB cursor (the connection is not
    thread-safe for concurrent execute)."""
    from concurrent.futures import ThreadPoolExecutor

    results: dict[str, object] = {}

    def run(name: str) -> None:
        try:
            sdf = catalog.QUERIES[name](spark, SF_DIR).toPandas()
            ddf = con.cursor().execute(catalog.ORACLES[name]).df()
            if len(sdf) == 0:
                results[name] = [f"{name}: empty result passes trivially"]
            else:
                results[name] = compare_frames(sdf, ddf)
        except Exception as e:  # noqa: BLE001 — re-raised per-entry
            results[name] = e

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(run, _TODO))
    # serial retry for concurrent-only transients (eager-checkpoint
    # entries under pool memory pressure)
    for name, v in list(results.items()):
        if isinstance(v, Exception):
            run(name)
    return results


@pytest.mark.parametrize("name", _TODO)
def test_unproven_entry_matches_oracle(reproof_results, name):
    r = reproof_results[name]
    if isinstance(r, Exception):
        raise AssertionError(f"{name}: compare crashed: {r!r}") from r
    assert not r, f"{name}: {r}"


def test_bloom_prefilter_empty_probe_matches_oracle_contract(spark, tmp_path):
    """r9 ADVICE: F.sum over zero rows is NULL, but the four-branch
    predecessor and the DuckDB oracle both return 0 counts and TRUE
    no_false_negatives on an empty probe set — the single-pass rewrite
    must coalesce to keep that contract (relational.py)."""
    sf = str(tmp_path)
    for t in ("orders", "lineitem"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(0).write.parquet(
            f"{sf}/{t}.parquet"
        )
    catalog.load_all()
    row = catalog.QUERIES["join_bloom_prefilter"](spark, sf).collect()
    assert len(row) == 1
    r = row[0].asDict()
    assert r == {
        "n_probe_keys": 0,
        "n_candidates": 0,
        "n_exact": 0,
        "n_false_pos": 0,
        "no_false_negatives": True,
    }


def test_viterbi_empty_and_single_day_inputs_emit_zero_rows(spark, tmp_path):
    """r9 review: with 0 days the fold init's element_at(a, 1) would
    throw under ANSI, and with 1 day sequence(2, 1) DESCENDS into
    out-of-range lookups. Both the retired crossJoin-round shape and
    the oracle emit 0 rows for those inputs; the size(a) >= 2 guard
    must reproduce that, not crash."""
    catalog.load_all()
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # pin the sample to ONE explicit calendar day (ts is TIMESTAMP_NTZ
    # in the plain-read view) — orderBy().limit(5) would only happen
    # to be single-day, and a regenerated fixture could break that
    first_day = src.agg(F.min(F.to_date("ts"))).collect()[0][0]
    one_day = src.filter(F.to_date("ts") == F.lit(first_day)).limit(5)
    for name, df in (("empty", src.limit(0)), ("oneday", one_day)):
        sf = str(tmp_path / name)
        df.write.parquet(f"{sf}/events.parquet")
        out = catalog.QUERIES["events_viterbi_burst"](spark, sf).collect()
        assert out == [], f"{name}: expected 0 rows, got {len(out)}"


def test_cdc_eight_char_doc_matches_oracle(spark, tmp_path):
    """r9 review: at len(text) == 8 the boundary-candidate range
    [2, len-7] = [2, 1] is empty in DuckDB (generate_series) but
    DESCENDING in Spark (sequence default step -1) — the >= 9 filter
    must keep the engines bit-identical on such docs."""
    catalog.load_all()
    texts = ["0a2b4c6d", "xyz", "exactly 8"[:8], "a" * 40]
    rows = [
        (i + 1, t, "en", "synthetic", len(t)) for i, t in enumerate(texts)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars int"
    ).write.parquet(f"{sf}/documents.parquet")
    sdf = catalog.QUERIES["docs_cdc_chunk_dedup"](spark, sf).toPandas()
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{sf}/documents.parquet/*.parquet'"
    )
    ddf = c.execute(catalog.ORACLES["docs_cdc_chunk_dedup"]).df()
    c.close()
    problems = compare_frames(sdf, ddf)
    assert not problems, problems
