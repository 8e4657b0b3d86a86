"""Benchmark harness: headline catalog queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query end-to-end (noop sink — full execution, no
driver collect) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Hygiene (per round-1, round-3 and round-10 ADVICE):
- every table referenced by a headline query is warmed (parquet footer,
  codegen, broadcast machinery) before timing starts;
- each query is run REPS times and the reported figure is the median;
- sub-second queries get extra reps (up to MAX_REPS): at 0.2-0.3 s a
  single scheduler hiccup is a ±30% swing, and r02→r03 showed exactly
  that noise drowning real regressions;
- the 1-5 s band gets extra reps too (up to MID_REPS — round-10 burned
  a day disproving six phantom >1.5x flags, all in this band), and ANY
  query whose samples spread more than NOISY_SPREAD around the median
  keeps sampling to MAX_REPS — a wide spread is the signature of
  ambient contention, and more samples are exactly what tightens the
  median against it;
- alongside each median the JSON carries the per-query MINIMUM
  (`queries_min`/`value_min`): timing noise on an otherwise-idle box is
  one-sided, so the min is the drift-robust statistic — when a round's
  medians all rise but the mins hold, the box moved, not the code
  (round-10's 1.21x headline was exactly that shape, reconstructed by
  hand from anchor reruns; now it is readable off the artifact).

Output contract (round-12, after BENCH_r11's `parsed: null`): the
driver records only the LAST ~2,000 chars of stdout, and the full
per-query JSON outgrew that budget once `queries_min` landed. The r12
optimization round's fix keeps the DRIVER CONTRACT intact: the final
stdout line still carries the full ``queries`` median dict (the driver
reads per-query numbers from it to measure core-count scaling) plus
the ``value_min`` total, and moves only the per-query minima
(``queries_min`` — the half whose addition caused the overflow) to a
local file (`bench_full.json` beside this script, committed per
round). At 50 headline queries the line is ~1.5 KB, inside the tail
with margin; test_bench_policy pins the budget against headline
growth. Spark's console progress bar is
suppressed (`spark.ui.showConsoleProgress=false`) so the tail isn't
carriage-return-polluted either.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from virapipe_spark import catalog
from virapipe_spark.session import session

#: Queries timed by the bench — the engine's headline workload. One per
#: operator family: scan, agg, join, window, k-mer, dedup, near-dup, ANN,
#: text stats, sessionize. Extend as operators land.
HEADLINE = [
    "q1_pricing_summary",
    "scan_project",
    "count_distinct",
    "join_inner_agg",
    "join_left_outer",
    "join_broadcast_dims",
    "window_topk_per_group",
    "group_having_band",
    "set_intersect",
    "orderby_limit",
    # round-2 operators: genomics + training-data extensions
    "kmer_count_band",
    "normalize_digital",
    "filter_avg_quality",
    "docs_exact_dedup",
    "docs_minhash_lsh",
    "docs_text_stats",
    "embed_knn_lsh",
    "embed_knn_ivf",
    "embed_knn_multiprobe",
    "docs_decontaminate",
    "sessionize_events",
    "window_tumbling",
    "window_sliding",
    "events_funnel",
    # round-3 operators
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "events_retention_cohort",
    "virapipe_chain",
    # round-4: the two operators Spark lacks primitives for — as-of join
    # (union + last-ignore-nulls window) and range join (time-bucket
    # equi-join); benched like the rest of the events family.
    "events_asof_join",
    "events_range_join",
    # round-4: the iterative-algorithm plan — 3 zero-shuffle broadcast
    # assignments + 2 (cid,pos)-bounded update shuffles.
    "embed_kmeans_lloyd",
    # round-5: the cross-document boilerplate signal (gram equi-join +
    # position dedup — the heaviest new text op) and the stream-stream
    # attribution join's batch twin.
    "docs_boilerplate_coverage",
    "events_stream_interval_join",
    # round-6: IVF-PQ with ADC shortlist + exact rerank — the compressed-
    # candidate ANN path (codes instead of raw vectors on the scan side).
    "embed_knn_pq",
    # round-6: the composed LLM-corpus build (quality gate -> exact dedup
    # -> decontaminate -> sequence packing) — the extension surface's
    # virapipe_chain counterpart.
    "llm_corpus_chain",
    # round-6: the two heaviest shapes of the completed 22-query TPC-H
    # sweep — q9 (LIKE-pruned dim broadcast into a 5-relation rollup)
    # and q21 (EXISTS/NOT-EXISTS double-correlation decorrelated to one
    # per-order aggregate + join-back).
    "q9_product_profit",
    "q21_waiting_orders",
    # round-6: the iterative Pregel shape (2 integer-exact rank rounds
    # over the co-purchase graph) and the vocabulary-first BPE counter.
    "graph_pagerank",
    "docs_bpe_pair_counts",
    # round-6 (cont.): exact AllPairs prefix-filter similarity join, the
    # frontier-only BFS shape, and the bloom-prefilter join funnel.
    "docs_setsim_prefix",
    "graph_bfs_hops",
    "join_bloom_prefilter",
    # round-6 (cont.): the spectral ABTT rerank (Gram + power iteration
    # + moment-corrected pairwise scoring) and the fused DQ audit pass.
    "embed_knn_abtt",
    "lineitem_dq_audit",
    # round-7: the C4-style exact-substring dedup (fingerprint shuffle +
    # semi-join + span-merge windows), the weekly t-digest quantile
    # rollup (the mergeable-sketch family's heaviest member), and the
    # sub-file BGZF split scan (member-index pass + chunked decode).
    "docs_substring_dedup",
    "events_tdigest_daily_merge",
    "bam_split_scan_roundtrip",
    # round-7 continuation (live once their staging generation flips —
    # phrase/sobel in r8, CDC chunking in r9; the `n in
    # catalog.QUERIES` filter below skips them until then):
    # the positional inverted-index phrase search (retrieval's index
    # path), the content-defined chunking dedup (position-explode +
    # chunk-hash — the storage-dedup shape), and the Sobel scatter
    # (the multimodal family's first bench member: codec decode +
    # relational convolution).
    "docs_phrase_search",
    "docs_cdc_chunk_dedup",
    "multimodal_sobel_energy",
]

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
#: 1-5 s queries get up to this many reps (see module docstring).
MID_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_MID_REPS", "7"))
#: Sub-second or noisy-spread queries get up to this many reps.
MAX_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "9"))
#: Keep sampling (to MAX_REPS) while (max-min)/median exceeds this.
NOISY_SPREAD = float(os.environ.get("SPARK_GRAFT_BENCH_NOISY_SPREAD", "0.3"))


def _needs_more(reps: list[float]) -> bool:
    """Escalation policy: REPS samples minimum for everyone; sub-second
    medians sample to MAX_REPS and 1-5 s medians to MID_REPS (relative
    hiccup impact scales inversely with runtime); any query whose
    spread exceeds NOISY_SPREAD keeps sampling to MAX_REPS."""
    if len(reps) < REPS:
        return True
    if len(reps) >= MAX_REPS:
        return False
    med = statistics.median(reps)
    if med < 1.0:
        return True
    if (max(reps) - min(reps)) > NOISY_SPREAD * med:
        return True
    return med < 5.0 and len(reps) < MID_REPS


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    catalog.load_all()
    spark = session(
        app_name="virapipe_bench",
        # keep the driver's stdout tail parseable: no \r-rewritten
        # progress bars interleaved with the final JSON line
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    names = [n for n in HEADLINE if n in catalog.QUERIES]

    # Warm-up: touch every driver table once (parquet footers + scan
    # codegen), then run the first headline query once to pay the
    # one-time whole-stage-codegen / broadcast-exchange warm-up.
    for t in catalog.TABLES:
        try:
            catalog.table(spark, sf_dir, t).limit(1).count()
        except Exception:
            pass  # table absent at this sf — queries using it will fail loudly
    if names:
        try:
            catalog.QUERIES[names[0]](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as e:  # noqa: BLE001
            # Warm-up failure must not abort the whole bench before any
            # timing is recorded — the timed loop reports the per-query
            # failure with context instead.
            print(f"warm-up of {names[0]} failed: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    for name in names:
        reps: list[float] = []
        try:
            while _needs_more(reps):
                t0 = time.perf_counter()
                df = catalog.QUERIES[name](spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                reps.append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001
            print(f"query {name} failed: {e}", file=sys.stderr)
            continue
        timings[name] = round(statistics.median(reps), 3)
        minima[name] = round(min(reps), 3)

    print(emit(timings, minima, sf))
    spark.stop()


def emit(
    timings: dict[str, float],
    minima: dict[str, float],
    sf: float | None,
    detail_path: str | None = None,
) -> str:
    """Write the full per-query JSON to ``bench_full_c{cpus}.json`` and
    return the compact summary line (the caller prints it LAST).
    Factored out so the tail-budget contract is unit-testable
    (test_bench_policy).

    r13 (VERDICT_r12 "What's wrong" #3): the detail file is named by
    the run's core count — the driver re-runs the bench at a lower
    core count minutes after the main run, and a single shared
    ``bench_full.json`` meant the c8 re-run CLOBBERED the 32-core
    per-query minima (BENCH_r12's are unrecoverable). The stdout-line
    contract is unchanged; only the side-channel filename varies."""
    total = round(sum(timings.values()), 3)
    total_min = round(sum(minima.values()), 3)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        # drift diagnostics (see module docstring): medians move
        # with the box, minima move with the code.
        "value_min": total_min,
        "queries_min": minima,
    }
    if detail_path is None:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"bench_full_c{cpus}.json",
        )
    try:
        # atomic tmp+rename: a concurrent reader (or a mid-write crash)
        # never sees truncated JSON in the committed shared path
        tmp = detail_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
        os.replace(tmp, detail_path)
    except OSError as e:
        # the stdout contract survives a failed detail write (disk
        # full, read-only checkout): a bench run's minutes of timings
        # must never be lost to the side channel (r12 review finding)
        print(f"bench detail write to {detail_path} failed: {e}", file=sys.stderr)
    # the final stdout line is what the driver parses: it MUST carry the
    # per-query median dict (driver contract — per-query numbers feed the
    # core-count scaling measurement) and must fit (with margin) in the
    # driver's ~2,000-char stdout tail. queries_min lives in the detail
    # file only; it is what overflowed BENCH_r11.
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "value_min": total_min,
            "detail": os.path.basename(detail_path),
        }
    )


if __name__ == "__main__":
    main()
