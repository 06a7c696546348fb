"""Query-inventory benchmark: runs the headline queries on the sf0.1
fixtures (or the directory in $SPARK_GRAFT_SF_DIR) and prints ONE JSON line
on stdout. The ER pipeline has its own benchmark, erbench
(``BENCHMARK.json``, ``erbench/run.py``).

OUTPUT CONTRACT (r7): the driver captures only the LAST ~2000 characters of
stdout — r6's single line outgrew that window and the committed artifact
lost its own headline number (BENCH_r06.json: "parsed": null). So stdout is
now a COMPACT payload (headline per-query dict + totals + the probe
timings, guarded to stay under the capture window), and the FULL payload
(every timed query, notes, regressions) is written
to BENCH_FULL_LATEST.json next to this file. tools/bench_diff.py follows
the compact payload's "full" pointer automatically.

Each query is executed three times; the best timing is reported, since the
first runs pay one-off JVM/codegen costs that a long-lived cluster amortizes
(and local[32] timings are load-noisy at the sub-second scale).
Timing forces full materialization via a count on a cheap projection
(df.toPandas would add driver transfer that a real pipeline writes to
parquet instead).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q_top_customers",
    "q14_promo_revenue",
    "q18_large_orders",
    "q_events_sessionize",
    "q_events_asof_attribution",
    "q_events_error_click_band",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "ann_topk_cosine",
]

# r4: remaining dedup/text/ANN families — timed and reported per-query, but
# kept OUT of the headline total so round-over-round totals stay comparable
# with r1-r3 (their own baseline starts this round).
EXTENDED_QUERIES = [
    "dedup_simhash",
    "dedup_bottomk_jaccard",
    "ann_lsh_bucketed",
    "ann_ivf_untrained_baseline",
    "text_gopher_rules",
    "text_repetition",
]

# Deliberately removed/renamed query names, with the reason — the ONLY names
# bench_diff waives when they disappear from a new run. Anything else
# missing is a gate failure (an accidental drop — e.g. a typo silently
# filtered by the REGISTRY membership check — must not pass as retirement).
RETIRED_QUERIES = {
    "dedup_embedding_cosine": (
        "r6: fixed-width LSH demo retired; dedup_embedding_cosine_scaled "
        "supersedes it"
    ),
    "ann_ivf": (
        "r7: renamed ann_ivf_untrained_baseline — the trained quantizer "
        "(ann_ivf_trained) is the canonical IVF entry"
    ),
    "q_inventory_checksum": (
        "r15: renamed q_inventory_checksum_a — the shard membership was "
        "rebalanced by measured per-entry cost (the r14 registration-order "
        "split read 23.4s vs 7.9s), and a membership change means the "
        "digest means something different, so the slot name versions "
        "(r14 ADVICE); both slots now carry an in-band _shard_spec marker "
        "row so future membership changes flip the hash gate visibly"
    ),
}

# r6: queries added that round (trained-IVF gate, packing invariant gate,
# BPE-style token counting, end-to-end corpus-prep composition).
R6_QUERIES = [
    "ann_ivf_trained",
    "text_pack_shard_totals",
    "text_token_count_bpe",
    "pipeline_corpus_prep",
    "text_pii_redact",
    "q_docs_top_quality_per_lang",
    "q_events_bucket_rollup",
    "q_events_value_quantiles",
]

# r8: queries added this round (LSH recall contract gate; corpus-internal
# boilerplate detection).
R8_QUERIES = [
    "ann_lsh_recall",
    "text_boilerplate_grams",
    "q_docs_lang_rebalance",
    "text_vocab_topk",
    "vector_random_projection",
]

# r9: queries added this round (incremental cross-snapshot dedup, bigram-LM
# quality scoring, exact-k per-source caps).
R9_QUERIES = [
    "dedup_incremental_minhash",
    "text_lm_bigram_nll",
    "q_docs_source_cap",
]

# r10: queries added this round (paragraph-level exact dedup, repeated-
# substring removal, token-budget mixing, perceptual-hash image dedup,
# crawl-delta extraction, deterministic training order, SemDeDup-style
# semantic dedup, nearest-centroid classifier filtering, corpus-level
# quality-quantile gating, source-level domain filtering, mixture/epoch
# recipe, tf-idf keyword extraction, embedding outlier filtering).
R10_QUERIES = [
    "dedup_paragraphs",
    "text_strip_boilerplate",
    "text_dedup_repeated_ngrams",
    "q_docs_token_budget_mix",
    "multimodal_phash_dedup",
    "q_docs_snapshot_diff",
    "q_docs_training_order",
    "dedup_semantic",
    "vector_centroid_classifier",
    "q_docs_quality_quantile_gate",
    "q_docs_domain_filter",
    "q_docs_mixture_recipe",
    "text_tfidf_topk",
    "vector_outlier_filter",
]

# r11: the 25-query round-11 family — TPC-H correlated-subquery shapes
# (Q7/Q10/Q15/Q17/Q21/Q22 + RANGE-frame moving revenue), events analytics
# (funnel/retention/gap-fill/anomaly/RFM), and the pipeline/curation
# additions (maximal spans, classifier holdout, URL dedup, alpha mixture,
# drift, bloom + semantic decontamination, CCNet buckets, Neyman/CUBE,
# quality-weighted sampling, source overlap, dedup bias audit).
R11_QUERIES = [
    "text_strip_maximal_spans",
    "vector_classifier_holdout",
    "dedup_url_canonical",
    "q_docs_alpha_mixture",
    "q_docs_snapshot_drift",
    "text_bloom_decontaminate",
    "q_events_funnel",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q21_blamed_supplier",
    "q22_dormant_accounts",
    "q7_nation_volume",
    "q_orders_moving_revenue",
    "q_events_retention",
    "q_docs_neyman_allocation",
    "q_docs_inventory_cube",
    "vector_semantic_decontaminate",
    "q_events_gap_fill",
    "q_events_hourly_anomaly",
    "q_docs_ccnet_bucket",
    "q_docs_source_overlap",
    "q_docs_quality_weighted_sample",
    "q10_returned_items",
    "q_docs_dedup_bias_audit",
    "q_events_rfm",
]

# r12: the six shapes completing the classic TPC-H set (Q2/Q8/Q9/Q11/Q12/
# Q20, adapted where the fixtures lack partsupp/shipmode — see each
# docstring).
R12_QUERIES = [
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q12_priority_shipping",
    "q20_dominant_suppliers",
    "text_strip_gapped_spans",
    "q_events_transition_matrix",
    "q_events_engagement_gini",
    "text_cdc_chunks",
]

# r14: the no-anchor span closer (VERDICT r13 task 4).
R14_QUERIES = [
    "text_strip_ladder_spans",
]

# r15: the past-the-ubiquity-cap template closer (VERDICT r14 task 5 —
# LADDER_RESIDUAL_r15.json measured the class at miss=1.00).
R15_QUERIES = [
    "text_strip_template_spans",
]

# r16 (optimization round): the near-dup hand-off gate entry added by the
# interrupted r16 build round was registered but never timed — added here
# so the k=64/t=0.3 configuration's cost is tracked like its 0.99 twin.
R16_QUERIES = [
    "dedup_neardup_handoff",
]

# Gate infrastructure (NOT pipeline queries): timed and reported as
# gate_overhead_sec, excluded from every query total (VERDICT r7 task 4 —
# q_inventory_checksum re-times 21 queries already timed individually;
# folding it into a query total double-counts verification as work).
GATE_QUERIES = [
    "q_inventory_checksum_a",
    "q_inventory_checksum_b",
]

# Explicit baseline re-bases (VERDICT r7 task 3 / next-round #2): the named
# query's round-over-round comparison point is pinned here instead of the
# newest committed payload. Used when the committed history's number was
# measured under a retired methodology (e.g. the r5 warm-cache "best" that
# kept flagging the same honest-cold queries two rounds running). The map
# is recorded in the payload (``rebased_baselines``) so the artifact shows
# the comparison point it was judged against.
REBASED_BASELINES: dict[str, dict] = {
    "dedup_bottomk_jaccard": {
        "baseline": 1.918,
        "as_of": "r7",
        "reason": (
            "r5's 0.679s best reused a persisted sketch across reps (warm); "
            "honest-cold r7 sweep median is the comparable point (isolated "
            "re-time that round: 2.235s)"
        ),
    },
    "dedup_survivors": {
        "baseline": 4.003,
        "as_of": "r7",
        "reason": (
            "r5's 2.257s best reused cached components across reps (warm); "
            "honest-cold r7 sweep median is the comparable point (isolated "
            "re-time that round: 4.616s)"
        ),
    },
}

# r5: queries added (or first benched) that round — their own total, their
# own baseline; "combined_total" (headline + extended) is the one number
# comparable with r4 (8.796 + 11.917 = 20.713s).
R5_QUERIES = [
    "dedup_embedding_cosine_scaled",
    "dedup_components",
    "dedup_survivors",
    "q_events_value_quantiles_approx",
    "q_events_user_distinct_approx",
    "sketch_count_min",
    "hybrid_search",
    "text_decontaminate",
    "q_docs_sample_split",
    "text_chunk_windows",
    "text_pack_sequences",
    "q_events_json_props",
    "multimodal_resize_stats",
]

def _active_rebased_baselines() -> dict[str, dict]:
    """REBASED_BASELINES minus expired pins (ADVICE r8): a pin applies only
    while the newest committed payload predates-or-equals its ``as_of``
    round — once a post-rebase payload exists, THAT payload was measured
    under the honest-cold methodology and becomes the normal comparison
    point, so a gradual regression can no longer hide behind the static
    pin. Both the payload's ``rebased_baselines`` key (what bench_diff
    waives against) and _diff_vs_last_round read this, never the raw
    constant."""
    history = _payload_history()
    if not history:
        return dict(REBASED_BASELINES)
    prev_round = history[0][0]
    return {
        n: m
        for n, m in REBASED_BASELINES.items()
        if prev_round <= int(m["as_of"].lstrip("r"))
    }


FULL_PAYLOAD_FILE = "BENCH_FULL_LATEST.json"
# the driver's stdout tail capture is ~2000 chars (measured: BENCH_r05/r06
# both carry exactly 2000); stay well inside it
COMPACT_LINE_BUDGET = 1800


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from dblink_spark.queries import REGISTRY
    from dblink_spark.session import get_spark

    spark = get_spark("dblink_spark_bench")
    spark.sparkContext.setLogLevel("WARN")

    all_names = (
        BENCH_QUERIES + EXTENDED_QUERIES + R5_QUERIES + R6_QUERIES
        + R8_QUERIES + R9_QUERIES + R10_QUERIES + R11_QUERIES
        + R12_QUERIES + R14_QUERIES + R15_QUERIES + R16_QUERIES
        + GATE_QUERIES
    )
    unknown = [n for n in all_names if n not in REGISTRY]
    if unknown:
        # a typo here must fail loudly, never silently shrink the bench set
        # (ADVICE r6: missing-from-run used to be indistinguishable from a
        # deliberate retirement)
        raise SystemExit(f"bench names not in REGISTRY: {unknown}")
    canary_start = _canary(spark, warm=True)
    timings: dict[str, float] = {}
    for name in all_names:
        timings[name], n = _time_query(spark, sf_dir, name)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings[n] for n in BENCH_QUERIES), 3),
        "unit": "sec",
        "queries": timings,
        "extended_total": round(sum(timings[n] for n in EXTENDED_QUERIES), 3),
        "r5_total": round(sum(timings[n] for n in R5_QUERIES), 3),
        "r6_total": round(sum(timings[n] for n in R6_QUERIES), 3),
        "r8_total": round(sum(timings[n] for n in R8_QUERIES), 3),
        "r9_total": round(sum(timings[n] for n in R9_QUERIES), 3),
        "r10_total": round(sum(timings[n] for n in R10_QUERIES), 3),
        "r11_total": round(sum(timings[n] for n in R11_QUERIES), 3),
        "r12_total": round(sum(timings[n] for n in R12_QUERIES), 3),
        "r14_total": round(sum(timings[n] for n in R14_QUERIES), 3),
        "r15_total": round(sum(timings[n] for n in R15_QUERIES), 3),
        "r16_total": round(sum(timings[n] for n in R16_QUERIES), 3),
        "gate_overhead_sec": round(sum(timings[n] for n in GATE_QUERIES), 3),
        "canary_start_sec": canary_start,
        "rebased_baselines": {
            n: m["baseline"] for n, m in _active_rebased_baselines().items()
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    out["combined_total"] = round(out["value"] + out["extended_total"], 3)
    out["notes"] = [
        "r7: stdout is the COMPACT payload (driver tail capture is ~2000 "
        "chars; r6's full line overflowed it and lost the headline) — the "
        "full payload incl. every timed query lives in BENCH_FULL_LATEST.json",
        "r8: constant-work canary timed at sweep start and end "
        "(canary_start_sec / canary_end_sec) — the r7 judge measured 2.2x "
        "same-code host drift between sessions; read cross-round absolutes "
        "as ratios against the canary, not as bare numbers",
        "r8: q_inventory_checksum reported as gate_overhead_sec, excluded "
        "from all query totals (it re-times 21 queries already timed "
        "individually); dedup_bottomk_jaccard / dedup_survivors baselines "
        "re-based to honest-cold r7 medians (rebased_baselines key)",
        "r13: gate_overhead_sec bound (VERDICT r12 task 8): the checksum "
        "re-times every tail entry once at sf0.1, so overhead grows "
        "~linearly with rotation at the tail's mean per-query cost "
        "(observed ~0.45-0.5s/entry; 79 entries ~ 38s). Budget rule: if "
        "a rotation pushes it past 60s, shard q_inventory_checksum into "
        "two digest slots (same coverage, half the per-slot re-time) — "
        "the digest SQL is already a UNION ALL over per-query digests, "
        "so the split is mechanical",
        "r13: dedup_minhash_lsh isolated re-time (VERDICT r12 task 5): "
        "warm median 1.202s raw / 1.006s canary-normalized over 5 reps in "
        "an isolated session — the ~2x vs r1's 0.453s is REAL and is the "
        "exact-Jaccard verify stage + hot-bucket occupancy caps r1 lacked "
        "(bought correctness: r1 emitted unverified band-collision pairs); "
        "plan re-read this round, no redundant exchange to recover",
    ]
    try:
        out.update(pair_table_amortization(spark, sf_dir))
    except Exception as e:
        print(f"# pair-table amortization probe skipped: {e}", file=sys.stderr)
    try:
        out.update(streaming_pipeline_probe(spark, sf_dir))
    except Exception as e:
        print(f"# streaming probe skipped: {e}", file=sys.stderr)
    out["canary_end_sec"] = _canary(spark)
    out["canary_drift"] = round(out["canary_end_sec"] / canary_start, 2)
    canary_mean = (canary_start + out["canary_end_sec"]) / 2
    out["canary_mean_sec"] = round(canary_mean, 3)
    out["canary_ref_sec"] = CANARY_REF_SEC
    out["canary_ref_source"] = CANARY_REF_SOURCE
    # Executable drift cap (VERDICT r14 task 4): when the run's own canary
    # exceeds DEGRADED_CANARY_FACTOR x the idle-host reference, the
    # methodology notes already say raw numbers are unreadable (r14's
    # committed local artifact ran at x1.69 and needed a hand re-time to
    # adjudicate) — so the payload now CARRIES the verdict: degraded_host
    # rides in both the full and compact payloads, and the committed-
    # artifact rule is "re-run on a quieter host before committing a
    # BENCH_LOCAL_r*.json that is stamped degraded".
    if canary_mean > DEGRADED_CANARY_FACTOR * CANARY_REF_SEC:
        out["degraded_host"] = True
        print(
            f"# DEGRADED HOST: canary mean {canary_mean:.3f}s > "
            f"{DEGRADED_CANARY_FACTOR}x ref {CANARY_REF_SEC}s — raw "
            "timings in this payload are not readable cross-round; re-run "
            "isolated on a quiet host before committing it as a "
            "BENCH_LOCAL artifact", file=sys.stderr,
        )
    # load-corrected headline: what this sweep's total reads as at the
    # reference (idle-host) canary speed; bench_diff compares THIS when
    # both payloads carry it (raw value stays the primary metric key)
    out["value_canary_norm"] = round(
        out["value"] * CANARY_REF_SEC / canary_mean, 3
    )
    print(
        f"# canary: start {canary_start:.2f}s end {out['canary_end_sec']:.2f}s "
        f"(drift x{out['canary_drift']:.2f}) — divide probe times by the "
        f"nearer canary before cross-round comparison", file=sys.stderr,
    )
    _diff_vs_last_round(out, spark, sf_dir)

    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, FULL_PAYLOAD_FILE)
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"# full payload -> {full_path}", file=sys.stderr)
    print(json.dumps(_compact(out, timings)))


# sized so the probe runs ~2s on an idle local[32] host: long enough to be
# far above the scheduler-jitter noise floor, short enough to run twice per
# sweep without moving the sweep's own duration
_CANARY_ROWS = 8_000_000_000

#: Reference canary time: the r8 clean isolated run's mean canary
#: (BENCH_LOCAL_r08.json: start 1.549s / end 1.421s -> 1.485s), i.e. "this
#: host, idle". ``value_canary_norm`` = headline x (REF / this run's canary
#: mean) — the load-corrected headline (VERDICT r8 task 5: the committed r8
#: sweep's 7.93s normalized to ~6.3s against the clean run's 6.56s; the 2x
#: gate and bench_diff should compare load-free numbers). The raw value is
#: always retained alongside.
CANARY_REF_SEC = 1.485

#: Drift cap for committed artifacts (VERDICT r14 task 4): a sweep whose
#: mean canary exceeds this multiple of CANARY_REF_SEC is stamped
#: ``degraded_host: true`` in both payloads — the in-code form of the
#: methodology note that raw numbers measured under that much host load
#: are unreadable (r14's local artifact carried drift x1.69 and its raw
#: headline misread by ~+15% vs the quiet-host truth).
DEGRADED_CANARY_FACTOR = 1.2

#: Where CANARY_REF_SEC came from (ADVICE r9: the constant is host-specific
#: — value_canary_norm's ABSOLUTE numbers are only meaningful on that host;
#: cross-round ratios are fine anywhere since REF cancels). Recorded in the
#: payload so a payload measured elsewhere is self-describing.
CANARY_REF_SOURCE = (
    "BENCH_LOCAL_r08.json clean isolated run on the round-8 judge container "
    "(local[32]); absolutes are host-specific, cross-round ratios portable"
)


def _canary(spark, warm: bool = False) -> float:
    """Constant-work host-load probe: one narrow aggregation over
    ``spark.range`` — no IO, no Python, one partial-agg exchange. The SAME
    work every round, so any cross-round/cross-session timing comparison
    can be read as a ratio against it (the r7 judge measured 2.2x host
    drift between same-day sessions with identical code; absolutes on a
    shared local[32] host are weather). ``warm=True`` pays the one-off
    codegen/JVM warmup before the measured run (sweep-start call only)."""
    from pyspark.sql import functions as F

    def _run() -> float:
        t0 = time.time()
        # mod BEFORE multiply and again before the sum: keeps every
        # intermediate far inside int64 under ANSI mode at any row count
        spark.range(_CANARY_ROWS, numPartitions=32).select(
            F.sum(((F.col("id") % 1000003) * 2654435) % 7919).alias("s")
        ).collect()
        return time.time() - t0

    if warm:
        _run()
    return round(_run(), 3)


def _compact(out: dict, timings: dict[str, float]) -> dict:
    """The stdout payload: headline queries + totals + probe medians, with a
    pointer to the full file. Hard-guarded under COMPACT_LINE_BUDGET — if a
    future key addition overflows, secondary probe keys are dropped
    front-first from ``droppable`` (least-load-bearing first) rather than
    truncating the line mid-JSON again; if that still isn't enough, the
    per-query dict goes (totals + the full-file pointer survive)."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "queries": {n: timings[n] for n in BENCH_QUERIES},
        "extended_total": out["extended_total"],
        "r5_total": out["r5_total"],
        "r6_total": out["r6_total"],
        "r8_total": out["r8_total"],
        "r9_total": out["r9_total"],
        "r10_total": out["r10_total"],
        "r11_total": out["r11_total"],
        "gate_overhead_sec": out["gate_overhead_sec"],
        "combined_total": out["combined_total"],
        "n_queries_timed": len(timings),
        "full": FULL_PAYLOAD_FILE,
    }
    for k in (
        "canary_start_sec", "canary_end_sec", "canary_drift",
        "canary_mean_sec", "value_canary_norm", "degraded_host",
    ):
        if k in out:
            compact[k] = out[k]
    for k in (
        "pairtable_build_save_sec",
        "pairtable_consumers_total_sec",
        "compstable_consumers_total_sec",
        # r17 (VERDICT r16 task 6): the streaming family's bench surface
        "streaming_sessionize_sec",
        "streaming_neardup_sec",
    ):
        if k in out:
            compact[k] = out[k]
    # drop priority: first entry goes first (ADVICE r7: .pop() from the end
    # made the actual order the reverse of the documented one)
    droppable = [
        # r17: the streaming probe's trend lives in the full payload
        "streaming_neardup_sec",
        "streaming_sessionize_sec",
        "compstable_consumers_total_sec",
        "pairtable_build_save_sec",
        "pairtable_consumers_total_sec",
    ]
    while len(json.dumps(compact)) > COMPACT_LINE_BUDGET and droppable:
        compact.pop(droppable.pop(0), None)
    if len(json.dumps(compact)) > COMPACT_LINE_BUDGET:
        # last resort (ADVICE r7: never emit an over-budget line — that is
        # exactly the silent tail-truncation failure this payload exists to
        # fix): sacrifice the per-query dict, keep totals + the full pointer
        compact["queries"] = {}
        compact["queries_dropped"] = "over_line_budget_see_full"
        print(
            "# WARNING: compact payload over budget even after probe-key "
            "drops; per-query dict moved to the full file only",
            file=sys.stderr,
        )
    return compact


def _time_query(spark, sf_dir: str, name: str, reps: int = 3):
    """Best-of-``reps`` wall time for one registered query + its row count.
    Persisted intermediates are released between reps (caller-owns-cache
    contract via the `materialized` scope) so repeated invocations in this
    long-lived session don't accumulate cache entries."""
    from dblink_spark.queries import REGISTRY, materialized

    fn = REGISTRY[name].fn
    best, n = None, 0
    for _ in range(reps):
        t0 = time.time()
        with materialized(fn(spark, sf_dir)) as df:
            n = df.count()
            dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3), n


def _payload_history() -> list[tuple[int, dict, str]]:
    """Usable bench payloads as (round, payload, filename), newest first.
    Prefers the committed full local artifact (BENCH_LOCAL_r{N}.json, raw
    payload) over the driver's tail-parsed BENCH_r{N}.json — r6's driver
    artifact carries "parsed": null (truncated tail) and is unusable. The
    filename rides along so regression labels can NAME the comparison
    payload (VERDICT r8 "wrong" #3: "vs r8" read as cross-round when the
    baseline was the intra-round BENCH_LOCAL_r08)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    by_round: dict[int, tuple[dict, str]] = {}
    for pattern, wrapped in (("BENCH_r*.json", True), ("BENCH_LOCAL_r*.json", False)):
        for path in glob.glob(os.path.join(here, pattern)):
            m = re.fullmatch(
                r"BENCH(?:_LOCAL)?_r(\d+)\.json", os.path.basename(path)
            )
            if not m:
                continue
            try:
                with open(path) as f:
                    data = json.load(f)
            except Exception:
                continue
            payload = data.get("parsed") if wrapped else data
            if isinstance(payload, dict) and "queries" in payload:
                # local full artifacts overwrite driver tails (same loop
                # order: BENCH_r* first, BENCH_LOCAL_r* second)
                by_round[int(m.group(1))] = (payload, os.path.basename(path))
    return sorted(
        ((r, p, f) for r, (p, f) in by_round.items()), key=lambda t: -t[0]
    )


def _diff_vs_last_round(out: dict, spark=None, sf_dir: str | None = None) -> None:
    """Surface round-over-round query regressions mechanically: compare this
    run against the newest usable committed payload (stderr only — stdout
    stays one JSON line; tools/bench_diff.py is the exit-code gate).

    Each flagged query is immediately RE-TIMED in isolation (best-of-3, same
    process, after the full sweep) and lands in the payload as
    ``regressions: [{query, prev, sweep, isolated}]`` — a noise flag carries
    its own adjudicating evidence.

    ``queries_retired`` is derived ONLY from the explicit RETIRED_QUERIES
    constant (ADVICE r6): an accidental drop lands in ``queries_missing``
    and fails the bench_diff gate.

    ``baseline_warm_cache`` (the r5→r6 warm-vs-cold comparability flag) is
    only set when the isolated re-time is ALSO within threshold of the
    newest honest-cold baseline for that query — a genuine regression
    confirmed by the isolated re-time is never waived (ADVICE r6)."""
    history = _payload_history()
    if not history:
        return
    prev_round, prev, prev_file = history[0]
    try:
        from tools.bench_diff import NOISE_FLOOR_SEC

        # queries whose r5-and-earlier "best" reused a persisted
        # intermediate across reps (warm baselines, cold from r6 on)
        warm_baseline = {
            "dedup_minhash_lsh", "dedup_simhash", "dedup_bottomk_jaccard",
            "pairwise_metrics", "dedup_components", "dedup_survivors",
        }
        prev_is_cold = any("honest-cold" in n for n in prev.get("notes", []))

        def _cold_ref(name: str) -> float | None:
            """Newest committed time for ``name`` measured under the
            honest-cold methodology (notes carry the marker from r6 on)."""
            for _, payload, _fname in history:
                notes = payload.get("notes", [])
                cold = any(
                    "honest-cold" in n or "COMPACT payload" in n for n in notes
                )
                if cold and name in payload.get("queries", {}):
                    return payload["queries"][name]
            return None

        flagged = []
        prev_queries = prev.get("queries", {})
        active_pins = _active_rebased_baselines()
        for name, t_new in out["queries"].items():
            rebase = active_pins.get(name)
            if rebase is not None:
                # explicit re-base (VERDICT r7): compare against the pinned
                # honest-cold number, not whatever methodology the newest
                # committed payload happened to use
                t_old = rebase["baseline"]
            else:
                t_old = prev_queries.get(name)
            if t_old and t_new > 1.5 * t_old and t_new > NOISE_FLOOR_SEC:
                entry = {"query": name, "prev": t_old, "sweep": t_new}
                if rebase is not None:
                    entry["rebased_baseline_as_of"] = rebase["as_of"]
                if spark is not None and sf_dir is not None:
                    entry["isolated"], _ = _time_query(spark, sf_dir, name)
                if name in warm_baseline and not prev_is_cold and rebase is None:
                    cold = _cold_ref(name)
                    isolated = entry.get("isolated", t_new)
                    if cold is None or isolated <= 1.5 * cold:
                        entry["baseline_warm_cache"] = True
                    else:
                        entry["cold_baseline"] = cold
                flagged.append(entry)
        missing = sorted(set(prev_queries) - set(out["queries"]))
        retired = [m for m in missing if m in RETIRED_QUERIES]
        dropped = [m for m in missing if m not in RETIRED_QUERIES]
        # name the FILE, not just the round (VERDICT r8 "wrong" #3: "vs r8"
        # labeled an intra-round BENCH_LOCAL_r08 comparison as cross-round)
        base = prev_file
        out["diff_baseline_file"] = prev_file
        if flagged or missing:
            out["regressions"] = flagged
            if retired:
                out["queries_retired"] = retired
            if dropped:
                out["queries_missing"] = dropped
            msgs = [
                f"{e['query']}: {e['prev']:.3f}s -> {e['sweep']:.3f}s"
                + (f" (isolated {e['isolated']:.3f}s)" if "isolated" in e else "")
                for e in flagged
            ] + [f"{m}: MISSING from this run (not in RETIRED_QUERIES)" for m in dropped]
            if msgs:
                print(f"# REGRESSION vs {base}: " + "; ".join(msgs), file=sys.stderr)
            if retired:
                print(f"# retired vs {base}: {retired}", file=sys.stderr)
        else:
            print(f"# no query regressions vs {base} (1.5x gate)", file=sys.stderr)
    except Exception as e:  # diagnostic only — never break the bench line
        print(f"# bench diff skipped: {e}", file=sys.stderr)


def pair_table_amortization(spark, sf_dir: str) -> dict:
    """VERDICT r12 task 2 / missing #1: MEASURE the shared-pairs seam.

    The gate entries `dedup_components` / `dedup_survivors` /
    `q_docs_dedup_bias_audit` each rebuild the same verified pair
    relation in-session (~4.6-5.0s each at sf0.1 — deliberately, every
    gate entry is a self-contained (spark, sf_dir) -> frame program).
    A production snapshot builds the pair table ONCE, persists it
    (`sources.dedup_index.save_pair_table`), and runs every consumer
    off the parquet scan. This probe times exactly that: one
    build+save, then each consumer against the loaded table — the
    "second consumer ~free" claim as numbers in the payload, next to
    the sweep's self-contained timings for the same three queries."""
    import shutil
    import tempfile

    from dblink_spark.queries import REGISTRY, release_caches
    from dblink_spark.queries.dedup import bottomk_sketch_pairs, load
    from dblink_spark.sources.dedup_index import (
        load_pair_table,
        save_pair_table,
    )

    tmp = tempfile.mkdtemp(prefix="bench_pairtable_")
    out: dict = {}
    try:
        t0 = time.time()
        pairs = bottomk_sketch_pairs(
            load(spark, sf_dir, "documents"), k=8, threshold=0.99
        )
        save_pair_table(pairs, tmp)
        release_caches(pairs)
        out["pairtable_build_save_sec"] = round(time.time() - t0, 3)
        shared = load_pair_table(spark, tmp)
        total = 0.0
        for name in (
            "dedup_components", "dedup_survivors", "q_docs_dedup_bias_audit"
        ):
            t0 = time.time()
            REGISTRY[name].fn(spark, sf_dir, pairs=shared).count()
            dt = round(time.time() - t0, 3)
            out[f"pairtable_{name}_sec"] = dt
            total += dt
        out["pairtable_consumers_total_sec"] = round(total, 3)
        # second tier (r13): persist the CLOSURE too — survivors + audit
        # off the loaded comps table should now cost only their own
        # aggregation/join work
        from dblink_spark.operators.components import connected_components
        from dblink_spark.sources.dedup_index import (
            load_comps_table, save_comps_table,
        )

        ctmp = tempfile.mkdtemp(prefix="bench_compstable_")
        try:
            t0 = time.time()
            save_comps_table(
                connected_components(shared, "doc1", "doc2"), ctmp
            )
            out["compstable_build_save_sec"] = round(time.time() - t0, 3)
            comps = load_comps_table(spark, ctmp)
            ctotal = 0.0
            for name in ("dedup_survivors", "q_docs_dedup_bias_audit"):
                t0 = time.time()
                REGISTRY[name].fn(spark, sf_dir, comps=comps).count()
                dt = round(time.time() - t0, 3)
                out[f"compstable_{name}_sec"] = dt
                ctotal += dt
            out["compstable_consumers_total_sec"] = round(ctotal, 3)
            print(
                f"# compstable: closure build+save "
                f"{out['compstable_build_save_sec']}s, 2 consumers off the "
                f"shared closure {ctotal:.3f}s total", file=sys.stderr,
            )
        finally:
            shutil.rmtree(ctmp, ignore_errors=True)
        out["pairtable_note"] = (
            "one persisted pair build feeds all three closure consumers "
            "(pairtable_*), and one persisted CLOSURE feeds the two "
            "component consumers (compstable_* — r13, the second tier); "
            "compare against the same queries' self-contained sweep "
            "timings (which rebuild everything per entry by design). "
            "pairtable deltas = the amortized pair build; compstable "
            "deltas additionally amortize the large-star/small-star "
            "rounds, leaving only each consumer's own aggregation/join "
            "work"
        )
        print(
            f"# pairtable: build+save {out['pairtable_build_save_sec']}s, "
            f"3 consumers off the shared table {total:.3f}s total",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def streaming_pipeline_probe(spark, sf_dir: str) -> dict:
    """r17 (VERDICT r16 task 6): the streaming family gets a bench
    surface. Two timed drains of the sf fixtures through the flagship
    stateful paths with ``trigger(availableNow)`` (process everything,
    then stop) into a memory sink, best of 2 per path:

    - ``streaming_sessionize_sec``: the events fixture through
      `read_event_stream` + `sessionize_stream` (session_window state).
    - ``streaming_neardup_sec``: the documents fixture through
      `near_dedup_doc_stream_banded` (2 chained
      dropDuplicatesWithinWatermark stages over row-local MinHash band
      keys — the stream twin of the batch LSH).

    These are WALL seconds for a full availableNow drain (source listing +
    state store + sink), not per-row throughput; the value is the
    round-over-round trend, which the streaming family previously had no
    measurement for. stream==batch parity stays pinned in
    tests/test_streaming*.py — this probe only times."""
    import shutil
    import tempfile

    from dblink_spark.streaming.events import (
        near_dedup_doc_stream_banded,
        read_event_stream,
        run_to_memory_sink,
        sessionize_stream,
    )

    # the stream reads the fixture's own schema, so a fixture change fails
    # here loudly instead of diverging from a hard-coded copy
    docs_schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    # the file stream source requires a DIRECTORY; the fixtures are single
    # read-only files, so stage each behind a symlink in a temp dir (the
    # local filesystem lists through symlinks; no bytes are copied)
    stage = tempfile.mkdtemp(prefix="bench_stream_src_")
    try:
        for table in ("events", "documents"):
            d = os.path.join(stage, table)
            os.makedirs(d, exist_ok=True)
            os.symlink(
                os.path.join(sf_dir, f"{table}.parquet"),
                os.path.join(d, "part-000.parquet"),
            )

        best_sess = float("inf")
        best_near = float("inf")
        n_sess = n_near = 0
        for rep in range(2):
            spark.sparkContext.setJobDescription("bench: streaming sessionize")
            table = f"bench_stream_sessions_{rep}"
            t0 = time.monotonic()
            run_to_memory_sink(
                sessionize_stream(
                    read_event_stream(spark, os.path.join(stage, "events"))
                ),
                table,
            )
            best_sess = min(best_sess, time.monotonic() - t0)
            n_sess = spark.table(table).count()
            spark.catalog.dropTempView(table)

            spark.sparkContext.setJobDescription("bench: streaming near-dedup")
            docs = (
                spark.readStream.schema(docs_schema)
                .format("parquet")
                .load(os.path.join(stage, "documents"))
                # a synthetic-but-deterministic arrival time: the fixture
                # has no timestamp column and the watermark operator needs
                # one
                .selectExpr(
                    "*", "timestamp_micros(doc_id * 1000000) AS event_time"
                )
            )
            table = f"bench_stream_neardup_{rep}"
            t0 = time.monotonic()
            run_to_memory_sink(near_dedup_doc_stream_banded(docs), table)
            best_near = min(best_near, time.monotonic() - t0)
            n_near = spark.table(table).count()
            spark.catalog.dropTempView(table)
    finally:
        spark.sparkContext.setJobDescription(None)
        # removes the symlinks, never the fixtures they point at
        shutil.rmtree(stage, ignore_errors=True)
    out = {
        "streaming_sessionize_sec": round(best_sess, 3),
        "streaming_neardup_sec": round(best_near, 3),
        "streaming_neardup_survivors": n_near,
    }
    print(
        f"# streaming probe: sessionize {best_sess:.2f}s ({n_sess} closed "
        f"sessions), banded near-dedup {best_near:.2f}s ({n_near} "
        "survivors) — availableNow drain, best of 2",
        file=sys.stderr,
    )
    return out


if __name__ == "__main__":
    main()
