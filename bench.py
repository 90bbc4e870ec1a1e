"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes through the noop sink (df.write.format("noop")) so the
full plan runs — including projections a count() would prune — without
paying driver-side collect.

Fault isolation (round-3 lesson: one crashing query aborted the harness and
the round shipped NO bench artifact at all): every query runs inside its own
try/except; failures land in an "errors" map and the JSON line still prints.
The exit code is nonzero when ANY headliner fails (the JSON artifact with
partial timings still prints first, so a broken query costs the round its
green rc — which is the point — but never its timings).

Noise sentinel (round-4 lesson: a sustained host stall inflated the recorded
artifact 1.8x over an idle-host rerun of the identical harness, and nothing
in the JSON said so): a fixed trivial probe — count() over the 5-row region
table — is timed immediately before each measured query. The probe's cost is
constant by construction, so spread in its timings measures the HOST, not the
plan. The JSON line carries {"noise_probe": {min,median,max,noisy}} where
noisy = median > 3x min or max > 10x min; a consumer seeing noisy=true knows
the timings are host-degraded and a rerun is warranted.

Sustained-stall guard (round-8 lesson: a stall covering EVERY lap of one
query keeps the laps consistent — profile_orders recorded 7.66 s where the
true value was 4.06 s — and neither the lap-disagreement check nor the
bracketing probes can see it): when a query's min-of-laps exceeds 2x its
value in the latest same-sf BENCH_r*.json artifact, the harness re-laps up
to twice more; queries still above 2x prior land in "suspect_vs_prior" so
the artifact itself says "regressed or re-measure" instead of smearing a
one-off stall into a regression.

LAP POLICY (the JSON line's "lap_policy" key points here — round-9 lesson:
the ~450-byte policy prose pushed the line past the grading driver's
2,000-byte tail capture and BENCH_r09.json archived as parsed:null with the
first ~10 headliner timings lost; the artifact line is a hard byte budget,
enforced by tests/test_bench_line.py): every number is min-of-laps — 1
warm-up + 2 measured laps, a 3rd when the two disagree >2x, and up to 2
extra laps when the min still exceeds 2x the same-sf prior-round artifact;
queries still >2x prior after re-laps land in suspect_vs_prior.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: analytics flagships + one of each operator family
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "events_hourly_agg",
    "sessionize_events",
    "mig_check_lineitem",
    "delta_merge_orders",
    "star_fact_orders",
    "topk_parts_per_brand",
    "dedup_exact_documents",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "quality_documents",
    "lang_id_documents",
    "ann_cosine_topk",
    "embedding_near_dup",
    "dup_span_coverage",
    "remove_dup_spans",
    "semantic_dedup_embeddings",
    "incremental_dedup_batch",
    "chunk_documents",
    "bigram_lm_stats",
    "event_cooccurrence_pairs",
    "fuzzy_name_pairs",
    "funnel_events",
    "bm25_topk_documents",
    "constraint_violations_testdata",
    "corpus_mix_cube",
    "embedding_outliers",
    "rolling_active_users",
    "json_props_stats",
    # round 6
    "row_diff_orders",
    "profile_orders",
    "scd2_customer_history",
    "semantic_decontaminate_corpus",
    "line_dedup_documents",
    "corpus_attrition_report",
    "incremental_agg_refresh",
    "bucket_completeness_orders",
    "dist_key_advisor_orders",
    "asof_click_attribution",
    "range_join_session_errors",
    "resample_user_activity",
    "drift_orders_history_vs_delta",
    "join_plan_advisor_lineitem",
    # round 7
    "cdc_apply_orders",
    # round 8
    "pps_sample_documents",
    "quality_classifier_documents",
    # round 9
    "top_mass_sample_documents",
    "winnow_fingerprint_documents",
    "winnow_overlap_pairs",
    "heavy_hitter_tokens",
    # round 10 (leakage_safe_split is NOT a headliner: its cost is the
    # already-benched minhash pair relation + CC, and the line budget is
    # the scarce resource — it stays covered by the x10 probe sweep)
    "markup_extract_documents",
    "zorder_cells_events",
    # round 11 (image_near_dup_media and join_cardinality_* are NOT
    # headliners: the line budget is the scarce resource — both carry
    # dedicated SCALE.md cold-lap rows via scale_probe --guards instead,
    # and the privacy row below covers the round's graded-family shape)
    "k_anonymity_customer",
    # round 12: privacy_generalization_advisor is NOT a headliner — its
    # cost is |widths| x the k_anonymity scan already benched above, the
    # 30-char name is expensive against the 2,000-byte artifact tail,
    # and it is graded-window-adjacent via the sim oracle; the hamming
    # image-index economics carry dedicated SCALE.md rows
    # (scale_probe --image-index) instead.
]


# short on purpose: the prose lives in the module docstring ("LAP POLICY")
LAP_POLICY = "min-laps"

# the grading driver archives only a 2,000-byte tail of bench's stdout;
# a line that outgrows it is recorded as parsed:null with its head
# truncated (round-9: BENCH_r09.json lost the first ~10 headliner
# timings). Budget with headroom for a few more headliners per round.
LINE_BYTE_BUDGET = 1_900


def render_line(out: dict) -> str:
    """The ONE artifact line. Compact separators, 2-decimal query
    timings and 3-decimal noise-probe stats are part of the byte budget
    (tests/test_bench_line.py pins the worst-case rendered size for the
    current headliner count)."""
    return json.dumps(out, separators=(",", ":"))


def build_output(
    timings: dict,
    total: float,
    sf,
    probe_summary: dict,
    prior_name: "str | None",
    relapped: list,
    suspect: list,
    errors: dict,
    load1: "float | None" = None,
) -> dict:
    """The artifact envelope, pure so the byte-budget test renders the
    exact shape main() emits. ``prior_artifact`` present means the
    stall guard RAN; the relapped/suspect lists appear only when
    non-empty (an absent list IS the clean verdict — empty lists cost
    44 bytes of the line budget for no information)."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "lap_policy": LAP_POLICY,
        "noise_probe": probe_summary,
    }
    if load1 is not None:
        # 1-minute load average at run start: the host-epoch signature in
        # one glance (r10 adjudication needed a worktree bisect to prove
        # "the machine, not the tree" — this key makes future artifact
        # comparisons normalizable; judge advisory r10)
        out["load"] = load1
    def _bounded(names: list) -> list:
        # diagnostics, not the record: cap at 2 names + a count marker
        # so a many-query stall event cannot push the line past the
        # driver's tail capture (the timings themselves still tell the
        # full story — every relapped query's number is in "queries")
        if len(names) <= 2:
            return names
        return names[:2] + [f"+{len(names) - 2} more"]

    if prior_name:
        out["prior_artifact"] = prior_name
        if relapped:
            out["relapped_vs_prior"] = _bounded(relapped)
        if suspect:
            out["suspect_vs_prior"] = _bounded(suspect)
    if errors:
        # bounded per entry: a Py4J/AnalysisException str() is routinely
        # multi-KB of JVM stack — enough survives to name the failure,
        # and the nonzero rc already flags the round (review finding:
        # an unbounded error here reintroduced the truncated-artifact
        # scar this envelope exists to prevent)
        out["errors"] = {
            k: v if len(v) <= 120 else v[:117] + "..."
            for k, v in errors.items()
        }
    # self-degrading envelope — checked LAST, so it sees the errors map
    # too: if the line nears the driver's hard 2,000-byte tail, the
    # diagnostics degrade stepwise (a truncated artifact — parsed:null,
    # head timings lost — is strictly worse than terse diagnostics):
    # 1. name lists -> bare counts; 2. error text -> 60 chars;
    # 3. errors map -> first 3 + errors_n. The timings are the record
    # and are never dropped.
    if len(render_line(out)) > 1_990:
        if "relapped_vs_prior" in out:
            out["relapped_vs_prior_n"] = len(relapped)
            del out["relapped_vs_prior"]
        if "suspect_vs_prior" in out:
            out["suspect_vs_prior_n"] = len(suspect)
            del out["suspect_vs_prior"]
    if len(render_line(out)) > 1_990 and "errors" in out:
        out["errors"] = {
            k: v if len(v) <= 60 else v[:57] + "..."
            for k, v in out["errors"].items()
        }
        if len(render_line(out)) > 1_990 and len(out["errors"]) > 3:
            out["errors_n"] = len(errors)
            out["errors"] = dict(list(out["errors"].items())[:3])
        if len(render_line(out)) > 1_990:
            # final rung — UNCONDITIONAL, so the cap holds by
            # construction even for one or two errors against a full
            # timings body (round 11: a 57th headliner left no slack
            # for two 60-char errors): keep only the count; the nonzero
            # rc and stderr traceback already carry the failure
            out["errors_n"] = len(errors)
            del out["errors"]
    return out


def prior_artifact(repo_dir: str, sf) -> tuple[dict, str | None]:
    """Per-query timings of the LATEST BENCH_r*.json in repo_dir recorded
    at the SAME scale factor (a cross-sf comparison is meaningless), as
    ({name: sec}, artifact_basename) — ({}, None) when absent. Handles
    both this harness's bare JSON line and the grading driver's wrapper
    (``{n, rc, sf, tail, parsed: <the line>}``). Only canonical
    ``BENCH_r<nn>.json`` names participate: suffixed variants record
    DIFFERENT run conditions at the same sf (BENCH_r12_c8.json is the
    8-core scaling run — ``_`` sorts after ``.``, so the bare glob
    preferred it and the stall guard re-lapped 32-core timings against
    8-core priors; r13 fix)."""
    import glob
    import re

    candidates = [
        p
        for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
        if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
    ]
    for p in sorted(candidates, reverse=True):
        try:
            with open(p) as fh:
                d = json.load(fh)
            if isinstance(d.get("parsed"), dict):
                d = d["parsed"]
            if d.get("sf") == sf and isinstance(d.get("queries"), dict):
                return d["queries"], os.path.basename(p)
        except (OSError, ValueError):
            continue
    return {}, None


def relap_needed(min_lap: float, prior: "float | None") -> bool:
    """True when this query's min-of-laps exceeds 2x its prior-round
    artifact — the sustained-stall signature the bracketing noise probes
    cannot see (they flag a stall BETWEEN queries, not one that covers
    every lap OF a query)."""
    return prior is not None and prior > 0 and min_lap > 2 * prior


def summarize_probes(probes: list, names: list, timings: dict) -> dict:
    """The noise-sentinel summary from the bracketing probe timings:
    probes[i]/probes[i+1] bracket names[i]. Pure function so the flagging
    logic is unit-testable with synthetic stalls (no Spark)."""
    srt = sorted(probes)
    mid2 = len(srt) // 2
    run_med = srt[mid2] if len(srt) % 2 else (srt[mid2 - 1] + srt[mid2]) / 2
    flagged = [
        n
        for i, n in enumerate(names)
        if n in timings and max(probes[i], probes[i + 1]) > 3 * run_med
    ]
    p_min, p_max = srt[0], srt[-1]
    return {
        "min": round(p_min, 3),
        "median": round(run_med, 3),
        "max": round(p_max, 3),
        "noisy": bool(run_med > 3 * p_min or p_max > 10 * p_min),
        "flagged_queries": flagged,
    }


def main() -> int:
    from database_migration_spark import get_spark
    from database_migration_spark import queries as Q

    spark = get_spark(app_name="bench")
    registry = Q.queries()

    # warm the JVM/codegen path once with the smallest table
    Q.table(spark, SF_DIR, "region").count()

    def run(name: str) -> float:
        t0 = time.time()
        registry[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Per query: clear the cache, one warm-up lap (JIT/codegen), then 2-3
    # measured laps, MIN reported — steady-state throughput is what matters
    # at scale, and a one-off host/GC stall in a single lap must not
    # fabricate a regression (round 2's headline was poisoned by exactly
    # that: one 10.9 s stall on a 0.9 s query). The clearCache matters:
    # several operators persist() intermediates (shingle sets, LSH
    # signatures) that a shared-session harness would otherwise accumulate
    # across queries — a round-4 warm-all-then-measure-all run showed 4-6x
    # degradation on late queries purely from leftover cached blocks.
    probe_df = Q.table(spark, SF_DIR, "region")

    def noise_probe() -> float:
        t0 = time.time()
        probe_df.count()
        return time.time() - t0

    sf_s = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_s) if sf_s.replace(".", "").isdigit() else sf_s
    prior_q, prior_name = prior_artifact(
        os.path.dirname(os.path.abspath(__file__)), sf
    )

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    probes: list[float] = []
    relapped: list[str] = []
    suspect: list[str] = []
    noise_probe()  # discard the JIT-cold first lap — it measures warm-up,
    # not the host, and false-flags the first query
    total = 0.0
    for name in BENCH_QUERIES:
        spark.catalog.clearCache()
        # collect the freed cache blocks now, not mid-measurement: a JVM
        # carrying 17 queries' garbage otherwise dumps GC pauses into
        # whichever unlucky query runs when the heap fills
        spark.sparkContext._jvm.System.gc()
        probes.append(noise_probe())
        try:
            run(name)  # warm-up lap
            laps = [run(name), run(name)]
            # a host stall can poison both laps of one query; when they
            # disagree badly the state of the machine — not the plan — is
            # being measured, so take one more sample
            if max(laps) > 2 * min(laps):
                laps.append(run(name))
            # a SUSTAINED stall keeps the laps consistent and sails past
            # the check above (round-8: profile_orders recorded 7.66 s
            # where a clean rerun measures 4.06 s, every lap inside the
            # stall window). The prior-round artifact at the same sf is
            # the reference: re-lap up to twice while the min still reads
            # >2x prior, and if it STILL does, record the query as
            # suspect so a consumer reads "regressed or re-measure",
            # never a silently smeared artifact.
            if relap_needed(min(laps), prior_q.get(name)):
                relapped.append(name)
                for _ in range(2):
                    spark.sparkContext._jvm.System.gc()
                    laps.append(run(name))
                    if not relap_needed(min(laps), prior_q.get(name)):
                        break
                if relap_needed(min(laps), prior_q.get(name)):
                    suspect.append(name)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
            continue
        dt = min(laps)
        # 2 decimals: ±5 ms on multi-second timings costs nothing a 2x
        # stall/regression threshold can see, and the ~108 bytes it frees
        # keep the artifact line inside the driver's tail capture
        timings[name] = round(dt, 2)
        total += dt
    # closing probe so the LAST query also has a bracketing pair
    probes.append(noise_probe())

    # per-query stall attribution: a query bracketed by a degraded probe
    # (before or after) ran in a bad host window — its min-of-laps may
    # still be inflated even when the run-level noisy flag stays false
    # (round-5 lesson: an 11 s minhash artifact in an otherwise clean run).
    # Threshold is 3x the run MEDIAN: the min-to-median spread is natural
    # scheduler jitter and 3x min false-flags clean queries.
    out = build_output(
        timings,
        total,
        sf,
        summarize_probes(probes, BENCH_QUERIES, timings),
        prior_name,
        relapped,
        suspect,
        errors,
        load1=round(os.getloadavg()[0], 1),
    )
    print(render_line(out))
    spark.stop()
    # the JSON artifact above is already out; any broken headliner turns
    # the rc red so CI consuming only the return code cannot miss it
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
