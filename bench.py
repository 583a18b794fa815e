#!/usr/bin/env python
"""Per-round benchmark: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round 5 — the driver captures only ~2000 stdout
chars, which truncated the r4 artifact into `parsed: null`):
- stdout: ONE compact JSON line — total, counts, the 10 slowest
  queries under "queries", 2x-gate breaches vs the committed baseline,
  and the noise probe. Always parseable within the capture window.
- BENCH_local.json (repo root, committed): the FULL per-query
  medians + min/med/max/spread stats — the durable artifact the 2x
  gate is decided from.
- BENCH_BASELINE.json (repo root, committed): first-recorded per-query
  stats; queries not yet present are added on sight (the "first
  recorded run establishes the baseline" rule, per query). Never
  overwritten for existing entries.

Timing protocol (BASELINE.md "BENCH protocol"; `time_query`, the one
timing loop, which scripts/time_queries.py, bench_sf1.py and
scale_probe.py share): per query, one warm-up run then median of N
timed runs (N_RUNS = $SPARK_TSDB_BENCH_RUNS, doubled for sub-second
queries whose medians are noise-dominated), same JVM/session. Results
are fully materialized via the noop sink (all columns computed
JVM-side; no driver collect). r14 cold-window fix (VERDICT r13 #3): the first
~decile of the alphabet runs once DISCARDED before timing starts and
is RE-TIMED at run end, keeping the RE-TIMED median (r15 — the earlier
keep-the-better rule was a min-of-two-medians bias) — the post-start
cold/contended window otherwise lands on whichever queries sort first
and breaches them spuriously (three rounds running); median_spread >
0.20 also marks the run contaminated, and probes run at eighth cadence
(r15) so a tail load burst cannot fall between marks.

Breach rule (BASELINE.md): med > 2x baseline med AND the [min, max]
interval does not overlap the baseline's — overlap is weather, not
regression."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from timeseriesdb_spark.registry import QUERIES
from timeseriesdb_spark.session import get_spark

N_RUNS = int(os.environ.get("SPARK_TSDB_BENCH_RUNS", "3"))
PROBE = "q_count"      # trivial fixed query re-timed through the run
STAT_KEYS = ("min", "med", "max", "spread")  # per-query keys of BENCH_*.json


def run_once(fn, spark, sf_dir) -> tuple[float, float]:
    """One run of a registry query: (build, total) seconds. Build is the
    registry call; total adds the noop-sink write, which plans and runs
    the query in its own QueryExecution."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t0


def time_query(fn, spark, sf_dir, runs: int = N_RUNS) -> dict[str, float]:
    """The BENCH protocol for one query: one warm-up run, then `runs`
    timed runs, doubled when their median total is under 1 s. Returns
    min/med/max/spread of the totals and the median build."""
    run_once(fn, spark, sf_dir)  # warm-up (scan cache, codegen)
    samples = [run_once(fn, spark, sf_dir) for _ in range(runs)]
    if statistics.median(t for _, t in samples) < 1.0:
        samples += [run_once(fn, spark, sf_dir) for _ in range(runs)]
    totals = [t for _, t in samples]
    med = statistics.median(totals)
    return {
        "min": round(min(totals), 4),
        "med": round(med, 4),
        "max": round(max(totals), 4),
        "spread": round((max(totals) - min(totals)) / med, 3) if med else 0.0,
        "build": round(statistics.median(b for b, _ in samples), 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="spark-tsdb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = sorted(QUERIES)
    times: dict[str, float] = {}
    stats: dict[str, dict[str, float]] = {}
    probe_samples: list[float] = []

    def probe() -> None:
        if PROBE in QUERIES:
            try:
                probe_samples.append(
                    time_query(QUERIES[PROBE], spark, sf_dir, runs=1)["med"]
                )
            except Exception:
                pass

    probe()
    # Discarded cold-window sweep (r14, VERDICT r13 #3): the cold /
    # contended window after session start extends PAST the first
    # probe, and the timed loop runs alphabetically — so early-alphabet
    # queries (q_active_users / q_compressibility / q_count in the r12
    # and r13 driver artifacts) absorbed it and breached 2x while the
    # probes read clean. Run the first ~decile once, untimed, so the
    # window lands on throwaway executions.
    n_decile = max(1, len(names) // 10)
    for name in names[:n_decile]:
        try:
            run_once(QUERIES[name], spark, sf_dir)
        except Exception:
            pass  # the timed loop will report it
    # eighth-cadence probe marks (r15, VERDICT r14 #6 — was quarter
    # cadence): the r14 driver run's tail load burst (the contiguous
    # q_promo_*→q_vocab_* breach block) fell entirely BETWEEN the 3/4
    # mark and the end probe and both read clean. Denser marks bound
    # the largest unprobed window to ~1/8 of the run. Additions only:
    # same probe query, same predicate, same output contract.
    marks = {(i * len(names)) // 8 for i in range(1, 8)}
    for i, name in enumerate(names):
        try:
            s = time_query(QUERIES[name], spark, sf_dir)
            times[name] = s["med"]
            stats[name] = {k: s[k] for k in STAT_KEYS}
        except Exception as exc:  # a broken query must not sink the bench
            print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)
            times[name] = -1.0
        if i in marks:
            probe()
    # Second half of the r14 cold-window fix: re-time the first decile
    # at run END (box fully warm) and KEEP THE RE-TIMED median (r15,
    # VERDICT r14 #6 — keeping the better of the two medians was a
    # min-of-two-medians, a small systematic downward bias on the ~26
    # first-decile queries; the end-of-run measurement is the one taken
    # under the same warm conditions as the rest of the alphabet).
    for name in names[:n_decile]:
        if times.get(name, -1.0) < 0:
            continue
        try:
            s = time_query(QUERIES[name], spark, sf_dir)
        except Exception:
            continue
        times[name] = s["med"]
        stats[name] = {k: s[k] for k in STAT_KEYS}
    probe()

    total = round(sum(t for t in times.values() if t > 0), 4)
    spreads = sorted(s["spread"] for s in stats.values())
    # Contamination self-adjudication (BASELINE.md "contamination
    # rule", r13): the probe re-times one trivial fixed query at the
    # start / middle / end of the run; a >2x swing in the MID/END
    # samples means the box was loaded by something else mid-run (the
    # r12 driver artifact read [0.373, 0.125, 0.325] — its END sample
    # regressed 2.6x — and produced seven spurious 2x flags). The
    # START sample is excluded from the slow side: it carries one-off
    # JVM/page-cache cold-start that an idle box shows too (measured
    # r13: [0.254, 0.079, 0.080] on an exclusive run). A contaminated
    # run cannot adjudicate breaches — they are demoted to
    # "suspect_2x" for re-measure on a clean run.
    median_spread = spreads[len(spreads) // 2] if spreads else None
    # r14 (VERDICT r13 #3): median_spread joins the predicate — the
    # r13 polluted driver run showed 20.8% median spread with quiet
    # probes (clean exclusive runs measure ~16-17%), so a run whose
    # per-query repeats disagree this much cannot adjudicate 2x
    # breaches even when no probe tripped.
    contaminated = bool(
        len(probe_samples) >= 2
        and min(probe_samples) > 0
        and max(probe_samples[1:]) / min(probe_samples) > 2.0
    ) or bool(median_spread is not None and median_spread > 0.20)
    noise = {
        "median_spread": median_spread,
        "p90_spread": spreads[int(len(spreads) * 0.9)] if spreads else None,
        "probe_query": PROBE,
        "probe_sec": probe_samples,  # start / quarter marks / end
        "cold_sweep_queries": n_decile,  # discarded + end-retimed
        "contaminated": contaminated,
    }

    repo = os.path.dirname(os.path.abspath(__file__))
    full = {
        "metric": "sum_median_query_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "stats": stats,
        "noise": noise,
        "sf": sf,
    }
    # 2x gate vs the committed first-recorded baseline (per query).
    base_path = os.path.join(repo, "BENCH_BASELINE.json")
    baseline: dict[str, dict[str, float]] = {}
    if os.path.exists(base_path):
        try:
            with open(base_path) as f:
                baseline = json.load(f)
        except Exception:
            baseline = {}
    breaches: dict[str, dict[str, float]] = {}
    for name, s in stats.items():
        b = baseline.get(name)
        if b is None:
            if not contaminated:  # a loaded box must not set baselines
                baseline[name] = s  # first sighting establishes it
            continue
        overlaps = s["min"] <= b["max"] and b["min"] <= s["max"]
        if s["med"] > 2.0 * b["med"] and not overlaps:
            breaches[name] = {"med": s["med"], "baseline_med": b["med"]}
    with open(base_path, "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
    suspect: dict[str, dict[str, float]] = {}
    if contaminated:
        suspect, breaches = breaches, {}
    full["breaches_2x"] = breaches
    full["suspect_2x"] = suspect
    full["contaminated"] = contaminated
    with open(os.path.join(repo, "BENCH_local.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    slowest = dict(
        sorted(times.items(), key=lambda kv: -kv[1])[:10]
    )
    errors = sorted(n for n, t in times.items() if t < 0)
    print(
        json.dumps(
            {
                "metric": "sum_median_query_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(times),
                "n_errors": len(errors),
                "errors": errors[:10],
                "queries": slowest,  # 10 slowest; full set in BENCH_local.json
                "breaches_2x": breaches,
                "suspect_2x": suspect,  # demoted flags from a contaminated run
                "contaminated": contaminated,
                "noise": noise,
                "full": "BENCH_local.json",
                "baseline": "BENCH_BASELINE.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
