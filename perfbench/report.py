"""Turn a run's passes and spans into the result line.

End-to-end metrics come from the untraced timed passes; per-layer
metrics from the traced ones (summed per pass, median over passes).
Both kinds of timed pass exist in a traced run, which gives the
tracing overhead."""

from __future__ import annotations

import os
from statistics import median

from perfbench.measure import tail
from perfbench.tracing import STAGE_FIELDS

E2E = {  # name -> unit
    "setup_s": "s", "cycle_cpu_s": "s", "mem_live_mb": "MB",
    "ok_ratio": "ratio",
}

LAYER = {  # name -> unit
    "layer.session.start_s": "s",
    "layer.session.datagen_s": "s",
    "layer.session.warmup_s": "s",
    "layer.jvm.jit_cpu_s": "s",
    "layer.jvm.gc_cpu_s": "s",
    "layer.build.s": "s",
    "layer.build.jobs": "count",
    "layer.build.share": "ratio",
    "layer.driver.cpu_s": "s",
    "layer.plan.s": "s",
    "layer.exec.s": "s",
    "layer.exec.stages": "count",
    "layer.exec.tasks": "count",
    "layer.exec.run_s": "s",
    "layer.exec.cpu_s": "s",
    "layer.exec.wait_s": "s",
    "layer.exec.core_busy": "ratio",
    "layer.exec.input_bytes": "B",
    "layer.exec.shuffle_read_bytes": "B",
    "layer.exec.shuffle_write_bytes": "B",
    "layer.exec.spill_bytes": "B",
    "layer.exec.gc_s": "s",
    "layer.stream.batches": "count",
    "layer.stream.add_batch_ms": "ms",
    "layer.stream.planning_ms": "ms",
    "layer.stream.get_batch_ms": "ms",
    "layer.stream.wal_commit_ms": "ms",
    "layer.stream.overhead_share": "ratio",
    "layer.stream.ingest_rows_per_s": "1/s",
    "layer.store.files": "count",
    "layer.store.bytes": "B",
    "layer.store.bytes_per_input_byte": "ratio",
    "layer.compact.s": "s",
    "layer.compact.partials_merged": "count",
    "layer.read.p50_s": "s",
    "layer.read.input_bytes": "B",
    "layer.read.files": "count",
    "wall.op_p50_s": "s",
    "wall.cycle_s": "s",
    "wall.peak_rss_mb": "MB",
    "host.steal_share": "ratio",
    "op.tail_s": "s",
    "op.tail_pct": "%",
    "op.samples": "count",
    "trace.cycle_overhead_share": "ratio",
    "trace.op_p50_overhead_share": "ratio",
}


def _pass_layers(p, spans: list[dict], cores: int, wl) -> dict:
    """Per-layer sums for one traced pass."""
    prefix = f"p{p.index}"
    mine = [s for s in spans if s["op"].split(".", 1)[0] == prefix]
    by = {}
    for s in mine:
        by.setdefault(s["name"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by.get(name, ()))

    def tot(name, key):
        return sum(s.get(key, 0) for s in by.get(name, ()))

    build, plan, exe = dur("build"), dur("plan"), dur("exec")
    out = {
        "layer.jvm.jit_cpu_s": p.extra.get("jit_s", 0.0),
        "layer.jvm.gc_cpu_s": p.extra.get("gc_s", 0.0),
        "layer.build.s": build,
        "layer.build.jobs": tot("build", "jobs"),
        "layer.build.share": build / (build + plan + exe)
        if build + plan + exe else 0.0,
        "layer.driver.cpu_s": tot("build", "driver_cpu_s"),
        "layer.plan.s": plan,
        "layer.exec.s": exe,
    }
    for k in STAGE_FIELDS:
        out[f"layer.exec.{k}"] = tot("exec", k)
    out["layer.exec.wait_s"] = out["layer.exec.run_s"] - out["layer.exec.cpu_s"]
    out["layer.exec.core_busy"] = (
        out["layer.exec.run_s"] / (exe * cores) if exe else 0.0
    )
    x = p.extra
    trig = x.get("ms.triggerExecution", 0)
    out.update({
        "layer.stream.batches": x.get("batches", 0),
        "layer.stream.add_batch_ms": x.get("ms.addBatch", 0),
        "layer.stream.planning_ms": x.get("ms.queryPlanning", 0),
        "layer.stream.get_batch_ms": x.get("ms.getBatch", 0),
        "layer.stream.wal_commit_ms": x.get("ms.walCommit", 0),
        "layer.stream.overhead_share":
            1.0 - x.get("ms.addBatch", 0) / trig if trig else 0.0,
        "layer.stream.ingest_rows_per_s":
            x["ingest_rows"] / x["stream.ingest_s"]
            if x.get("stream.ingest_s") else 0.0,
        "layer.store.files": x.get("store_files", 0),
        "layer.store.bytes": x.get("store_bytes", 0),
        "layer.store.bytes_per_input_byte":
            x.get("store_bytes", 0) / wl.input_bytes
            if getattr(wl, "input_bytes", 0) else 0.0,
        "layer.compact.s": x.get("compact_s", 0.0),
        "layer.compact.partials_merged": x.get("partials_merged", 0),
        "layer.read.p50_s":
            median(p.read_latencies) if p.read_latencies else 0.0,
        "layer.read.input_bytes": sum(
            s.get("input_bytes", 0) for s in by.get("exec", ())
            if s["op"].startswith(f"{prefix}.read.")
        ),
        "layer.read.files": x.get("read_files", 0),
    })
    return out


def build(args, wl, tally, setup, warm, passes, window, spans) -> dict:
    plain = [p for p in passes if not p.traced]
    traced = [p for p in passes if p.traced]
    lat = [x for p in plain for x in p.latencies]
    op_p50 = median(lat) if lat else 0.0
    cycle = median([p.wall for p in plain])
    cycle_cpu = median([p.cpu for p in plain])
    t = tail(lat)
    details = {
        "setup": setup,
        "passes": {"untraced": len(plain), "traced": len(traced),
                   "ops_per_pass": len(warm.latencies),
                   "walls_s": [round(p.wall, 4) for p in passes],
                   "cpus_s": [round(p.cpu, 2) for p in passes],
                   "jit_s": [round(p.extra.get("jit_s", 0), 2) for p in passes],
                   "gc_s": [round(p.extra.get("gc_s", 0), 2) for p in passes]},
        "op_p50_s": op_p50,
        "cycle_s": cycle,
        "cycle_cpu_s": cycle_cpu,
        "warmup_cpu_s": warm.cpu,
        "op_tail": t,
        "ops_per_s": len(lat) / sum(p.wall for p in plain),
        "window": window,
        "failures": tally.failures,
    }
    if args.trace:
        cores = len(os.sched_getaffinity(0))
        rows = [_pass_layers(p, spans, cores, wl) for p in traced]
        metrics = {k: median([r[k] for r in rows]) for k in rows[0]}
        metrics.update({
            "layer.session.start_s": setup["start_s"],
            "layer.session.datagen_s": setup["datagen_s"],
            "layer.session.warmup_s": setup["warmup_s"],
            "wall.op_p50_s": op_p50,
            "wall.cycle_s": cycle,
            "wall.peak_rss_mb": window["peak_rss_mb"],
            "host.steal_share": window["steal_share"],
            "op.tail_s": t["value"] or 0.0,
            "op.tail_pct": t["pct"] or 0.0,
            "op.samples": t["samples"],
            "trace.cycle_overhead_share":
                median([p.wall for p in traced]) / cycle - 1.0,
            "trace.op_p50_overhead_share": median(
                [x for p in traced for x in p.latencies]) / op_p50 - 1.0,
        })
        units = LAYER
    else:
        metrics = {
            "setup_s": sum(setup.values()),
            "cycle_cpu_s": cycle_cpu,
            "mem_live_mb": window["heap_live_mb"] + window["python_hwm_mb"],
            "ok_ratio": tally.ok_ratio,
        }
        units = E2E
    return {
        "details": details,
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units
        },
    }
