"""Per-layer metrics of a traced run.

Every traced run reports every metric; a layer a workload does not reach
reads 0.  Times are medians over the run's queries, counts are means per
query unless named otherwise.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from harness import WARM
from stats import median
from tracing import per_query_means, reduce_event_log

UNITS = {
    "gen_s": "s", "session_s": "s", "peak_rss_mb": "MB",
    "loop.op_s_p50": "s", "loop.events_per_s": "1/s",
    "dsl.compile_ms": "ms", "fsm.build_ms": "ms", "engine.plan_s": "s",
    "engine.exec_s": "s", "output.format_s": "s",
    "engine.tier.manifest": "count", "engine.tier.rollup": "count",
    "engine.tier.compiled": "count", "engine.tier.fsm": "count",
    "fsm.trails": "count", "fsm.events": "count", "fsm.runs": "count",
    "fsm.grid_shared": "count", "fsm.runs_per_trail": "ratio",
    "fsm.prune_ratio": "ratio", "fsm.matcher_events_per_s": "1/s",
    "sideinputs.kept_frac": "ratio",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "store.write_s": "s", "store.append_s": "s", "store.open_s.seg1": "s",
    "store.open_s.seg2": "s",
    "store.manifest_bytes": "bytes", "store.segments": "count",
    "store.bytes_per_event": "bytes",
    "streaming.batch_rows": "count", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.state_update_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.add_batch_ms": "ms",
    "trace.overhead_frac": "ratio",
}


def _med(xs: list[float], scale: float = 1.0) -> float:
    return median(xs) * scale if xs else 0.0


def overhead_frac(untraced: str, traced_events_per_cpu_s: float) -> float:
    """Tracing overhead: the untraced run's ``events_per_cpu_s``, read from
    its record, over the traced run's, minus one.  The record is of the
    same workload, seed and length (``run.untraced_record`` makes it)."""
    with open(untraced) as f:
        base = json.load(f)["events_per_cpu_s"]
    return base / traced_events_per_cpu_s - 1.0


def per_layer(run, run_dir: str, e2e: dict, untraced: str) -> dict:
    tr = run.tracer
    tr.dump(os.path.join(run_dir, "spans.jsonl"))
    m: dict[str, float] = dict.fromkeys(UNITS, 0.0)
    m["gen_s"] = run.info.get("gen_s", 0.0)
    m["session_s"] = run.info["session_s"]
    m["dsl.compile_ms"] = _med(tr.durations("dsl.compile"), 1e3)
    m["fsm.build_ms"] = _med(tr.durations("fsm.build"), 1e3)
    m["engine.plan_s"] = _med(tr.durations("engine.plan"))
    m["engine.exec_s"] = _med(tr.durations("engine.exec"))
    m["output.format_s"] = _med(tr.durations("output.format"))
    for tier, n in Counter(run.tiers.values()).items():
        m[f"engine.tier.{tier}"] = n

    tele = run.fsm_tele
    if tele:
        for key, name in (("trails", "fsm.trails"), ("events", "fsm.events"),
                          ("fsm_runs", "fsm.runs"),
                          ("grid_shared", "fsm.grid_shared")):
            m[name] = sum(t.get(key, 0) for _, t, _ in tele) / len(tele)
        runs = sum(t.get("fsm_runs", 0) for _, t, _ in tele)
        trails = sum(t.get("trails", 0) for _, t, _ in tele)
        cells = sum(t.get("trails", 0) * g for _, t, g in tele)
        m["fsm.runs_per_trail"] = runs / trails if trails else 0.0
        m["fsm.prune_ratio"] = runs / cells if cells else 0.0

    per_qid = reduce_event_log(os.path.join(run_dir, "eventlog"))
    m.update(per_query_means({q: c for q, c in per_qid.items()
                              if ":" + WARM not in q}))
    m.update({k: v for k, v in run.layer.items() if k in UNITS})

    m["trace.overhead_frac"] = overhead_frac(untraced,
                                             e2e["events_per_cpu_s"][0])
    run.info["traced_e2e"] = {k: v[0] for k, v in e2e.items()}
    return {k: (float(v), UNITS[k]) for k, v in m.items()}
