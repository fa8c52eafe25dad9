"""Shared run state and the timed query call used by the query workloads."""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

from check import References
from queries import Query
from stats import Outcomes
from tracing import QID_PROP, Tracer, engine_cpu_s


@dataclass
class Run:
    """Everything one benchmark invocation measures."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    outcomes: Outcomes = field(default_factory=Outcomes)
    # timed operations: (kind, wall seconds, events), and the same with
    # engine CPU seconds in place of wall seconds
    ops: list = field(default_factory=list)
    cpu_ops: list = field(default_factory=list)
    open_s: float = 0.0  # median time to open the workload's input
    layer: dict = field(default_factory=dict)  # per-layer metrics
    info: dict = field(default_factory=dict)  # report-only details
    tiers: dict = field(default_factory=dict)  # query name -> engine tier
    fsm_tele: list = field(default_factory=list)
    n_ops: int = 0
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Report the wall seconds since the previous phase ended."""
        now = time.perf_counter()
        self.info.setdefault("phase_s", {})[name] = round(now - self._mark, 3)
        self._mark = now

    @property
    def op_s(self) -> list[float]:
        return [dt for _, dt, _ in self.ops]

    def timed(self, kind: str, dt: float, cpu: float, events: int,
              warm: bool = False) -> None:
        """Record one operation of the closed loop: its wall and engine
        CPU seconds; a warm-up operation goes to the report only."""
        self.info.setdefault("warm_ops" if warm else "ops", []).append(
            (kind, round(dt, 3), round(cpu, 2)))
        if not warm:
            self.ops.append((kind, dt, events))
            self.cpu_ops.append((kind, cpu, events))

    def next_qid(self, name: str) -> str:
        self.n_ops += 1
        qid = f"{self.n_ops:05d}:{name}"
        if self.tracer.enabled:
            self.tracer.qid = qid
            self.spark.sparkContext.setLocalProperty(QID_PROP, qid)
        return qid


WARM = "warm-"  # query-id prefix of untimed warm-up operations


def classify(rs) -> str:
    """The engine tier that answered, read from the result-set type and
    its FSM telemetry."""
    kind = type(rs).__name__
    if kind == "TrckLocalResultSet":
        return "manifest"
    if kind == "TrckFrameResultSet":
        # a manifest rollup is a literal `Range` relation (time-bounded
        # queries union it with a scan of the boundary segments)
        plan = rs.frame._jdf.queryExecution().optimizedPlan().toString()
        return "rollup" if "Range (" in plan else "compiled"
    return "fsm" if rs.telemetry() else "compiled"


def run_query(run: Run, engine, df, q: Query, refs: References,
              n_events: int, exclude_df=None, timed: bool = True,
              check: bool = True, kind: str | None = None) -> None:
    """One closed-loop query: ``engine.run`` through a collected result.

    ``kind`` (default: the query's name) groups the timed latencies that
    ``stats.steady`` summarises.  The result of each distinct query is
    checked once, outside the timed region; a warm-up over part of the
    input passes ``check=False``.  Traced runs split the call at the
    public layer boundaries."""
    from trck_spark.dsl.parser import compile_tr
    from trck_spark.output import format_output
    from trck_spark.runner import TrckQuery

    tr = run.tracer
    run.next_qid(q.name if timed else WARM + q.name)
    kw = {"seq_col": "seq", "params": q.params,
          "event_filter": q.event_filter}
    if q.exclude:
        kw["exclude"] = exclude_df
    try:
        if tr.enabled:
            with tr.span("dsl.compile"):
                compile_tr(q.text)
            with tr.span("fsm.build"):
                TrckQuery(q.text, params=q.params)
        c0 = engine_cpu_s()
        t0 = time.perf_counter()
        with tr.span("query", query=q.name):
            with tr.span("engine.plan"):
                rs = engine.run(df, q.text, **kw)
            if not tr.enabled:
                out = rs.collect_json()
            elif type(rs).__name__ == "TrckLocalResultSet":
                # a manifest answer runs no Spark action: its collect_json
                # only formats the stored sketches
                with tr.span("output.format"):
                    out = rs.collect_json()
            else:
                # collect_json is exactly these two calls here
                with tr.span("engine.exec"):
                    parts = rs.collect_partials()
                with tr.span("output.format"):
                    out = format_output(rs.program, parts, rs.tuples)
        dt = time.perf_counter() - t0
        cpu = engine_cpu_s() - c0
    except Exception:  # a failed query is counted, the loop goes on
        run.outcomes.record(q.name, traceback.format_exc(limit=3))
        return
    run.outcomes.record(q.name)
    run.timed(kind or q.name, dt, cpu, n_events, warm=not timed)
    if tr.enabled and timed:
        tier = classify(rs)
        run.tiers[q.name] = tier
        if tier == "fsm":
            tele = rs.telemetry()
            grid = len(rs.tuples) if rs.tuples else 1
            run.fsm_tele.append((q.name, tele, grid))
    if check and q.name not in refs.checked:
        refs.checked.add(q.name)
        bad = refs.check(q, out)
        if bad:
            run.outcomes.mark_wrong(q.name, f"{q.name}: {bad}")


def timed_rounds(run: Run, one_round, round_s: float) -> None:
    """Run whole rounds of the workload: ``run.seconds`` over ``round_s``,
    the workload's nominal round time, at least one.  The count depends on
    the arguments alone, never on this run's pace, so every run of a
    workload times the same operations."""
    rounds = max(1, round(run.seconds / round_s))
    run.phase("warm")
    for _ in range(rounds):
        one_round()
    run.info["rounds"] = rounds
    run.phase("rounds")


def fresh_dir(path: str) -> str:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
