"""Grid-pruning effectiveness as an ASSERTED invariant (VERDICT r06
item 6): on a corpus constructed with a known number of distinct
occurring foreach values per trail, the FSM path's run count is exactly
trails * (occurring + 1) — one run per occurring value plus ONE shared
run for every non-occurring tuple (the projection-key cache,
runner.trail_results; reference match_traildb.c:596-744).  With pruning
disabled the count is exactly trails * grid_size, and the results are
identical either way.  perfbench's traced `fsm_trails` runs report the
same telemetry as `fsm.runs_per_trail`.
"""

from __future__ import annotations

import os


PROG = """
foreach %v in @arr
    start ->
        receive
            t = %v -> yield $n, repeat
            * -> repeat
"""

# 10-tuple grid; every trail's events use exactly 3 of the values
GRID = [["a"], ["b"], ["c"], ["d"], ["e"], ["f"], ["g"], ["h"],
        ["i"], ["j"]]
N_TRAILS = 20
OCCURRING = 3  # each trail cycles t through a/b/c only


def _events_df(spark):
    rows = []
    for i in range(N_TRAILS):
        for j in range(12):
            rows.append((f"u{i}", 100 + j * 10, j, "abc"[j % OCCURRING]))
    return spark.createDataFrame(
        rows, "uuid string, timestamp long, seq long, t string"
    )


def _run_fsm(spark, df):
    from trck_spark.engine import TrckSparkEngine

    os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        rs = TrckSparkEngine(spark).run(
            df, PROG, params={"@arr": GRID},
            uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        )
        out = rs.collect_json()
        telem = rs.telemetry()
    finally:
        del os.environ["TRCK_SPARK_NO_FASTPATH"]
    return out, telem


def test_fsm_runs_per_trail_invariant(spark):
    df = _events_df(spark)
    out, telem = _run_fsm(spark, df)
    assert telem["trails"] == N_TRAILS
    # exactly (occurring + 1) runs per trail: a/b/c each get their own
    # run, the 7 non-occurring tuples share one
    assert telem["fsm_runs"] == N_TRAILS * (OCCURRING + 1), telem
    # and the pruning is not cosmetic: a 10-tuple grid would otherwise
    # cost 10 runs per trail
    assert telem["fsm_runs"] < N_TRAILS * len(GRID)

    os.environ["TRCK_SPARK_NO_GRID_PRUNE"] = "1"
    try:
        out_np, telem_np = _run_fsm(spark, df)
    finally:
        del os.environ["TRCK_SPARK_NO_GRID_PRUNE"]
    assert telem_np["fsm_runs"] == N_TRAILS * len(GRID), telem_np
    assert out == out_np  # pruning changes cost, never results
    # every trail yields $n once per event for its 3 occurring values
    per_val = {r["%v"]: r["$n"] for r in out}
    assert per_val["a"] == N_TRAILS * 4
    assert per_val["d"] == 0
