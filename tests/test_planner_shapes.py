"""The compiled sessions / bounce / attribution shapes must agree with
the FSM path on real data and adversarial micro-fixtures."""

from __future__ import annotations

import os

import pytest

from trck_spark.engine import TrckSparkEngine
from trck_spark.io import trails_json_to_df
from trck_spark.planner import (
    is_attribution_program,
    is_bounce_program,
    is_gap_sessions_program,
)
from trck_spark.queries import (
    PROG_ATTRIBUTION,
    PROG_BOUNCE,
    PROG_SESSIONS,
    load_events,
)
from trck_spark.runner import TrckQuery

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def test_shapes_recognized():
    assert is_gap_sessions_program(TrckQuery(PROG_SESSIONS).program)
    assert is_bounce_program(TrckQuery(PROG_BOUNCE).program)
    assert is_attribution_program(TrckQuery(PROG_ATTRIBUTION).program)
    # cross-misidentification must not happen
    assert not is_gap_sessions_program(TrckQuery(PROG_BOUNCE).program)
    assert not is_bounce_program(TrckQuery(PROG_SESSIONS).program)
    assert not is_attribution_program(TrckQuery(PROG_BOUNCE).program)


def _both(spark, df, prog, **kw):
    def run():
        rs = TrckSparkEngine(spark).run(
            df, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq" if "seq" in df.columns else "event_id",
            **kw,
        )
        return rs.collect_json()

    os.environ.pop("TRCK_SPARK_NO_FASTPATH", None)
    fast = run()
    os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        slow = run()
    finally:
        os.environ.pop("TRCK_SPARK_NO_FASTPATH", None)
    return fast, slow


@pytest.mark.parametrize(
    "prog", [PROG_SESSIONS, PROG_BOUNCE, PROG_ATTRIBUTION],
    ids=["sessions", "bounce", "attribution"],
)
def test_compiled_vs_fsm_on_events(spark, prog):
    ev = load_events(spark, "/root/testdata/sf0.01")
    fast, slow = _both(spark, ev, prog)
    assert fast == slow


def test_sessions_micro_with_duplicates(spark):
    trails = [
        {
            "u1": [  # same-second duplicates collapse (no fields)
                {"timestamp": 100, "event_type": "a"},
                {"timestamp": 100, "event_type": "b"},
                {"timestamp": 1899, "event_type": "a"},  # gap 1799 < 1800
                {"timestamp": 3700, "event_type": "a"},  # gap 1801 -> new
                {"timestamp": 5500, "event_type": "a"},  # gap 1800 -> new
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_SESSIONS)
    assert fast == slow == {"$sessions": 3}


def test_session_features_matches_fsm_sessions(spark):
    """The relational session_features table must agree with the trck
    FSM sessionization on the same 30-minute gap rule: total session
    rows == the FSM's $sessions counter, and per-session invariants
    hold."""
    from trck_spark.queries import q_session_features, q_trck_sessions

    feats = q_session_features(spark, SF_DIR).collect()
    fsm_total = q_trck_sessions(spark, SF_DIR).collect()[0]["sessions"]
    assert len(feats) == fsm_total
    for r in feats:
        assert r["n_events"] >= 1
        assert r["duration_s"] >= 0
        assert r["duration_s"] < 100 * 86400
        assert r["n_clicks"] <= r["n_events"]


def test_bounce_micro(spark):
    trails = [
        {
            "u1": [  # chained views: only the last can bounce
                {"timestamp": 100, "event_type": "view"},
                {"timestamp": 200, "event_type": "view"},
                {"timestamp": 5000, "event_type": "click"},  # gap >= 1800
            ],
            "u2": [  # trailing view -> finalization bounce
                {"timestamp": 100, "event_type": "click"},
                {"timestamp": 200, "event_type": "view"},
            ],
            "u3": [  # view followed quickly -> no bounce
                {"timestamp": 100, "event_type": "view"},
                {"timestamp": 200, "event_type": "click"},
            ],
            "u4": [  # boundary: next event exactly at +1800 -> bounce
                {"timestamp": 100, "event_type": "view"},
                {"timestamp": 1900, "event_type": "click"},
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_BOUNCE)
    assert fast == slow == {"$bounces": 3}  # u1 last view, u2, u4


def test_attribution_micro(spark):
    trails = [
        {
            "u1": [  # purchase within 7d of last click
                {"timestamp": 0, "event_type": "click"},
                {"timestamp": 3600, "event_type": "purchase"},
            ],
            "u2": [  # purchase exactly at deadline -> excluded
                {"timestamp": 0, "event_type": "click"},
                {"timestamp": 604800, "event_type": "purchase"},
            ],
            "u3": [  # later click re-arms; second purchase attributed
                {"timestamp": 0, "event_type": "click"},
                {"timestamp": 700000, "event_type": "click"},
                {"timestamp": 700100, "event_type": "purchase"},
            ],
            "u4": [  # purchase before any click
                {"timestamp": 0, "event_type": "purchase"},
                {"timestamp": 100, "event_type": "click"},
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_ATTRIBUTION)
    assert fast == slow == {"$attr_purchases": 2}  # u1, u3


# ------- entry/db keying regressions (round-2 ADVICE high findings) -------

COOKIE = "ab" * 16


def test_sessions_cross_db_state_carry(spark):
    # one trail split across two dbs: gap 60 < 30m -> ONE session; the
    # compiled path must not partition its lag window by __db
    dbs = [
        {COOKIE: [{"timestamp": 100, "event_type": "a"}]},
        {COOKIE: [{"timestamp": 160, "event_type": "a"}]},
    ]
    df = trails_json_to_df(spark, dbs)
    fast, slow = _both(spark, df, PROG_SESSIONS, db_col="db")
    assert fast == slow == {"$sessions": 1}


def test_attribution_cross_db_state_carry(spark):
    # click in db0, purchase in db1 within the window -> attributed
    dbs = [
        {COOKIE: [{"timestamp": 100, "event_type": "click"}]},
        {COOKIE: [{"timestamp": 160, "event_type": "purchase"}]},
    ]
    df = trails_json_to_df(spark, dbs)
    fast, slow = _both(spark, df, PROG_ATTRIBUTION, db_col="db")
    assert fast == slow == {"$attr_purchases": 1}


def test_bounce_cross_db_state_carry(spark):
    # view in db0, click 100s later in db1 -> no bounce (plus a trailing
    # view in db1 that does bounce)
    dbs = [
        {COOKIE: [{"timestamp": 100, "event_type": "view"}]},
        {
            COOKIE: [
                {"timestamp": 200, "event_type": "click"},
                {"timestamp": 300, "event_type": "view"},
            ]
        },
    ]
    df = trails_json_to_df(spark, dbs)
    fast, slow = _both(spark, df, PROG_BOUNCE, db_col="db")
    assert fast == slow == {"$bounces": 1}


def test_attribution_nonmonotonic_db_timeout(spark):
    # db-major assembly makes timestamps non-monotonic: the db0 view at
    # ts=604800 fires the 7d after-edge BEFORE the db1 purchase (ts=3600)
    # is seen, so nothing is attributed; a plain running-last_value
    # rewrite would wrongly count it
    dbs = [
        {
            COOKIE: [
                {"timestamp": 0, "event_type": "click"},
                {"timestamp": 604800, "event_type": "view"},
            ]
        },
        {COOKIE: [{"timestamp": 3600, "event_type": "purchase"}]},
    ]
    df = trails_json_to_df(spark, dbs)
    fast, slow = _both(spark, df, PROG_ATTRIBUTION, db_col="db")
    assert fast == slow == {"$attr_purchases": 0}


def test_attribution_dedup_cols(spark):
    # two purchases same-second differing only in an unreferenced column:
    # merged by default, kept distinct with dedup_cols
    trails = [
        {
            COOKIE: [
                {"timestamp": 0, "event_type": "click", "x": "p"},
                {"timestamp": 3600, "event_type": "purchase", "x": "a"},
                {"timestamp": 3600, "event_type": "purchase", "x": "b"},
            ]
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_ATTRIBUTION)
    assert fast == slow == {"$attr_purchases": 1}
    fast2, slow2 = _both(spark, df, PROG_ATTRIBUTION, dedup_cols=["x"])
    assert fast2 == slow2 == {"$attr_purchases": 2}


# ---------- parameterized (foreach grid) shape compilation: round 2 ----------


def test_param_shapes_recognized():
    from trck_spark.queries import (
        PROG_ATTRIBUTION_BY_TYPE,
        PROG_BOUNCE_BY_TYPE,
        PROG_SESSIONS_BY_TYPE,
    )

    assert is_gap_sessions_program(TrckQuery(PROG_SESSIONS_BY_TYPE).program)
    assert is_bounce_program(TrckQuery(PROG_BOUNCE_BY_TYPE).program)
    assert is_attribution_program(
        TrckQuery(PROG_ATTRIBUTION_BY_TYPE).program
    )
    # no cross-misidentification
    assert not is_gap_sessions_program(TrckQuery(PROG_BOUNCE_BY_TYPE).program)
    assert not is_bounce_program(TrckQuery(PROG_SESSIONS_BY_TYPE).program)


@pytest.mark.parametrize(
    "progname",
    ["PROG_SESSIONS_BY_TYPE", "PROG_BOUNCE_BY_TYPE",
     "PROG_ATTRIBUTION_BY_TYPE"],
)
def test_param_compiled_vs_fsm_on_events(spark, progname):
    import trck_spark.queries as Q

    ev = load_events(spark, "/root/testdata/sf0.001")
    fast, slow = _both(spark, ev, getattr(Q, progname))
    assert fast == slow


def test_param_sessions_micro(spark):
    from trck_spark.queries import PROG_SESSIONS_BY_TYPE

    trails = [
        {
            "u1": [  # island 1: a,b; island 2: b only
                {"timestamp": 100, "event_type": "a"},
                {"timestamp": 200, "event_type": "b"},
                {"timestamp": 5000, "event_type": "b"},
            ],
            "u2": [  # one island, only "a"
                {"timestamp": 100, "event_type": "a"},
                {"timestamp": 200, "event_type": "a"},
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_SESSIONS_BY_TYPE)
    assert fast == slow
    by_t = {r["%t"]: r["$sessions"] for r in fast}
    assert by_t == {"": 0, "a": 2, "b": 2}


def test_param_sessions_micro_with_duplicates(spark):
    """Dup-elision proof obligation for the islands path: consecutive
    (ts, event_type) duplicates must not change per-type island counts
    even though the compiled plan no longer runs a dedup window."""
    from trck_spark.queries import PROG_SESSIONS_BY_TYPE

    trails = [
        {
            "u1": [
                {"timestamp": 100, "event_type": "a"},
                {"timestamp": 100, "event_type": "a"},  # dup of head
                {"timestamp": 100, "event_type": "b"},  # same ts, new type
                {"timestamp": 100, "event_type": "b"},  # dup
                {"timestamp": 5000, "event_type": "a"},  # new island
                {"timestamp": 5000, "event_type": "a"},  # dup
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_SESSIONS_BY_TYPE)
    assert fast == slow
    by_t = {r["%t"]: r["$sessions"] for r in fast}
    assert by_t == {"": 0, "a": 2, "b": 1}


def test_param_attribution_collision_tuple(spark):
    """%t bound to the B literal ('purchase') must yield 0 (first-match:
    the A clause consumes the event before the yielding B clause)."""
    from trck_spark.queries import PROG_ATTRIBUTION_BY_TYPE

    trails = [
        {
            "u1": [
                {"timestamp": 0, "event_type": "click"},
                {"timestamp": 3600, "event_type": "purchase"},
                {"timestamp": 7200, "event_type": "purchase"},
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_ATTRIBUTION_BY_TYPE)
    assert fast == slow
    by_t = {r["%t"]: r["$attr_purchases"] for r in fast}
    # click attributes both purchases; purchase-as-A yields none
    assert by_t == {"": 0, "click": 2, "purchase": 0}


def test_param_attribution_stale_a(spark):
    """A older than the window must not attribute, even when a fresher
    non-A event exists."""
    from trck_spark.queries import PROG_ATTRIBUTION_BY_TYPE

    trails = [
        {
            "u1": [
                {"timestamp": 0, "event_type": "click"},
                {"timestamp": 700000, "event_type": "purchase"},
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    fast, slow = _both(spark, df, PROG_ATTRIBUTION_BY_TYPE)
    assert fast == slow
    by_t = {r["%t"]: r["$attr_purchases"] for r in fast}
    assert by_t["click"] == 0


def test_param_shapes_compile_to_catalyst(spark):
    """The grid shapes must actually take the compiled path: no Python
    FSM worker (mapInPandas/ArrowEvalPython) in the physical plan."""
    import trck_spark.queries as Q

    ev = load_events(spark, "/root/testdata/sf0.001")
    for progname in (
        "PROG_SESSIONS_BY_TYPE", "PROG_BOUNCE_BY_TYPE",
        "PROG_ATTRIBUTION_BY_TYPE",
    ):
        rs = TrckSparkEngine(spark).run(
            ev, getattr(Q, progname), uuid_col="uuid", ts_col="timestamp",
            seq_col="event_id",
        )
        plan = rs.agg_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "EvalPython" not in plan, (
            progname
        )


def test_param_shapes_with_window_entries(spark):
    """Foreach grids combined with multi-entry window side inputs: each
    (uuid, entry) is an independent evaluation unit inside the compiled
    grid paths too."""
    import trck_spark.queries as Q

    trails = [
        {
            "u1": [
                {"timestamp": 100, "event_type": "view"},
                {"timestamp": 200, "event_type": "click"},
                {"timestamp": 5000, "event_type": "view"},
                {"timestamp": 5100, "event_type": "purchase"},
            ],
        }
    ]
    df = trails_json_to_df(spark, trails)
    hexu = "u1".encode().ljust(16, b"\0").hex()
    # two overlapping entries for the same uuid
    entries = [(hexu, 0, 1000, None), (hexu, 0, 6000, None)]
    for progname in (
        "PROG_SESSIONS_BY_TYPE", "PROG_BOUNCE_BY_TYPE",
        "PROG_ATTRIBUTION_BY_TYPE",
    ):
        fast, slow = _both(
            spark, df, getattr(Q, progname), window_entries=entries
        )
        assert fast == slow, progname


def test_compiled_shapes_on_store_match_flat(spark, tmp_path):
    """Every compiled shape over a TrailStore (dictionary-code
    predicates active, dedup elided by the ts-unique proof where it
    holds) must produce exactly the flat-parquet results — the
    store-side differential for planner.pred_codes_ctx across funnel /
    sessions / bounce / attribution / counter / implicit-foreach
    shapes on real data."""
    from trck_spark.queries import (
        PROG_CLICKS_BY_USER,
        PROG_COUNT_BY_TYPE,
        PROG_COUNT_CLICKS,
        PROG_FUNNEL,
    )
    from trck_spark.store import write_trail_store

    ev = load_events(spark, "/root/testdata/sf0.01").select(
        "uuid", "timestamp", "event_id", "event_type", "user"
    )
    store = write_trail_store(
        ev, str(tmp_path / "evstore"), uuid_col="uuid",
        ts_col="timestamp", seq_col="event_id",
    )
    assert store._trailstore_manifest["dicts"], "lexicons expected"

    def norm(res):
        if isinstance(res, list):
            return sorted(res, key=lambda d: sorted(d.items()))
        return res

    for prog in (PROG_SESSIONS, PROG_BOUNCE, PROG_ATTRIBUTION,
                 PROG_FUNNEL, PROG_COUNT_CLICKS, PROG_COUNT_BY_TYPE,
                 PROG_CLICKS_BY_USER):
        flat = TrckSparkEngine(spark).run(
            ev, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="event_id",
        ).collect_json()
        st = TrckSparkEngine(spark).run(
            store, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="event_id",
        ).collect_json()
        assert norm(flat) == norm(st), prog
