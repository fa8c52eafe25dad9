"""HLL sketch rollups (VERDICT r08 item 1): the store writes
per-(field, value) cookie sketches into the manifest
(store._field_hll_rollups / the sliced sidecar), merges them across segments by register max
(_merge_segment_manifests), and the engine answers
``yield cookie to ^h`` uniques queries from them with ZERO Spark work
(TrckLocalResultSet — no DataFrame, no job, nothing to scan by
construction).  Every positive test pins the answer to the scan (FSM)
path byte-for-byte: identical registers mean identical wire hex and
identical estimates.
"""

from __future__ import annotations

import json
import os
import random
import re

import pytest

PROG = """
foreach %v
    start ->
        receive
            t = %v -> yield cookie to ^uniq, repeat
            * -> repeat
"""


def _rows(n_users=40, n_events=5, seed=3):
    random.seed(seed)
    rows = []
    for _ in range(n_users):
        u = "%032x" % random.getrandbits(128)
        for j in range(n_events):
            rows.append((u, 100 + j * 10, j, "abc"[random.randrange(3)]))
    # non-hex uuid: hashes via the utf-8-padded cookie display form
    rows.append(("plain-user", 100, 0, "a"))
    return rows


SCHEMA = "uuid string, timestamp long, seq long, t string"


def _run(spark, store, prog=PROG, env=None, **kw):
    from trck_spark.engine import TrckSparkEngine

    env = env or {}
    for k, v in env.items():
        os.environ[k] = v
    try:
        rs = TrckSparkEngine(spark).run(
            store, prog, uuid_col=kw.pop("uuid_col", "uuid"),
            ts_col="timestamp", seq_col="seq", **kw,
        )
        return rs, rs.collect_json()
    finally:
        for k in env:
            del os.environ[k]


def test_hll_rollup_plain_store_matches_scan_exactly(spark, tmp_path):
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import write_trail_store

    store = write_trail_store(
        spark.createDataFrame(_rows(), SCHEMA), str(tmp_path / "s"),
        seq_col="seq",
    )
    m = store._trailstore_manifest
    assert set(m["hll_rollups"]) == {"t"}
    assert len(m["hll_rollups"]["t"]) == len(m["dicts"]["t"]) + 1

    rs, out = _run(spark, store)
    assert isinstance(rs, TrckLocalResultSet)  # holds no plan at all
    _, out_scan = _run(spark, store, env={"TRCK_SPARK_NO_ROLLUP": "1"})
    _, out_fsm = _run(
        spark, store,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    # identical wire hex per tuple — registers match exactly
    assert out == out_scan == out_fsm
    # and the estimate round-trips sanely vs exact uniques
    from trck_spark.fsm.hll import hll_from_hex

    for r in out:
        if r["%v"] == "":
            continue
        est = hll_from_hex(r["^uniq"]).estimate()
        assert est > 0


def test_hll_rollup_segmented_store_register_max_merge(spark, tmp_path):
    """3 segments with boundary-straddling trails: the union manifest's
    sketches are the register-max merge and match the scan exactly."""
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import append_trail_store

    rows = _rows(60, 4, seed=11)
    path = str(tmp_path / "seg")
    third = len(rows) // 3
    store = None
    for part in (rows[:third], rows[third: 2 * third], rows[2 * third:]):
        store = append_trail_store(
            spark.createDataFrame(part, SCHEMA), path, seq_col="seq"
        )
    assert store._trailstore_segments == 3
    rs, out = _run(spark, store)
    assert isinstance(rs, TrckLocalResultSet)
    _, out_fsm = _run(
        spark, store,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm


def test_hll_rollup_compacted_store(spark, tmp_path):
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import append_trail_store, compact_trail_store

    rows = _rows(30, 3, seed=5)
    src = str(tmp_path / "csrc")
    append_trail_store(
        spark.createDataFrame(rows[:50], SCHEMA), src, seq_col="seq"
    )
    append_trail_store(spark.createDataFrame(rows[50:], SCHEMA), src)
    comp = compact_trail_store(spark, src, str(tmp_path / "cdst"))
    rs, out = _run(spark, comp)
    assert isinstance(rs, TrckLocalResultSet)
    _, out_fsm = _run(
        spark, comp,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm


def test_hll_rollup_survives_duplicate_timestamps(spark, tmp_path):
    """The counter rollup gates on ts_unique; the sketch tier must NOT —
    adds are idempotent, so a consecutive duplicate (dropped by the
    dedup skip on the scan path) can't change any register."""
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import write_trail_store

    rows = _rows(20, 3, seed=7)
    rows += [rows[0], rows[0]]  # exact duplicates
    store = write_trail_store(
        spark.createDataFrame(rows, SCHEMA), str(tmp_path / "dup"),
        seq_col="seq",
    )
    assert store._trailstore_manifest["ts_unique"] is False
    rs, out = _run(spark, store)
    assert isinstance(rs, TrckLocalResultSet)
    _, out_fsm = _run(
        spark, store,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm


def test_hll_rollup_multiple_vars_and_gates(spark, tmp_path):
    from trck_spark.engine import TrckLocalResultSet, TrckResultSet
    from trck_spark.store import write_trail_store

    store = write_trail_store(
        spark.createDataFrame(_rows(15, 3), SCHEMA), str(tmp_path / "g"),
        seq_col="seq",
    )
    # two ^vars in one yield list: both served, both match the FSM
    prog2 = PROG.replace(
        "yield cookie to ^uniq",
        "yield cookie to ^uniq, yield cookie to ^u2",
    )
    rs, out = _run(spark, store, prog2)
    assert isinstance(rs, TrckLocalResultSet)
    _, out_fsm = _run(
        spark, store, prog2, env={"TRCK_SPARK_NO_FASTPATH": "1"}
    )
    assert out == out_fsm
    for r in out:
        assert r.get("^uniq") == r.get("^u2")

    # DECLINES (falls to the FSM path) on shapes the sketch can't prove:
    declining = [
        # non-cookie source
        PROG.replace("yield cookie to ^uniq", "yield t to ^uniq"),
        # a second yielding clause
        PROG.replace(
            "* -> repeat", '* -> yield cookie to ^uniq, repeat'
        ),
        # mixed counter yield
        PROG.replace(
            "yield cookie to ^uniq", "yield cookie to ^uniq, yield $n"
        ),
    ]
    for prog in declining:
        rs_d, out_d = _run(spark, store, prog)
        assert not isinstance(rs_d, TrckLocalResultSet), prog
        _, out_fsm_d = _run(
            spark, store, prog, env={"TRCK_SPARK_NO_FASTPATH": "1"}
        )
        assert out_d == out_fsm_d, prog

    # Round 11: a timestamp lower bound is SCOPE, not an un-provable
    # extra conjunct — the sliced sketch sidecar serves a partial ts
    # bound even on a single store (tier taken), byte-equal to the FSM.
    # Pre-r11 this shape declined; the sidecar made it answerable.
    prog_ts = PROG.replace("t = %v", "t = %v, timestamp >= 105")
    rs_ts, out_ts = _run(spark, store, prog_ts)
    assert isinstance(rs_ts, TrckLocalResultSet), prog_ts
    _, out_fsm_ts = _run(
        spark, store, prog_ts, env={"TRCK_SPARK_NO_FASTPATH": "1"}
    )
    assert out_ts == out_fsm_ts

    # side inputs rebind/limit cookies: tier must decline
    from trck_spark.engine import TrckSparkEngine

    rs_w = TrckSparkEngine(spark).run(
        store, PROG, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        window_entries=[("ab" * 16, 0, 10**9, None)],
    )
    assert isinstance(rs_w, TrckResultSet)
    rs_e = TrckSparkEngine(spark).run(
        store, PROG, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        exclude=["ab" * 16],
    )
    assert isinstance(rs_e, TrckResultSet)


def test_hll_rollup_values_budget_and_kill_switch(spark, tmp_path):
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import write_trail_store

    os.environ["TRCK_SPARK_HLL_ROLLUP_VALUES_MAX"] = "2"  # < 3 values + 1
    try:
        store = write_trail_store(
            spark.createDataFrame(_rows(10, 3), SCHEMA),
            str(tmp_path / "b"), seq_col="seq",
        )
    finally:
        del os.environ["TRCK_SPARK_HLL_ROLLUP_VALUES_MAX"]
    assert store._trailstore_manifest["hll_rollups"] == {}
    rs, out = _run(spark, store)
    assert not isinstance(rs, TrckLocalResultSet)  # declines to scan
    _, out_fsm = _run(spark, store, env={"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_fsm

    os.environ["TRCK_SPARK_NO_HLL_ROLLUP"] = "1"
    try:
        store2 = write_trail_store(
            spark.createDataFrame(_rows(10, 3), SCHEMA),
            str(tmp_path / "k"), seq_col="seq",
        )
    finally:
        del os.environ["TRCK_SPARK_NO_HLL_ROLLUP"]
    assert store2._trailstore_manifest["hll_rollups"] == {}


# --- TIME-SCOPED uniques (engine._run_ts_scoped_hll): a ts-bounded
# `yield cookie to ^x` decomposes over the per-part zone maps like the
# counter tier, but with register-max as the merge — covered parts
# answer from their manifest sketches, only boundary parts scan ---

TS_PROG = """
foreach %v
    start ->
        receive
            t = %v, timestamp >= {lo}, timestamp < {hi} -> yield cookie to ^uniq, repeat
            * -> repeat
"""


def _time_rows(n_users=40, per_user=12, span=300, seed=7):
    """Events spread over [0, span) so time-sliced segments have
    disjoint zone maps (trails straddle every slice)."""
    random.seed(seed)
    rows = []
    for u in range(n_users):
        for ts in sorted(random.sample(range(span), per_user)):
            rows.append((f"{u:032x}", ts, ts, "abc"[random.randrange(3)]))
    return rows


def _time_sliced_store(spark, path, cuts=(100, 200), span=300, **kw):
    from trck_spark.store import append_trail_store

    rows = _time_rows(span=span, **kw)
    bounds = [0, *cuts, span]
    store = None
    for lo, hi in zip(bounds, bounds[1:]):
        part = [r for r in rows if lo <= r[1] < hi]
        store = append_trail_store(
            spark.createDataFrame(part, SCHEMA), path, seq_col="seq"
        )
    return store


def test_hll_ts_scoped_segmented_boundary_scan(spark, tmp_path):
    """Bound covers the middle segment: it answers from its manifest
    sketch; ONLY the two boundary segments scan, and the merged result
    is register-exact vs the full scan and FSM paths."""
    from trck_spark.engine import TrckLocalResultSet

    store = _time_sliced_store(spark, str(tmp_path / "seg"))
    prog = TS_PROG.format(lo=50, hi=250)
    rs, out = _run(spark, store, prog)
    assert isinstance(rs, TrckLocalResultSet)
    assert rs._ts_scope["covered_parts"] == 1
    assert rs._ts_scope["boundary_parts"] == [0, 2]
    # the covered middle segment's files are never read (parts are
    # [base, segment_0000, segment_0001] — the middle is segment_0000)
    assert rs._ts_scope["boundary_files"]
    assert not any(
        "segment_0000" in f for f in rs._ts_scope["boundary_files"]
    )
    assert any(
        "segment_0001" in f for f in rs._ts_scope["boundary_files"]
    )
    _, out_scan = _run(spark, store, prog, env={"TRCK_SPARK_NO_ROLLUP": "1"})
    _, out_fsm = _run(
        spark, store, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_scan == out_fsm


def test_hll_ts_scoped_covering_and_disjoint_bounds(spark, tmp_path):
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.fsm.hll import EMPTY_HLL_HEX

    store = _time_sliced_store(spark, str(tmp_path / "seg2"))
    # bound covers every segment: zero boundary, zero scan
    rs, out = _run(spark, store, TS_PROG.format(lo=0, hi=1000))
    assert isinstance(rs, TrckLocalResultSet)
    assert rs._ts_scope["boundary_parts"] == []
    assert rs._ts_scope["covered_parts"] == 3
    # equals the UNBOUNDED sketch tier (predicate is vacuous)
    _, out_plain = _run(spark, store)
    assert [
        {k: v for k, v in r.items() if k != "%v"} for r in out
    ] == [{k: v for k, v in r.items() if k != "%v"} for r in out_plain]
    # disjoint bound: zero scan, every sketch empty — and the scan path
    # agrees
    rs_d, out_d = _run(spark, store, TS_PROG.format(lo=5000, hi=6000))
    assert isinstance(rs_d, TrckLocalResultSet)
    assert rs_d._ts_scope == {
        "covered_parts": 0, "boundary_parts": [], "boundary_files": [],
    }
    assert all(r.get("^uniq") in (None, EMPTY_HLL_HEX) for r in out_d)
    _, out_d_fsm = _run(
        spark, store, TS_PROG.format(lo=5000, hi=6000),
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out_d == out_d_fsm


def test_hll_ts_scoped_param_bounds(spark, tmp_path):
    from trck_spark.engine import TrckLocalResultSet, TrckSparkEngine

    store = _time_sliced_store(spark, str(tmp_path / "segp"))
    prog = TS_PROG.format(lo="%lo", hi="%hi")
    eng = TrckSparkEngine(spark)
    rs = eng.run(
        store, prog, params={"%lo": 50, "%hi": 250},
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    assert isinstance(rs, TrckLocalResultSet)
    assert rs._ts_scope["boundary_parts"] == [0, 2]
    out = rs.collect_json()
    _, out_fsm = _run(
        spark, store, TS_PROG.format(lo=50, hi=250),
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm
    # unresolvable bound (array param): tier declines, answers still match
    rs_a = eng.run(
        store, prog, params={"%lo": [50], "%hi": 250},
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    assert not isinstance(rs_a, TrckLocalResultSet)


def test_hll_ts_scoped_single_store(spark, tmp_path):
    """A NON-segmented store answers the trivial decompositions from
    its own zone map (bound covers all / misses all).  Round 11: with
    the sliced sketch sidecar a PARTIAL overlap also takes the tier
    (covered slices from the sidecar + partial-slice scan) — the
    compacted-store shape keeps the incremental-uniques cost model;
    without the sidecar the tier declines exactly as before."""
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import write_trail_store

    store = write_trail_store(
        spark.createDataFrame(_time_rows(20, 8), SCHEMA),
        str(tmp_path / "one"), seq_col="seq",
    )
    rs, out = _run(spark, store, TS_PROG.format(lo=0, hi=1000))
    assert isinstance(rs, TrckLocalResultSet)
    assert rs._ts_scope["covered_parts"] == 1
    rs_p, out_p = _run(spark, store, TS_PROG.format(lo=150, hi=1000))
    assert isinstance(rs_p, TrckLocalResultSet)
    assert rs_p._ts_scope.get("slices_covered"), rs_p._ts_scope
    _, out_p_fsm = _run(
        spark, store, TS_PROG.format(lo=150, hi=1000),
        env={"TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out_p == out_p_fsm
    # legacy layout (no sidecar): partial overlap still declines
    os.environ["TRCK_SPARK_NO_HLL_SLICES"] = "1"
    try:
        plain = write_trail_store(
            spark.createDataFrame(_time_rows(20, 8), SCHEMA),
            str(tmp_path / "one_nosl"), seq_col="seq",
        )
    finally:
        del os.environ["TRCK_SPARK_NO_HLL_SLICES"]
    rs_n, out_n = _run(spark, plain, TS_PROG.format(lo=150, hi=1000))
    assert not isinstance(rs_n, TrckLocalResultSet)
    assert out_n == out_p


EXPLICIT_PROG = """
foreach %v in @grid
    start ->
        receive
            t = %v -> yield cookie to ^uniq, repeat
            * -> repeat
"""

EXPLICIT_TS_PROG = """
foreach %v in @grid
    start ->
        receive
            t = %v, timestamp >= {lo}, timestamp < {hi} -> yield cookie to ^uniq, repeat
            * -> repeat
"""


def test_hll_rollup_explicit_grid(spark, tmp_path):
    """`foreach %v in @grid` uniques answer from the manifest sketches
    too: grid values in the lexicon get their sketch, values absent
    from the lexicon have zero occurrences by construction (empty)."""
    from trck_spark.engine import TrckLocalResultSet, TrckSparkEngine
    from trck_spark.store import write_trail_store

    store = write_trail_store(
        spark.createDataFrame(_rows(25, 4), SCHEMA), str(tmp_path / "x"),
        seq_col="seq",
    )
    eng = TrckSparkEngine(spark)
    params = {"@grid": ["a", "c", "zzz-not-in-data"]}
    rs = eng.run(
        store, EXPLICIT_PROG, params=params,
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    assert isinstance(rs, TrckLocalResultSet)
    out = rs.collect_json()
    import os as _os

    _os.environ["TRCK_SPARK_NO_ROLLUP"] = "1"
    _os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        out_fsm = eng.run(
            store, EXPLICIT_PROG, params=params,
            uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del _os.environ["TRCK_SPARK_NO_ROLLUP"]
        del _os.environ["TRCK_SPARK_NO_FASTPATH"]
    assert out == out_fsm
    by_v = {r["%v"]: r.get("^uniq") for r in out}
    assert by_v["zzz-not-in-data"] in (None, "0e00")
    assert by_v["a"] not in (None, "0e00")


def test_hll_ts_scoped_explicit_grid(spark, tmp_path):
    """Explicit grid x timestamp bound: covered middle segment from its
    sketch, boundary segments scanned, out-of-lexicon grid value empty."""
    from trck_spark.engine import TrckLocalResultSet, TrckSparkEngine

    store = _time_sliced_store(spark, str(tmp_path / "xseg"))
    prog = EXPLICIT_TS_PROG.format(lo=50, hi=250)
    params = {"@grid": ["a", "b", "nope"]}
    eng = TrckSparkEngine(spark)
    rs = eng.run(
        store, prog, params=params,
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    assert isinstance(rs, TrckLocalResultSet)
    assert rs._ts_scope["boundary_parts"] == [0, 2]
    out = rs.collect_json()
    import os as _os

    _os.environ["TRCK_SPARK_NO_ROLLUP"] = "1"
    _os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        out_fsm = eng.run(
            store, prog, params=params,
            uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del _os.environ["TRCK_SPARK_NO_ROLLUP"]
        del _os.environ["TRCK_SPARK_NO_FASTPATH"]
    assert out == out_fsm
    by_v = {r["%v"]: r.get("^uniq") for r in out}
    assert by_v["nope"] in (None, "0e00")


GRIDLESS_PROG = """
start ->
    receive
        {pred} -> yield cookie to ^u, repeat
        * -> repeat
"""


def test_hll_gridless_valueset(spark, tmp_path):
    """'How many unique cookies clicked?' — gridless literal /
    set-membership uniques answer as the register-max over the member
    values' manifest sketches, with no foreach anywhere."""
    from trck_spark.engine import TrckLocalResultSet, TrckSparkEngine
    from trck_spark.store import write_trail_store

    store = write_trail_store(
        spark.createDataFrame(_rows(25, 4), SCHEMA), str(tmp_path / "g"),
        seq_col="seq",
    )
    eng = TrckSparkEngine(spark)
    cases = [
        (GRIDLESS_PROG.format(pred='t = "a"'), None),
        (GRIDLESS_PROG.format(pred="t in #s"), {"#s": ["a", "c"]}),
        (GRIDLESS_PROG.format(pred="t = %v"), {"%v": "b"}),
        # conjunction intersects; out-of-lexicon value is empty
        (GRIDLESS_PROG.format(pred='t = "a", t in #s'), {"#s": ["a"]}),
        (GRIDLESS_PROG.format(pred='t = "zzz"'), None),
    ]
    for prog, params in cases:
        rs = eng.run(
            store, prog, params=params,
            uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        )
        assert isinstance(rs, TrckLocalResultSet), prog
        out = rs.collect_json()
        _, out_fsm = _run(
            spark, store, prog,
            env={
                "TRCK_SPARK_NO_ROLLUP": "1",
                "TRCK_SPARK_NO_FASTPATH": "1",
            },
            params=params,
        )
        assert out == out_fsm, prog
    # DECLINES: unresolvable set param, relop condition on the field
    rs_d = eng.run(
        store, GRIDLESS_PROG.format(pred="t in #nope"),
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    assert not isinstance(rs_d, TrckLocalResultSet)


def test_hll_gridless_valueset_ts_scoped(spark, tmp_path):
    """Gridless value-set uniques with a timestamp bound: covered
    segments answer from their sketches, only boundary segments scan."""
    from trck_spark.engine import TrckLocalResultSet, TrckSparkEngine

    store = _time_sliced_store(spark, str(tmp_path / "gts"))
    prog = GRIDLESS_PROG.format(
        pred='t in #s, timestamp >= 50, timestamp < 250'
    )
    params = {"#s": ["a", "b"]}
    eng = TrckSparkEngine(spark)
    rs = eng.run(
        store, prog, params=params,
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    assert isinstance(rs, TrckLocalResultSet)
    assert rs._ts_scope["boundary_parts"] == [0, 2]
    assert not any(
        "segment_0000" in f for f in rs._ts_scope["boundary_files"]
    )
    out = rs.collect_json()
    _, out_fsm = _run(
        spark, store, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
        params=params,
    )
    assert out == out_fsm


def test_hll_rr_column_written_and_jvm_boundary_plan(spark, tmp_path):
    """Round 10/11: stores persist the packed (register << 6 | rank)
    of each row's cookie (__hll_rr, store._hll_rr_expr), and a
    ts-bounded uniques boundary scan takes the exchange-free
    register-blob fold (scope["boundary_plan"] == "rr_fold": JVM
    filter+projection, per-partition Arrow scatter-max, codes x
    partitions blobs to the driver) with results byte-identical to
    the FSM path."""
    from trck_spark.store import read_manifest

    path = str(tmp_path / "rrseg")
    store = _time_sliced_store(spark, path)
    m = read_manifest(path)
    assert m["hll_rr_col"] == "__hll_rr"
    assert "__hll_rr" in store.columns
    prog = TS_PROG.format(lo=50, hi=250)
    rs, out = _run(spark, store, prog)
    assert rs._ts_scope.get("boundary_plan") == "rr_fold"
    _, out_fsm = _run(
        spark, store, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm


def test_hll_sliced_sidecar_engages_and_matches(spark, tmp_path):
    """Round 11: segments write a per-(code, time-slice) sketch sidecar
    (store._write_hll_slices); a ts bound landing MID-segment answers
    the covered slices from the sidecar and scans only the partial
    slices (scope["slices_covered"]), byte-identical to a store written
    without the sidecar, to the boundary-scan-only plan, and to the
    FSM path."""
    from trck_spark.store import read_manifest

    path = str(tmp_path / "sliced")
    store = _time_sliced_store(spark, path)
    m = read_manifest(os.path.join(path, "segment_0001"))
    assert "t" in (m.get("hll_slices") or {}), "sidecar meta missing"
    sl = m["hll_slices"]["t"]
    assert sl["n"] >= 2 and len(sl["bounds"]) == sl["n"] + 1
    assert os.path.exists(
        os.path.join(path, "segment_0001", sl["file"])
    )
    # bound strictly inside the LAST segment (index 2): its slices at
    # the low edge are covered, the straddled slice scans
    prog = TS_PROG.format(lo=50, hi=250)
    rs, out = _run(spark, store, prog)
    assert rs._ts_scope.get("boundary_plan") == "rr_fold"
    assert rs._ts_scope.get("slices_covered"), rs._ts_scope
    # same store WITHOUT the sidecar layer
    nos_path = str(tmp_path / "nosl")
    os.environ["TRCK_SPARK_NO_HLL_SLICES"] = "1"
    try:
        nos = _time_sliced_store(spark, nos_path)
    finally:
        del os.environ["TRCK_SPARK_NO_HLL_SLICES"]
    assert not read_manifest(
        os.path.join(nos_path, "segment_0001")
    ).get("hll_slices")
    rs_n, out_n = _run(spark, nos, prog)
    assert rs_n._ts_scope.get("boundary_plan") == "rr_fold"
    assert not rs_n._ts_scope.get("slices_covered")
    assert out == out_n
    # FSM ground truth
    _, out_fsm = _run(
        spark, store, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm


def test_hll_sliced_sidecar_exact_slice_alignment(spark, tmp_path):
    """Bounds landing EXACTLY on slice edges: the scan ranges are the
    exact complement (possibly empty — zero scan), still identical to
    the no-sidecar answer."""
    from trck_spark.store import read_manifest

    path = str(tmp_path / "aligned")
    store = _time_sliced_store(spark, path)
    m = read_manifest(os.path.join(path, "segment_0001"))
    sl = (m.get("hll_slices") or {}).get("t")
    assert sl, "sidecar meta missing"
    b = sl["bounds"]
    # [segment start, one slice-end]: low edge aligned, high edge
    # aligned -> the covered span needs NO partial scan on the low side
    lo, hi = b[0], b[3] - 1
    prog = TS_PROG.format(lo=lo, hi=hi + 1)  # program uses < hi+1
    rs, out = _run(spark, store, prog)
    assert rs._ts_scope.get("slices_covered"), rs._ts_scope
    nos_path = str(tmp_path / "nosl2")
    os.environ["TRCK_SPARK_NO_HLL_SLICES"] = "1"
    try:
        nos = _time_sliced_store(spark, nos_path)
    finally:
        del os.environ["TRCK_SPARK_NO_HLL_SLICES"]
    _, out_n = _run(spark, nos, prog)
    assert out == out_n


def test_hll_sliced_sidecar_compacted_store(spark, tmp_path):
    """Round 11: a COMPACTED (single) store keeps the incremental-
    uniques cost model — a partial ts bound answers its covered slices
    from the sidecar (scope["slices_covered"]) and scans only the
    partial slices, byte-identical to the segmented store and the FSM
    path.  Pre-r11 a single-store partial overlap lost the tier."""
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import compact_trail_store

    segp = str(tmp_path / "seg")
    seg = _time_sliced_store(spark, segp)
    comp = compact_trail_store(spark, segp, str(tmp_path / "comp"))
    prog = TS_PROG.format(lo=60, hi=240)
    rs_c, out_c = _run(spark, comp, prog)
    assert isinstance(rs_c, TrckLocalResultSet)
    assert rs_c._ts_scope.get("slices_covered"), rs_c._ts_scope
    assert rs_c._ts_scope.get("boundary_plan") == "rr_fold"
    _, out_s = _run(spark, seg, prog)
    assert out_c == out_s
    _, out_f = _run(
        spark, comp, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out_c == out_f


def test_rr_fold_driver_merge_cap(spark, tmp_path):
    """VERDICT r11 item 2 (bounded driver merge): when the estimated
    collect (streams x codes x 16 KiB) exceeds the cap, the boundary
    fold inserts ONE blob-level groupBy("c") register-max merge before
    the driver collect, so driver bytes stay O(codes x 16 KiB)
    regardless of cluster parallelism.  Forced here with a tiny cap:
    the capped plan carries the grouped-merge stage, the default plan
    keeps the exchange-free shape, and the answers are byte-identical
    to each other and to the FSM path (register max is associative, so
    a two-level fold cannot change a register)."""
    import contextlib
    import io

    from trck_spark.store import open_trail_store

    path = str(tmp_path / "cap")
    store = _time_sliced_store(spark, path)
    prog = TS_PROG.format(lo=50, hi=250)
    rs, out = _run(spark, store, prog)  # default: cap not engaged

    def _boundary_plans(st):
        pc = st._trailstore_manifest.get("_ts_hll_plan_cache") or {}
        texts = []
        for df in pc.values():
            if df is None:
                continue
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            texts.append(buf.getvalue())
        return "\n".join(texts)

    default_plan = _boundary_plans(store)
    assert "MapInPandas" in default_plan
    assert "FlatMapGroupsInPandas" not in default_plan

    # fresh open so the plan cache cannot serve the uncapped plan
    store2 = open_trail_store(spark, path)
    rs2, out2 = _run(
        spark, store2, prog,
        env={"TRCK_SPARK_RR_FOLD_DRIVER_MAX_MB": "0.0001"},
    )
    assert out2 == out
    capped_plan = _boundary_plans(store2)
    assert "FlatMapGroupsInPandas" in capped_plan

    _, out_fsm = _run(
        spark, store, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm


def test_sidecar_parallel_reads_match_serial(spark, tmp_path):
    """VERDICT r11 item 6 (executor-side sidecar reads): past
    TRCK_SPARK_SIDECAR_DRIVER_PARTS boundary parts the slice-plan
    sidecar blobs are read by a small parallelized job instead of
    serial driver I/O.  A 6-segment store whose segments all span the
    full time range makes EVERY part boundary (6 > the default 4, so
    the default run takes the parallel path); a fresh open forced
    serial must answer byte-identically, as must the FSM path."""
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import append_trail_store, open_trail_store

    rows = _time_rows(n_users=36, per_user=6, seed=29)
    path = str(tmp_path / "many")
    store = None
    for k in range(6):  # uuid-sliced appends: every segment spans time
        part = [r for i, r in enumerate(rows) if i % 6 == k]
        store = append_trail_store(
            spark.createDataFrame(part, SCHEMA), path, seq_col="seq"
        )
    prog = TS_PROG.format(lo=50, hi=250)
    rs, out = _run(spark, store, prog)  # 6 boundary parts -> parallel
    assert isinstance(rs, TrckLocalResultSet)
    assert len(rs._ts_scope["boundary_parts"]) == 6
    assert rs._ts_scope.get("slices_covered"), rs._ts_scope

    store2 = open_trail_store(spark, path)
    rs2, out2 = _run(
        spark, store2, prog,
        env={"TRCK_SPARK_SIDECAR_DRIVER_PARTS": "1000"},  # force serial
    )
    assert out2 == out
    assert rs2._ts_scope.get("slices_covered") == rs._ts_scope.get(
        "slices_covered"
    )

    _, out_fsm = _run(
        spark, store, prog,
        env={"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_fsm



FSM_ENV = {"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"}

# manifest edits that fabricate a store written in an older layout:
# (part directory, edit)
OLDER_LAYOUTS = {
    # the base predates the write-time count rollups
    "no_rollups": ("", lambda m: m.pop("rollups")),
    # a segment predates the zone maps: a tier that took the missing
    # ts_min for an empty part would drop its events (ADVICE r08)
    "no_zone_map": (
        "segment_0000", lambda m: (m.pop("ts_min"), m.pop("ts_max"))
    ),
    # a segment predates the packed __hll_rr register column
    "no_register_column": (
        "segment_0001", lambda m: m.update(hll_rr_col=None)
    ),
}


@pytest.mark.parametrize("layout", sorted(OLDER_LAYOUTS))
def test_older_layout_raises_until_compacted(spark, tmp_path, layout):
    """A store whose base or segment manifest lacks a key
    write_trail_store writes still opens, but every query on it —
    tiers and FSM path alike — raises a ValueError naming
    ``--compact``; compact_trail_store rewrites it in the current
    layout, whose tier answer equals the FSM path's on the intact
    store and on the compacted one."""
    from trck_spark.engine import TrckLocalResultSet
    from trck_spark.store import (
        MANIFEST, compact_trail_store, open_trail_store,
    )

    path = str(tmp_path / "old")
    store = _time_sliced_store(spark, path)
    prog = TS_PROG.format(lo=50, hi=250)
    _, want = _run(spark, store, prog, env=FSM_ENV)
    part, edit = OLDER_LAYOUTS[layout]
    mp = os.path.join(path, part, MANIFEST)
    with open(mp) as f:
        m = json.load(f)
    edit(m)
    with open(mp, "w") as f:
        json.dump(m, f)
    old = open_trail_store(spark, path)
    for env in ({}, FSM_ENV):
        with pytest.raises(
            ValueError, match=re.escape(f"--compact {path} DEST")
        ):
            _run(spark, old, prog, env=env)
    comp = compact_trail_store(spark, path, str(tmp_path / "new"))
    rs, out = _run(spark, comp, prog)
    assert isinstance(rs, TrckLocalResultSet)
    assert out == want
    _, out_fsm = _run(spark, comp, prog, env=FSM_ENV)
    assert out_fsm == want
