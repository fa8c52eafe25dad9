"""TrailStore write-time rollup answering implicit-foreach counters
(VERDICT r06 item 4): the store aggregates (dictionary code, count) per
field at WRITE time (store._write_stats_and_rollups), and engine.run
answers the B1-shaped query from the manifest with ZERO scan — gated on
ts_unique (dedup provably a no-op) and on rollup_weights (the program
counts every matching event exactly once).  Every test cross-checks the
rollup answer against the FSM path and the scan-based compiled path on
the same store.
"""

from __future__ import annotations

import json
import os

PROG = """
foreach %v
    start ->
        receive
            t = %v -> yield $r
            * -> repeat
"""


def _store(spark, tmp_path, rows, name="s"):
    from trck_spark.store import write_trail_store

    df = spark.createDataFrame(
        rows, "uuid string, timestamp long, seq long, t string, u string"
    )
    return write_trail_store(df, str(tmp_path / name))


def _rows(dup_ts=False):
    rows = []
    for i in range(6):
        for j in range(8):
            ts = 100 + j * 10
            rows.append((f"u{i}", ts, j, "abc"[j % 3], "xy"[j % 2]))
            if dup_ts and j == 2:
                # exact consecutive duplicate (same ts, same fields):
                # the dedup skip drops it, so a rollup answer would
                # overcount — the ts_unique gate must reject the store
                rows.append((f"u{i}", ts, j, "abc"[j % 3], "xy"[j % 2]))
    return rows


def _run(spark, store, prog, env=None):
    from trck_spark.engine import TrckSparkEngine

    env = env or {}
    for k, v in env.items():
        os.environ[k] = v
    try:
        rs = TrckSparkEngine(spark).run(
            store, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq",
        )
        out = rs.collect_json()
        plan = rs.counters_df()._jdf.queryExecution().executedPlan().toString()
        return out, plan
    finally:
        for k in env:
            del os.environ[k]


def test_rollup_manifest_counts(spark, tmp_path):
    store = _store(spark, tmp_path, _rows())
    m = store._trailstore_manifest
    assert set(m["rollups"]) == {"t", "u"}
    # 6 trails x 8 events: t cycles a,b,c,a,b,c,a,b -> a:3 b:3 c:2 each
    t_values = m["dicts"]["t"]
    counts = dict(zip([""] + t_values, m["rollups"]["t"]))
    assert counts == {"": 0, "a": 18, "b": 18, "c": 12}


def test_rollup_answers_without_scan(spark, tmp_path):
    store = _store(spark, tmp_path, _rows())
    out, plan = _run(spark, store, PROG)
    assert "FileScan" not in plan and "Scan parquet" not in plan
    by_v = {r["%v"]: r["$r"] for r in out}
    assert by_v == {"": 0, "a": 18, "b": 18, "c": 12}
    # same answer from the scan-based compiled path and the FSM path
    out_scan, plan_scan = _run(
        spark, store, PROG, {"TRCK_SPARK_NO_ROLLUP": "1"}
    )
    assert "FileScan" in plan_scan or "Scan parquet" in plan_scan
    out_fsm, _ = _run(spark, store, PROG, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_scan == out_fsm


def test_rollup_multiplicity(spark, tmp_path):
    prog2 = PROG.replace("yield $r", "yield $r, yield $r, yield $k")
    store = _store(spark, tmp_path, _rows())
    out, plan = _run(spark, store, prog2)
    assert "FileScan" not in plan
    out_fsm, _ = _run(
        spark, store, prog2, {"TRCK_SPARK_NO_FASTPATH": "1"}
    )
    assert out == out_fsm
    by_v = {r["%v"]: (r["$r"], r["$k"]) for r in out}
    assert by_v["a"] == (36, 18)


def test_rollup_gated_off_on_duplicate_timestamps(spark, tmp_path):
    store = _store(spark, tmp_path, _rows(dup_ts=True))
    assert store._trailstore_manifest["ts_unique"] is False
    out, plan = _run(spark, store, PROG)
    # must scan (the dedup window is live) and must agree with the FSM
    assert "FileScan" in plan or "Scan parquet" in plan
    out_fsm, _ = _run(spark, store, PROG, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_fsm
    # the duplicate was dropped: counts match the dup-free corpus
    assert {r["%v"]: r["$r"] for r in out} == {
        "": 0, "a": 18, "b": 18, "c": 12
    }


def test_rollup_gated_off_on_unsafe_shapes(spark, tmp_path):
    store = _store(spark, tmp_path, _rows())
    # extra conjunct filters below the rollup's raw counts
    conj = PROG.replace('t = %v ->', 't = %v, u = "x" ->')
    out, plan = _run(spark, store, conj)
    assert "FileScan" in plan or "Scan parquet" in plan
    out_fsm, _ = _run(spark, store, conj, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_fsm
    # an earlier clause steals events from the counting clause
    steal = PROG.replace(
        't = %v -> yield $r',
        'u = "x" -> repeat\n            t = %v -> yield $r',
    )
    out2, plan2 = _run(spark, store, steal)
    assert "FileScan" in plan2 or "Scan parquet" in plan2
    out2_fsm, _ = _run(
        spark, store, steal, {"TRCK_SPARK_NO_FASTPATH": "1"}
    )
    assert out2 == out2_fsm
    assert out2 != out  # the steal clause really changes counts


PROG_EXPLICIT = """
foreach %v in @arr
    start ->
        receive
            t = %v -> yield $r
            * -> repeat
"""


def test_rollup_answers_explicit_grid(spark, tmp_path):
    """The `*_by_type` family: an EXPLICIT foreach grid over a
    rollup-safe program answers from the manifest too — including grid
    values absent from the store lexicon (zero occurrences by the
    lexicon's construction) and the empty binding (code 0)."""
    store = _store(spark, tmp_path, _rows())
    params = {"@arr": [["a"], ["c"], ["zz"], [""]]}

    from trck_spark.engine import TrckSparkEngine

    rs = TrckSparkEngine(spark).run(
        store, PROG_EXPLICIT, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    out = rs.collect_json()
    plan = rs.counters_df()._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    by_v = {r["%v"]: r["$r"] for r in out}
    assert by_v == {"a": 18, "c": 12, "zz": 0, "": 0}
    # identical through the scan path and the FSM path
    os.environ["TRCK_SPARK_NO_ROLLUP"] = "1"
    try:
        out_scan = TrckSparkEngine(spark).run(
            store, PROG_EXPLICIT, params=params, uuid_col="uuid",
            ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del os.environ["TRCK_SPARK_NO_ROLLUP"]
    os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        out_fsm = TrckSparkEngine(spark).run(
            store, PROG_EXPLICIT, params=params, uuid_col="uuid",
            ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del os.environ["TRCK_SPARK_NO_FASTPATH"]
    assert out == out_scan == out_fsm


PROG_LITERAL = """
start ->
    receive
        t = "b" -> yield $n, repeat
        * -> repeat
"""


def test_rollup_answers_literal_counter(spark, tmp_path):
    """The count-matching-events shape (literal predicate, no foreach)
    answers from the rollup too; a literal absent from the lexicon
    counts zero; parity with the scan and FSM paths throughout."""
    from trck_spark.engine import TrckSparkEngine

    store = _store(spark, tmp_path, _rows())
    out, plan = _run(spark, store, PROG_LITERAL)
    assert "FileScan" not in plan and "Scan parquet" not in plan
    assert out == {"$n": 18}
    out_scan, _ = _run(spark, store, PROG_LITERAL,
                       {"TRCK_SPARK_NO_ROLLUP": "1"})
    out_fsm, _ = _run(spark, store, PROG_LITERAL,
                      {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_scan == out_fsm
    # absent literal -> zero, still no scan
    miss = PROG_LITERAL.replace('"b"', '"nope"')
    out2, plan2 = _run(spark, store, miss)
    assert "FileScan" not in plan2
    out2_fsm, _ = _run(spark, store, miss, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out2 == out2_fsm == {"$n": 0}
    # extra conjunct falls back to the scan path
    conj = PROG_LITERAL.replace('t = "b" ->', 't = "b", u = "x" ->')
    out3, plan3 = _run(spark, store, conj)
    assert "FileScan" in plan3 or "Scan parquet" in plan3
    out3_fsm, _ = _run(spark, store, conj, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out3 == out3_fsm


def _seg_store(spark, tmp_path, name="segs"):
    """3-segment store (base + 2 appends) over disjoint-ish lexicons so
    the union remap is a real permutation, not an identity."""
    from trck_spark.store import append_trail_store

    schema = "uuid string, timestamp long, seq long, t string, u string"
    path = str(tmp_path / name)
    base = spark.createDataFrame(
        [("u1", 100, 0, "a", "x"), ("u1", 200, 1, "b", "y"),
         ("u2", 150, 0, "a", "x")], schema,
    )
    seg1 = spark.createDataFrame(
        # 'c' is new: seg1's local lexicon ['a','c'] codes differ from
        # the union ['a','b','c','d'] codes
        [("u1", 300, 0, "c", "x"), ("u2", 250, 0, "a", "y")], schema,
    )
    seg2 = spark.createDataFrame(
        [("u3", 500, 0, "b", "x"), ("u3", 600, 1, "d", "y")], schema,
    )
    append_trail_store(base, path, seq_col="seq")
    append_trail_store(seg1, path)
    return path, append_trail_store(seg2, path)


def test_segmented_rollup_zero_scan(spark, tmp_path):
    """VERDICT r07 item 1: a >=3-segment store keeps the ZERO-SCAN
    rollup tier — merged union lexicon + value-keyed summed rollups —
    value-identical to the dictionary-scan and FSM paths."""
    path, store = _seg_store(spark, tmp_path)
    m = store._trailstore_manifest
    assert m["dicts"]["t"] == ["a", "b", "c", "d"]
    assert m["rollups"]["t"] == [0, 3, 2, 1, 1]
    assert m["ts_unique"] is True and m["clustered"] is False

    out, plan = _run(spark, store, PROG)
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    assert out == [
        {"%v": "", "$r": 0}, {"%v": "a", "$r": 3}, {"%v": "b", "$r": 2},
        {"%v": "c", "$r": 1}, {"%v": "d", "$r": 1},
    ]
    out_scan, plan_scan = _run(
        spark, store, PROG, {"TRCK_SPARK_NO_ROLLUP": "1"}
    )
    # the dictionary-scan tier survives appends too (remapped codes)
    assert "__c_t" in plan_scan or "element_at" in plan_scan
    out_fsm, _ = _run(
        spark, store, PROG,
        {"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_scan == out_fsm


def test_segmented_dict_codes_are_union_codes(spark, tmp_path):
    """Per-segment codes are remapped to the union lexicon: every
    (string, code) pair across the whole union obeys the merged dict."""
    path, store = _seg_store(spark, tmp_path, "segs2")
    union = store._trailstore_manifest["dicts"]["t"]
    index = {v: i + 1 for i, v in enumerate(union)}
    for r in store.select("t", "__c_t").collect():
        assert r["__c_t"] == index[r["t"]], (r, union)


def test_segmented_dup_segment_disables_rollup(spark, tmp_path):
    """One segment with an internal same-(uuid,ts) duplicate flips the
    merged ts_unique off: the rollup tier must NOT answer (it would
    overcount the dedup-skipped event) and results still match the FSM
    path, with the dup skipped inside its segment only."""
    from trck_spark.store import append_trail_store

    schema = "uuid string, timestamp long, seq long, t string, u string"
    path = str(tmp_path / "segdup")
    base = spark.createDataFrame(
        [("u1", 100, 0, "a", "x"), ("u1", 200, 1, "b", "x")], schema,
    )
    segdup = spark.createDataFrame(
        # internal true duplicate (same ts, same fields): dedup-skipped
        [("u1", 300, 0, "a", "x"), ("u1", 300, 1, "a", "x")], schema,
    )
    append_trail_store(base, path, seq_col="seq")
    store = append_trail_store(segdup, path)
    assert store._trailstore_manifest["ts_unique"] is False

    out, plan = _run(spark, store, PROG)
    assert "FileScan" in plan or "Scan parquet" in plan, plan
    out_fsm, _ = _run(spark, store, PROG, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_fsm
    by_v = {r["%v"]: r["$r"] for r in out}
    assert by_v["a"] == 2  # base's a + ONE of the seg dups
    assert by_v["b"] == 1


def test_engine_auto_db_col_on_segmented(spark, tmp_path):
    """engine.run on a segmented frame defaults db_col to __segment:
    a boundary-straddling duplicate must survive (per-segment dedup
    scope) even when the caller forgets db_col."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.store import append_trail_store

    schema = "uuid string, timestamp long, seq long, t string, u string"
    path = str(tmp_path / "segauto")
    base = spark.createDataFrame(
        [("u1", 100, 0, "a", "x"), ("u1", 100, 1, "a", "x")], schema,
    )
    seg = spark.createDataFrame(  # same event again at the boundary
        [("u1", 100, 0, "a", "x")], schema,
    )
    append_trail_store(base, path, seq_col="seq")
    store = append_trail_store(seg, path)
    prog = (
        'start ->\n    receive\n        t = "a" -> yield $n, repeat\n'
        "        * -> repeat\n"
    )
    out = TrckSparkEngine(spark).run(
        store, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq"
    ).collect_json()
    # base's dup pair collapses to 1 (in-segment dedup); the boundary
    # copy is a NEW db and survives -> 2.  A merged dedup scope (no db
    # col) would give 1.
    assert out == {"$n": 2}


def _ts_seg_store(spark, tmp_path, name="tsegs"):
    """Three TIME-SLICED segments: A [100,150], B [200,260], C [300,350]
    — the one-tdb-per-period shape the time-scoped tier decomposes."""
    from trck_spark.store import append_trail_store

    schema = "uuid string, timestamp long, seq long, t string, u string"
    path = str(tmp_path / name)
    slices = [
        [("u1", 100, 0, "a", "x"), ("u1", 150, 1, "b", "x"),
         ("u2", 120, 0, "a", "y")],
        [("u1", 200, 0, "a", "x"), ("u2", 250, 0, "c", "y"),
         ("u2", 260, 1, "a", "x")],
        [("u1", 300, 0, "b", "y"), ("u3", 350, 0, "d", "x")],
    ]
    store = None
    for rows in slices:
        store = append_trail_store(
            spark.createDataFrame(rows, schema), path, seq_col="seq"
        )
    return path, store


PROG_TS = """
foreach %v
    start ->
        receive
            t = %v, timestamp >= 150, timestamp < 350 -> yield $n
            * -> repeat
"""


def test_ts_scoped_rollup_scans_only_boundary_segments(spark, tmp_path):
    """VERDICT r07 item 5: the bound [150, 350) fully covers segment B
    (rollup, never scanned), clips A and C (scanned), and the combined
    answer equals the FSM and scan paths."""
    import re

    path, store = _ts_seg_store(spark, tmp_path)
    m = store._trailstore_manifest
    assert [(p["ts_min"], p["ts_max"]) for p in m["parts"]] == [
        (100, 150), (200, 260), (300, 350)
    ]

    from trck_spark.engine import TrckSparkEngine

    rs = TrckSparkEngine(spark).run(
        store, PROG_TS, uuid_col="uuid", ts_col="timestamp",
        seq_col="seq",
    )
    out = rs.collect_json()
    # inputFiles() is the unambiguous scan set (plan strings truncate)
    scanned = {f for f in rs.counters_df().inputFiles()}
    # base dir (= part A) and segment_0001 (= part C) scanned; the
    # covered middle segment_0000 (= part B) answered from its rollup
    assert any("segment_0001" in f for f in scanned), scanned
    assert any(re.search(r"tsegs/[^/]+\.parquet$", f) for f in scanned), (
        scanned
    )
    assert not any("segment_0000" in f for f in scanned), scanned
    assert out == [
        {"%v": "", "$n": 0}, {"%v": "a", "$n": 2}, {"%v": "b", "$n": 2},
        {"%v": "c", "$n": 1}, {"%v": "d", "$n": 0},
    ]
    out_scan, _ = _run(spark, store, PROG_TS, {"TRCK_SPARK_NO_ROLLUP": "1"})
    out_fsm, _ = _run(
        spark, store, PROG_TS,
        {"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_scan == out_fsm


def test_ts_scoped_rollup_param_bounds(spark, tmp_path):
    """%param timestamp bounds resolve driver-side: same decomposition,
    same answer, parameterized like trck --params."""
    from trck_spark.engine import TrckSparkEngine

    path, store = _ts_seg_store(spark, tmp_path, "tsegs_p")
    prog = PROG_TS.replace("150,", "%lo,").replace("< 350", "< %hi")
    rs = TrckSparkEngine(spark).run(
        store, prog, params={"%lo": "150", "%hi": "350"},
        uuid_col="uuid", ts_col="timestamp", seq_col="seq",
    )
    out = rs.collect_json()
    scanned = rs.counters_df().inputFiles()
    assert not any("segment_0000" in f for f in scanned), scanned
    base, _ = _run(spark, store, PROG_TS)
    assert out == base


def test_ts_scoped_rollup_covering_and_disjoint_bounds(spark, tmp_path):
    """A bound covering EVERY segment answers with zero scan; a bound
    disjoint from all segments densifies to all-zero rows, zero scan."""
    path, store = _ts_seg_store(spark, tmp_path, "tsegs_c")
    allprog = PROG_TS.replace("150,", "0,").replace("< 350", "< 9999")
    out, plan = _run(spark, store, allprog)
    assert "FileScan" not in plan and "Scan parquet" not in plan
    plain, _ = _run(spark, store, PROG)
    # bound covers everything == unbounded counts ($n vs $r naming)
    assert [{"v": r["%v"], "n": r["$n"]} for r in out] == [
        {"v": r["%v"], "n": r["$r"]} for r in plain
    ]

    noneprog = PROG_TS.replace("150,", "9000,").replace("< 350", "< 9999")
    out2, plan2 = _run(spark, store, noneprog)
    assert "FileScan" not in plan2 and "Scan parquet" not in plan2
    assert all(r["$n"] == 0 for r in out2)
    out2_fsm, _ = _run(
        spark, store, noneprog, {"TRCK_SPARK_NO_FASTPATH": "1"}
    )
    assert out2 == out2_fsm


def test_ts_scoped_rollup_dup_segment_falls_back(spark, tmp_path):
    """A non-ts-unique segment kills no_dedup, so the time-scoped tier
    must decline and the scan answer must still match the FSM path."""
    from trck_spark.store import append_trail_store

    schema = "uuid string, timestamp long, seq long, t string, u string"
    path = str(tmp_path / "tsegdup")
    append_trail_store(
        spark.createDataFrame(
            [("u1", 100, 0, "a", "x"), ("u1", 150, 1, "b", "x")], schema
        ),
        path, seq_col="seq",
    )
    store = append_trail_store(
        spark.createDataFrame(
            [("u1", 200, 0, "a", "x"), ("u1", 200, 1, "a", "x")], schema
        ),
        path,
    )
    out, plan = _run(spark, store, PROG_TS)
    assert "FileScan" in plan or "Scan parquet" in plan
    out_fsm, _ = _run(spark, store, PROG_TS, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_fsm
    by_v = {r["%v"]: r["$n"] for r in out}
    assert by_v == {"": 0, "a": 1, "b": 1}  # dup skipped, 100 out of bound


def test_ts_scoped_rollup_single_store(spark, tmp_path):
    """NON-segmented store: a ts bound that covers the whole zone map
    answers from the rollup (zero scan); a disjoint bound densifies to
    zeros (zero scan); a partial overlap falls back to the scan."""
    store = _store(spark, tmp_path, _rows(), name="s_ts")
    m = store._trailstore_manifest
    assert m["ts_min"] == 100 and m["ts_max"] == 170

    cover = PROG.replace("t = %v", "t = %v, timestamp >= 50, timestamp < 9999")
    out, plan = _run(spark, store, cover)
    assert "FileScan" not in plan and "Scan parquet" not in plan
    plain, _ = _run(spark, store, PROG)
    assert out == plain

    miss = PROG.replace("t = %v", "t = %v, timestamp >= 5000")
    out2, plan2 = _run(spark, store, miss)
    assert "FileScan" not in plan2 and "Scan parquet" not in plan2
    assert all(r["$r"] == 0 for r in out2)
    out2_fsm, _ = _run(spark, store, miss, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out2 == out2_fsm

    part = PROG.replace("t = %v", "t = %v, timestamp >= 140")
    out3, plan3 = _run(spark, store, part)
    assert "FileScan" in plan3 or "Scan parquet" in plan3
    out3_fsm, _ = _run(spark, store, part, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out3 == out3_fsm


def test_segmented_remap_over_budget_drops_codes_keeps_rollup(
    spark, tmp_path, monkeypatch
):
    """A field whose union remap would exceed REMAP_LITERAL_MAX drops
    its __c_* columns on the segmented open (no giant literal arrays in
    the plan) but KEEPS the merged rollup — the zero-scan tier still
    answers; the scan fallback runs on the plain string column."""
    import trck_spark.store as store_mod
    from trck_spark.store import append_trail_store

    monkeypatch.setattr(store_mod, "REMAP_LITERAL_MAX", 2)
    schema = "uuid string, timestamp long, seq long, t string, u string"
    path = str(tmp_path / "overbudget")
    append_trail_store(
        spark.createDataFrame(
            [("u1", 100, 0, "a", "x"), ("u1", 200, 1, "b", "x")], schema
        ),
        path, seq_col="seq",
    )
    store = append_trail_store(
        spark.createDataFrame(
            # 'c' forces a non-identity remap for t on both parts
            [("u2", 300, 0, "c", "x"), ("u2", 400, 1, "a", "x")], schema
        ),
        path,
    )
    m = store._trailstore_manifest
    assert m["dicts"]["t"] == ["a", "b", "c"]
    assert "__c_t" not in store.columns  # over budget -> dropped
    assert "__c_u" in store.columns      # identity remap -> kept

    out, plan = _run(spark, store, PROG)
    assert "FileScan" not in plan and "Scan parquet" not in plan
    assert {r["%v"]: r["$r"] for r in out} == {
        "": 0, "a": 2, "b": 1, "c": 1
    }
    out_scan, _ = _run(spark, store, PROG, {"TRCK_SPARK_NO_ROLLUP": "1"})
    out_fsm, _ = _run(
        spark, store, PROG,
        {"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"},
    )
    assert out == out_scan == out_fsm


PROG_TS_GRID = """
foreach %v in @arr
    start ->
        receive
            t = %v, timestamp >= 150, timestamp < 350 -> yield $n
            * -> repeat
"""

PROG_TS_LITERAL = """
start ->
    receive
        t = "a", timestamp >= 150, timestamp < 350 -> yield $n, repeat
        * -> repeat
"""


def test_ts_scoped_rollup_explicit_grid(spark, tmp_path):
    """The `*_by_type in @arr` family with a timestamp bound: partials =
    rollup(covered segment) UNION scan(boundary segments only) — grid
    values absent from the store densify to zero, and the covered
    middle segment is never scanned."""
    from trck_spark.engine import TrckSparkEngine

    path, store = _ts_seg_store(spark, tmp_path, "tsegs_grid")
    params = {"@arr": [["a"], ["b"], ["zz"], [""]]}
    rs = TrckSparkEngine(spark).run(
        store, PROG_TS_GRID, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    out = rs.collect_json()
    scanned = rs.counters_df().inputFiles()
    assert scanned, "boundary segments must scan"
    assert not any("segment_0000" in f for f in scanned), scanned
    assert {r["%v"]: r["$n"] for r in out} == {
        "a": 2, "b": 2, "zz": 0, "": 0
    }
    # FSM path agrees
    os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        out_fsm = TrckSparkEngine(spark).run(
            store, PROG_TS_GRID, params=params, uuid_col="uuid",
            ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del os.environ["TRCK_SPARK_NO_FASTPATH"]
    assert out == out_fsm

    # bound covering every segment: pure rollup partials, zero scan
    allprog = PROG_TS_GRID.replace("150,", "0,").replace("< 350", "< 9999")
    rs2 = TrckSparkEngine(spark).run(
        store, allprog, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    out2 = rs2.collect_json()
    assert rs2.counters_df().inputFiles() == []
    assert {r["%v"]: r["$n"] for r in out2} == {
        "a": 4, "b": 2, "zz": 0, "": 0
    }


def test_ts_scoped_rollup_literal(spark, tmp_path):
    """Literal-predicate counter with a timestamp bound: same
    decomposition, scalar result; the covered segment contributes its
    rollup count for the literal's code only."""
    from trck_spark.engine import TrckSparkEngine

    path, store = _ts_seg_store(spark, tmp_path, "tsegs_lit")
    rs = TrckSparkEngine(spark).run(
        store, PROG_TS_LITERAL, uuid_col="uuid", ts_col="timestamp",
        seq_col="seq",
    )
    out = rs.collect_json()
    scanned = rs.counters_df().inputFiles()
    assert scanned and not any("segment_0000" in f for f in scanned)
    # in-bound 'a' events: none in A's clip [150,150], B's a@200 +
    # a@260 (covered rollup), none in C's clip [300,350) with t=a
    assert out == {"$n": 2}
    out_fsm, _ = _run(
        spark, store, PROG_TS_LITERAL, {"TRCK_SPARK_NO_FASTPATH": "1"}
    )
    assert out == out_fsm

    # covering bound: zero scan, full literal count
    allprog = PROG_TS_LITERAL.replace("150,", "0,").replace("< 350", "< 9999")
    rs2 = TrckSparkEngine(spark).run(
        store, allprog, uuid_col="uuid", ts_col="timestamp",
        seq_col="seq",
    )
    assert rs2.counters_df().inputFiles() == []
    assert rs2.collect_json() == {"$n": 4}


def test_ts_scoped_grid_on_compacted_appended_store(spark, tmp_path):
    """Compact -> append: the composite __segment gives the base its own
    db values (0..db_max) and the appended segment db_max+1, so the
    boundary filter must map part INDICES to those VALUES — filtering on
    the raw index would select a base sub-db instead of the appended
    segment."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.store import append_trail_store, compact_trail_store

    schema = "uuid string, timestamp long, seq long, t string, u string"
    src = str(tmp_path / "tsrc")
    # two time-sliced segments, then compact, then append a third slice
    append_trail_store(
        spark.createDataFrame(
            [("u1", 100, 0, "a", "x"), ("u2", 120, 1, "a", "x")], schema
        ),
        src, seq_col="seq",
    )
    append_trail_store(
        spark.createDataFrame(
            [("u1", 200, 0, "a", "x"), ("u2", 260, 1, "c", "x")], schema
        ),
        src,
    )
    comp = str(tmp_path / "tcomp")
    compact_trail_store(spark, src, comp)
    store = append_trail_store(
        spark.createDataFrame(
            [("u3", 300, 0, "b", "x"), ("u3", 350, 1, "a", "x")], schema
        ),
        comp,
    )
    m = store._trailstore_manifest
    assert m.get("db_col") == "__db0" and len(m["parts"]) == 2

    # bound [150, 330): base part [100, 260] is BOUNDARY (scanned),
    # appended part [300, 350] is boundary too (330 inside) -> both
    # scanned via VALUE mapping {0,1} for part 0 and {2} for part 1
    prog = PROG.replace(
        "t = %v", "t = %v, timestamp >= 150, timestamp < 330"
    )
    from trck_spark.engine import TrckSparkEngine as _E

    rs = _E(spark).run(
        store, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq"
    )
    out = rs.collect_json()
    out_fsm, _ = _run(spark, store, prog, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out == out_fsm
    assert {r["%v"]: r["$r"] for r in out} == {
        "": 0, "a": 1, "b": 1, "c": 1
    }

    # bound covering ONLY the appended segment's range scans only it
    prog2 = PROG.replace(
        "t = %v", "t = %v, timestamp >= 270, timestamp < 9999"
    )
    rs2 = _E(spark).run(
        store, prog2, uuid_col="uuid", ts_col="timestamp", seq_col="seq"
    )
    out2 = rs2.collect_json()
    scanned = rs2.counters_df().inputFiles()
    assert scanned == [], scanned  # appended part fully covered: rollup
    out2_fsm, _ = _run(spark, store, prog2, {"TRCK_SPARK_NO_FASTPATH": "1"})
    assert out2 == out2_fsm
    assert {r["%v"]: r["$r"] for r in out2} == {
        "": 0, "a": 1, "b": 1, "c": 0
    }


def _strip_zone_map(path: str) -> None:
    """Fabricate a segment written before the zone maps existed: its
    manifest keeps the rollups (the tier's gates pass) but loses
    ts_min/ts_max."""
    from trck_spark.store import MANIFEST

    seg_manifest = os.path.join(path, "segment_0000", MANIFEST)
    with open(seg_manifest) as f:
        sm = json.load(f)
    assert sm["rollups"]
    del sm["ts_min"], sm["ts_max"]
    with open(seg_manifest, "w") as f:
        json.dump(sm, f)


FSM_ENV = {"TRCK_SPARK_NO_ROLLUP": "1", "TRCK_SPARK_NO_FASTPATH": "1"}


def test_ts_scoped_rollup_legacy_part_without_zone_map(spark, tmp_path):
    """ADVICE r08 (high): a segment without a zone map must never be
    taken for empty — the pre-fix engine silently dropped every
    in-bound event in it.  Such a store now raises, naming
    ``--compact``, on the rollup tier and the FSM path alike; its
    compacted copy answers the bounded counter exactly."""
    import pytest

    from trck_spark.store import compact_trail_store, open_trail_store

    path, _ = _ts_seg_store(spark, tmp_path, "tslegacy")
    _strip_zone_map(path)
    store = open_trail_store(spark, path)
    for env in (None, FSM_ENV):
        with pytest.raises(ValueError, match="--compact"):
            _run(spark, store, PROG_TS, env)

    # bound [150, 350) FULLY covers the stripped segment B [200, 260]:
    # dropping it would lose its 3 events
    comp = compact_trail_store(spark, path, str(tmp_path / "tslegacy_c"))
    out, _ = _run(spark, comp, PROG_TS)
    out_fsm, _ = _run(spark, comp, PROG_TS, FSM_ENV)
    assert out == out_fsm
    assert {r["%v"]: r["$n"] for r in out} == {
        "": 0, "a": 2, "b": 2, "c": 1, "d": 0
    }


def test_ts_scoped_explicit_grid_legacy_part_without_zone_map(
    spark, tmp_path
):
    """Same zone-map-less segment through the EXPLICIT-grid partials
    tier (_ts_scoped_partials): the query raises naming ``--compact``,
    and the compacted copy matches the FSM path."""
    import pytest

    from trck_spark.engine import TrckSparkEngine
    from trck_spark.store import compact_trail_store, open_trail_store

    path, _ = _ts_seg_store(spark, tmp_path, "tslegacy_g")
    _strip_zone_map(path)
    params = {"@arr": [["a"], ["b"], ["c"], ["d"]]}

    def run(store, env=None):
        for k, v in (env or {}).items():
            os.environ[k] = v
        try:
            return TrckSparkEngine(spark).run(
                store, PROG_TS_GRID, params=params, uuid_col="uuid",
                ts_col="timestamp", seq_col="seq",
            ).collect_json()
        finally:
            for k in env or {}:
                del os.environ[k]

    store = open_trail_store(spark, path)
    for env in (None, FSM_ENV):
        with pytest.raises(ValueError, match="--compact"):
            run(store, env)
    comp = compact_trail_store(spark, path, str(tmp_path / "tslegacy_gc"))
    out = run(comp)
    assert out == run(comp, FSM_ENV)
    assert {r["%v"]: r["$n"] for r in out} == {
        "a": 2, "b": 2, "c": 1, "d": 0
    }


PROG_TS_SET = """
start ->
    receive
        t in #s0, timestamp >= 150, timestamp < 350 -> yield $n, repeat
        * -> repeat
"""


def test_ts_scoped_rollup_set_membership(spark, tmp_path):
    """VERDICT r08 item 4: a ts-bounded `field in #set` counter through
    a segmented store decomposes like the literal shape — the covered
    middle segment contributes the SUM of the member values' rollup
    entries, boundary segments scan, and the answer matches the FSM."""
    from trck_spark.engine import TrckSparkEngine

    path, store = _ts_seg_store(spark, tmp_path, "tsegs_set")
    params = {"#s0": ["a", "c", "zz"]}
    rs = TrckSparkEngine(spark).run(
        store, PROG_TS_SET, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    out = rs.collect_json()
    scanned = rs.counters_df().inputFiles()
    assert scanned, "boundary segments must scan"
    assert not any("segment_0000" in f for f in scanned), scanned
    # in [150, 350): a -> u2@260(B) + u1@200(B) = 2; c -> u2@250(B) = 1
    assert out == {"$n": 3}
    os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        out_fsm = TrckSparkEngine(spark).run(
            store, PROG_TS_SET, params=params, uuid_col="uuid",
            ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del os.environ["TRCK_SPARK_NO_FASTPATH"]
    assert out == out_fsm

    # unbounded set counter: pure rollup, zero scan
    prog_nots = PROG_TS_SET.replace(
        ", timestamp >= 150, timestamp < 350", ""
    )
    rs2 = TrckSparkEngine(spark).run(
        store, prog_nots, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    assert rs2.counters_df().inputFiles() == []
    # all slices: a -> 4, c -> 1
    assert rs2.collect_json() == {"$n": 5}

    # bound covering everything: zero scan, same totals
    prog_all = PROG_TS_SET.replace("150", "0").replace("350", "99999")
    rs3 = TrckSparkEngine(spark).run(
        store, prog_all, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    assert rs3.counters_df().inputFiles() == []
    assert rs3.collect_json() == {"$n": 5}


def test_ts_scoped_rollup_multi_conjunct_literal(spark, tmp_path):
    """Conjunction of equality + membership on ONE field: the matching
    value set is the intersection, summed from the rollup."""
    from trck_spark.engine import TrckSparkEngine

    path, store = _ts_seg_store(spark, tmp_path, "tsegs_mc")
    prog = PROG_TS_SET.replace("t in #s0", 't = "a", t in #s0')
    params = {"#s0": ["a", "c"]}
    rs = TrckSparkEngine(spark).run(
        store, prog, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    out = rs.collect_json()
    assert out == {"$n": 2}  # only 'a' survives the intersection
    os.environ["TRCK_SPARK_NO_FASTPATH"] = "1"
    try:
        out_fsm = TrckSparkEngine(spark).run(
            store, prog, params=params, uuid_col="uuid",
            ts_col="timestamp", seq_col="seq",
        ).collect_json()
    finally:
        del os.environ["TRCK_SPARK_NO_FASTPATH"]
    assert out == out_fsm
    # disjoint conjunction: zero matches, zero scan (nothing to count)
    prog0 = PROG_TS_SET.replace("t in #s0", 't = "zz", t in #s0')
    rs0 = TrckSparkEngine(spark).run(
        store, prog0, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq",
    )
    assert rs0.collect_json() == {"$n": 0}


def test_ts_scoped_rollup_set_param_missing_declines(spark, tmp_path):
    """An unresolvable set param or a relational condition on the field
    must decline the tier (scan instead), never miscount."""
    from trck_spark.planner import rollup_weights_ts_valueset
    from trck_spark.runner import TrckQuery

    q = TrckQuery(PROG_TS_SET, params={"#s0": ["a"]})
    assert rollup_weights_ts_valueset(q.program, {"#s0": ["a"]}) is not None
    assert rollup_weights_ts_valueset(q.program, {}) is None
    q2 = TrckQuery(
        PROG_TS_SET.replace("t in #s0", "t > 5"), params={}
    )
    assert rollup_weights_ts_valueset(q2.program, {}) is None
