"""Streaming FSM execution: cross-batch state carry must reproduce the
batch engine's results when each micro-batch holds one source file of a
split-trail fixture (micro-batch == TrailDB analogy).
"""

from __future__ import annotations

import json
import os

import pytest

from tests.fixtures_util import REF_TEST_DIR, compare_results, load_json_fixture
from trck_spark.io import trails_json_to_df
from trck_spark.output import format_output
from trck_spark.fsm.interpreter import Results


def _pin_mtime(path, t: int) -> None:
    """FileStreamSource orders files by modification time with an
    arbitrary tie-break; under CPU load consecutive writes can land in
    the same ms and reorder micro-batches (e.g. the watermark-flush
    file before a late-arrival file).  Pin every file under ``path``
    (Spark writes directories of part files) to an explicit mtime so
    trigger order is deterministic."""
    for root, _dirs, files in os.walk(str(path)):
        for f in files:
            os.utime(os.path.join(root, f), (t, t))
    os.utime(str(path), (t, t))


def _stream_fixture(spark, tmp_path, trails_dbs, program, params,
                    finalize="markers", fn_registry=None,
                    dedup_cols=None, dedup_carry=False):
    """Write one parquet file per source DB, stream them one per trigger
    through the stateful FSM, and collect the partial rows.

    finalize="markers": a trailing file of end-of-trail sentinel events
    (the batch engine's explicit finalization).  "watermark": no markers;
    trailing files of far-future dummy-trail events advance the event-
    time watermark past every fixture trail instead, so pending `after`
    edges fire via the event-time timeout."""
    from trck_spark.streaming import aggregate_partials, streaming_partials

    src = tmp_path / "stream_src"
    src.mkdir(parents=True)
    all_fields = sorted(
        {
            k
            for db in trails_dbs
            for evs in db.values()
            for e in evs
            for k in e
            if k != "timestamp"
        }
    )
    # one file per DB, lexicographic file order == DB order; a final file
    # carries end-of-trail marker events (ts = 2^64-2) per uuid so pending
    # `after` edges fire, like the batch engine's finalization
    from trck_spark.runner import cookie_to_bytes
    from trck_spark.streaming import STREAM_END_TS as MAX_TIMESTAMP

    all_cookies = sorted(
        {cookie_to_bytes(c).hex() for db in trails_dbs for c in db}
    )
    # watermark mode shifts event times off epoch zero: Spark's initial
    # watermark is 0, and fixture events AT ts=0 would be late-dropped
    # (window semantics are shift-invariant; yields here are counters)
    ts_offset = 1_000_000 if finalize == "watermark" else 0
    schema = None
    for i, db in enumerate(trails_dbs):
        df = trails_json_to_df(spark, [db])
        for f in all_fields:
            if f not in df.columns:
                from pyspark.sql import functions as F

                df = df.withColumn(f, F.lit(None).cast("string"))
        if ts_offset:
            from pyspark.sql import functions as F

            df = df.withColumn(
                "timestamp", F.col("timestamp") + F.lit(ts_offset)
            )
        df = df.select("uuid", "db", "seq", "timestamp", *all_fields)
        schema = df.schema
        df.coalesce(1).write.parquet(str(src / f"db{i:03d}.parquet"))
        _pin_mtime(src / f"db{i:03d}.parquet", 1_700_000_000 + i)
    if finalize == "markers":
        end_rows = [
            (u, len(trails_dbs), 0, MAX_TIMESTAMP) + (None,) * len(all_fields)
            for u in all_cookies
        ]
        spark.createDataFrame(end_rows, schema).coalesce(1).write.parquet(
            str(src / "zzz_end.parquet")
        )
        _pin_mtime(src / "zzz_end.parquet", 1_700_000_000 + 1000)
    else:
        # far-future dummy-trail batches: the first advances the
        # watermark past every fixture deadline, the second triggers the
        # armed event-time timers
        far = 4_000_000_000  # far past any fixture ts, Arrow-ns safe
        for k in range(2):
            spark.createDataFrame(
                [("zz_dummy", len(trails_dbs) + k, 0, far + k)
                 + (None,) * len(all_fields)],
                schema,
            ).coalesce(1).write.parquet(str(src / f"zzz_wm{k}.parquet"))
            _pin_mtime(src / f"zzz_wm{k}.parquet", 1_700_000_000 + 1000 + k)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    parts = streaming_partials(
        stream,
        program,
        params=params,
        uuid_col="uuid",
        ts_col="timestamp",
        seq_col="seq",
        finalize_idle_gap=1 if finalize == "watermark" else None,
        fn_registry=fn_registry,
        dedup_cols=dedup_cols,
        dedup_carry=dedup_carry,
    )
    collected = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    q = parts.writeStream.foreachBatch(sink).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)
    return collected


def _rows_to_output(program_ir, params, rows, fn_registry=None):
    from trck_spark.params import foreach_tuples
    from trck_spark.runner import TrckQuery

    q = TrckQuery(program_ir, params=params, fn_registry=fn_registry)
    tuples = foreach_tuples(q.program, params) if q.program.groupby else None
    per_tuple: dict[int, Results] = {}
    for r in rows:
        res = per_tuple.setdefault(int(r["tuple_id"]), Results())
        var = r["var"]
        if var in q.program.yield_counters:
            res.counters[var] = res.counters.get(var, 0) + int(r["n"])
        elif var in q.program.yield_sets + q.program.yield_multisets:
            key = bytes(r["key"])
            d = res.sets.setdefault(var, {})
            d[key] = d.get(key, 0) + int(r["n"])
        else:
            d = res.hlls.setdefault(var, {})
            reg = int(r["reg"])
            if d.get(reg, 0) < int(r["n"]):
                d[reg] = int(r["n"])
    return format_output(q.program, per_tuple, tuples)


@pytest.mark.parametrize(
    "fixture",
    ["test_groupby_split.json", "test_bounces_split.json",
     "test_stop_split.json"],
)
def test_streaming_split_fixtures(spark, tmp_path, fixture):
    """The reference's *_split fixtures verify cross-file state carry; here
    each file is a micro-batch, so they verify cross-BATCH state carry."""
    path = os.path.join(REF_TEST_DIR, "json", fixture)
    ir, trailer = load_json_fixture(path)
    params = trailer.get("params")
    failures = []
    for i, case in enumerate(trailer["tests"]):
        if len(case["trails"]) < 2:
            continue
        case_params = case.get("params", params)
        # implicit foreach needs explicit values on a stream
        prog_ir = {k: v for k, v in ir.items() if k != "tests"}
        from trck_spark.ir import Program

        p = Program(json.loads(json.dumps(prog_ir)))
        if p.implicit_foreach:
            field = p.var_fields.get(p.groupby_vars[0])
            values = sorted(
                {
                    str(e.get(field))
                    for db in case["trails"]
                    for evs in db.values()
                    for e in evs
                    if e.get(field)
                }
            )
            explicit = dict(case_params or {})
            explicit["@__stream"] = [[v] for v in ["", *values]]
            prog_ir = json.loads(json.dumps(prog_ir))
            prog_ir["groupby"]["values"] = "@__stream"
            case_params = explicit
        rows = _stream_fixture(
            spark, tmp_path / f"c{i}", case["trails"], prog_ir, case_params
        )
        actual = _rows_to_output(prog_ir, case_params, rows)
        if isinstance(case["expected"], list) and isinstance(actual, list):
            # drop the densified "" row the implicit grid adds
            actual = [
                r for r in actual
                if any(v for k, v in r.items() if k.startswith("%"))
                or any(
                    str(e.get("%", "")) == ""
                    for e in case["expected"]
                )
            ]
        for prob in compare_results(case["expected"], actual):
            failures.append(f"case {i}: {prob}")
    assert not failures, "\n".join(failures)


PROG_BOUNCE_STREAM = {
    "rules": [
        {
            "clauses": [
                {"attrs": {"event_type": ["view"]}, "action": "restart-from-next(1)"},
                {"attrs": {}, "action": "repeat"},
            ]
        },
        {
            "window": 1800,
            "clauses": [
                {"attrs": {"event_type": ["view"]}, "action": "restart-from-next(1)"},
                {"attrs": {}, "action": "restart-from-next(0)"},
            ],
            "after": {
                "action": "restart-from-here",
                "yield": [{"dst": "$bounces"}],
            },
        },
    ]
}


def test_event_time_watermark_finalization(spark, tmp_path):
    """An idle trail's pending `after` edge must fire when the event-time
    watermark passes it — no end-of-trail markers, no wall clock: a later
    batch of OTHER trails' events advances the watermark and finalizes
    the idle trail deterministically."""
    from pyspark.sql import functions as F

    from trck_spark.streaming import streaming_partials

    src = tmp_path / "wm_src"
    src.mkdir(parents=True)
    schema = "uuid string, timestamp long, seq long, event_type string"
    # batch a: u1 arms the bounce window at ts=100 and goes idle forever
    spark.createDataFrame(
        [("u1", 100, 0, "view")], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    _pin_mtime(src / "a.parquet", 1_700_000_000)
    # batch b: unrelated trail far in the future -> watermark jumps
    spark.createDataFrame(
        [("u2", 100000, 0, "click")], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))
    _pin_mtime(src / "b.parquet", 1_700_000_001)
    # batch c: another advance; u1's event-time timer fires here
    spark.createDataFrame(
        [("u2", 200000, 1, "click")], schema
    ).coalesce(1).write.parquet(str(src / "c.parquet"))
    _pin_mtime(src / "c.parquet", 1_700_000_002)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    parts = streaming_partials(
        stream,
        PROG_BOUNCE_STREAM,
        uuid_col="uuid",
        ts_col="timestamp",
        seq_col="seq",
        finalize_idle_gap=60,
    )
    collected = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    q = parts.writeStream.foreachBatch(sink).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)
    got = {(r["uuid"], r["var"]): r["n"] for r in collected}
    assert got == {("u1", "$bounces"): 1}


def test_streaming_split_fixture_watermark(spark, tmp_path):
    """The bounces split fixture (after-edge dependent) must produce the
    reference results with WATERMARK-driven finalization — no explicit
    end-of-trail markers anywhere in the stream."""
    path = os.path.join(REF_TEST_DIR, "json", "test_bounces_split.json")
    ir, trailer = load_json_fixture(path)
    params = trailer.get("params")
    failures = []
    for i, case in enumerate(trailer["tests"]):
        if len(case["trails"]) < 2:
            continue
        case_params = case.get("params", params)
        prog_ir = {k: v for k, v in ir.items() if k != "tests"}
        rows = _stream_fixture(
            spark, tmp_path / f"w{i}", case["trails"], prog_ir,
            case_params, finalize="watermark",
        )
        rows = [r for r in rows if r["uuid"] != "zz_dummy"]
        actual = _rows_to_output(prog_ir, case_params, rows)
        for prob in compare_results(case["expected"], actual):
            failures.append(f"case {i}: {prob}")
    assert not failures, "\n".join(failures)


# -------------------------------------------- side inputs on the stream


def _run_stream_sideinput(spark, src_dir, events_df, program,
                          exclude_df=None, window_df=None, params=None,
                          fn_registry=None, dedup_cols=None):
    """Stream events_df file-by-file through streaming_partials with the
    given side inputs (markers finalization), return partial rows."""
    from pyspark.sql import functions as F

    from trck_spark.runner import cookie_to_bytes
    from trck_spark.streaming import (
        STREAM_END_TS, aggregate_partials, streaming_partials,
    )

    src_dir.mkdir(parents=True, exist_ok=True)
    cookies = sorted(
        cookie_to_bytes(r["uuid"]).hex()
        for r in events_df.select("uuid").distinct().collect()
    )
    schema = events_df.schema
    # two files: split trails across triggers to exercise carried state
    mid = events_df.agg(
        F.floor((F.min("timestamp") + F.max("timestamp")) / 2)
    ).collect()[0][0]
    events_df.filter(F.col("timestamp") <= mid).coalesce(1).write.parquet(
        str(src_dir / "a.parquet")
    )
    _pin_mtime(src_dir / "a.parquet", 1_700_000_000)
    events_df.filter(F.col("timestamp") > mid).coalesce(1).write.parquet(
        str(src_dir / "b.parquet")
    )
    _pin_mtime(src_dir / "b.parquet", 1_700_000_001)
    end_rows = [
        (u, STREAM_END_TS, 0) + (None,) * (len(schema.fields) - 3)
        for u in cookies
    ]
    spark.createDataFrame(end_rows, schema).coalesce(1).write.parquet(
        str(src_dir / "zzz_end.parquet")
    )
    _pin_mtime(src_dir / "zzz_end.parquet", 1_700_000_002)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir / "*.parquet"))
    )
    parts = streaming_partials(
        stream, program, params=params, uuid_col="uuid",
        ts_col="timestamp", seq_col="seq", exclude_df=exclude_df,
        window_df=window_df, fn_registry=fn_registry,
        dedup_cols=dedup_cols,
    )
    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    q = parts.writeStream.foreachBatch(sink).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)
    return collected


def _counters_from_rows(program, rows):
    out: dict = {}
    for r in rows:
        out[r["var"]] = out.get(r["var"], 0) + int(r["n"])
    return out


def test_streaming_exclude_df_matches_batch(spark, tmp_path):
    """exclude_df on the stream == the batch engine's exclude anti-join
    (same DataFrame side input, same program, same events)."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.io import trails_json_to_df

    trails = [{
        "u1": [{"timestamp": 100, "event_type": "view"},
               {"timestamp": 200, "event_type": "click"}],
        "u2": [{"timestamp": 150, "event_type": "click"}],
        "u3": [{"timestamp": 180, "event_type": "click"}],
    }]
    ev = trails_json_to_df(spark, trails).select(
        "uuid", "timestamp", "seq", "event_type"
    )
    excl = spark.createDataFrame([("u2",)], "uuid string")
    prog = """
start ->
    receive
        event_type = "click" -> yield $clicks, repeat
        * -> repeat
"""
    batch = TrckSparkEngine(spark).run(
        ev, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        exclude=excl,
    ).collect_json()
    rows = _run_stream_sideinput(
        spark, tmp_path / "ex", ev, prog, exclude_df=excl
    )
    assert _counters_from_rows(prog, rows) == batch == {"$clicks": 2}


def test_streaming_window_df_matches_batch(spark, tmp_path):
    """window_df on the stream == the batch engine's per-(uuid, entry)
    window evaluation — multi-entry uuids and [start, end) bounds
    included; end-of-trail markers still finalize every entry."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.io import trails_json_to_df

    trails = [{
        "u1": [{"timestamp": 100, "event_type": "view"},
               {"timestamp": 200, "event_type": "view"},
               {"timestamp": 300, "event_type": "view"}],
        "u2": [{"timestamp": 120, "event_type": "view"},
               {"timestamp": 260, "event_type": "view"}],
    }]
    ev = trails_json_to_df(spark, trails).select(
        "uuid", "timestamp", "seq", "event_type"
    )
    # u1 gets TWO entries (list semantics); u2's entry covers one event
    w_df = spark.createDataFrame(
        [("u1", 100, 250), ("u1", 250, 400), ("u2", 200, 300)],
        "uuid string, s long, e long",
    )
    prog = """
start ->
    receive
        event_type = "view" -> yield $views_in_window
        * -> repeat
"""
    batch = TrckSparkEngine(spark).run(
        ev, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        window_entries=w_df,
    ).collect_json()
    rows = _run_stream_sideinput(
        spark, tmp_path / "win", ev, prog, window_df=w_df
    )
    # u1 entry1 -> views at 100, 200; u1 entry2 -> view at 300;
    # u2 -> view at 260: 4 total (windows are [start, end))
    assert _counters_from_rows(prog, rows) == batch == {
        "$views_in_window": 4
    }


def test_streaming_window_df_many_to_one_replacement(spark, tmp_path):
    """TWO uuids rebound to the SAME replacement_id must stay separate
    FSM trails (batch semantics: trail boundary = original uuid + entry;
    __eff only renames the report).  A view on u1 and a click on u2 must
    NOT chain into one funnel conversion under the shared id."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.io import trails_json_to_df

    trails = [{
        # u1: view only (funnel arms, never converts)
        "u1": [{"timestamp": 100, "event_type": "view"}],
        # u2: click only (funnel never arms)
        "u2": [{"timestamp": 150, "event_type": "click"}],
        # u3: a real conversion, also rebound to R — proves the yields
        # still aggregate under the shared reporting id
        "u3": [{"timestamp": 110, "event_type": "view"},
               {"timestamp": 140, "event_type": "click"}],
    }]
    ev = trails_json_to_df(spark, trails).select(
        "uuid", "timestamp", "seq", "event_type"
    )
    w_df = spark.createDataFrame(
        [("u1", 0, 1000, "R"), ("u2", 0, 1000, "R"), ("u3", 0, 1000, "R")],
        "uuid string, s long, e long, rid string",
    )
    prog = """
start ->
    receive
        event_type = "view" -> wait
        * -> repeat
wait ->
    receive
        event_type = "click" -> yield $conv, quit
        * -> repeat
"""
    batch = TrckSparkEngine(spark).run(
        ev, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        window_entries=w_df,
    ).collect_json()
    rows = _run_stream_sideinput(
        spark, tmp_path / "m2o", ev, prog, window_df=w_df
    )
    # only u3 converts; a merged (R, entry=1) trail would chain
    # u1's view into u2's click for a phantom second conversion
    assert _counters_from_rows(prog, rows) == batch == {"$conv": 1}
    # every partial row reports under the replacement id's cookie form
    from trck_spark.runner import cookie_to_bytes

    r_hex = cookie_to_bytes("R").hex()
    assert {r["uuid"] for r in rows} == {r_hex}


def test_streaming_window_df_timeout_reports_replacement_id(
    spark, tmp_path
):
    """Event-time-timeout finalization with a window_df: the timed-out
    step call sees NO rows, so the replacement id must come from the
    carried state — the pending `after` edge's yield still reports
    under the rebound uuid."""
    from pyspark.sql import functions as F

    from trck_spark.runner import cookie_to_bytes
    from trck_spark.streaming import streaming_partials

    src = tmp_path / "wto"
    src.mkdir(parents=True)
    schema = "uuid string, timestamp long, seq long, event_type string"
    # u1 arms the bounce window and goes idle; zz1 advances the
    # watermark in two later batches to fire u1's event-time timer
    spark.createDataFrame(
        [("u1", 1_000_100, 0, "view")], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    _pin_mtime(src / "a.parquet", 1_700_000_000)
    spark.createDataFrame(
        [("zz1", 5_000_000, 0, "click")], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))
    _pin_mtime(src / "b.parquet", 1_700_000_001)
    spark.createDataFrame(
        [("zz1", 9_000_000, 1, "click")], schema
    ).coalesce(1).write.parquet(str(src / "c.parquet"))
    _pin_mtime(src / "c.parquet", 1_700_000_002)

    w_df = spark.createDataFrame(
        [("u1", 0, 2_000_000_000, "R"), ("zz1", 0, 2_000_000_000, None)],
        "uuid string, s long, e long, rid string",
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    parts = streaming_partials(
        stream, PROG_BOUNCE_STREAM, uuid_col="uuid", ts_col="timestamp",
        seq_col="seq", window_df=w_df, finalize_idle_gap=60,
    )
    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    q = parts.writeStream.foreachBatch(sink).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)
    got = {(r["uuid"], r["var"]): r["n"] for r in collected}
    r_hex = cookie_to_bytes("R").hex()
    assert got == {(r_hex, "$bounces"): 1}


def test_streaming_ffi_matches_batch(spark, tmp_path):
    """fn_registry on the stream == the batch engine's FFI yields (the
    registry ships in the state-step closure like the batch UDF's)."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.io import trails_json_to_df

    trails = [{
        "u1": [{"timestamp": 100, "event_type": "cli", "domain": "x.com"},
               {"timestamp": 200, "event_type": "imp", "domain": "y.com"}],
        "u2": [{"timestamp": 150, "event_type": "cli", "domain": "z.com"}],
    }]
    ev = trails_json_to_df(spark, trails).select(
        "uuid", "timestamp", "seq", "event_type", "domain"
    )
    reg = {"tag": lambda d: b"tag_" + d}
    prog = """
start ->
    receive
        event_type = "cli" -> yield tag(domain) to #tagged, repeat
        * -> repeat
"""
    batch = TrckSparkEngine(spark).run(
        ev, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        fn_registry=reg,
    ).collect_json()
    rows = _run_stream_sideinput(
        spark, tmp_path / "ffi", ev, prog, fn_registry=reg
    )
    out = _rows_to_output(prog, None, rows, reg)
    assert sorted(out["#tagged"]) == sorted(batch["#tagged"]) == [
        "tag_x.com", "tag_z.com"
    ]


def test_state_blob_migration_and_versioning():
    """Checkpoint state blobs from pre-versioning builds (bare 2- and
    3-tuples) must load with defaulted fields instead of crashing the
    executor with an unpack ValueError; unknown layouts must fail with
    a clear message (ADVICE r06: streaming.py state pickle versioning)."""
    import pickle

    import pytest

    from trck_spark.streaming import _dump_state, _load_state

    ms = {0: (1, [], [])}
    # oldest layout: (machine_states, last_ts)
    assert _load_state(pickle.dumps((ms, 42))) == (ms, 42, None, None, set())
    # round-6 layout: (machine_states, last_ts, eff)
    assert _load_state(pickle.dumps((ms, 42, "effid"))) == (
        ms, 42, "effid", None, set(),
    )
    # current layout round-trips (bytearray, as applyInPandasWithState
    # hands the blob back); the r10 emit-once set is an OPTIONAL key —
    # blobs written without it load as empty
    blob = bytearray(_dump_state(ms, 42, "effid", (42, ("v",), ())))
    assert _load_state(blob) == (ms, 42, "effid", (42, ("v",), ()), set())
    blob2 = bytearray(
        _dump_state(ms, 42, "effid", None, {(3, "^u"), (1, "^u")})
    )
    assert _load_state(blob2) == (
        ms, 42, "effid", None, {(1, "^u"), (3, "^u")},
    )
    # a FUTURE version and a foreign blob both fail loudly
    with pytest.raises(ValueError, match="version"):
        _load_state(pickle.dumps({"v": 99}))
    with pytest.raises(ValueError, match="unrecognized"):
        _load_state(pickle.dumps(["not", "a", "state"]))


def test_dedup_carry_across_batch_boundary(spark, tmp_path):
    """A consecutive duplicate straddling a micro-batch boundary: by
    default (micro-batch == source-db analogy) it survives like the
    reference's cross-file behavior; with dedup_carry=True the trail
    carries its last event in state and drops it, matching the batch
    engine on the same data as a single db (ADVICE r06:
    streaming.py:368)."""
    from trck_spark.engine import TrckSparkEngine
    from trck_spark.io import trails_json_to_df

    prog = """
start ->
    receive
        event_type = "click" -> yield $clicks, repeat
        * -> repeat
"""
    db0 = {"u1": [{"timestamp": 100, "event_type": "view"},
                  {"timestamp": 200, "event_type": "click"}]}
    db1 = {"u1": [{"timestamp": 200, "event_type": "click"},
                  {"timestamp": 300, "event_type": "click"}]}
    merged = {"u1": db0["u1"] + db1["u1"]}

    ev = trails_json_to_df(spark, [merged]).select(
        "uuid", "timestamp", "seq", "event_type"
    )
    batch_single_db = TrckSparkEngine(spark).run(
        ev, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq"
    ).collect_json()
    assert batch_single_db == {"$clicks": 2}  # within-db dup dropped

    rows_default = _stream_fixture(
        spark, tmp_path / "nocarry", [db0, db1], prog, None
    )
    assert _counters_from_rows(prog, rows_default) == {"$clicks": 3}

    rows_carry = _stream_fixture(
        spark, tmp_path / "carry", [db0, db1], prog, None,
        dedup_carry=True,
    )
    assert _counters_from_rows(prog, rows_carry) == batch_single_db


def test_checkpoint_restart_resumes_state(spark, tmp_path):
    """The versioned state blob survives a REAL checkpoint round-trip:
    run a query over the first file with a checkpointLocation, stop it,
    add more files, restart the same query — the trail's FSM state AND
    the dedup_carry prev-event must come back from the state store (a
    duplicate straddling the RESTART boundary is dropped), and the
    totals must match the batch engine on all events as one db."""
    from pyspark.sql import functions as F  # noqa: F401

    from trck_spark.engine import TrckSparkEngine
    from trck_spark.io import trails_json_to_df
    from trck_spark.streaming import STREAM_END_TS, streaming_partials

    src = tmp_path / "ck_src"
    src.mkdir(parents=True)
    ckpt = str(tmp_path / "ckpt")
    schema = "uuid string, timestamp long, seq long, event_type string"
    prog = """
start ->
    receive
        event_type = "click" -> yield $clicks, repeat
        * -> repeat
"""

    collected: list = []

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*.parquet"))
        )
        parts = streaming_partials(
            stream, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq", dedup_carry=True,
        )
        q = (
            parts.writeStream.foreachBatch(
                lambda b, _i: collected.extend(b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: view@100, click@200 — trail state (incl. prev event)
    # persists into the checkpoint
    spark.createDataFrame(
        [("u1", 100, 0, "view"), ("u1", 200, 1, "click")], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    _pin_mtime(src / "a.parquet", 1_700_000_000)
    run_once()
    mid = sum(int(r["n"]) for r in collected if r["var"] == "$clicks")
    assert mid == 1

    # run 2 (restart from the checkpoint): the first event duplicates
    # run 1's last (click@200) and must be dropped via the carried
    # prev-event; then click@300 counts; the marker finalizes
    spark.createDataFrame(
        [("u1", 200, 0, "click"), ("u1", 300, 1, "click")], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))
    _pin_mtime(src / "b.parquet", 1_700_000_100)
    spark.createDataFrame(
        [("u1", STREAM_END_TS, 0, None)], schema
    ).coalesce(1).write.parquet(str(src / "z.parquet"))
    _pin_mtime(src / "z.parquet", 1_700_000_200)
    run_once()

    total = sum(int(r["n"]) for r in collected if r["var"] == "$clicks")
    merged = [{"u1": [
        {"timestamp": 100, "event_type": "view"},
        {"timestamp": 200, "event_type": "click"},
        {"timestamp": 200, "event_type": "click"},
        {"timestamp": 300, "event_type": "click"},
    ]}]
    ev = trails_json_to_df(spark, merged).select(
        "uuid", "timestamp", "seq", "event_type"
    )
    batch = TrckSparkEngine(spark).run(
        ev, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq"
    ).collect_json()
    assert total == batch["$clicks"] == 2


def test_dedup_carry_with_window_df(spark, tmp_path):
    """dedup_carry composes with window_df: the carried prev-event lives
    per (original uuid, entry) state, so a duplicate straddling a
    micro-batch boundary INSIDE a window entry is dropped while the
    same event remains countable in a different entry whose bounds
    exclude the first copy."""
    from pyspark.sql import functions as F

    from trck_spark.streaming import streaming_partials, STREAM_END_TS

    src = tmp_path / "cw_src"
    src.mkdir(parents=True)
    schema = "uuid string, timestamp long, seq long, event_type string"
    # batch a: click@200; batch b: click@200 (dup) + click@300; marker
    spark.createDataFrame(
        [("u1", 200, 0, "click")], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    spark.createDataFrame(
        [("u1", 200, 0, "click"), ("u1", 300, 1, "click")], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))
    spark.createDataFrame(
        [("u1", STREAM_END_TS, 0, None)], schema
    ).coalesce(1).write.parquet(str(src / "z.parquet"))
    for i, d in enumerate(["a.parquet", "b.parquet", "z.parquet"]):
        _pin_mtime(src / d, 1_700_000_000 + i)
    # entry 1 covers both clicks; entry 2 covers only ts >= 250 (sees
    # the second copy of click@200? no — only click@300)
    w_df = spark.createDataFrame(
        [("u1", 0, 1000), ("u1", 250, 1000)], "uuid string, s long, e long"
    )
    prog = """
start ->
    receive
        event_type = "click" -> yield $clicks, repeat
        * -> repeat
"""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    parts = streaming_partials(
        stream, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        window_df=w_df, dedup_carry=True,
    )
    got: list = []
    q = parts.writeStream.foreachBatch(
        lambda b, _i: got.extend(b.collect())
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    total = sum(int(r["n"]) for r in got if r["var"] == "$clicks")
    # entry 1: click@200 (dup dropped via carry) + click@300 = 2;
    # entry 2: click@300 only = 1
    assert total == 3


def test_streaming_uniques_matches_batch_hll(spark, tmp_path):
    """streaming_uniques (VERDICT r09 item 5): ^hll register state
    carried across micro-batches through the downstream streaming
    aggregation's state store must equal the batch engine's sketch over
    the same events — wire-hex identical, for both a single-tuple
    program and a foreach grid, regardless of trigger slicing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trck_spark.engine import TrckSparkEngine
    from trck_spark.streaming import HllStreamCollector, streaming_uniques

    src = tmp_path / "uniq_src"
    src.mkdir()
    import random

    random.seed(11)
    all_rows = []
    for i in range(3):
        rows = {
            "uuid": [], "timestamp": [], "seq": [], "event_type": [],
        }
        for j in range(60):
            u = f"user{random.randrange(25)}"
            rows["uuid"].append(u)
            rows["timestamp"].append(1000 * i + j)
            rows["seq"].append(j)
            rows["event_type"].append(
                random.choice(["click", "view", "buy"])
            )
        pq.write_table(pa.table(rows), str(src / f"part{i}.parquet"))
        for k in range(60):
            all_rows.append(
                (rows["uuid"][k], rows["timestamp"][k], rows["seq"][k],
                 rows["event_type"][k])
            )
        _pin_mtime(src / f"part{i}.parquet", 1_000_000 + i)

    batch_df = spark.createDataFrame(
        all_rows, "uuid string, timestamp long, seq long, event_type string"
    )
    schema = spark.read.parquet(str(src)).schema

    PROG = """
start ->
    receive
        event_type = "click" -> yield cookie to ^uniq, repeat
        * -> repeat
"""
    FOREACH_PROG = """
foreach %t
    start ->
        receive
            event_type = %t -> yield cookie to ^u, repeat
            * -> repeat
"""
    cases = [
        (PROG, {}, "^uniq"),
        (FOREACH_PROG, {"foreach_values": ["click", "view", "buy"]},
         "^u"),
    ]
    for prog, kw, var in cases:
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        updates = streaming_uniques(
            sdf, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq", **kw,
        )
        coll = HllStreamCollector()
        q = (
            updates.writeStream.foreachBatch(
                lambda bdf, _bid: coll.update(bdf)
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        rs = TrckSparkEngine(spark).run(
            batch_df, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq",
        )
        partials = rs.collect_partials()
        batch_hex = {}
        for ti, res in partials.items():
            for v, d in res.hlls.items():
                from trck_spark.fsm.hll import Hll

                s = Hll()
                if hasattr(d, "hex"):
                    batch_hex[(ti, v)] = d.hex
                    continue
                for reg, rank in d.items():
                    s.set_register(int(reg), int(rank))
                batch_hex[(ti, v)] = s.to_hex()
        stream_hex = {k: coll.to_hex(*k) for k in coll.keys()}
        assert stream_hex == {
            k: v for k, v in batch_hex.items() if k in stream_hex
        }
        # no sketch lost: every non-empty batch sketch is present
        from trck_spark.fsm.hll import EMPTY_HLL_HEX

        for k, v in batch_hex.items():
            if v != EMPTY_HLL_HEX:
                assert k in stream_hex, k


def test_streaming_grid_pruning_equivalence_with_carried_state(
    spark, tmp_path
):
    """Round 11 per-batch grid pruning (_stream_prune_meta / the
    (projection key, carried state) run cache): a stateful foreach
    funnel whose machines LEAVE the initial state mid-stream must
    produce identical partial monoid rows with pruning on and off —
    the state dimension of the cache key is what keeps two tuples with
    equal projections but different carried machines apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trck_spark.streaming import streaming_partials

    src = tmp_path / "prune_src"
    src.mkdir()
    import random

    random.seed(23)
    vals = [f"v{k}" for k in range(12)]
    for i in range(3):
        rows = {"uuid": [], "timestamp": [], "seq": [], "t": [],
                "kind": []}
        for j in range(80):
            rows["uuid"].append(f"user{random.randrange(10)}")
            rows["timestamp"].append(1000 * i + j)
            rows["seq"].append(j)
            rows["t"].append(random.choice(vals))
            rows["kind"].append(random.choice(["a", "b"]))
        pq.write_table(pa.table(rows), str(src / f"p{i}.parquet"))
        _pin_mtime(src / f"p{i}.parquet", 1_000_000 + i)
    schema = spark.read.parquet(str(src)).schema

    PROG = """
foreach %v
    start ->
        receive
            t = %v, kind = "a" -> armed
            * -> repeat
    armed ->
        receive
            t = %v, kind = "b" -> yield $conv, start
            * -> armed
        after 2m -> start
"""

    def run(env):
        for k, v in env.items():
            os.environ[k] = v
        try:
            sdf = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            out = streaming_partials(
                sdf, PROG, uuid_col="uuid", ts_col="timestamp",
                seq_col="seq", foreach_values=vals,
            )
            rows: list = []
            q = (
                out.writeStream.foreachBatch(
                    lambda bdf, _b: rows.extend(
                        tuple(r) for r in bdf.collect()
                    )
                )
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)
            return sorted(rows)
        finally:
            for k in env:
                del os.environ[k]

    assert run({}) == run({"TRCK_SPARK_NO_GRID_PRUNE": "1"})


def test_state_blob_legacy_he_key_migrates():
    """r10 checkpoints stored the emit-once set as a list of
    (tuple_id, var) pairs under "he"; r11 packs it var-keyed ("he2").
    Both load."""
    import pickle

    from trck_spark.streaming import (
        _STATE_VERSION,
        _dump_state,
        _load_state,
    )

    legacy = pickle.dumps({
        "v": _STATE_VERSION, "ms": {}, "ts": 5, "eff": None,
        "prev": None, "he": [(0, "^u"), (7, "^u")],
    })
    assert _load_state(legacy)[4] == {(0, "^u"), (7, "^u")}
    blob = _dump_state({}, 5, None, None, {(3, "^x"), (1, "^x"), (2, "^y")})
    assert pickle.loads(blob).get("he2")  # compact form on the wire
    assert _load_state(blob)[4] == {(1, "^x"), (3, "^x"), (2, "^y")}


def test_hll_stream_collector_vectorized_fold_matches_row_loop():
    """The collector's Arrow+numpy fold (guide: no driver row loops)
    must produce exactly the registers the original per-row loop
    produced — random multi-var batches with duplicate (tuple_id, reg)
    keys at conflicting ranks, folded across several update calls."""
    import random

    import numpy as np
    import pyarrow as pa

    from trck_spark.fsm.hll import HLL_M
    from trck_spark.streaming import HllStreamCollector

    rnd = random.Random(17)

    class _ArrowBatch:
        def __init__(self, rows):
            self._rows = rows

        def toArrow(self):
            return pa.table(
                {
                    "tuple_id": [r[0] for r in self._rows],
                    "var": [r[1] for r in self._rows],
                    "reg": [r[2] for r in self._rows],
                    "rank": [r[3] for r in self._rows],
                }
            )

    vec = HllStreamCollector()
    ref: dict = {}
    for _batch in range(4):
        rows = [
            (
                rnd.randrange(5),
                rnd.choice(["^u", "^v"]),
                rnd.randrange(HLL_M),
                rnd.randrange(1, 65),
            )
            for _ in range(3000)
        ]
        vec.update(_ArrowBatch(rows))
        for ti, v, reg, rank in rows:  # the original loop, inlined
            arr = ref.setdefault((ti, v), np.zeros(HLL_M, np.uint8))
            if arr[reg] < rank:
                arr[reg] = rank
    assert vec.keys() == sorted(ref)
    for k in ref:
        assert np.array_equal(vec._regs[k], ref[k]), k

    # empty batch is a no-op
    vec.update(_ArrowBatch([]))
    assert vec.keys() == sorted(ref)

    # single-var batch exercises the slice(None) fast path
    one = HllStreamCollector()
    rows1 = [(0, "^u", r % HLL_M, (r % 64) + 1) for r in range(500)]
    one.update(_ArrowBatch(rows1))
    ref1 = np.zeros(HLL_M, np.uint8)
    for _ti, _v, reg, rank in rows1:
        ref1[reg] = max(ref1[reg], rank)
    assert np.array_equal(one._regs[(0, "^u")], ref1)


def test_rows_frame_fast_path_canary():
    """VERDICT r11 item 8: _rows_frame's single-object-block
    constructor rides pandas private internals (make_block /
    BlockManager / _from_mgr) with a silent fallback — this canary
    fails LOUDLY when the pinned pandas stops taking the fast path
    (an environment bump would otherwise quietly cost ~300us per
    emitting (bucket, batch) back), and pins the fast frame equal to
    the plain constructor's."""
    import pandas as pd

    import trck_spark.streaming as S

    rows = [
        ("u1", 0, "$c", None, None, 3),
        ("u2", 7, "^h", None, 11, 5),
        ("u3", 2, "#s", b"key", None, 1),
    ]
    df = S._rows_frame(rows)
    assert S._ROWS_FRAME_PATH == "fast", (
        "pandas internals moved: _rows_frame is taking the slow "
        "fallback constructor on the pinned pandas "
        f"({pd.__version__}) — re-port the fast path or accept the "
        "regression explicitly"
    )
    ref = pd.DataFrame(rows, columns=S._ROW_COLS)
    assert list(df.columns) == list(ref.columns)

    def _norm(frame):
        # the plain constructor coerces None -> NaN in mixed numeric
        # columns; both are null once Arrow-converted downstream
        return [
            [None if pd.isna(x) else x for x in row]
            for row in frame.values.tolist()
        ]

    assert _norm(df) == _norm(ref)
    assert len(df) == 3 and list(df.index) == [0, 1, 2]


def test_bucketed_step_equals_per_trail_grouping(spark, tmp_path):
    """r12 secondary grouping: the bucketed stateful step
    (hash(uuid) % N groups, trails iterated inside the step) must
    produce the identical partial-row multiset as the per-trail
    grouping (state_buckets=0) — same stateful foreach funnel as the
    grid-pruning equivalence test, machines leaving the initial state
    mid-stream, across several micro-batches.  Run at N=4 buckets so
    multiple trails genuinely share a bucket."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trck_spark.streaming import streaming_partials

    src = tmp_path / "bkt_src"
    src.mkdir()
    import random

    random.seed(31)
    vals = [f"v{k}" for k in range(10)]
    for i in range(3):
        rows = {"uuid": [], "timestamp": [], "seq": [], "t": [],
                "kind": []}
        for j in range(80):
            rows["uuid"].append(f"user{random.randrange(12)}")
            rows["timestamp"].append(1000 * i + j)
            rows["seq"].append(j)
            rows["t"].append(random.choice(vals))
            rows["kind"].append(random.choice(["a", "b"]))
        pq.write_table(pa.table(rows), str(src / f"p{i}.parquet"))
        _pin_mtime(src / f"p{i}.parquet", 1_000_000 + i)
    schema = spark.read.parquet(str(src)).schema

    PROG = """
foreach %v
    start ->
        receive
            t = %v, kind = "a" -> armed
            * -> repeat
    armed ->
        receive
            t = %v, kind = "b" -> yield $conv, start
            * -> armed
        after 2m -> start
"""

    def run(n_buckets):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = streaming_partials(
            sdf, PROG, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq", foreach_values=vals,
            state_buckets=n_buckets,
        )
        rows: list = []
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, _b: rows.extend(
                    tuple(r) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return sorted(rows)

    assert run(4) == run(0)


def test_bucket_state_records_width_and_rejects_a_changed_one():
    """Bucket blobs carry the state_buckets width they were written
    under; loading one under another width fails naming state_buckets
    (trails would hash to other buckets and strand their state), and
    blobs from before the width was recorded still load."""
    import pickle

    import pytest

    from trck_spark.streaming import (
        _BUCKET_STATE_VERSION,
        _dump_bucket_state,
        _load_bucket_state,
    )

    trails = {"u1": b"blob"}
    blob = _dump_bucket_state(trails, {"u1": 5}, {}, 16)
    assert _load_bucket_state(blob, 16) == (trails, {"u1": 5}, {})
    with pytest.raises(ValueError, match="state_buckets=16.*state_buckets=8"):
        _load_bucket_state(blob, 8)
    # per-trail grouping (width 0) must not read a bucket blob either
    with pytest.raises(ValueError, match="state_buckets"):
        _load_bucket_state(blob, 0)
    old = pickle.dumps({"bv": _BUCKET_STATE_VERSION, "t": trails})
    assert _load_bucket_state(old, 8) == (trails, {}, {})
    # a per-trail v2 blob is not a bucket blob
    from trck_spark.streaming import _dump_state

    assert _load_bucket_state(_dump_state({}, 1, None, None), 8) is None


def test_resume_with_changed_bucket_count_raises(spark, tmp_path):
    """A real checkpoint written at state_buckets=4, resumed at 8: the
    query fails with the width mismatch instead of silently dropping
    the carried trail state."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from trck_spark.streaming import streaming_partials

    src = tmp_path / "nb_src"
    src.mkdir()
    ckpt = str(tmp_path / "nb_ckpt")
    users = [f"user{i}" for i in range(16)]

    def write(name, t0, mtime):
        pq.write_table(
            pa.table(
                {
                    "uuid": users,
                    "timestamp": [t0 + i for i in range(len(users))],
                    "seq": [0] * len(users),
                    "t": ["a"] * len(users),
                }
            ),
            str(src / name),
        )
        _pin_mtime(src / name, mtime)

    prog = """
start ->
    receive
        t = "a" -> armed
        * -> repeat
armed ->
    receive
        t = "a" -> yield $twice, start
"""

    def run(n_buckets):
        sdf = (
            spark.readStream.schema(
                "uuid string, timestamp long, seq long, t string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = streaming_partials(
            sdf, prog, uuid_col="uuid", ts_col="timestamp",
            seq_col="seq", state_buckets=n_buckets,
        )
        q = (
            out.writeStream.foreachBatch(lambda b, _i: b.collect())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write("p0.parquet", 100, 1_700_000_000)
    run(4)  # every user left the initial state: state in all buckets
    write("p1.parquet", 200, 1_700_000_100)
    with pytest.raises(Exception, match="state_buckets=4"):
        run(8)
