"""Headline query library over the TESTDATA tables.

Each query is a (spark_fn, oracle_sql) pair: the Spark side runs through
the engine (FSM path) or pure Catalyst; the oracle is ANSI SQL DuckDB runs
on the same parquet for the driver's correctness gate.  Column names and
types are aligned on both sides.

The trck-semantics queries map the events table onto the reference data
model: uuid := user_id, timestamp := epoch seconds (trck's native unit),
fields := event_type (+ user as a yieldable field).  At sf<=0.01 there are
no (user, second) collisions, so trck's consecutive-duplicate-event skip
is a no-op and oracles don't need to replicate it.
"""

from __future__ import annotations

import os

from trck_spark.engine import TrckSparkEngine

# ---------------------------------------------------------------- loaders


def load_events(spark, sf_dir: str):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # events.parquet stores TIMESTAMP(NANOS), which Spark only reads with
    # this (runtime-settable) flag; the driver's session may not have it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong -> floor to epoch seconds
        ts_col = F.expr("ts div 1000000000")
    elif ts_type == "timestamp_ntz":
        # naive timestamp[us]: epoch seconds computed timezone-free, so the
        # result matches DuckDB's epoch_ns(ts) // 1e9 on the same naive value
        # regardless of session/driver timezone (NTZ -> BIGINT cast is illegal)
        ts_col = F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        ts_col = F.col("ts").cast("long")
    return (
        df.withColumn("uuid", F.col("user_id").cast("string"))
        .withColumn("timestamp", ts_col.cast(LongType()))
        .withColumn("user", F.col("user_id").cast("string"))
    )


# ------------------------------------------------- trck-engine programs

PROG_COUNT_CLICKS = """
start ->
    receive
        event_type = "click" -> yield $clicks
        * -> repeat
"""

PROG_COUNT_BY_TYPE = """
foreach %t
    start ->
        receive
            event_type = %t -> yield $n
            * -> repeat
"""

PROG_CLICKS_BY_USER = """
foreach %u
    start ->
        receive
            user = %u, event_type = "click" -> yield $clicks
            * -> repeat
"""


def q_trck_clicks_by_user(spark, sf_dir):
    """High-cardinality implicit foreach (one tuple per user): exercises
    the value-keyed single-scan compilation — the user-id lexicon never
    touches the driver, so this is exactly the shape that would OOM a
    collect-based grid at 10^8 users."""
    return _run_trck(spark, sf_dir, PROG_CLICKS_BY_USER).counters_df()


PROG_FUNNEL = """
start ->
    receive
        event_type = "view" -> wait
        * -> repeat
wait ->
    receive
        event_type = "click" -> yield $conv, quit
        * -> repeat
    after 1h -> quit
"""

PROG_BOUNCE = """
start ->
    receive
        event_type = "view" -> wait
        * -> repeat
wait ->
    receive
        event_type = "view" -> wait
        * -> start
    after 30m -> yield $bounces, start
"""

PROG_SESSIONS = """
start ->
    receive
        * -> yield $sessions, insession
insession ->
    receive
        * -> insession
    after 30m -> start
"""

PROG_ATTRIBUTION = """
start ->
    receive
        event_type = "click" -> attr
        * -> repeat
attr ->
    receive
        event_type = "click" -> attr
        event_type = "purchase" -> yield $attr_purchases, repeat
        * -> repeat
    after 7d -> start
"""

PROG_PURCHASES_BY_USER = """
start ->
    receive
        event_type = "purchase" -> yield user to &purchases_by_user, repeat
        * -> repeat
"""

PROG_UNIQUES_HLL = """
foreach %t
    start ->
        receive
            event_type = %t -> yield cookie to ^uniq, repeat
            * -> repeat
"""


# per-session engine + events frame, so repeated invocations of the same
# registry query hit the engine's prepared-plan cache (engine.py): the
# cache is keyed by the input DataFrame's identity, which a freshly
# built load_events frame would always miss.  Entries live for the
# process lifetime — fine for static per-round test data; a caller that
# rewrites sf_dir in-process should call load_events directly.
_ENGINES: dict = {}
_SEG_STORES: dict = {}
_EVENTS: dict = {}


def _run_trck(spark, sf_dir, program, **kw):
    engine = _ENGINES.get(id(spark))
    if engine is None:
        engine = _ENGINES[id(spark)] = TrckSparkEngine(spark)
    ekey = (id(spark), sf_dir)
    events = _EVENTS.get(ekey)
    if events is None:
        events = _EVENTS[ekey] = load_events(spark, sf_dir)
    return engine.run(
        events,
        program,
        uuid_col="uuid",
        ts_col="timestamp",
        seq_col="event_id",
        **kw,
    )


def q_trck_count_clicks(spark, sf_dir):
    return _run_trck(spark, sf_dir, PROG_COUNT_CLICKS).counters_df()


def q_trck_count_by_type(spark, sf_dir):
    return _run_trck(spark, sf_dir, PROG_COUNT_BY_TYPE).counters_df()


def _store_cache_path(src: str, sf_dir: str) -> str:
    """User-scoped cache path for the bench/registry TrailStore, keyed
    on a CONTENT stamp of the source parquet (per-file size + mtime_ns,
    hashed): a whole-second mtime key both reused stale stores after a
    same-second regeneration and, under the shared /tmp prefix, opened
    and trusted another user's directory.  Older stamps for the same
    sf_dir slug are removed so at most one store per source survives."""
    import getpass
    import glob as _glob
    import hashlib
    import os
    import re as _re
    import shutil
    import tempfile

    parts = []
    paths = (
        sorted(_glob.glob(os.path.join(src, "*")))
        if os.path.isdir(src)
        else [src]
    )
    for p in paths:
        try:
            st = os.stat(p)
            parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{os.path.basename(p)}:missing")
    stamp = hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]
    try:
        user = getpass.getuser()
    except Exception:
        user = f"uid{os.getuid()}"
    base = os.path.join(
        tempfile.gettempdir(), f"trck_spark_cache_{user}"
    )
    os.makedirs(base, mode=0o700, exist_ok=True)
    # the slug flattens non-alphanumerics, so two distinct sf_dirs can
    # collide on it — a short hash of the FULL path keeps them apart
    # (ADVICE r08: a concurrent driver on a colliding slug had its
    # in-use store rmtree'd mid-query)
    pathhash = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    slug = _re.sub(r"[^A-Za-z0-9_]", "_", sf_dir).strip("_")
    path = os.path.join(base, f"store_{slug}_{pathhash}_{stamp}")
    # age-gated cleanup of superseded stamps for the SAME source: never
    # delete anything younger than a day — a concurrent session (the
    # repo's own bench-contention protocol runs bench and tests in
    # separate processes) may still be reading its freshly-built store
    import time as _time

    for old in _glob.glob(
        os.path.join(base, f"store_{slug}_{pathhash}_*")
    ):
        if old == path:
            continue
        try:
            age = _time.time() - os.stat(old).st_mtime
        except OSError:
            continue
        if age > 86400:
            shutil.rmtree(old, ignore_errors=True)
    return path


def _segmented_events_store(spark, sf_dir):
    """Events as a 3-SEGMENT TrailStore (one append per time slice —
    the reference's one-tdb-per-period ingestion), written once per
    source-content stamp under a user-scoped cache dir (stamp =
    per-file size + mtime_ns, so same-second rewrites still miss;
    older stamps for the same sf_dir are removed).  Shared by the two
    store-backed registry rows so the driver builds ONE store."""
    from pyspark.sql import functions as F

    from trck_spark.store import (
        append_trail_store,
        is_trail_store,
        open_trail_store,
    )

    src = f"{sf_dir}/events.parquet"
    path = _store_cache_path(src, sf_dir + "#seg")
    # memoize the OPENED frame per (session, content-stamped path): a
    # fresh open returns a new DataFrame id every call, which misses the
    # engine's prepared-plan cache and re-pays manifest reads + code
    # remap plan-build on every repeat run.  The content stamp in the
    # path is the invalidation: a regenerated source resolves to a new
    # path (and a new store build)
    memo_key = (id(spark), path)
    hit = _SEG_STORES.get(memo_key)
    if hit is not None:
        return hit
    if is_trail_store(path):
        store = open_trail_store(spark, path)
        _SEG_STORES[memo_key] = store
        return store
    events = load_events(spark, sf_dir).select(
        "uuid", "timestamp", "event_id", "event_type"
    )
    t1, t2 = TS_SEG_CUTS
    store = None
    for cond in (
        F.col("timestamp") < t1,
        (F.col("timestamp") >= t1) & (F.col("timestamp") < t2),
        F.col("timestamp") >= t2,
    ):
        store = append_trail_store(
            events.filter(cond), path, uuid_col="uuid",
            ts_col="timestamp", seq_col="event_id",
        )
    _SEG_STORES[memo_key] = store
    return store


def q_trck_count_by_type_store(spark, sf_dir):
    """PROG_COUNT_BY_TYPE through a SEGMENTED TrailStore (VERDICT r07
    item 1's gate shape) — ONE tagged row covering BOTH store counter
    tiers (registry 50-row budget, round-9 merge):

    - scope='full': the plain counter, answered from the MERGED
      union-lexicon rollup (store._merge_segment_manifests;
      engine._rollup_frame) with zero scan;
    - scope='ts': the timestamp-bounded counter (PROG_COUNT_BY_TYPE_TS),
      answered by the time-scoped tier (engine._run_ts_scoped_rollup) —
      covered middle segment from its rollup, boundary segments scanned.

    Same union shape on the oracle side, so one hash checks both tiers.
    Constituent plans stay plan-shape-asserted in tests/test_rollup.py."""
    from pyspark.sql import functions as F

    engine = _ENGINES.get(id(spark))
    if engine is None:
        engine = _ENGINES[id(spark)] = TrckSparkEngine(spark)
    store = _segmented_events_store(spark, sf_dir)
    full = engine.run(
        store, PROG_COUNT_BY_TYPE,
        uuid_col="uuid", ts_col="timestamp", seq_col="event_id",
    ).counters_df().select(F.lit("full").alias("scope"), "t", "n")
    ts = engine.run(
        store, PROG_COUNT_BY_TYPE_TS,
        uuid_col="uuid", ts_col="timestamp", seq_col="event_id",
    ).counters_df().select(F.lit("ts").alias("scope"), "t", "n")
    return full.unionByName(ts)


# timestamp-bounded count-by-type (VERDICT r07 item 5): the bound fully
# covers the middle period segment, so the engine answers it from the
# merged rollup and scans ONLY the two boundary segments
TS_SEG_CUTS = (1704900000, 1705800000)
TS_BOUND = (1704500000, 1706200000)
PROG_COUNT_BY_TYPE_TS = f"""
foreach %t
    start ->
        receive
            event_type = %t, timestamp >= {TS_BOUND[0]}, timestamp < {TS_BOUND[1]} -> yield $n
            * -> repeat
"""

# timestamp-bounded uniques (round 9): same bound, sketch monoid — the
# covered middle segment answers from its manifest sketch, boundary
# segments scan, merged by register max (engine._run_ts_scoped_hll)
PROG_UNIQUES_HLL_TS = f"""
foreach %t
    start ->
        receive
            event_type = %t, timestamp >= {TS_BOUND[0]}, timestamp < {TS_BOUND[1]} -> yield cookie to ^uniq, repeat
            * -> repeat
"""


def q_trck_funnel(spark, sf_dir):
    return _run_trck(spark, sf_dir, PROG_FUNNEL).counters_df()


def q_trck_bounce(spark, sf_dir):
    return _run_trck(spark, sf_dir, PROG_BOUNCE).counters_df()


def q_trck_sessions(spark, sf_dir):
    return _run_trck(spark, sf_dir, PROG_SESSIONS).counters_df()


def q_trck_attribution(spark, sf_dir):
    return _run_trck(spark, sf_dir, PROG_ATTRIBUTION).counters_df()


def q_trck_purchases_by_user(spark, sf_dir):
    rs = _run_trck(spark, sf_dir, PROG_PURCHASES_BY_USER)
    return rs.sets_df("&purchases_by_user")


def q_trck_uniques_hll(spark, sf_dir):
    """HLL uniques per event type, emitted as a CHECKED row: the exact
    distinct count (oracle-reproducible) plus an estimate-envelope flag.

    The sketch itself is approximate by construction, so instead of a
    rows-only check the query asserts its own accuracy: ``est_in_2pct``
    is 1 iff the p=14 HLL estimate falls within the reference's typical
    error envelope (±2%, ~2.5 sigma at 2^14 registers — reference
    hyperloglog.c p=14 default; small cardinalities go through the same
    bias-corrected linear-counting path, hll.py:148-170) of the exact
    count.  The oracle states est_in_2pct = 1, so a drifting sketch
    hash-MISMATCHES instead of silently passing.  The wire format stays
    golden-hex-verified against reference fixtures in
    tests/test_primitives.py / test_golden_fixtures.py."""
    rs = _run_trck(spark, sf_dir, PROG_UNIQUES_HLL)
    return _hll_checked_rows(spark, sf_dir, rs)


def _hll_checked_rows(spark, sf_dir, rs, ts_bound=None):
    """(t, uniq_exact, est_in_2pct) rows from a ^uniq result set — the
    checked-row shape shared by the flat and store-backed hll queries.
    With ``ts_bound`` = (lo, hi) the exact side counts only events with
    lo <= timestamp < hi (the time-scoped tier's comparison)."""
    from pyspark.sql import functions as F

    from trck_spark.fsm.hll import hll_from_hex

    rows = rs.collect_json()
    ev = load_events(spark, sf_dir)
    uid = F.col("uuid")
    if ts_bound is not None:
        uid = F.when(
            (F.col("timestamp") >= ts_bound[0])
            & (F.col("timestamp") < ts_bound[1]),
            uid,
        )
    exact = {
        r["t"]: int(r["n"])
        for r in ev.groupBy(F.col("event_type").alias("t"))
        .agg(F.count_distinct(uid).alias("n"))
        .collect()
    }
    out = []
    for r in rows:
        t = r["%t"]
        ex = exact.get(t, 0)
        hexs = r.get("^uniq")
        est = hll_from_hex(hexs).estimate() if hexs else 0.0
        ok = (est == 0) if ex == 0 else (abs(est - ex) / ex <= 0.02)
        out.append((t, ex, 1 if ok else 0))
    return spark.createDataFrame(
        sorted(out), "t string, uniq_exact long, est_in_2pct long"
    ).orderBy("t")


def q_trck_uniques_hll_store(spark, sf_dir):
    """Uniques through the SEGMENTED TrailStore — ONE tagged row
    covering BOTH store sketch tiers (registry 50-row budget):

    - scope='full' (VERDICT r08 item 1): PROG_UNIQUES_HLL answered
      entirely from the manifest's per-(field, value) cookie sketches,
      register-max-merged across the three segments at open
      (store._merge_segment_manifests) — ZERO Spark work for the sketch
      itself (engine.TrckLocalResultSet holds no plan);
    - scope='ts' (round 9): PROG_UNIQUES_HLL_TS adds a timestamp bound
      that fully covers the middle segment, so the time-scoped sketch
      tier (engine._run_ts_scoped_hll) answers the covered segment from
      its manifest sketch and scans ONLY the two boundary segments,
      merging by register max — the incremental-uniques shape that
      never rescans history at 100 TB.

    The sketches are wire-format-identical to the scan path's, so the
    same ±2% envelope oracle as trck_uniques_hll checks both scopes;
    tests/test_hll_rollup.py pins register-exact parity, the tier
    types, and the boundary-only scan set."""
    from pyspark.sql import functions as F

    from trck_spark.engine import TrckLocalResultSet

    engine = _ENGINES.get(id(spark))
    if engine is None:
        engine = _ENGINES[id(spark)] = TrckSparkEngine(spark)
    store = _segmented_events_store(spark, sf_dir)
    rs = engine.run(
        store, PROG_UNIQUES_HLL,
        uuid_col="uuid", ts_col="timestamp", seq_col="event_id",
    )
    assert isinstance(rs, TrckLocalResultSet), type(rs).__name__
    full = _hll_checked_rows(spark, sf_dir, rs).select(
        F.lit("full").alias("scope"), "*"
    )
    rs_ts = engine.run(
        store, PROG_UNIQUES_HLL_TS,
        uuid_col="uuid", ts_col="timestamp", seq_col="event_id",
    )
    assert isinstance(rs_ts, TrckLocalResultSet), type(rs_ts).__name__
    ts = _hll_checked_rows(spark, sf_dir, rs_ts, ts_bound=TS_BOUND).select(
        F.lit("ts").alias("scope"), "*"
    )
    return full.unionByName(ts)


def q_trck_window_file(spark, sf_dir):
    """Per-uuid time-window side input: first-half-of-history windows
    derived from the data, events counted inside each user's window.

    The bounds stay a DataFrame end-to-end (no driver .collect()) — the
    engine joins them distributed, so a 10^8-row window set would work
    exactly the same way."""
    from pyspark.sql import functions as F

    ev = load_events(spark, sf_dir)
    bounds = (
        ev.groupBy("uuid")
        .agg(
            F.min("timestamp").alias("lo"),
            F.max("timestamp").alias("hi"),
        )
        .select(
            "uuid",
            "lo",
            F.floor((F.col("lo") + F.col("hi")) / 2).cast("long").alias("mid"),
        )
    )
    prog = """
start ->
    receive
        event_type = "view" -> yield $views_in_window
        * -> repeat
"""
    return _run_trck(spark, sf_dir, prog, window_entries=bounds).counters_df()


def q_trck_exclude(spark, sf_dir):
    """uuid exclude side input: drop users who ever errored, count clicks.

    The exclude set stays a DataFrame (distributed anti-join, no driver
    .collect()) — the scale-safe form of the reference's exclude file."""
    from pyspark.sql import functions as F

    ev = load_events(spark, sf_dir)
    bad = (
        ev.filter(F.col("event_type") == "error")
        .select("uuid")
        .distinct()
    )
    return _run_trck(
        spark, sf_dir, PROG_COUNT_CLICKS, exclude=bad
    ).counters_df()


def q_trck_cnf_filter(spark, sf_dir):
    """Pre-scan CNF filter: (click OR view) AND (NOT view) == clicks."""
    flt = {
        "clauses": [
            [
                {"field": "event_type", "value": "click", "op": "equal"},
                {"field": "event_type", "value": "view", "op": "equal"},
            ],
            [{"field": "event_type", "value": "view", "op": "notequal"}],
        ]
    }
    prog = """
start ->
    receive
        * -> yield $filtered, repeat
"""
    return _run_trck(spark, sf_dir, prog, event_filter=flt).counters_df()


PROG_TS_PARAMS = """
start ->
    receive
        event_type = "click", timestamp >= %t1, timestamp < %t2 -> yield $in_range
        * -> repeat
"""

TS_PARAMS = {"%t1": "1704100000", "%t2": "1704300000"}


def q_trck_timestamp_params(spark, sf_dir):
    """Timestamp relop predicates against %-parameters."""
    return _run_trck(
        spark, sf_dir, PROG_TS_PARAMS, params=TS_PARAMS
    ).counters_df()


PROG_FIRST_CLICK = """
start ->
    receive
        event_type = "click" -> yield $users_with_click, quit
        * -> repeat
"""


def q_trck_first_click(spark, sf_dir):
    """quit semantics: each trail yields at most once then terminates."""
    return _run_trck(spark, sf_dir, PROG_FIRST_CLICK).counters_df()


PROG_MERGED = """
foreach %t in @arr merged results
    start ->
        receive
            event_type = %t -> yield $total
            * -> repeat
"""


def q_trck_merged_results(spark, sf_dir):
    """`merged results`: the foreach grid collapses to one result row."""
    return _run_trck(
        spark, sf_dir, PROG_MERGED,
        params={"@arr": [["click"], ["view"], ["purchase"]]},
    ).counters_df()


PROG_FUNNEL_BY_TYPE = """
foreach %t
    start ->
        receive
            event_type = "view" -> wait
            * -> repeat
    wait ->
        receive
            event_type = %t -> yield $conv, quit
            * -> repeat
        after 1h -> quit
"""


def q_trck_funnel_by_type(spark, sf_dir):
    """Parameterized funnel: per event type, users whose first event of
    that type after their first view falls within 1h (compiled to
    grid-joined min-aggregations; implicit foreach over the lexicon)."""
    return _run_trck(spark, sf_dir, PROG_FUNNEL_BY_TYPE).counters_df()


PROG_SESSIONS_BY_TYPE = """
foreach %t
    start ->
        receive
            event_type = %t -> yield $sessions, insession
            * -> repeat
    insession ->
        receive
            * -> insession
        after 30m -> start
"""


def q_trck_sessions_by_type(spark, sf_dir):
    """Parameterized sessionization: per event type, count 30-minute
    session chains containing >= 1 event of that type (compiled to one
    island decomposition + a per-tuple distinct-island count)."""
    return _run_trck(spark, sf_dir, PROG_SESSIONS_BY_TYPE).counters_df()


PROG_BOUNCE_BY_TYPE = """
foreach %t
    start ->
        receive
            event_type = %t -> wait
            * -> repeat
    wait ->
        receive
            event_type = %t -> wait
            * -> start
        after 30m -> yield $bounces, start
"""


def q_trck_bounce_by_type(spark, sf_dir):
    """Parameterized bounce: per event type, events of that type whose
    successor is >= 30m away or absent (one lead window, grid-joined)."""
    return _run_trck(spark, sf_dir, PROG_BOUNCE_BY_TYPE).counters_df()


PROG_ATTRIBUTION_BY_TYPE = """
foreach %t
    start ->
        receive
            event_type = %t -> attr
            * -> repeat
    attr ->
        receive
            event_type = %t -> attr
            event_type = "purchase" -> yield $attr_purchases, repeat
            * -> repeat
        after 7d -> start
"""


def q_trck_attribution_by_type(spark, sf_dir):
    """Parameterized attribution: purchases whose last %t-event is < 7d
    older (exists-semi-join rewrite; %t = "purchase" correctly yields 0
    by first-match rule order)."""
    return _run_trck(spark, sf_dir, PROG_ATTRIBUTION_BY_TYPE).counters_df()


PROG_NESTED_WINDOW = """
start ->
    receive
        event_type = "purchase" -> shop_window
        * -> repeat
shop_window ->
    window
        counting ->
            receive
                event_type = "click" -> yield $clicks_after_purchase, repeat
                * -> repeat
    after 1d -> start
"""


def q_trck_nested_window(spark, sf_dir):
    """Nested `window {} after` blocks.

    Oracle note: the reference checks outer-window expiry only when the
    inner rule's own deadline fails or the item is empty (generated loop,
    reference fsm2c.py:628-663) — with an `after`-less inner block the
    outer window never fires on real events, so THIS program reduces
    exactly to "clicks after the user's first purchase", which the
    oracle states directly.  The general stateful window machinery
    (deadline chaining, bottom-up expiry) stays fixture-verified against
    reference goldens (test_set_result_tuple_window{,2}.tr)."""
    return _run_trck(spark, sf_dir, PROG_NESTED_WINDOW).counters_df()


ORACLES_TRCK = {
    # Tie blind spot (oracle-mirror caveat): the FSM orders events by
    # (ts, seq) and counts clicks strictly AFTER the first purchase in
    # stream order, while this oracle counts t > pt on floored seconds —
    # a click sharing the first purchase's floored second with a later
    # seq would be counted by the FSM but excluded here.  The generated
    # testdata has no intra-user same-second purchase/click collision,
    # so the match is exact; the general machinery stays fixture-tested.
    "trck_nested_window": """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type
           FROM events),
p AS (SELECT user_id, min(t) AS pt FROM e WHERE event_type = 'purchase'
      GROUP BY 1)
SELECT coalesce(sum(CASE WHEN e.event_type = 'click' AND e.t > p.pt
                         THEN 1 END), 0)::BIGINT AS clicks_after_purchase
FROM e JOIN p USING (user_id)
""",
    "trck_timestamp_params": """
SELECT count(*)::BIGINT AS in_range FROM events
WHERE event_type = 'click'
  AND epoch_ns(ts) // 1000000000 >= 1704100000
  AND epoch_ns(ts) // 1000000000 < 1704300000
""",
    "trck_first_click": (
        "SELECT count(DISTINCT user_id)::BIGINT AS users_with_click "
        "FROM events WHERE event_type = 'click'"
    ),
    "trck_merged_results": (
        "SELECT count(*)::BIGINT AS total FROM events "
        "WHERE event_type IN ('click', 'view', 'purchase')"
    ),
    "trck_funnel_by_type": """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type
           FROM events),
v AS (SELECT user_id, min(t) AS vt FROM e WHERE event_type='view'
      GROUP BY 1),
f AS (SELECT e.event_type AS tt, e.user_id, min(e.t) AS bt
      FROM e JOIN v USING(user_id) WHERE e.t > v.vt GROUP BY 1, 2),
c AS (SELECT tt, count(*)::BIGINT AS conv
      FROM f JOIN v USING(user_id) WHERE bt < vt + 3600 GROUP BY 1),
grid AS (SELECT '' AS t UNION SELECT DISTINCT event_type FROM events)
SELECT g.t, coalesce(c.conv, 0)::BIGINT AS conv
FROM grid g LEFT JOIN c ON c.tt = g.t
""",
    "trck_count_clicks": (
        "SELECT count(*)::BIGINT AS clicks FROM events "
        "WHERE event_type = 'click'"
    ),
    "trck_count_by_type": (
        "SELECT '' AS t, 0::BIGINT AS n UNION ALL "
        "SELECT event_type AS t, count(*)::BIGINT AS n "
        "FROM events GROUP BY event_type"
    ),
    # TrailStore input, ONE tagged row for both store counter tiers
    # (round-9 registry merge): scope='full' hash-checks the zero-scan
    # merged-rollup answer, scope='ts' the time-scoped decomposition
    # (covered middle segment from rollup, boundary segments scanned);
    # the oracle computes both scopes over the flat parquet
    "trck_count_by_type_store": (
        "SELECT 'full' AS scope, '' AS t, 0::BIGINT AS n UNION ALL "
        "SELECT 'full' AS scope, event_type AS t, count(*)::BIGINT AS n "
        "FROM events GROUP BY event_type UNION ALL "
        "SELECT 'ts' AS scope, '' AS t, 0::BIGINT AS n UNION ALL "
        "SELECT 'ts' AS scope, event_type AS t, "
        "count(*) FILTER (epoch_ns(ts) // 1000000000 >= 1704500000 "
        "AND epoch_ns(ts) // 1000000000 < 1706200000)::BIGINT AS n "
        "FROM events GROUP BY event_type"
    ),
    "trck_clicks_by_user": (
        "SELECT '' AS u, 0::BIGINT AS clicks UNION ALL "
        "SELECT user_id::VARCHAR AS u, "
        "count(*) FILTER (event_type = 'click')::BIGINT AS clicks "
        "FROM events GROUP BY user_id"
    ),
    "trck_funnel": """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type FROM events),
v AS (SELECT user_id, min(t) AS vt FROM e WHERE event_type='view' GROUP BY 1),
fc AS (SELECT e.user_id, min(e.t) AS ct FROM e JOIN v USING(user_id)
       WHERE e.event_type='click' AND e.t > v.vt GROUP BY 1)
SELECT count(*)::BIGINT AS conv FROM fc JOIN v USING(user_id)
WHERE ct < vt + 3600
""",
    "trck_bounce": """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type,
                  lead(epoch_ns(ts) // 1000000000) OVER
                    (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000, event_id)
                    AS nt
           FROM events)
SELECT count(*)::BIGINT AS bounces FROM e
WHERE event_type='view' AND (nt IS NULL OR nt >= t + 1800)
""",
    "trck_sessions": """
WITH raw AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_id
             FROM events),
-- the sessions program references no fields, so trck's consecutive-dup
-- skip collapses same-second events per user; replicate before counting
d AS (SELECT user_id, t,
             lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS dt
      FROM raw),
e AS (SELECT user_id, t, lag(t) OVER
          (PARTITION BY user_id ORDER BY t) AS pt
      FROM d WHERE dt IS NULL OR t <> dt)
SELECT count(*)::BIGINT AS sessions FROM e WHERE pt IS NULL OR t >= pt + 1800
""",
    "trck_attribution": """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type FROM events),
p AS (SELECT user_id, t FROM e WHERE event_type='purchase'),
lc AS (SELECT p.user_id, p.t AS pt, max(c.t) AS ct
       FROM p JOIN e c ON c.user_id = p.user_id
        AND c.event_type='click' AND c.t < p.t
       GROUP BY 1, 2)
SELECT count(*)::BIGINT AS attr_purchases FROM lc WHERE pt < ct + 604800
""",
    # Parameterized shapes: dedup identity is (second, event_type) —
    # event_type is program-referenced — per user in (t, event_id) order,
    # mirroring the engine's consecutive-duplicate skip.
    "trck_sessions_by_type": """
WITH raw AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type,
                    event_id FROM events),
d0 AS (SELECT *, lag(t) OVER w AS pt, lag(event_type) OVER w AS pe
       FROM raw WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
d AS (SELECT user_id, t, event_type, event_id FROM d0
      WHERE pt IS NULL OR t <> pt OR event_type <> pe),
g0 AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
              AS pt FROM d),
i AS (SELECT *, sum(CASE WHEN pt IS NULL OR t >= pt + 1800 THEN 1 ELSE 0
                    END) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS UNBOUNDED PRECEDING) AS isl
      FROM g0),
c AS (SELECT event_type AS ty,
             count(DISTINCT (user_id, isl))::BIGINT AS n
      FROM i GROUP BY 1),
grid AS (SELECT '' AS ty UNION SELECT DISTINCT event_type FROM events)
SELECT g.ty AS t, coalesce(c.n, 0)::BIGINT AS sessions
FROM grid g LEFT JOIN c USING (ty)
""",
    "trck_bounce_by_type": """
WITH raw AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type,
                    event_id FROM events),
d0 AS (SELECT *, lag(t) OVER w AS pt, lag(event_type) OVER w AS pe
       FROM raw WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
d AS (SELECT user_id, t, event_type, event_id FROM d0
      WHERE pt IS NULL OR t <> pt OR event_type <> pe),
l AS (SELECT *, lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
             AS nt FROM d),
c AS (SELECT event_type AS ty, count(*)::BIGINT AS n FROM l
      WHERE nt IS NULL OR nt >= t + 1800 GROUP BY 1),
grid AS (SELECT '' AS ty UNION SELECT DISTINCT event_type FROM events)
SELECT g.ty AS t, coalesce(c.n, 0)::BIGINT AS bounces
FROM grid g LEFT JOIN c USING (ty)
""",
    "trck_attribution_by_type": """
WITH raw AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type,
                    event_id FROM events),
d0 AS (SELECT *, lag(t) OVER w AS pt, lag(event_type) OVER w AS pe
       FROM raw WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
d AS (SELECT user_id, t, event_type, event_id FROM d0
      WHERE pt IS NULL OR t <> pt OR event_type <> pe),
grid AS (SELECT '' AS ty UNION SELECT DISTINCT event_type FROM events),
c AS (SELECT g.ty, count(*)::BIGINT AS n
      FROM grid g JOIN d b ON b.event_type = 'purchase'
                          AND g.ty <> 'purchase'
      WHERE EXISTS (SELECT 1 FROM d a
                    WHERE a.user_id = b.user_id AND a.event_type = g.ty
                      AND (a.t < b.t
                           OR (a.t = b.t AND a.event_id < b.event_id))
                      AND b.t < a.t + 604800)
      GROUP BY 1)
SELECT g.ty AS t, coalesce(c.n, 0)::BIGINT AS attr_purchases
FROM grid g LEFT JOIN c USING (ty)
""",
    "trck_purchases_by_user": (
        "SELECT user_id::VARCHAR AS item, count(*)::BIGINT AS count "
        "FROM events WHERE event_type='purchase' GROUP BY user_id"
    ),
    # the estimate-envelope flag is asserted BY the oracle: a sketch
    # whose estimate leaves ±2% of the exact count hash-mismatches
    "trck_uniques_hll": """
SELECT '' AS t, 0::BIGINT AS uniq_exact, 1::BIGINT AS est_in_2pct
UNION ALL
SELECT event_type AS t, count(DISTINCT user_id)::BIGINT AS uniq_exact,
       1::BIGINT AS est_in_2pct
FROM events GROUP BY event_type
ORDER BY t
""",
    # same oracle through the SEGMENTED TrailStore, ONE tagged row for
    # both sketch tiers (round-9 merge): scope='full' checks the
    # zero-scan register-max-merged manifest answer, scope='ts' the
    # time-scoped decomposition (covered middle segment from its
    # sketch, boundary segments scanned); a drifting sketch leaves the
    # ±2% envelope and hash-mismatches
    "trck_uniques_hll_store": """
SELECT 'full' AS scope, '' AS t, 0::BIGINT AS uniq_exact,
       1::BIGINT AS est_in_2pct
UNION ALL
SELECT 'full' AS scope, event_type AS t,
       count(DISTINCT user_id)::BIGINT AS uniq_exact,
       1::BIGINT AS est_in_2pct
FROM events GROUP BY event_type
UNION ALL
SELECT 'ts' AS scope, '' AS t, 0::BIGINT AS uniq_exact,
       1::BIGINT AS est_in_2pct
UNION ALL
SELECT 'ts' AS scope, event_type AS t,
       count(DISTINCT CASE WHEN epoch_ns(ts) // 1000000000 >= 1704500000
             AND epoch_ns(ts) // 1000000000 < 1706200000
             THEN user_id END)::BIGINT AS uniq_exact,
       1::BIGINT AS est_in_2pct
FROM events GROUP BY event_type
ORDER BY scope, t
""",
    "trck_window_file": """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_type FROM events),
b AS (SELECT user_id, min(t) AS lo, (min(t) + max(t)) // 2 AS mid
      FROM e GROUP BY 1)
SELECT count(*)::BIGINT AS views_in_window
FROM e JOIN b USING(user_id)
WHERE e.event_type='view' AND e.t >= b.lo AND e.t < b.mid
""",
    "trck_exclude": """
SELECT count(*)::BIGINT AS clicks FROM events e
WHERE e.event_type = 'click' AND NOT EXISTS (
  SELECT 1 FROM events x
  WHERE x.user_id = e.user_id AND x.event_type = 'error')
""",
    "trck_cnf_filter": (
        "SELECT count(*)::BIGINT AS filtered FROM events "
        "WHERE (event_type='click' OR event_type='view') "
        "AND event_type <> 'view'"
    ),
}


# ------------------------------------------------- relational session features


def q_session_features(spark, sf_dir):
    """Per-session behavior features — the "feature extraction from
    discrete time series" use case the reference names as canonical
    (reference README.md:5-15), materialized as a relational table
    instead of FSM counters: one row per (user, 30-min-gap session)
    with start, length, duration and per-type signals.

    Plan: one hash exchange on user_id serves BOTH window passes
    (session-start lag + running session index share the same
    partitioning/order) and the final (user, session) aggregation —
    HashPartitioning(user) satisfies the grouped distribution of the
    superset key, so Catalyst plans exactly one shuffle end to end.
    At 100 TB this is the minimal movement for sessionization: one
    pass, one exchange, partial aggregation map-side.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("timestamp").alias("t"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    # 1 when this event STARTS a session (first event, or >=30-min gap);
    # a NULL lag comparison falls through to otherwise() -> 1
    marked = ev.withColumn(
        "new_sess",
        F.when(F.col("t") < F.lag("t").over(w) + 1800, 0).otherwise(1),
    ).withColumn(
        "sess_idx",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        marked.groupBy("user_id", "sess_idx")
        .agg(
            F.min("t").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("t") - F.min("t")).alias("duration_s"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("n_clicks"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("boolean").alias("has_purchase"),
        )
        .select(
            "user_id",
            F.col("sess_idx").cast("long").alias("sess_idx"),
            "session_start",
            "n_events",
            "duration_s",
            F.col("n_clicks").cast("long").alias("n_clicks"),
            "has_purchase",
        )
        .orderBy("user_id", "sess_idx")
    )


ORACLES_RELATIONAL = {
    "session_features": """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_id, event_type,
         lag(epoch_ns(ts) // 1000000000) OVER
           (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000,
            event_id) AS pt
  FROM events
),
m AS (
  SELECT *, CASE WHEN pt IS NOT NULL AND t < pt + 1800 THEN 0 ELSE 1 END
              AS new_sess
  FROM e
),
s AS (
  SELECT *, sum(new_sess) OVER
              (PARTITION BY user_id ORDER BY t, event_id
               ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM m
)
SELECT user_id, sess_idx::BIGINT AS sess_idx,
       min(t)::BIGINT AS session_start,
       count(*)::BIGINT AS n_events,
       (max(t) - min(t))::BIGINT AS duration_s,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
         AS n_clicks,
       (max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1)
         AS has_purchase
FROM s GROUP BY 1, 2 ORDER BY 1, 2
""",
}


def spark_queries() -> dict:
    """name -> callable(spark, sf_dir) -> DataFrame."""
    out = {
        "trck_count_clicks": q_trck_count_clicks,
        "trck_count_by_type": q_trck_count_by_type,
        "trck_count_by_type_store": q_trck_count_by_type_store,
        "trck_clicks_by_user": q_trck_clicks_by_user,
        "trck_timestamp_params": q_trck_timestamp_params,
        "trck_first_click": q_trck_first_click,
        "trck_funnel_by_type": q_trck_funnel_by_type,
        "trck_merged_results": q_trck_merged_results,
        "trck_nested_window": q_trck_nested_window,
        "trck_funnel": q_trck_funnel,
        "trck_bounce": q_trck_bounce,
        "trck_sessions": q_trck_sessions,
        "trck_attribution": q_trck_attribution,
        "trck_sessions_by_type": q_trck_sessions_by_type,
        "trck_bounce_by_type": q_trck_bounce_by_type,
        "trck_attribution_by_type": q_trck_attribution_by_type,
        "trck_purchases_by_user": q_trck_purchases_by_user,
        "trck_uniques_hll": q_trck_uniques_hll,
        "trck_uniques_hll_store": q_trck_uniques_hll_store,
        "trck_window_file": q_trck_window_file,
        "trck_exclude": q_trck_exclude,
        "trck_cnf_filter": q_trck_cnf_filter,
        "session_features": q_session_features,
    }
    return out


def oracle_sqls() -> dict:
    out = {}
    out.update(ORACLES_TRCK)
    out.update(ORACLES_RELATIONAL)
    return out
