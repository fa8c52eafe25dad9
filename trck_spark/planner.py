"""Query planner: compile simple trck programs to pure Catalyst plans.

A program qualifies for the relational fast path when it is a single
receive block with no time machinery and no cross-event state:

- exactly one (non-window) rule, no ``after`` edge, no ``window`` duration
- every clause action is ``repeat`` (no transitions, no quit/stop)
- a catch-all wildcard clause exists (so non-exhaustive-match errors are
  impossible)
- yields are counters only (set/multiset/HLL yields carry the trck tuple
  encoding, which stays on the FSM path)

For such programs per-event semantics reduce to: drop consecutive
duplicates, find the first matching clause, add its counter yields.  That
compiles to:

    scan -> [lag-based consecutive dedup over (uuid) trails]
         -> broadcast join against the parameter grid (equi-join when the
            program compares fields to params — Catalyst picks a hash join)
         -> CASE chain for first-match clause resolution
         -> groupBy(tuple_id) conditional sums

which is whole-stage-codegen JVM execution end to end — no Python worker,
no per-trail grouping (counters have no cross-event dependency; the only
window function is the dedup lag).  This is the "simple program ->
filter/groupBy/agg" rewrite sketched in SURVEY.md §4/#8 and §7.3.

The reference achieves the same effect with compiled C + the
distinct-value memoization (match_traildb.c:653-744); on Spark the hash
join against the grid plays that role (each event pairs only with grid
tuples whose values match).
"""

from __future__ import annotations

from trck_spark.ir import A_HERE, A_NEXT, A_QUIT, A_REPEAT, Program, is_param

import threading as _threading

# Active dictionary-code context for predicate compilation, set by
# engine.run around the compiled-path section (thread-local: plan
# building may happen concurrently from multiple driver threads).
# {field: {value: code}} for fields whose TrailStore lexicon covers
# EVERY non-empty value of the field (store.py write-time dicts).
_PRED_CODES = _threading.local()


class pred_codes_ctx:
    """Compile literal predicates on `codes` fields against the int
    ``__c_<field>`` dictionary column instead of the string — the
    TrailDB value-id idea applied to predicates.  Sound because the
    store lexicon is complete by construction: code 0 <-> ""/absent,
    an unseen literal matches nothing, everything else is 1..n."""

    def __init__(self, codes: dict | None):
        self.codes = codes or {}

    def __enter__(self):
        self.prev = getattr(_PRED_CODES, "codes", {})
        _PRED_CODES.codes = self.codes
        return self

    def __exit__(self, *exc):
        _PRED_CODES.codes = self.prev
        return False


def _with_pred_codes(fn):
    """Give a compile_* function an optional ``pred_codes=`` kwarg that
    activates :class:`pred_codes_ctx` for the (eager) plan
    construction inside it — Columns are built during the call, so
    scoping the context to the call body is exact."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, pred_codes=None, **kw):
        with pred_codes_ctx(pred_codes):
            return fn(*args, **kw)

    return wrapper



def is_simple_counter_program(program: Program) -> bool:
    if len(program.rules) != 1:
        return False
    r = program.rules[0]
    if r.get("window") is not None or "after" in r or r.get("outer"):
        return False
    clauses = r.get("clauses", [])
    if not clauses or not program.yield_counters:
        return False
    has_catchall = False
    for c in clauses:
        kind, _ = c["_action"]
        if kind != A_REPEAT:
            return False
        if not c.get("attrs"):
            has_catchall = True
        for y in c.get("yield", []) or []:
            if y["dst"][0] != "$":
                return False
    return has_catchall


def is_simple_funnel_program(program: Program) -> bool:
    """Two-block first-A-then-B-within-N funnel with quit semantics:

        start -> receive        ruleB -> receive
            A -> ruleB              B -> yield $counters..., quit
            * -> repeat             * -> repeat
                                after N -> quit

    Per (trail, foreach-tuple) this reduces to: a = first event matching
    A; b = first event after a matching B; yield iff b.ts < a.ts + N —
    which compiles to two filtered min-aggregations and a comparison (no
    Python, no window functions; consecutive-duplicate dedup provably
    cannot change either first-match event).  A/B conditions may be
    literals or ``field = %param`` equalities (the grid joins in);
    set-membership and timestamp-param conditions stay on the FSM path."""
    if len(program.rules) != 2:
        return False
    if program.groupby and program.merge_results:
        return False
    if any(v[0] != "%" for v in program.groupby_vars):
        return False  # set-valued foreach vars stay on the FSM path
    r0, r1 = program.rules
    if r0.get("window") is not None or "after" in r0 or r0.get("outer"):
        return False
    if r1.get("window") is None or r1.get("outer"):
        return False
    after = r1.get("after")
    if not after or after.get("yield") or after["_action"][0] != A_QUIT:
        return False

    def _clauses_ok(rule, want_target, yield_rule):
        clauses = rule.get("clauses", [])
        if len(clauses) != 2:
            return False
        c, wild = clauses
        if wild.get("attrs") or wild["_action"][0] != A_REPEAT or wild.get(
            "yield"
        ):
            return False
        if c.get("op") == "not" or not c.get("attrs"):
            return False
        for field, conditions in c["attrs"].items():
            for expr in conditions:
                bare = expr.lstrip("<=>")
                if is_param(bare):
                    # only scalar equality params on plain fields compile
                    if (
                        bare[0] != "%"
                        or expr != bare
                        or field == "timestamp"
                        or bare not in program.groupby_vars
                    ):
                        return False
        kind, target = c["_action"]
        if yield_rule:
            if kind != A_QUIT:
                return False
            if not c.get("yield") or any(
                y["dst"][0] != "$" for y in c["yield"]
            ):
                return False
        else:
            if (kind, target) != want_target or c.get("yield"):
                return False
        return True

    if not (
        _clauses_ok(r0, (A_NEXT, 1), False)
        and _clauses_ok(r1, None, True)
    ):
        return False
    # A and B must be provably disjoint (some shared field compared to
    # different non-param literals) so consecutive-duplicate removal can
    # never change which event is the first B after A.  With params this
    # can't be proven statically, so instead we rely on the engine-side
    # dedup being applied before the funnel aggregations (see
    # compile_funnel), which makes the rewrite exact regardless.
    return True


@_with_pred_codes
def compile_funnel(engine, df, program: Program, tuples=None,
                   extra_dedup=None, no_dedup=False, clustered=False):
    """Compile the two-block funnel to min-aggregations (see
    is_simple_funnel_program).  Runs over the lag-deduplicated trail so
    the rewrite is exact regardless of duplicate events; foreach grids
    join in as broadcast hash joins on the param-bound fields.

    Window-file side inputs are supported: each (uuid, entry) line is an
    independent evaluation unit, so __entry joins the aggregation keys.
    Multi-db inputs take the stream-position branch below (db-major
    assembly makes timestamps non-monotonic, so the min-agg rewrite
    alone is unsound there); multi-db + foreach grids stay on the FSM
    path — the segment-max guard would need every event replicated per
    tuple, where the FSM ships each event once."""
    from pyspark.sql import functions as F

    r0, r1 = program.rules
    window = r1["window"]
    fields = sorted(program.kvs.keys())
    # Consecutive-duplicate removal can only change this rewrite's result
    # by deleting the first-B-after-A when that B is a duplicate *of the
    # A event itself* (any other candidate's predecessor either has
    # different referenced fields — not a dup — or is an earlier B,
    # contradicting "first").  With literal-disjoint A/B predicates the
    # A can never equal a B in referenced fields, so dedup is provably a
    # no-op and the expensive per-trail lag window (a full shuffle+sort,
    # evaluated once per stage) is skipped entirely: the plan becomes two
    # predicate-pushed filtered scans + small-key aggregations.
    dedup_free = no_dedup or _attrs_provably_disjoint(
        r0["clauses"][0]["attrs"], r1["clauses"][0]["attrs"]
    )
    d = df if dedup_free else _deduped(df, fields, extra_dedup)

    grid = _grid_df(engine, program, tuples)

    # NOTE on `clustered`: an earlier revision special-cased TrailStore
    # input with a running-min window over the whole trail ("no exchange,
    # no sort").  At 20M events that won on fixed costs (one stage), but
    # at 160M it lost 6x to the min-agg form below: the window touches
    # EVERY row while min-agg only aggregates the A/B-filtered slices
    # (pushed-down predicates), and on a bucketed store the
    # groupBy(__uuid) elides the exchange anyway.  The filtered min-agg
    # form is the scale-correct plan for both layouts, so the clustered
    # flag no longer changes the funnel plan.
    del clustered

    if grid is None and "__db" in _cols(d):
        # db-major stream-order form (multi-db): under cross-TrailDB
        # state carry timestamps are NOT monotonic along the stream, so
        # "b.ts < a.ts + N" alone is unsound — an intermediate event
        # with ts >= deadline fires the `after -> quit` edge before the
        # B is ever reached.  Evaluate in true stream position
        # pos = (db, ts, seq): first A = min pos among A-matches, first
        # B after it, and the quit guard is max(ts) over the stream
        # segment (A, B] staying under the deadline.  Two chained
        # whole-partition windows share one sort; trails are small, so
        # the unbounded frames buffer a few hundred rows.
        from pyspark.sql.window import Window

        a_pred, _j, _f = _split_clause(r0["clauses"][0]["attrs"])
        b_pred, _j2, _f2 = _split_clause(r1["clauses"][0]["attrs"])
        part = [c for c in ("__uuid", "__entry") if c in _cols(d)]
        wfull = (
            Window.partitionBy(*part)
            .orderBy("__db", "__ts", "__seq")
            .rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        dd = d.withColumn(
            "__pos", F.struct("__db", "__ts", "__seq")
        ).withColumn(
            "__a", F.min(F.when(a_pred, F.col("__pos"))).over(wfull)
        )
        dd = dd.withColumn(
            "__b",
            F.min(
                F.when(
                    b_pred & (F.col("__pos") > F.col("__a")),
                    F.col("__pos"),
                )
            ).over(wfull),
        )
        conv = (
            dd.filter(F.col("__b").isNotNull())
            .groupBy(*part)
            .agg(
                F.max(
                    F.when(
                        (F.col("__pos") > F.col("__a"))
                        & (F.col("__pos") <= F.col("__b")),
                        F.col("__ts"),
                    )
                ).alias("__seg_max"),
                F.first(F.col("__a.__ts")).alias("__a_ts"),
            )
            .filter(F.col("__seg_max") < F.col("__a_ts") + window)
        )
        n_conv = conv.agg(F.count(F.lit(1)).alias("n")).withColumn(
            "__tuple_id", F.lit(0).cast("long")
        )
        weights_db: dict[str, int] = {}
        for y in r1["clauses"][0]["yield"]:
            weights_db[y["dst"]] = weights_db.get(y["dst"], 0) + 1
        return _counter_pieces(
            program, n_conv.select("__tuple_id", "n"), weights_db,
            has_grid=True,
        )

    def _stage(clause):
        lit_pred, join_cond, _full = _split_clause(clause["attrs"])
        out = d.filter(lit_pred)
        if grid is not None:
            out = out.join(
                F.broadcast(grid),
                join_cond if join_cond is not None else F.lit(True),
            )
        return out

    # a constant __tuple_id must NOT be a grouping key: the literal both
    # breaks hash-aggregation order reuse and inserts a Sort a
    # trail-clustered (bucketed) scan would otherwise elide
    keys = [c for c in ("__uuid", "__entry") if c in _cols(d)]
    if grid is not None:
        keys.append("__tuple_id")
    if no_dedup:
        # ts-UNIQUE store (the no_dedup proof IS per-trail timestamp
        # uniqueness — engine.run gates it on the manifest): no two
        # events of a trail share a timestamp, so the (__ts, __seq)
        # struct tie-break is dead weight.  Scalar min(__ts)
        # hash-aggregates (min over a struct falls back to
        # SortAggregate, outside whole-stage codegen) and the
        # B-after-A predicate is one long compare — ~20% of the B2
        # wallclock at 160M (VERDICT r08 item 2 profile: A-agg was the
        # single largest stage after the two scans).
        a = (
            _stage(r0["clauses"][0])
            .groupBy(*keys)
            .agg(F.min("__ts").alias("__a_ts"))
        )
        after_a = F.col("__ts") > F.col("__a_ts")
    else:
        a = (
            _stage(r0["clauses"][0])
            .groupBy(*keys)
            .agg(F.min(F.struct("__ts", "__seq")).alias("__a"))
            .select(
                *keys,
                F.col("__a.__ts").alias("__a_ts"),
                F.col("__a.__seq").alias("__a_seq"),
            )
        )
        after_a = (F.col("__ts") > F.col("__a_ts")) | (
            (F.col("__ts") == F.col("__a_ts"))
            & (F.col("__seq") > F.col("__a_seq"))
        )
    b = (
        _stage(r1["clauses"][0])
        .join(a, keys)
        .filter(after_a)
        .groupBy(*keys)
        .agg(
            F.min("__ts").alias("__b_ts"),
            F.first("__a_ts").alias("__a_ts2"),
        )
        .filter(F.col("__b_ts") < F.col("__a_ts2") + window)
    )
    if grid is not None:
        n_conv = b.groupBy("__tuple_id").agg(
            F.count(F.lit(1)).alias("n")
        )
    else:
        n_conv = b.agg(F.count(F.lit(1)).alias("n")).withColumn(
            "__tuple_id", F.lit(0).cast("long")
        )

    weights: dict[str, int] = {}
    for y in r1["clauses"][0]["yield"]:
        weights[y["dst"]] = weights.get(y["dst"], 0) + 1
    pieces = []
    for var in program.yield_counters:
        w = weights.get(var, 0)
        pieces.append(
            n_conv.select(
                F.col("__tuple_id").alias("tuple_id"),
                F.lit(var).alias("var"),
                F.lit(None).cast("binary").alias("key"),
                F.lit(None).cast("long").alias("reg"),
                (F.col("n") * w).cast("long").alias("sum_n"),
                (F.col("n") * w).cast("long").alias("max_n"),
            ).filter(F.col("sum_n") != 0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionAll(p)
    return out


def _clause_shape(c):
    """(attrs, action, yields-are-counters, has-attrs)."""
    return (
        c.get("attrs", {}),
        c["_action"],
        all(y["dst"][0] == "$" for y in c.get("yield", []) or []),
        bool(c.get("attrs")),
    )


def rollup_weights(program: Program, var: str, field: str) -> dict | None:
    """{counter var -> per-event multiplicity} when an implicit-foreach
    counter can be answered from the TrailStore's write-time rollup
    (store.py _write_stats_and_rollups), else None.

    The rollup is raw event counts per field value, so the program must
    count every matching event exactly once per yield: clause 0 must be
    the ONLY yielding clause (first-match resolution means any EARLIER
    clause could steal events from the counting clause) and its
    predicate must be exactly ``field = %var`` with no other conjunct
    (an extra field or timestamp term filters below the rollup's
    counts).  Caller has already established is_simple_counter_program
    (single rule, repeat-only, catch-all present) and the equi-join
    shape."""
    r = rollup_weights_ts(program, var, field)
    if r is None or r[1]:
        return None
    return r[0]


def rollup_weights_ts(
    program: Program, var: str, field: str
) -> tuple[dict, list] | None:
    """(weights, timestamp_conditions) for the TIME-SCOPED rollup form
    (reference relop grammar src/trparser.py-analog timestamp terms):
    like :func:`rollup_weights` but clause 0 may carry timestamp relop
    conjuncts alongside ``field = %var``.  A timestamp conjunct is a
    pure event-time filter, so over a SEGMENTED store with per-part
    [ts_min, ts_max] zone maps the counter decomposes exactly into
    rollup(parts fully inside the bound) + scan(boundary parts) + 0
    (disjoint parts) — an incremental counter that never rescans
    history.  Returns ([] timestamp conditions) for the plain shape."""
    clauses = program.rules[0].get("clauses", [])
    if not clauses:
        return None
    c0 = clauses[0]
    attrs = c0.get("attrs") or {}
    non_ts = {k: v for k, v in attrs.items() if k != "timestamp"}
    if c0.get("op") == "not" or non_ts != {field: [var]}:
        return None
    ys = c0.get("yield") or []
    if not ys or any(y["dst"][0] != "$" for y in ys):
        return None
    if any(c.get("yield") for c in clauses[1:]):
        return None
    w: dict[str, int] = {}
    for y in ys:
        w[y["dst"]] = w.get(y["dst"], 0) + 1
    return w, list(attrs.get("timestamp", []))


def rollup_weights_ts_valueset(
    program: Program, params: dict | None
) -> tuple[str, dict, list, frozenset] | None:
    """(field, weights, timestamp_conditions, matching_values) for the
    GENERALIZED literal-counter rollup shape (VERDICT r08 item 4):
    clause 0 carries any conjunction of equality / set-membership
    conditions on ONE field (reference grammar makes ``in #set`` a
    first-class predicate — trparser.py:360-362 analog) plus optional
    timestamp relops.  A conjunction of value conditions on one field
    matches exactly the INTERSECTION of their value sets, so the rollup
    answer is the sum of the member values' entries — same gates as
    :func:`rollup_weights_ts`, no new machinery.  Returns None when any
    condition is not driver-resolvable to a value set (relops on the
    field, array params, missing set params) or the clause shape is
    unsafe."""
    clauses = program.rules[0].get("clauses", [])
    if not clauses:
        return None
    c0 = clauses[0]
    if c0.get("op") == "not":
        return None
    attrs = c0.get("attrs") or {}
    non_ts = {k: v for k, v in attrs.items() if k != "timestamp"}
    if len(non_ts) != 1:
        return None
    ((field, conds),) = non_ts.items()
    value_sets: list[set] = []
    for cond in conds:
        if cond[:1] in ("<", ">", "="):
            return None  # relational condition: not a value set
        if cond[:1] == "%":
            v = (params or {}).get(cond)
            if not isinstance(v, str):
                return None
            value_sets.append({v})
        elif cond[:1] == "#":
            v = (params or {}).get(cond)
            if v is None or isinstance(v, str):
                return None
            value_sets.append({str(x) for x in v})
        elif cond[:1] == "@":
            return None
        else:
            value_sets.append({cond})
    if not value_sets:
        return None
    values = frozenset(set.intersection(*value_sets))
    ys = c0.get("yield") or []
    if not ys or any(y["dst"][0] != "$" for y in ys):
        return None
    if any(c.get("yield") for c in clauses[1:]):
        return None
    w: dict[str, int] = {}
    for y in ys:
        w[y["dst"]] = w.get(y["dst"], 0) + 1
    return field, w, list(attrs.get("timestamp", [])), values


def rollup_hll_cookie_vars(
    program: Program, var: str, field: str
) -> list[str] | None:
    """Sorted ``^hll`` vars when an implicit-foreach uniques query can be
    answered ENTIRELY from the TrailStore's write-time cookie sketches
    (store.py _field_hll_rollups), else None — the no-timestamp-bound
    form of :func:`rollup_hll_cookie_vars_ts`."""
    r = rollup_hll_cookie_vars_ts(program, var, field)
    if r is None or r[1]:
        return None
    return r[0]


def rollup_hll_cookie_vars_ts(
    program: Program, var: str, field: str
) -> tuple[list[str], list] | None:
    """(sorted ``^hll`` vars, timestamp_conditions) when an
    implicit-foreach uniques query can be answered from the TrailStore's
    write-time cookie sketches (store.py _field_hll_rollups), else None.

    The sketch rollup is, per field value, the HLL over {cookie : trail
    has >= 1 event with that value}.  The program must add exactly the
    cookies of matching trails: single rule, repeat-only actions with a
    catch-all (the relational shape — no state, no time machinery),
    clause 0 the ONLY yielding clause with predicate ``field = %var``
    plus optional timestamp relop conjuncts, and every yield
    ``yield cookie to ^x``.  Unlike the counter rollup (rollup_weights)
    NO ts-uniqueness gate is needed: sketch adds are idempotent, so the
    consecutive-duplicate skip and repeated matches within a trail are
    no-ops by construction (reference hyperloglog.c:256-296 — hll_add is
    a register max).  With timestamp conjuncts the answer decomposes
    over a segmented store's zone maps exactly like the counter tier
    (engine._run_ts_scoped_hll): sketch union IS register max, so
    merge(covered-part sketches, boundary-scan sketches) equals the
    full-scan sketch byte-for-byte."""
    if len(program.rules) != 1:
        return None
    r = program.rules[0]
    if r.get("window") is not None or "after" in r or r.get("outer"):
        return None
    clauses = r.get("clauses", [])
    if not clauses:
        return None
    if any(c["_action"][0] != A_REPEAT for c in clauses):
        return None
    if not any(not c.get("attrs") for c in clauses):
        return None  # no catch-all: non-exhaustive-match errors possible
    c0 = clauses[0]
    attrs = c0.get("attrs") or {}
    non_ts = {k: v for k, v in attrs.items() if k != "timestamp"}
    if c0.get("op") == "not" or non_ts != {field: [var]}:
        return None
    ys = c0.get("yield") or []
    if not ys:
        return None
    for y in ys:
        if y["dst"][0] != "^":
            return None
        src = y.get("src") or []
        if (
            len(src) != 1
            or src[0].get("_k") != "field"
            or src[0].get("name") != "cookie"
        ):
            return None
    if any(c.get("yield") for c in clauses[1:]):
        return None
    if (
        program.yield_counters
        or program.yield_sets
        or program.yield_multisets
    ):
        return None
    return sorted({y["dst"] for y in ys}), list(attrs.get("timestamp", []))


def rollup_hll_valueset(
    program: Program, params: dict | None
) -> tuple[str, list[str], list, frozenset] | None:
    """(field, sorted ``^hll`` vars, timestamp_conditions,
    matching_values) for the GRIDLESS value-set uniques shape — the
    uniques analog of :func:`rollup_weights_ts_valueset`: no foreach,
    clause 0 carries any conjunction of equality / set-membership
    conditions on ONE field (plus optional timestamp relops) and yields
    only ``yield cookie to ^x``.  The sketch answer is the register-max
    over the member values' manifest sketches (a cookie has >= 1 event
    with value in the set iff it has one for SOME member — and
    HLL union IS register max, so the member merge is exact).  Same
    structural gates as :func:`rollup_hll_cookie_vars_ts`; returns None
    when any condition is not driver-resolvable to a value set."""
    if program.groupby or len(program.rules) != 1:
        return None
    r = program.rules[0]
    if r.get("window") is not None or "after" in r or r.get("outer"):
        return None
    clauses = r.get("clauses", [])
    if not clauses:
        return None
    if any(c["_action"][0] != A_REPEAT for c in clauses):
        return None
    if not any(not c.get("attrs") for c in clauses):
        return None  # no catch-all: non-exhaustive-match errors possible
    c0 = clauses[0]
    if c0.get("op") == "not":
        return None
    attrs = c0.get("attrs") or {}
    non_ts = {k: v for k, v in attrs.items() if k != "timestamp"}
    if len(non_ts) != 1:
        return None
    ((field, conds),) = non_ts.items()
    value_sets: list[set] = []
    for cond in conds:
        if cond[:1] in ("<", ">", "="):
            return None  # relational condition: not a value set
        if cond[:1] == "%":
            v = (params or {}).get(cond)
            if not isinstance(v, str):
                return None
            value_sets.append({v})
        elif cond[:1] == "#":
            v = (params or {}).get(cond)
            if v is None or isinstance(v, str):
                return None
            value_sets.append({str(x) for x in v})
        elif cond[:1] == "@":
            return None
        else:
            value_sets.append({cond})
    if not value_sets:
        return None
    values = frozenset(set.intersection(*value_sets))
    ys = c0.get("yield") or []
    if not ys:
        return None
    for y in ys:
        if y["dst"][0] != "^":
            return None
        src = y.get("src") or []
        if (
            len(src) != 1
            or src[0].get("_k") != "field"
            or src[0].get("name") != "cookie"
        ):
            return None
    if any(c.get("yield") for c in clauses[1:]):
        return None
    if (
        program.yield_counters
        or program.yield_sets
        or program.yield_multisets
    ):
        return None
    return (
        field,
        sorted({y["dst"] for y in ys}),
        list(attrs.get("timestamp", [])),
        values,
    )


def _equi_join_fields(program: Program) -> dict | None:
    """{groupby var -> field} when the grid can equi-join instead of
    cross-join, else None.

    Sound when every clause that yields (a) is non-negated and (b)
    requires ``field = %var`` for EVERY groupby var, with the same field
    per var across yielding clauses: a (row, tuple) pair dropped by the
    equi-join fails those equalities, so no yielding clause can match it
    and its contribution is exactly zero (non-yielding clauses contribute
    nothing by definition, and first-match resolution is per-row).  This
    is the Spark analog of the reference's distinct-value memoization
    (match_traildb.c:653-744): each event pairs only with the grid rows
    whose values occur in it, so the joined row count stays O(events),
    not O(events x grid)."""
    gvars = program.groupby_vars
    if not gvars or any(v[0] != "%" for v in gvars):
        return None
    clauses = program.rules[0].get("clauses", [])
    yielding = [c for c in clauses if c.get("yield")]
    if not yielding:
        return None
    out: dict | None = None
    for c in yielding:
        if c.get("op") == "not":
            return None
        m: dict = {}
        for field, conditions in c.get("attrs", {}).items():
            if field == "timestamp":
                continue
            for expr in conditions:
                if expr in gvars:
                    m[expr] = field
        if set(m) != set(gvars):
            return None
        if out is None:
            out = m
        elif out != m:
            return None
    return out


def _attrs_provably_disjoint(a_attrs: dict, b_attrs: dict) -> bool:
    """True when no event can match both attr sets: some shared
    non-timestamp field is constrained to different plain literals."""
    for field, exprs_a in a_attrs.items():
        if field == "timestamp":
            continue
        exprs_b = b_attrs.get(field)
        if not exprs_b:
            continue
        lits_a = {e for e in exprs_a if not is_param(e) and e[0] not in "<>="}
        lits_b = {e for e in exprs_b if not is_param(e) and e[0] not in "<>="}
        if lits_a and lits_b and lits_a.isdisjoint(lits_b):
            return True
    return False


def _literal_attrs_only(attrs) -> bool:
    for field, conditions in attrs.items():
        for expr in conditions:
            if is_param(expr.lstrip("<=>")):
                return False
    return True


def _compilable_attrs(attrs, program: Program) -> bool:
    """Attrs compile when every condition is a plain literal, a literal
    timestamp relop, or a scalar ``field = %var`` equality over a foreach
    var (set-membership and timestamp params stay on the FSM path)."""
    for field, conditions in attrs.items():
        for expr in conditions:
            bare = expr.lstrip("<=>")
            if is_param(bare):
                if (
                    bare[0] != "%"
                    or expr != bare
                    or field == "timestamp"
                    or bare not in program.groupby_vars
                ):
                    return False
    return True


def _groupby_ok(program: Program) -> bool:
    """Foreach grids compile when all vars are scalar %params and results
    are not merged (merged results stay on the FSM/relational paths)."""
    if not program.groupby:
        return True
    if program.merge_results:
        return False
    return all(v[0] == "%" for v in program.groupby_vars)


def is_gap_sessions_program(program: Program) -> bool:
    """start: [A -> yield $counters..., NEXT(1)] [+ * -> repeat]
       insession(window N): [* -> NEXT(1)], after -> HERE(0), no yields.

    Per trail this is gaps-and-islands over ALL (deduplicated) events:
    a session chain starts at an event with gap >= N from its
    predecessor (or the first event) and extends through every event
    with gap < N.  With the wildcard-A original the count is the number
    of islands; with a predicated A (literals and/or foreach params) the
    FSM yields once per island containing >= 1 A-match — start-state
    skips non-A events without arming a window, and the first island A
    enters insession, which every following island event re-arms."""
    if len(program.rules) != 2 or not _groupby_ok(program):
        return False
    r0, r1 = program.rules
    if r0.get("window") is not None or "after" in r0 or r0.get("outer"):
        return False
    if r1.get("window") is None or r1.get("outer"):
        return False
    c0 = r0.get("clauses", [])
    c1 = r1.get("clauses", [])
    if len(c0) not in (1, 2) or len(c1) != 1:
        return False
    a0, act0, counters0, has_attrs0 = _clause_shape(c0[0])
    a1, act1, _c1, has_attrs1 = _clause_shape(c1[0])
    if has_attrs1 or c0[0].get("op"):
        return False
    if has_attrs0:
        # predicated A needs the wildcard (non-exhaustive match = error)
        if len(c0) != 2:
            return False
        wild = c0[1]
        if wild.get("attrs") or wild["_action"][0] != A_REPEAT or wild.get(
            "yield"
        ):
            return False
        if not _compilable_attrs(a0, program):
            return False
    elif len(c0) != 1:
        return False
    if act0 != (A_NEXT, 1) or act1 != (A_NEXT, 1):
        return False
    if not c0[0].get("yield") or not counters0 or c1[0].get("yield"):
        return False
    after = r1.get("after")
    if not after or after.get("yield") or after["_action"] != (A_HERE, 0):
        return False
    return True


def is_bounce_program(program: Program) -> bool:
    """start: [A -> NEXT(1), * -> repeat]
       wait(window N): [A -> NEXT(1), * -> NEXT(0)],
       after -> yield $counters..., HERE(0).

    Every A event (re)arms the wait; a bounce fires per A event whose next
    (deduplicated) event is >= N later or absent.  A may bind foreach
    params (the lead window is tuple-independent; only the A filter
    varies per tuple)."""
    if len(program.rules) != 2 or not _groupby_ok(program):
        return False
    r0, r1 = program.rules
    if r0.get("window") is not None or "after" in r0 or r0.get("outer"):
        return False
    if r1.get("window") is None or r1.get("outer"):
        return False
    c0 = r0.get("clauses", [])
    c1 = r1.get("clauses", [])
    if len(c0) != 2 or len(c1) != 2:
        return False
    aA, actA, _y, hasA = _clause_shape(c0[0])
    aW, actW, _y2, hasW = _clause_shape(c0[1])
    bA, actBA, _y3, hasBA = _clause_shape(c1[0])
    bW, actBW, _y4, hasBW = _clause_shape(c1[1])
    if not hasA or hasW or not hasBA or hasBW:
        return False
    if c0[0].get("op") or c1[0].get("op"):
        return False
    if aA != bA or not _compilable_attrs(aA, program):
        return False
    if actA != (A_NEXT, 1) or actW != (A_REPEAT, None):
        return False
    if actBA != (A_NEXT, 1) or actBW != (A_NEXT, 0):
        return False
    if any(c.get("yield") for c in c0 + c1):
        return False
    after = r1.get("after")
    if not after or after["_action"] != (A_HERE, 0):
        return False
    ys = after.get("yield", [])
    if not ys or any(y["dst"][0] != "$" for y in ys):
        return False
    return True


def is_attribution_program(program: Program) -> bool:
    """start: [A -> NEXT(1), * -> repeat]
       attr(window N): [A -> NEXT(1), B -> yield $counters..., repeat,
                        * -> repeat], after -> HERE(0), no yields.

    Per B event: counted iff the last A event before it (deduplicated
    order) is < N older.  Without a foreach grid A/B must be provably
    disjoint (shared field, different literals) for the segment rewrite;
    with a grid the exists-rewrite carries an explicit first-match guard
    instead, so A may bind params that even collide with B's literals."""
    if len(program.rules) != 2 or not _groupby_ok(program):
        return False
    r0, r1 = program.rules
    if r0.get("window") is not None or "after" in r0 or r0.get("outer"):
        return False
    if r1.get("window") is None or r1.get("outer"):
        return False
    c0 = r0.get("clauses", [])
    c1 = r1.get("clauses", [])
    if len(c0) != 2 or len(c1) != 3:
        return False
    aA, actA, _y, hasA = _clause_shape(c0[0])
    _aw, actW, _y2, hasW = _clause_shape(c0[1])
    bA, actBA, _y3, hasBA = _clause_shape(c1[0])
    bB, actBB, countersB, hasBB = _clause_shape(c1[1])
    _bw, actBW, _y5, hasBW = _clause_shape(c1[2])
    if not hasA or hasW or not hasBA or not hasBB or hasBW:
        return False
    if any(c.get("op") for c in (c0[0], c1[0], c1[1])):
        return False
    if aA != bA or not _compilable_attrs(aA, program) or not _compilable_attrs(
        bB, program
    ):
        return False
    if actA != (A_NEXT, 1) or actW != (A_REPEAT, None):
        return False
    if actBA != (A_NEXT, 1) or actBB != (A_REPEAT, None):
        return False
    if actBW != (A_REPEAT, None):
        return False
    if c0[0].get("yield") or c0[1].get("yield") or c1[0].get("yield") or c1[2].get("yield"):
        return False
    if not c1[1].get("yield") or not countersB:
        return False
    after = r1.get("after")
    if not after or after.get("yield") or after["_action"] != (A_HERE, 0):
        return False
    if program.groupby:
        # exists-rewrite path: first-match guard replaces disjointness
        return True
    # A/B disjointness so dedup can't blur the last-A-before-B ordering
    for field, exprs_a in aA.items():
        if field == "timestamp":
            continue
        exprs_b = bB.get(field)
        if exprs_b and set(exprs_a).isdisjoint(exprs_b):
            return True
    return False


def _grid_df(engine, program: Program, tuples):
    """Foreach tuples -> broadcast-able grid DataFrame
    (__tuple_id, __p_<var> ...), or None when the program has no grid."""
    if tuples is None:
        return None
    gvars = program.groupby_vars
    grid_rows = [
        (i,) + tuple(
            list(x) if isinstance(x, (tuple, frozenset)) else x
            for x in tup
        )
        for i, tup in enumerate(tuples)
    ]
    schema = ", ".join(
        ["__tuple_id long"] + [f"`__p_{v[1:]}` string" for v in gvars]
    )
    return engine.spark.createDataFrame(grid_rows, schema)


def _array_literal(values):
    """String-array literal as ONE ``array(...)`` sql expression.

    ``F.lit(values)`` round-trips py4j once per element; a TrailStore
    lexicon can hold up to store.DICT_MAX (4096) values, which turns a
    plan-build into hundreds of milliseconds of socket chatter.  A
    single parsed expression costs one round-trip regardless of size."""
    from pyspark.sql import functions as F

    quoted = ", ".join(
        "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in values
    )
    return F.expr(f"array({quoted})")


def _f_col(field):
    """``__f_<field>`` normalized to the FSM's view: null reads as "".

    Use for group keys, grid-join keys and param comparisons, where the
    right-hand side is not a compile-time literal."""
    from pyspark.sql import functions as F

    return F.coalesce(F.col("__f_" + field), F.lit(""))


def _f_eq_lit(field, value: str):
    """Null-aware ``__f_<field> = <literal>``.

    With an active ``pred_codes_ctx`` lexicon for the field, compiles
    to an int comparison on the dictionary-code column (narrower scan,
    no per-row string compare — measured ~12% off a 160M-event store
    funnel).  Otherwise the engine projects ``__f_`` as a bare
    nullable cast (no coalesce) precisely so this comparison stays
    parquet-pushable; null means "" (reference semantics for absent
    values), handled here for the one literal that could match it."""
    from pyspark.sql import functions as F

    codes = getattr(_PRED_CODES, "codes", {}).get(field)
    if codes is not None:
        # __c_ columns are written coalesced (0 = ""/absent, store.py)
        if value == "":
            return F.col("__c_" + field) == 0
        code = codes.get(value)
        if code is None:
            return F.lit(False)
        return F.col("__c_" + field) == F.lit(code)
    c = F.col("__f_" + field)
    if value == "":
        return c.isNull() | (c == "")
    # isNotNull &: null (absent) must read as a definite FALSE, not
    # SQL NULL — under a negated clause the FSM semantics ("" != lit ->
    # NOT matches) require true, which ~NULL would silently drop.
    # Still parquet-pushable (IsNotNull + EqualTo).
    return c.isNotNull() & (c == F.lit(value))


def _split_clause(attrs):
    """-> (literal_pred, grid_join_cond_or_None, full_pred).

    literal_pred covers plain literals and timestamp relops; the join
    cond equi-joins param-bound fields against grid columns (__p_<var>);
    full_pred is their conjunction — the clause's complete predicate
    for rows already joined to the grid."""
    from pyspark.sql import functions as F

    lit_pred = F.lit(True)
    join_cond = None
    for field, conditions in attrs.items():
        for expr in conditions:
            if is_param(expr):
                term = _f_col(field) == F.col(f"__p_{expr[1:]}")
                join_cond = (
                    term if join_cond is None else (join_cond & term)
                )
            elif field == "timestamp":
                bare = expr.lstrip("<=>")
                op = expr[: len(expr) - len(bare)] or "=="
                c = F.col("__ts")
                val = F.lit(int(bare))
                lit_pred = lit_pred & {
                    "<": c < val, ">": c > val, "<=": c <= val,
                    ">=": c >= val, "==": c == val,
                }[op]
            else:
                lit_pred = lit_pred & _f_eq_lit(field, expr)
    full = lit_pred if join_cond is None else (lit_pred & join_cond)
    return lit_pred, join_cond, full


def _literal_pred(attrs):
    from pyspark.sql import functions as F

    pred = F.lit(True)
    for field, conditions in attrs.items():
        for expr in conditions:
            if field == "timestamp":
                bare = expr.lstrip("<=>")
                op = expr[: len(expr) - len(bare)] or "=="
                c = F.col("__ts")
                val = F.lit(int(bare))
                pred = pred & {
                    "<": c < val, ">": c > val, "<=": c <= val,
                    ">=": c >= val, "==": c == val,
                }[op]
            else:
                pred = pred & _f_eq_lit(field, expr)
    return pred


def _cols(df):
    """Column names without triggering analysis: the engine attaches
    the projection list as ``_trck_cols`` (each ``df.columns`` on a
    fresh plan runs the full JVM analyzer — measurable driver latency
    on sub-second queries)."""
    c = getattr(df, "_trck_cols", None)
    return c if c is not None else df.columns


def _deduped(df, fields, extra_dedup=None):
    """Consecutive-duplicate removal via lag (one uuid-clustered window).

    Dedup identity = ts + program fields + caller-supplied dedup_cols
    (``__d_`` columns), matching compile_relational and the FSM path.
    Dedup stays per-db (partition includes __db): the reference skips
    duplicates within one TrailDB file, not across files."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    part_cols = [
        c for c in ("__uuid", "__entry", "__db") if c in _cols(df)
    ]
    order = Window.partitionBy(*part_cols).orderBy("__ts", "__seq")
    same = F.lag("__ts").over(order) == F.col("__ts")
    for f in fields:
        # lag over the coalesced value: null and "" are the same stored
        # value (the __f_ projection is a bare nullable cast)
        same = same & (
            F.lag(_f_col(f)).over(order).eqNullSafe(_f_col(f))
        )
    for c in extra_dedup or []:
        same = same & (
            F.lag("__d_" + c).over(order).eqNullSafe(F.col("__d_" + c))
        )
    out = df.withColumn(
        "__dup", F.coalesce(same, F.lit(False))
    ).filter(~F.col("__dup"))
    out._trck_cols = tuple(_cols(df)) + ("__dup",)
    return out


def _trail_part_order(d):
    """Window spec pieces for one logical trail.

    The FSM path assembles one trail per (uuid, window-file entry) and
    carries state ACROSS dbs in db-major order (engine sort: uuid, entry,
    db, ts, seq — mirroring the reference's cross-TrailDB state carry).
    So stateful shape windows partition by (uuid, entry) only and order
    by (db, ts, seq); __db must NOT be a partition key."""
    part = [c for c in ("__uuid", "__entry") if c in _cols(d)]
    order = [c for c in ("__db", "__ts", "__seq") if c in _cols(d)]
    return part, order


def _counter_pieces(program, n_df, weights, has_grid):
    """Counter partials from an ``n`` frame: one row (or one per
    __tuple_id when present) per counter var, weighted by yield
    multiplicity.  Missing tuples densify to zero downstream
    (TrckResultSet.counters_df grid left-join).  ``has_grid`` states
    whether n_df carries __tuple_id (callers know statically; probing
    n_df.columns would run the analyzer on the whole plan)."""
    from pyspark.sql import functions as F

    tid = (
        F.col("__tuple_id").cast("long")
        if has_grid
        else F.lit(0).cast("long")
    )
    pieces = []
    for var in program.yield_counters:
        w = weights.get(var, 0)
        pieces.append(
            n_df.select(
                tid.alias("tuple_id"),
                F.lit(var).alias("var"),
                F.lit(None).cast("binary").alias("key"),
                F.lit(None).cast("long").alias("reg"),
                (F.col("n") * w).cast("long").alias("sum_n"),
                (F.col("n") * w).cast("long").alias("max_n"),
            ).filter(F.col("sum_n") != 0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionAll(p)
    return out


@_with_pred_codes
def compile_sessions(engine, df, program: Program, tuples=None,
                     extra_dedup=None, no_dedup=False):
    """Gap sessionization -> lag window over the deduplicated trail.

    Exact under db-major ordering: the FSM counts one session at the
    trail's first event plus one per consecutive pair with gap >= N in
    stream order, which is precisely the lag comparison — monotonicity
    of timestamps is not required.

    With a predicated A clause and/or a foreach grid, sessions become
    islands-with-a-match: the island decomposition is tuple-independent
    (computed once over all events), then each tuple counts distinct
    islands containing >= 1 A-matching event (see
    is_gap_sessions_program for why that is the FSM's yield count)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    r0 = program.rules[0]
    window = program.rules[1]["window"]
    fields = sorted(program.kvs.keys())
    # Dup-elision (one window pass instead of two): for window >= 1 the
    # consecutive-dup filter provably cannot change the result, because
    # a dup row shares its predecessor's __ts (dup identity includes ts
    # equality), so (a) lag(__ts) over the UNFILTERED stream already
    # equals the nearest surviving predecessor's ts for every surviving
    # row, (b) a dup row can never be a session start (gap 0 < window),
    # and (c) in the islands path a dup matching the A clause implies
    # its surviving head (identical on every program field) matches in
    # the same island — count_distinct(island) is unchanged.  A
    # degenerate window < 1 (every event a start) keeps the dedup pass.
    if no_dedup or window >= 1:
        d = df
    else:
        d = _deduped(df, fields, extra_dedup)
    part_cols, order_cols = _trail_part_order(d)
    order = Window.partitionBy(*part_cols).orderBy(*order_cols)
    d = d.withColumn("__prev_ts", F.lag("__ts").over(order))
    start_flag = F.when(
        F.col("__prev_ts").isNull()
        | (F.col("__ts") >= F.col("__prev_ts") + window),
        F.lit(1),
    ).otherwise(F.lit(0))

    a_clause = r0["clauses"][0]
    grid = _grid_df(engine, program, tuples)
    weights: dict[str, int] = {}
    for y in a_clause["yield"]:
        weights[y["dst"]] = weights.get(y["dst"], 0) + 1

    if grid is None and not a_clause.get("attrs"):
        # wildcard A: every island yields — count session starts directly
        starts = d.filter(start_flag == 1)
        n_df = starts.agg(F.count(F.lit(1)).alias("n"))
        return _counter_pieces(program, n_df, weights, has_grid=False)

    # island id = running count of session starts within the trail
    d = d.withColumn(
        "__isl",
        F.sum(start_flag).over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    lit_pred, join_cond, _full = _split_clause(a_clause.get("attrs", {}))
    matched = d.filter(lit_pred)
    if grid is not None:
        matched = matched.join(
            F.broadcast(grid),
            join_cond if join_cond is not None else F.lit(True),
        )
    else:
        matched = matched.withColumn("__tuple_id", F.lit(0).cast("long"))
    n_df = matched.groupBy("__tuple_id").agg(
        F.count_distinct(*part_cols, F.col("__isl")).alias("n")
    )
    return _counter_pieces(program, n_df, weights, has_grid=True)


@_with_pred_codes
def compile_bounce(engine, df, program: Program, tuples=None,
                   extra_dedup=None, no_dedup=False):
    """Bounce detection -> lead window over the deduplicated trail.

    Exact under db-major ordering: a bounce fires per A event whose
    successor in stream order is >= N later or absent, which is exactly
    the lead comparison; each A is independent (a following A re-arms).
    The lead window is tuple-independent, so a foreach grid only varies
    the A filter: one window pass, then a broadcast grid join on the
    param-bound fields and a per-tuple count."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    r0, r1 = program.rules
    window = r1["window"]
    fields = sorted(program.kvs.keys())
    d = df if no_dedup else _deduped(df, fields, extra_dedup)
    part_cols, order_cols = _trail_part_order(d)
    order = Window.partitionBy(*part_cols).orderBy(*order_cols)
    d = d.withColumn("__next_ts", F.lead("__ts").over(order))
    lit_pred, join_cond, _full = _split_clause(r0["clauses"][0]["attrs"])
    bounces = d.filter(
        lit_pred
        & (
            F.col("__next_ts").isNull()
            | (F.col("__next_ts") >= F.col("__ts") + window)
        )
    )
    grid = _grid_df(engine, program, tuples)
    weights: dict[str, int] = {}
    for y in r1["after"]["yield"]:
        weights[y["dst"]] = weights.get(y["dst"], 0) + 1
    if grid is None:
        n_df = bounces.agg(F.count(F.lit(1)).alias("n"))
    else:
        bounces = bounces.join(
            F.broadcast(grid),
            join_cond if join_cond is not None else F.lit(True),
        )
        n_df = bounces.groupBy("__tuple_id").agg(
            F.count(F.lit(1)).alias("n")
        )
    return _counter_pieces(program, n_df, weights, has_grid=grid is not None)


@_with_pred_codes
def compile_attribution(engine, df, program: Program, tuples=None,
                        extra_dedup=None, no_dedup=False):
    """Last-A-before-B attribution via A-segment windows.

    Each A starts a segment (running count of A matches); within a
    segment the FSM's window rule is armed at the segment's A.  A B event
    is attributed iff (a) its segment has an A, (b) b_ts < a_ts + N, and
    (c) no event between the A and the B carries ts >= a_ts + N — such an
    event fires the ``after`` edge and returns the FSM to start.  For
    monotonically increasing stream order (c) follows from (b); it only
    bites when db-major assembly makes timestamps non-monotonic, which is
    exactly where the previous rewrite (plain running last_value) could
    overcount.

    With a foreach grid the A-segment decomposition is tuple-dependent,
    so the rewrite switches to an exists-semi-join (engine gates this on
    single-db input, where stream order is monotonic): a B event is
    attributed iff >= 1 A-match lies strictly before it within
    (b_ts - N, b_ts] — if any is, the LAST A before b is in range too.
    First-match is enforced explicitly: a B row that also matches the
    tuple's A predicate is consumed by the A clause (rule order), never
    yielded — which also makes a param binding colliding with B's
    literals exact (the FSM yields 0 for that tuple)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    r0, r1 = program.rules
    window = r1["window"]
    fields = sorted(program.kvs.keys())
    d = df if no_dedup else _deduped(df, fields, extra_dedup)
    part_cols, order_cols = _trail_part_order(d)

    weights_g: dict[str, int] = {}
    for y in r1["clauses"][1]["yield"]:
        weights_g[y["dst"]] = weights_g.get(y["dst"], 0) + 1

    if tuples is not None:
        grid = _grid_df(engine, program, tuples)
        a_lit, a_join, a_full = _split_clause(r0["clauses"][0]["attrs"])
        b_lit, b_join, _bf = _split_clause(r1["clauses"][1]["attrs"])
        a_rows = (
            d.filter(a_lit)
            .join(
                F.broadcast(grid),
                a_join if a_join is not None else F.lit(True),
            )
            .select(
                *[F.col(c).alias("__a_" + c.lstrip("_")) for c in part_cols],
                F.col("__tuple_id").alias("__a_tid"),
                F.col("__ts").alias("__a_ts"),
                F.col("__seq").alias("__a_seq"),
            )
        )
        b_rows = (
            d.filter(b_lit)
            .join(
                F.broadcast(grid),
                b_join if b_join is not None else F.lit(True),
            )
            .filter(~a_full)  # first-match: A clause consumes the event
        )
        cond = (F.col("__tuple_id") == F.col("__a_tid"))
        for c in part_cols:
            cond = cond & (F.col(c) == F.col("__a_" + c.lstrip("_")))
        cond = cond & (
            (F.col("__a_ts") < F.col("__ts"))
            | (
                (F.col("__a_ts") == F.col("__ts"))
                & (F.col("__a_seq") < F.col("__seq"))
            )
        ) & (F.col("__ts") < F.col("__a_ts") + window)
        hits = b_rows.join(a_rows, cond, "left_semi")
        n_df = hits.groupBy("__tuple_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        return _counter_pieces(program, n_df, weights_g, has_grid=True)

    pred_a = _literal_pred(r0["clauses"][0]["attrs"])
    pred_b = _literal_pred(r1["clauses"][1]["attrs"])
    base = Window.partitionBy(*part_cols).orderBy(*order_cols)
    d = d.withColumn(
        "__seg",
        F.sum(F.when(pred_a, F.lit(1)).otherwise(F.lit(0))).over(
            base.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    seg = Window.partitionBy(*(part_cols + ["__seg"])).orderBy(*order_cols)
    # the segment's first row IS the arming A (segments start at A rows)
    d = d.withColumn(
        "__a_ts",
        F.first("__ts").over(
            seg.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "__max_prev_ts",
        F.max("__ts").over(seg.rowsBetween(Window.unboundedPreceding, -1)),
    )
    hits = d.filter(
        pred_b
        & (F.col("__seg") > 0)
        & (F.col("__ts") < F.col("__a_ts") + window)
        & (F.col("__max_prev_ts") < F.col("__a_ts") + window)
    )
    n_df = hits.agg(F.count(F.lit(1)).alias("n"))
    return _counter_pieces(program, n_df, weights_g, has_grid=False)


@_with_pred_codes
def compile_counter_implicit(
    engine,
    df,
    program: Program,
    lexicon_df,
    base_params: dict | None,
    extra_dedup: list[str] | None = None,
    no_dedup: bool = False,
    code_col: str | None = None,
    code_values: list | None = None,
):
    """Value-keyed compilation of implicit-foreach counter programs.

    The lexicon (reference get_lexicon, match_traildb.c:184-236) stays a
    DataFrame end-to-end: distinct field values become a broadcast grid
    subquery equi-joined to the events, the aggregation groups by the
    value itself, and densification left-joins the same grid — no driver
    round-trip at any point, so a high-cardinality field can't OOM the
    driver or bloat task closures.  Caller guarantees (engine.run):
    simple counter program, single implicit %var, every yielding clause
    requires ``field = %var`` (_equi_join_fields), no window entries.

    lexicon_df=None selects the SINGLE-SCAN form: because the equi-join
    guarantee means a row only ever pairs with its own field value, the
    aggregation can group directly by ``__f_field`` — the grid (and its
    separate distinct-scan of the data) vanishes, leaving exactly one
    pass: scan -> dedup window -> hash agg, the same work the oracle
    does.  Only sound when the lexicon equals the post-filter distinct
    values, i.e. no CNF filter / exclude dropped rows (the reference
    lexicon comes from the unfiltered TrailDB field lexicon, so a value
    whose rows are all filtered out must still densify to a zero row —
    engine.run passes a grid exactly in that case).

    code_col/code_values select the CODE-KEYED single-scan form: the
    input carries a TrailStore dictionary code column (store.py
    `dicts`, the Spark analog of TrailDB's per-field lexicon —
    reference src/db.c:62-113) whose int codes are 0 for ""/absent and
    1..n for `code_values` in order.  The aggregation then groups by
    the int code — the var-field equality folds to TRUE (each row pairs
    with its own value by construction, and code 0 <-> "" preserves the
    missing-field binding), so when no other clause references the
    string field Catalyst prunes it from the scan entirely.  The plan
    becomes scan(int32) -> hash-agg(int) -> decode-once-post-agg: the
    dictionary-id aggregation a native engine runs, several times
    cheaper than string hash-agg per row.

    Returns the final densified counters frame: one row per grid value
    (including the reference's implicit "" tuple) with one zero-filled
    column per $counter.
    """
    from pyspark.sql import functions as F

    spark = engine.spark
    fields = sorted(program.kvs.keys())
    var = program.groupby_vars[0]
    field = program.var_fields[var]
    pcol = "__p_" + var[1:]

    single_scan = lexicon_df is None
    use_codes = bool(single_scan and code_col and code_values is not None)
    # decoded string view of the code (only evaluated post-agg, or in the
    # rare clause that references %var on a DIFFERENT field).  The array
    # literal is built as ONE sql expression: F.lit(list) expands to one
    # py4j round-trip per element, which for a 4096-value lexicon is the
    # dominant plan-build cost (~2.5 ms/element measured) on a query
    # whose execution is sub-second.
    decode = (
        F.when(F.col(pcol) == 0, F.lit("")).otherwise(
            F.element_at(_array_literal(code_values), F.col(pcol))
        )
        if use_codes
        else None
    )
    d = df if no_dedup else _deduped(df, fields, extra_dedup)
    if single_scan:
        d = d.withColumn(
            pcol,
            F.coalesce(F.col(code_col), F.lit(0))
            if use_codes
            else _f_col(field),
        )
        grid = None
    else:
        # grid = distinct values ∪ {""} — "" is a real tuple (FSM parity:
        # events with an empty/absent field match %var bound to "").
        # range(1)+lit instead of createDataFrame: the latter routes one
        # literal row through a Python RDD (applySchemaToPythonRDD), a
        # measurable per-query driver cost on sub-second queries.
        grid = (
            lexicon_df.select(F.col(lexicon_df.columns[0]).alias(pcol))
            .unionAll(spark.range(0, 1, 1, 1).select(F.lit("").alias(pcol)))
            .distinct()
        )
        d = d.join(F.broadcast(grid), _f_col(field) == F.col(pcol))

    def param_col(name: str):
        if name == var:
            # code mode: any consumer other than the folded same-field
            # equality needs the string view of the binding
            return decode if use_codes else F.col(pcol)
        base = (base_params or {}).get(name)
        if base is None:
            return F.lit(None)
        if isinstance(base, list):
            return F.array(*[F.lit(str(x)) for x in base])
        return F.lit(str(base))

    def cond_expr(field_: str, expr: str):
        if field_ == "timestamp":
            bare = expr.lstrip("<=>")
            op = expr[: len(expr) - len(bare)] or "=="
            if is_param(bare):
                val = param_col(bare).cast("long")
            else:
                val = F.lit(int(bare))
            c = F.col("__ts")
            return {
                "<": c < val, ">": c > val, "<=": c <= val,
                ">=": c >= val, "==": c == val,
            }[op]
        if is_param(expr):
            if expr[0] == "%":
                if use_codes and expr == var and field_ == field:
                    # value-keyed self-equality: each row pairs with its
                    # own field value (both sides coalesce null to ""),
                    # so the predicate is identically true — matching
                    # the string form, where both sides are _f_col
                    return F.lit(True)
                return _f_col(field_) == param_col(expr)
            return F.array_contains(
                F.coalesce(param_col(expr), F.array()), _f_col(field_)
            )
        return _f_eq_lit(field_, expr)

    clauses = program.rules[0].get("clauses", [])
    matched = None
    for ci, c in enumerate(clauses):
        pred = F.lit(True)
        for f_, conditions in c.get("attrs", {}).items():
            for expr in conditions:
                pred = pred & cond_expr(f_, expr)
        if c.get("op") == "not":
            pred = ~pred
        branch = F.when(pred, F.lit(ci))
        matched = branch if matched is None else matched.when(pred, F.lit(ci))
    d = d.withColumn("__clause", matched)

    counter_weights: dict[str, dict[int, int]] = {}
    for ci, c in enumerate(clauses):
        for y in c.get("yield", []) or []:
            counter_weights.setdefault(y["dst"], {})
            counter_weights[y["dst"]][ci] = (
                counter_weights[y["dst"]].get(ci, 0) + 1
            )
    aggs = []
    for v in program.yield_counters:
        weights = counter_weights.get(v, {})
        expr = None
        for ci, w in weights.items():
            term = F.when(F.col("__clause") == ci, F.lit(w)).otherwise(0)
            expr = term if expr is None else (expr + term)
        if expr is None:
            expr = F.lit(0)
        aggs.append(F.sum(expr).cast("long").alias(v[1:]))
    cnames = [v[1:] for v in program.yield_counters]
    if single_scan:
        # every distinct value IS a group key already (dedup keeps >=1 row
        # per run, a non-matching row still lands in its value's group
        # with weight 0) — only the implicit "" tuple may be missing.
        # Densification rides the SAME aggregation: union one synthetic
        # ("", no-clause) INPUT row before the groupBy, so the whole
        # query stays one exchange (the union-then-re-aggregate form
        # added a second shuffle stage + AQE round to every query).
        slim = d.select(F.col(pcol), F.col("__clause"))
        # JVM-only literal row (see the grid note above); code mode's
        # implicit "" tuple is code 0.  range(0,1,1,1): the default
        # range(1) plans defaultParallelism splits — 32 task launches
        # for one synthetic row in every compiled counter query.
        synth = spark.range(0, 1, 1, 1).select(
            (F.lit(0) if use_codes else F.lit("")).alias(pcol),
            F.lit(None).cast("integer").alias("__clause"),
        )
        out = slim.unionByName(synth).groupBy(pcol).agg(*aggs)
        # code mode decodes ONCE here, over <=lexicon-size rows — the
        # per-row scan never touches the string column
        key = decode if use_codes else F.col(pcol)
        return out.select(
            key.alias(var[1:]), *[F.col(c) for c in cnames]
        )
    grouped = d.groupBy(pcol).agg(*aggs)
    return (
        grid.join(grouped, pcol, "left")
        .fillna(0, subset=cnames)
        .select(
            F.col(pcol).alias(var[1:]), *[F.col(c) for c in cnames]
        )
    )


@_with_pred_codes
def compile_relational(
    engine,
    df,
    program: Program,
    tuples: list | None,
    base_params: dict | None,
    extra_dedup: list[str] | None = None,
    no_dedup: bool = False,
):
    """-> aggregated partials DataFrame (same shape the FSM path's
    aggregation produces: tuple_id, var, key, reg, sum_n, max_n)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark = engine.spark
    fields = sorted(program.kvs.keys())

    # --- consecutive-duplicate dedup (reference ctx.c:106-134): drop rows
    # identical to their predecessor within the (uuid, entry, db) trail.
    # no_dedup = the store proved no trail repeats a timestamp (identity
    # always includes ts), so the whole lag window — and with it every
    # column it reads — vanishes from the plan. ---
    if not no_dedup:
        part_cols = [
            c for c in ("__uuid", "__entry", "__db") if c in _cols(df)
        ]
        order = Window.partitionBy(*part_cols).orderBy("__ts", "__seq")
        same = F.lit(True)
        same = same & (F.lag("__ts").over(order) == F.col("__ts"))
        for f in fields:
            # lag over the coalesced value: null and "" are the same
            # stored value (the __f_ projection is a bare nullable cast)
            same = same & (
                F.lag(_f_col(f)).over(order).eqNullSafe(_f_col(f))
            )
        for c in extra_dedup or []:
            same = same & (
                F.lag("__d_" + c).over(order).eqNullSafe(F.col("__d_" + c))
            )
        df = df.withColumn("__dup", F.coalesce(same, F.lit(False))).filter(
            ~F.col("__dup")
        )

    # --- parameter grid as a broadcast DataFrame ---
    gvars = program.groupby_vars
    if tuples is not None:
        grid_rows = []
        for i, tup in enumerate(tuples):
            row: list = [i]
            for var, val in zip(gvars, tup):
                row.append(
                    list(val) if isinstance(val, (tuple, frozenset)) else val
                )
            grid_rows.append(tuple(row))
        schema_parts = ["__tuple_id long"]
        for var in gvars:
            if var.startswith("#"):
                schema_parts.append(f"`__p_{var[1:]}` array<string>")
            else:
                schema_parts.append(f"`__p_{var[1:]}` string")
        grid = spark.createDataFrame(grid_rows, ", ".join(schema_parts))
        join_fields = _equi_join_fields(program)
        if join_fields is not None:
            cond = None
            for var, field in join_fields.items():
                term = _f_col(field) == F.col(f"__p_{var[1:]}")
                cond = term if cond is None else (cond & term)
            df = df.join(F.broadcast(grid), cond)
        else:
            df = df.crossJoin(F.broadcast(grid))
    else:
        df = df.withColumn("__tuple_id", F.lit(0).cast("long"))

    def param_col(name: str):
        base = (base_params or {}).get(name)
        if name[1:] and f"__p_{name[1:]}" in df.columns and name in gvars:
            return F.col(f"__p_{name[1:]}")
        if base is None:
            return F.lit(None)
        if isinstance(base, list):
            return F.array(*[F.lit(str(x)) for x in base])
        return F.lit(str(base))

    def cond_expr(field: str, expr: str):
        if field == "timestamp":
            bare = expr.lstrip("<=>")
            op = expr[: len(expr) - len(bare)] or "=="
            if is_param(bare):
                val = param_col(bare).cast("long")
            else:
                val = F.lit(int(bare))
            c = F.col("__ts")
            return {
                "<": c < val, ">": c > val, "<=": c <= val,
                ">=": c >= val, "==": c == val,
            }[op]
        if is_param(expr):
            if expr[0] == "%":
                return _f_col(field) == param_col(expr)
            return F.array_contains(
                F.coalesce(param_col(expr), F.array()), _f_col(field)
            )
        return _f_eq_lit(field, expr)

    # --- first-match clause resolution as a CASE chain ---
    clauses = program.rules[0].get("clauses", [])
    matched = None
    for ci, c in enumerate(clauses):
        pred = F.lit(True)
        for field, conditions in c.get("attrs", {}).items():
            for expr in conditions:
                pred = pred & cond_expr(field, expr)
        if c.get("op") == "not":
            pred = ~pred
        branch = F.when(pred, F.lit(ci))
        matched = branch if matched is None else matched.when(pred, F.lit(ci))
    df = df.withColumn("__clause", matched)

    # --- conditional sums per counter var ---
    counter_weights: dict[str, dict[int, int]] = {}
    for ci, c in enumerate(clauses):
        for y in c.get("yield", []) or []:
            counter_weights.setdefault(y["dst"], {})
            counter_weights[y["dst"]][ci] = (
                counter_weights[y["dst"]].get(ci, 0) + 1
            )
    aggs = []
    for var in program.yield_counters:
        weights = counter_weights.get(var, {})
        expr = None
        for ci, w in weights.items():
            term = F.when(F.col("__clause") == ci, F.lit(w)).otherwise(0)
            expr = term if expr is None else (expr + term)
        if expr is None:
            expr = F.lit(0)
        aggs.append(F.sum(expr).cast("long").alias(var))
    grouped = df.groupBy(F.col("__tuple_id").alias("tuple_id")).agg(*aggs)

    # --- reshape to the partials-aggregate schema ---
    pieces = []
    for var in program.yield_counters:
        pieces.append(
            grouped.select(
                "tuple_id",
                F.lit(var).alias("var"),
                F.lit(None).cast("binary").alias("key"),
                F.lit(None).cast("long").alias("reg"),
                F.col(var).alias("sum_n"),
                F.col(var).alias("max_n"),
            ).filter(F.col("sum_n") != 0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionAll(p)
    return out
