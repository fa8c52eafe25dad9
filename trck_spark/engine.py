"""Distributed trck query execution on Spark.

Physical plan (see SURVEY.md §4 "Physical strategy"):

    parquet scan  (columnar, predicate pushdown, column pruning)
      -> CNF event filter              [Catalyst expression -> pushdown]
      -> exclude anti-join             [broadcast]
      -> window-file join              [broadcast inner join + range filter]
      -> repartition(uuid) + sortWithinPartitions(uuid, db, ts, seq)
                                       [the single shuffle]
      -> mapInPandas: per-trail FSM over the parameter grid, accumulating
         monoid partials PER PARTITION (the Spark analog of the reference's
         thread-local results_t accumulation — match_traildb.c:403-411);
         output is ~ partitions x tuples x vars rows, independent of trail
         count
      -> groupBy(tuple_id, var, key).agg(sum / max)
                                       [partial+final aggregation, tiny]
      -> densify against the parameter grid

The per-trail inner loop is exactly the evaluator that passes the
reference's golden fixtures (trck_spark.fsm.interpreter), including the
occurring/non-occurring parameter pruning that bounds per-trail cost by
O(distinct values in trail), not O(grid size).
"""

from __future__ import annotations

import json
import os as _os
from typing import Iterator

from trck_spark.fsm.interpreter import Results, dedup_consecutive
from trck_spark.ir import Program
from trck_spark.output import format_output, results_to_dict
from trck_spark.params import foreach_tuples
from trck_spark.runner import TrckQuery
from trck_spark.sideinputs import cnf_to_spark_condition
from trck_spark.worker import drop_spark_zip_importers

PARTIAL_SCHEMA = (
    "tuple_id long, var string, key binary, reg long, n long"
)

_QUERY_CACHE: dict = {}

# cache-miss sentinel (None is a legitimate cached value: "no scan
# needed, boundary fully covered by sliced sketches")
_MISS = object()
# a long-lived executor can see many distinct fn_registry objects
# (repeated stream restarts each construct a fresh registry), and every
# cached entry pins its registry alive — bound the cache pop-oldest
# like the engine's _plan_cache so worker memory stays flat
_QUERY_CACHE_MAX = 64


def _uuid_hex_col(col):
    """Canonical 32-hex cookie form of a uuid column (Catalyst analog of
    runner.cookie_to_bytes: well-formed hex lowercases through, anything
    else is utf-8 encoded and zero-padded/truncated to 16 bytes)."""
    from pyspark.sql import functions as F

    hexed = F.lower(F.hex(F.encode(col, "UTF-8")))
    return F.when(
        col.rlike("^[0-9a-fA-F]{32}$"), F.lower(col)
    ).otherwise(F.substring(F.rpad(hexed, 32, "0"), 1, 32))


def _max_hll_hex(a: str, b: str | None) -> str:
    """Register-max of two wire-hex sketches (driver-side, bounded by
    the lexicon budget; numpy keeps it 2^14-wide-vector cheap)."""
    if not b or b == a:
        return a
    from trck_spark.fsm.hll import EMPTY_HLL_HEX, Hll, hll_from_hex

    if a == EMPTY_HLL_HEX:
        return b
    if b == EMPTY_HLL_HEX:
        return a
    import numpy as np

    ra = np.frombuffer(bytes(hll_from_hex(a).M), dtype=np.uint8)
    rb = np.frombuffer(bytes(hll_from_hex(b).M), dtype=np.uint8)
    s = Hll()
    s.M = bytearray(np.maximum(ra, rb).tobytes())
    return s.to_hex()


def _ts_bound_interval(
    ts_conds: list, params: dict | None
) -> tuple[int, int] | None:
    """Closed integer interval [lo, hi] such that an event matches the
    conjunction of timestamp relops iff lo <= ts <= hi; None when a
    bound isn't a driver-resolvable integer (date literals are already
    epoch ints in the IR — dsl/parser.py).  Must mirror the executor's
    predicate exactly (planner.compile_counter_implicit cond_expr):
    > v -> lo=v+1, >= v -> lo=v, < v -> hi=v-1, <= v -> hi=v, == v ->
    both."""
    lo, hi = -(2**63), 2**63 - 1
    for expr in ts_conds:
        bare = expr.lstrip("<=>")
        op = expr[: len(expr) - len(bare)] or "=="
        if bare[:1] in ("%", "#", "@"):
            raw = (params or {}).get(bare)
            if raw is None or isinstance(raw, (list, tuple)):
                return None
        else:
            raw = bare
        try:
            v = int(raw)
        except (TypeError, ValueError):
            return None
        if op == ">":
            lo = max(lo, v + 1)
        elif op == ">=":
            lo = max(lo, v)
        elif op == "<":
            hi = min(hi, v - 1)
        elif op == "<=":
            hi = min(hi, v)
        else:
            lo, hi = max(lo, v), min(hi, v)
    return lo, hi


def _read_sidecar_part(task):
    """Read + RLE-decode ONE part's sliced sketch sidecar for the
    [k0, k1] covered slice range, remapping part-local codes to union
    codes.  Returns a list of (union_code, dense 16 KiB register blob)
    — at most codes x 16 KiB — or None when the sidecar is unreadable
    (caller falls back to scanning the part's full bound).  Module
    level and self-contained so `_ts_hll_slice_plan` can ship it to
    executors as a plain parallelize task when a long segment chain
    would otherwise serialize the reads on the driver."""
    drop_spark_zip_importers()
    import numpy as np

    from trck_spark.fsm.hll import HLL_M, _rle_decode_registers

    path, f0, k0, k1, lex, uindex = task
    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            path,
            filters=[
                ("f", "=", f0),
                ("slice", ">=", k0),
                ("slice", "<=", k1),
            ],
        )
    except Exception:
        return None
    acc: dict = {}
    for c_local, blob in zip(
        tbl.column("c").to_pylist(), tbl.column("regs").to_pylist()
    ):
        u = 0 if c_local == 0 else uindex.get(lex[c_local - 1])
        if u is None:
            continue
        a = acc.get(u)
        if a is None:
            a = acc[u] = np.zeros(HLL_M, np.uint8)
        regs = _rle_decode_registers(bytes(blob))
        k = min(len(regs), HLL_M)
        np.maximum(a[:k], regs[:k], out=a[:k])
    return [(u, a.tobytes()) for u, a in acc.items()]


def _worker_query(
    spec_json: str, fn_registry: dict | None = None
) -> tuple[TrckQuery, list | None]:
    """Rebuild (and cache) the compiled query inside an executor.

    The reserved ``initialize`` fn_registry hook runs here once per
    worker process before the first trail is evaluated — the distributed
    analog of the reference's per-process user hook
    (match_traildb.c:1226-1229, called once in main before run_query).

    The cache key includes the fn_registry identity (object id + sorted
    function names): a long-lived executor can serve two queries with
    identical program/params but DIFFERENT FFI registries (a stream plus
    a batch run, or two streams), and keying on spec_json alone would
    reuse the wrong functions.  The cached TrckQuery holds a reference
    to its registry, so the id() in a live cache entry cannot be
    recycled; ``initialize`` correctly re-runs per distinct registry.

    Every executor-side FSM entry point starts here, so this is also
    where the per-task importer trim runs (trck_spark.worker)."""
    drop_spark_zip_importers()
    key = (
        spec_json,
        None
        if fn_registry is None
        else (id(fn_registry), tuple(sorted(fn_registry))),
    )
    hit = _QUERY_CACHE.get(key)
    if hit is not None:
        # LRU touch: re-insert so the hot query stays resident
        _QUERY_CACHE.pop(key, None)
        _QUERY_CACHE[key] = hit
        return hit
    spec = json.loads(spec_json)
    q = TrckQuery(
        spec["ir"], params=spec.get("params"), fn_registry=fn_registry
    )
    # driver-side pruning toggle, shipped in the spec (the worker's own
    # env doesn't see driver changes made after session start)
    if spec.get("no_grid_prune"):
        q.no_grid_prune = True
    if fn_registry and "initialize" in fn_registry:
        fn_registry["initialize"]()
    tuples = None
    if spec.get("tuples") is not None:
        tuples = [
            tuple(tuple(x) if isinstance(x, list) else x for x in row)
            for row in spec["tuples"]
        ]
    _QUERY_CACHE[key] = (q, tuples)
    while len(_QUERY_CACHE) > _QUERY_CACHE_MAX:
        _QUERY_CACHE.pop(next(iter(_QUERY_CACHE)))
    return q, tuples


class TrckResultSet:
    """Handle over the aggregated partials DataFrame."""

    def __init__(self, engine: "TrckSparkEngine", agg_df, program: Program,
                 tuples: list | None, fn_registry: dict | None = None,
                 telemetry: dict | None = None):
        self.engine = engine
        self.agg_df = agg_df
        self.program = program
        self.tuples = tuples
        self.fn_registry = fn_registry
        self._finalized = False
        self._telemetry = telemetry

    def telemetry(self) -> dict:
        """FSM-path run counters (trails, events, fsm_runs, grid_shared)
        — the reference's per-DB log telemetry
        (match_traildb.c:750-776).  Populated only after an action has
        materialized the result, and only on the FSM path; compiled
        fast paths run entirely in the JVM (their metrics live in the
        Spark UI).  Accumulator semantics: ANY re-evaluation adds —
        retried stages, and more commonly a second action on an
        uncached agg_df (e.g. collect_json then counters_df), which
        re-runs evaluate and doubles every counter.  Snapshot after the
        first action if you need stable numbers — observability only."""
        if not self._telemetry:
            return {}
        return {k: acc.value for k, acc in self._telemetry.items()}

    def _run_finalize(self) -> None:
        """Driver-side ``finalize`` hook, once per result materialization
        (the analog of the reference's post-run_query finalize(),
        match_traildb.c:1221-1224 — worker processes get no end-of-query
        signal in a distributed engine, so finalize is driver-only)."""
        if not self._finalized and self.fn_registry and (
            "finalize" in self.fn_registry
        ):
            self._finalized = True
            self.fn_registry["finalize"]()

    def collect_partials(self) -> dict[int, Results]:
        """Collect the aggregated monoid partials per foreach tuple."""
        per_tuple: dict[int, Results] = {}
        counter_vars = set(self.program.yield_counters)
        setlike = set(self.program.yield_sets) | set(
            self.program.yield_multisets
        )
        hll_vars = set(self.program.yield_hlls)
        for row in self.agg_df.collect():
            res = per_tuple.setdefault(int(row["tuple_id"]), Results())
            var = row["var"]
            if var in counter_vars:
                res.counters[var] = res.counters.get(var, 0) + int(
                    row["sum_n"]
                )
            elif var in setlike:
                key = bytes(row["key"])
                d = res.sets.setdefault(var, {})
                d[key] = d.get(key, 0) + int(row["sum_n"])
            elif var in hll_vars:
                d = res.hlls.setdefault(var, {})
                reg = int(row["reg"])
                if d.get(reg, 0) < int(row["max_n"]):
                    d[reg] = int(row["max_n"])
        self._run_finalize()
        return per_tuple

    def collect_json(self) -> dict | list:
        """Full trck-shaped result (reference JSON output format)."""
        return format_output(
            self.program, self.collect_partials(), self.tuples
        )

    def _refresh(self) -> "TrckResultSet | None":
        """Prepared-plan cache hit: same compiled plan, fresh Dataset
        (every stage re-executes), fresh result-set state."""
        fresh = _fresh_df(self.agg_df)
        if fresh is None:
            return None
        return TrckResultSet(
            self.engine, fresh, self.program, self.tuples, None
        )

    def counters_df(self):
        """Densified DataFrame: one row per foreach tuple with the tuple's
        scalar bindings plus one column per counter (zero-filled).

        Column names: %var -> var, $counter -> counter (sigils stripped so
        the frame is SQL/oracle friendly)."""
        from pyspark.sql import functions as F

        spark = self.engine.spark
        program = self.program
        counter_vars = program.yield_counters
        agg = self.agg_df.filter(
            F.col("var").isin([v for v in counter_vars])
        )
        pivoted = agg.groupBy("tuple_id").agg(
            *[
                F.sum(
                    F.when(F.col("var") == v, F.col("sum_n")).otherwise(0)
                ).alias(v[1:])
                for v in counter_vars
            ]
        )
        if self.tuples is None or program.merge_results:
            # single result row (non-foreach, or `merged results`)
            merged = pivoted.agg(
                *[
                    F.sum(v[1:]).cast("long").alias(v[1:])
                    for v in counter_vars
                ]
            )
            return merged.fillna(0, subset=[v[1:] for v in counter_vars])
        gvars = [v[1:] for v in program.groupby_vars]
        grid = spark.createDataFrame(
            [
                (i,) + tuple(
                    list(x) if isinstance(x, tuple) else x for x in tup
                )
                for i, tup in enumerate(self.tuples)
            ],
            schema=["tuple_id"] + gvars,
        )
        out = (
            grid.join(pivoted, "tuple_id", "left")
            .fillna(0, subset=[v[1:] for v in counter_vars])
            .drop("tuple_id")
        )
        return out

    def sets_df(self, var: str):
        """Exploded set/multiset rows: (param bindings..., item, count).

        Key decoding is an Arrow-batched pandas UDF (not a per-row
        Python UDF): post-aggregation volume is small, but the decode
        should still amortize serialization over whole batches."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from trck_spark.fsm.tuples import tuple_to_display

        @pandas_udf("string")
        def display(keys):
            drop_spark_zip_importers()
            return keys.map(
                lambda b: tuple_to_display(bytes(b))
                if b is not None
                else None
            )

        rows = (
            self.agg_df.filter(F.col("var") == var)
            .select(
                "tuple_id",
                display(F.col("key")).alias("item"),
                F.col("sum_n").alias("count"),
            )
        )
        if self.tuples is None:
            return rows.drop("tuple_id")
        gvars = [v[1:] for v in self.program.groupby_vars]
        grid = self.engine.spark.createDataFrame(
            [
                (i,) + tuple(
                    list(x) if isinstance(x, tuple) else x for x in tup
                )
                for i, tup in enumerate(self.tuples)
            ],
            schema=["tuple_id"] + gvars,
        )
        return grid.join(rows, "tuple_id", "inner").drop("tuple_id")


class TrckFrameResultSet:
    """Counter results backed by the final densified counters frame.

    Produced by the value-keyed implicit-foreach fast path
    (planner.compile_counter_implicit): the lexicon grid never touches
    the driver, so `tuples` only materializes lazily — from the result
    rows themselves — when a driver-side output format asks for it."""

    def __init__(self, engine: "TrckSparkEngine", frame, program: Program,
                 params: dict | None, fn_registry: dict | None = None):
        self.engine = engine
        self.frame = frame
        self.program = program
        self.params = params
        self.tuples: list | None = None
        self.fn_registry = fn_registry
        self._finalized = False

    _run_finalize = TrckResultSet._run_finalize

    def telemetry(self) -> dict:
        """JVM-compiled path: no Python-side counters (Spark UI metrics
        cover the stages)."""
        return {}

    def _refresh(self) -> "TrckFrameResultSet | None":
        fresh = _fresh_df(self.frame)
        if fresh is None:
            return None
        return TrckFrameResultSet(
            self.engine, fresh, self.program, self.params, None
        )

    def counters_df(self):
        return self.frame

    def collect_partials(self) -> dict[int, Results]:
        rows = self.frame.collect()
        self._run_finalize()
        lex = [r[0] for r in rows if r[0] != ""]
        self.tuples = foreach_tuples(
            self.program, self.params, lexicon_values=lex
        )
        idx = {t[0]: i for i, t in enumerate(self.tuples)}
        per_tuple: dict[int, Results] = {}
        for r in rows:
            res = per_tuple.setdefault(idx[r[0]], Results())
            for v in self.program.yield_counters:
                res.counters[v] = res.counters.get(v, 0) + int(r[v[1:]])
        return per_tuple

    def collect_json(self) -> dict | list:
        return format_output(
            self.program, self.collect_partials(), self.tuples
        )


class _HexRegs(dict):
    """HLL register map that remembers the wire hex it came from.

    The manifest's sketches are already in the reference wire format,
    and the rebuild path (decode -> register dict -> Hll -> to_hex) is
    the identity on them by the monoid round-trip (golden-tested), so
    output.results_to_dict emits ``hex`` directly — the local rollup
    tier's collect_json never touches a register.  Consumers that can
    MUTATE register maps (Results.merge) never see this type:
    TrckLocalResultSet.collect_partials hands out plain decoded
    copies."""

    __slots__ = ("hex",)


# hex -> {register: rank} decode cache for the local rollup tier's
# collect_partials: repeat runs over the same store decode each
# manifest sketch once (bounded; a manifest holds at most the
# HLL_ROLLUP_VALUES_MAX sketch budget)
_HLL_DECODE_CACHE: dict = {}
_HLL_DECODE_CACHE_MAX = 8192


def _decode_hll_hex(hx: str) -> dict:
    hit = _HLL_DECODE_CACHE.get(hx)
    if hit is None:
        from trck_spark.fsm.hll import hll_from_hex

        regs = hll_from_hex(hx).M
        hit = {i: r for i, r in enumerate(regs) if r}
        _HLL_DECODE_CACHE[hx] = hit
        while len(_HLL_DECODE_CACHE) > _HLL_DECODE_CACHE_MAX:
            _HLL_DECODE_CACHE.pop(next(iter(_HLL_DECODE_CACHE)))
    return hit


class TrckLocalResultSet:
    """Results answered entirely from a TrailStore manifest: the monoid
    partials are computed on the DRIVER — no DataFrame, no Spark job,
    nothing to scan by construction (the class holds no plan handle at
    all).  Produced by the HLL uniques rollup tier
    (planner.rollup_hll_cookie_vars + store._field_hll_rollups): the
    manifest's per-(field, value) cookie sketches ARE the per-tuple
    partials, wire-format-identical to what the FSM path aggregates."""

    def __init__(self, engine: "TrckSparkEngine", per_tuple: dict,
                 program: Program, tuples: list | None,
                 fn_registry: dict | None = None):
        self.engine = engine
        self._per_tuple = per_tuple
        self.program = program
        self.tuples = tuples
        self.fn_registry = fn_registry
        self._finalized = False

    _run_finalize = TrckResultSet._run_finalize

    def telemetry(self) -> dict:
        return {}

    def collect_partials(self) -> dict[int, Results]:
        out: dict[int, Results] = {}
        for ti, res in self._per_tuple.items():
            c = Results()
            c.counters = dict(res.counters)
            c.sets = {k: dict(v) for k, v in res.sets.items()}
            # hand out PLAIN decoded copies: callers may merge/mutate,
            # which must never reach a shared _HexRegs or the decode
            # cache
            c.hlls = {
                # dict(...) in BOTH arms: plain register maps (the
                # ts-scoped hll tier's merged form) are shared across
                # hll_vars and must not leak mutably either
                k: dict(
                    _decode_hll_hex(v.hex)
                    if isinstance(v, _HexRegs)
                    else v
                )
                for k, v in res.hlls.items()
            }
            out[ti] = c
        self._run_finalize()
        return out

    def collect_json(self) -> dict | list:
        # the internal per-tuple view (hex-backed register maps) feeds
        # format_output directly: the output hex IS the manifest hex,
        # so no register is ever decoded or re-encoded on this path
        out = format_output(self.program, self._per_tuple, self.tuples)
        self._run_finalize()
        return out

    def counters_df(self):
        """Grid frame (groupby vars only) — the tier serves hll-only
        programs, so there are no counter columns to densify."""
        gvars = [v[1:] for v in self.program.groupby_vars]
        return self.engine.spark.createDataFrame(
            [tuple(t) for t in (self.tuples or [])], schema=gvars
        )


def _fresh_df(df):
    """New Dataset over the same (already analyzed) logical plan.

    A cache-hit query must still RE-EXECUTE every stage: collect() on a
    previously-executed Dataset reuses its materialized AQE shuffle
    stages, which would silently turn a repeat run into a fetch of old
    shuffle files.  Dataset.ofRows builds a fresh QueryExecution over
    the cached plan — full re-execution, no Python-side plan
    construction (the part worth caching: building a compiled-counter
    plan through py4j costs ~0.3-0.5 s of socket round-trips, ~1000x a
    native engine's parse+plan)."""
    spark = df.sparkSession
    try:
        from pyspark.sql import DataFrame as _PyDF

        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().logical()
        )
        return _PyDF(jdf, spark)
    except Exception:
        # non-classic session (e.g. Connect): no ofRows handle — fall
        # back to a no-op plan-cache miss upstream instead of risking
        # stage reuse
        return None


class TrckSparkEngine:
    # prepared-plan cache size: entries hold a strong ref to the input
    # DataFrame (guards the id()-based key from id reuse) plus a small
    # logical plan — bounded LRU, no data
    PLAN_CACHE_MAX = 32

    def __init__(self, spark):
        self.spark = spark
        self._plan_cache: dict = {}

    def _cache_put(self, cache_key, events_df, rs):
        """Store a compiled-path result set in the prepared-plan cache
        (bounded LRU; FSM-path result sets are never cached — their
        accumulator telemetry is per-run state)."""
        if cache_key is not None:
            self._plan_cache.pop(cache_key, None)
            self._plan_cache[cache_key] = (events_df, rs)
            while len(self._plan_cache) > self.PLAN_CACHE_MAX:
                self._plan_cache.pop(next(iter(self._plan_cache)))
        return rs

    def _rollup_frame(self, program: Program, code_values: list,
                      rollup: list, weights: dict):
        """Densified counters frame built from a TrailStore manifest
        rollup — same schema as compile_counter_implicit's output (one
        row per lexicon value incl. the implicit "" tuple, one long
        column per $counter), but sourced from a local relation instead
        of a scan.  rollup[code] is the store's event count for that
        dictionary code (0 = ""/absent); a counter yielded k times in
        the matching clause counts k per event."""
        from pyspark.sql import functions as F

        from trck_spark.planner import _array_literal

        var = program.groupby_vars[0]
        vals = [""] + list(code_values)
        # JVM-only literal arrays + posexplode: createDataFrame would
        # route the rows through a Python RDD (applySchemaToPythonRDD),
        # a measurable per-run driver cost on a query whose whole point
        # is answering in milliseconds
        idx = (F.col("id") + 1).cast("int")
        sel = [F.element_at(_array_literal(vals), idx).alias(var[1:])]
        for v in program.yield_counters:
            counts = ", ".join(
                str(int(rollup[code]) * weights.get(v, 0))
                for code in range(len(vals))
            )
            sel.append(
                F.element_at(
                    F.expr(f"array({counts})").cast("array<long>"), idx
                ).alias(v[1:])
            )
        return self.spark.range(0, len(vals), 1, 1).select(*sel)

    def _hll_rollup_result(
        self, program: Program, params: dict | None, code_values: list,
        hex_list: list, hll_vars: list, fn_registry: dict | None,
    ) -> "TrckLocalResultSet":
        """Per-tuple HLL partials decoded from the manifest's sketches.

        The tuples come from the manifest LEXICON (complete by
        construction — store._dict_lexicons collects every distinct
        value), so not even the implicit-foreach lexicon scan runs.
        Sketches stay as wire hex (_HexRegs): collect_json emits them
        verbatim; only collect_partials decodes (cached)."""
        from trck_spark.fsm.hll import EMPTY_HLL_HEX

        tuples = foreach_tuples(
            program, params, lexicon_values=list(code_values)
        )
        index = {v: i + 1 for i, v in enumerate(code_values)}
        index[""] = 0
        per_tuple: dict[int, Results] = {}
        for ti, tup in enumerate(tuples):
            # EXPLICIT grids may list values absent from the lexicon —
            # by the lexicon's construction those have zero occurrences,
            # i.e. an empty sketch
            code = index.get(tup[0])
            hx = hex_list[code] if code is not None else EMPTY_HLL_HEX
            if hx == EMPTY_HLL_HEX:
                continue  # empty sketch: no adds, like the FSM path
            res = Results()
            for v in hll_vars:
                hr = _HexRegs()
                hr.hex = hx
                res.hlls[v] = hr
            per_tuple[ti] = res
        return TrckLocalResultSet(
            self, per_tuple, program, tuples, fn_registry
        )

    def _run_ts_scoped_rollup(
        self, events_df, program: Program, program_text_or_ir,
        params: dict | None, manifest: dict, f0: str, weights: dict,
        ts_conds: list, uuid_col: str, ts_col: str, seq_col: str | None,
    ):
        """TIME-SCOPED rollup answer for a segmented store (VERDICT r07
        item 5): a counter with timestamp relop conjuncts decomposes
        over the per-part [ts_min, ts_max] zone maps into

            rollup(parts fully inside the bound)   -- zero scan
          + scan(boundary parts only)              -- bounded work
          + 0 (disjoint parts)

        so an incremental counter over a continuously-appended store
        never rescans history.  Returns the combined densified counters
        frame, or None when the tier can't prove the decomposition
        (non-integer bound, missing per-part rollup) — caller falls
        through to the ordinary scan."""
        from pyspark.sql import functions as F

        interval = _ts_bound_interval(ts_conds, params)
        if interval is None:
            return None
        lo, hi = interval
        union = manifest["dicts"][f0]
        parts_meta = manifest.get("parts") or []
        part_frames = getattr(events_df, "_trailstore_parts", None)
        single = False
        if not parts_meta:
            # NON-segmented store: one part, its own zone map.  The tier
            # then answers only the trivial decompositions — bound
            # covers the whole store (rollup) or misses it entirely
            # (zeros); a partial overlap is exactly the plain scan, so
            # decline and let the dictionary-scan tier run it
            if manifest.get("ts_min") is None:
                return None
            single = True
            parts_meta = [{
                "ts_min": manifest.get("ts_min"),
                "ts_max": manifest.get("ts_max"),
                "rollups": manifest.get("rollups") or {},
            }]
            part_frames = [events_df]
        if not part_frames or len(parts_meta) != len(part_frames):
            return None
        covered = [0] * (len(union) + 1)
        boundary: list[int] = []
        for i, pm in enumerate(parts_meta):
            pr = (pm.get("rollups") or {}).get(f0)
            if pr is None or len(pr) != len(union) + 1:
                return None
            pmin, pmax = pm.get("ts_min"), pm.get("ts_max")
            if pmin is None or pmax is None:
                # no zone map != empty: a manifest written before the
                # zone maps existed carries rollups but no ts_min/ts_max
                # (rollups and ts stats shipped in different revisions at
                # version 3).  A part with any counted event but no zone
                # map must be SCANNED, not skipped — skipping silently
                # drops its events from the bounded answer
                if any(int(x) for x in pr):
                    boundary.append(i)
                continue  # genuinely empty part (all-zero rollup)
            if lo <= pmin and pmax <= hi:
                covered = [a + int(b) for a, b in zip(covered, pr)]
            elif pmax < lo or pmin > hi:
                continue
            else:
                boundary.append(i)
        rollup_frame = self._rollup_frame(program, union, covered, weights)
        if not boundary:
            return rollup_frame
        if single:
            return None  # whole-store boundary == the plain scan
        sub = part_frames[boundary[0]]
        for i in boundary[1:]:
            sub = sub.unionByName(part_frames[i], allowMissingColumns=True)
        # boundary frame keeps the store guarantees (ts_unique, union
        # dicts, per-segment db scoping) but NOT rollups/parts — the
        # recursive run must take the scan path, not re-enter this tier.
        # Underscore keys (engine run-time caches, may hold py4j
        # Datasets) never propagate into copies or serialization.
        sub_manifest = {
            k: v
            for k, v in manifest.items()
            if k not in ("rollups", "parts") and not k.startswith("_")
        }
        sub._trailstore_manifest = sub_manifest
        # fn_registry stays with the OUTER result set (finalize hooks run
        # once); this rollup-safe shape yields plain counters, so the
        # boundary scan itself never calls user functions
        sub_rs = self.run(
            sub, program_text_or_ir, params=params, uuid_col=uuid_col,
            ts_col=ts_col, seq_col=seq_col, db_col="__segment",
        )
        if not isinstance(sub_rs, TrckFrameResultSet):
            return None
        key = program.groupby_vars[0][1:]
        cnames = [v[1:] for v in program.yield_counters]
        return (
            sub_rs.frame.unionByName(rollup_frame)
            .groupBy(key)
            .agg(*[F.sum(c).cast("long").alias(c) for c in cnames])
            .select(key, *cnames)
        )

    def _run_ts_scoped_hll(
        self, events_df, program: Program, program_text_or_ir,
        params: dict | None, manifest: dict, f0: str, hll_vars: list,
        ts_conds: list, uuid_col: str, ts_col: str, seq_col: str | None,
        fn_registry: dict | None,
    ):
        """TIME-SCOPED uniques answer: a ``yield cookie to ^x`` query
        with timestamp relop conjuncts decomposes over the per-part
        [ts_min, ts_max] zone maps exactly like the counter tier
        (:meth:`_run_ts_scoped_rollup`), but with an even simpler merge:
        HLL union IS per-register max (reference utils.c:16-56), so

            register_max(sketches of parts fully inside the bound,
                         sketches scanned from boundary parts)

        is byte-identical to the full-scan sketch — a time-bounded
        uniques query over a continuously-appended store never rescans
        covered history.  Returns a TrckLocalResultSet (the boundary
        scan, when any, runs eagerly and its per-tuple partials merge
        driver-side), or None when the decomposition can't be proven
        (non-integer bound, missing per-part sketches, single-store
        partial overlap) — caller falls through to the scan path."""
        from trck_spark.fsm.hll import EMPTY_HLL_HEX

        sk = self._ts_hll_code_sketches(
            events_df, params, manifest, f0, ts_conds, uuid_col, ts_col
        )
        if sk is None:
            return None
        covered_hex, b_code_regs, scope = sk
        union = manifest["dicts"][f0]
        uindex = {v: i + 1 for i, v in enumerate(union)}
        tuples = foreach_tuples(
            program, params, lexicon_values=list(union)
        )
        index = dict(uindex)
        index[""] = 0
        per_tuple: dict[int, Results] = {}
        for ti, tup in enumerate(tuples):
            # explicit grids may list out-of-lexicon values: zero
            # occurrences by construction -> empty sketch
            code = index.get(tup[0])
            hx = (
                _max_hll_hex(covered_hex[code], b_code_regs.get(code))
                if code is not None
                else EMPTY_HLL_HEX
            )
            if hx == EMPTY_HLL_HEX:
                continue  # no adds anywhere: absent, like the FSM path
            res = Results()
            for v in hll_vars:
                # every tuple stays on the wire-hex fast path:
                # collect_json emits the hex verbatim, collect_partials
                # hands out decoded copies
                hr = _HexRegs()
                hr.hex = hx
                res.hlls[v] = hr
            per_tuple[ti] = res
        rs = TrckLocalResultSet(
            self, per_tuple, program, tuples, fn_registry
        )
        # diagnostics for tests/observability: which parts answered from
        # the manifest vs were scanned
        rs._ts_scope = scope
        return rs

    def _ts_hll_slice_plan(
        self, parts_meta, boundary, f0: str, union, lo: int, hi: int,
        n_slots: int,
    ):
        """Sliced-sidecar decomposition of the boundary scan:
        (slice_mat, part_ranges, slices_covered).

        slice_mat: (n_slots, 16384) uint8 register-max of every sidecar
        slice fully inside [lo, hi] across all boundary parts (None
        when no part contributed); part codes are remapped to union
        codes via the part lexicon.  part_ranges[i]: the ts intervals
        part i must still SCAN — the exact complement of its covered
        slice span within [lo, hi] (empty list = no scan needed).
        Parts without a sidecar (legacy layout, over-budget field) get
        the full [lo, hi].  Pure plan-prep over immutable files —
        cached on the manifest keyed like the covered merge."""
        import numpy as np

        from trck_spark.fsm.hll import HLL_M, _rle_decode_registers

        uindex = {v: j + 1 for j, v in enumerate(union)}
        slice_mat = None
        part_ranges: dict[int, list] = {}
        slices_cov: dict[str, list] = {}
        full = [(lo, hi)]
        # phase 1 (driver, manifest-only): which parts have covered
        # slices to read, and which slice range
        pending: list[tuple] = []  # (i, file, k0, k1, lex, bounds)
        for i in boundary:
            pm = parts_meta[i]
            sl = (pm.get("hll_slices") or {}).get(f0)
            lex = (pm.get("hll_dicts") or {}).get(f0)
            ppath = pm.get("path")
            if not sl or lex is None or not ppath:
                part_ranges[i] = full
                continue
            bounds = [int(x) for x in sl["bounds"]]
            nsl = int(sl["n"])
            # covered = suffix(bounds[k] >= lo) ∩ prefix(slice end <= hi)
            # of a monotone bound list -> contiguous [k0, k1]
            ks = [
                k
                for k in range(nsl)
                if bounds[k] >= lo and bounds[k + 1] - 1 <= hi
            ]
            if not ks:
                part_ranges[i] = full
                continue
            pending.append((
                i, _os.path.join(ppath, sl["file"]),
                ks[0], ks[-1], lex, bounds,
            ))
        # phase 2: read + RLE-decode the sidecar blobs.  Serial on the
        # driver for a handful of parts (the common case: 1-3 boundary
        # parts); past the threshold — a long uncompacted segment
        # chain — a small parallelized job keeps the driver out of the
        # I/O path (VERDICT r11 "what's wrong" item 2): each task
        # reads ONE part's sidecar and returns at most codes x 16 KiB
        # of union-remapped dense blobs.
        results: list = []
        thresh = int(
            _os.environ.get("TRCK_SPARK_SIDECAR_DRIVER_PARTS", "4")
        )
        tasks = [
            (path, f0, k0, k1, lex, uindex)
            for (_i, path, k0, k1, lex, _b) in pending
        ]
        if len(pending) > thresh:
            try:
                results = (
                    self.spark.sparkContext.parallelize(
                        tasks, len(tasks)
                    )
                    .map(_read_sidecar_part)
                    .collect()
                )
            except Exception:
                results = []
        if len(results) != len(pending):
            results = [_read_sidecar_part(t) for t in tasks]
        # phase 3 (driver): fold the per-part dense blobs, emit the
        # exact scan-range complement per covered part
        for (i, _path, k0, k1, _lex, bounds), got in zip(
            pending, results
        ):
            if got is None:  # unreadable sidecar: scan the full bound
                part_ranges[i] = full
                continue
            if slice_mat is None:
                slice_mat = np.zeros((n_slots, HLL_M), np.uint8)
            for u, blob in got:
                np.maximum(
                    slice_mat[u],
                    np.frombuffer(blob, np.uint8),
                    out=slice_mat[u],
                )
            rngs = []
            if lo <= bounds[k0] - 1:
                rngs.append((lo, bounds[k0] - 1))
            if bounds[k1 + 1] <= hi:
                rngs.append((bounds[k1 + 1], hi))
            part_ranges[i] = rngs
            slices_cov[str(i)] = [k0, k1]
        return slice_mat, part_ranges, slices_cov

    def _ts_hll_code_sketches(
        self, events_df, params: dict | None, manifest: dict, f0: str,
        ts_conds: list, uuid_col: str, ts_col: str,
    ):
        """(covered_hex_by_union_code, boundary_hex_by_union_code,
        scope_diagnostics) for a ts-bounded sketch decomposition over
        the store's parts, or None when it can't be proven — the shared
        engine of the foreach (:meth:`_run_ts_scoped_hll`) and gridless
        value-set uniques tiers."""
        from trck_spark.fsm.hll import EMPTY_HLL_HEX

        interval = _ts_bound_interval(ts_conds, params)
        if interval is None:
            return None
        lo, hi = interval
        union = manifest["dicts"][f0]
        uindex = {v: i + 1 for i, v in enumerate(union)}
        parts_meta = manifest.get("parts") or []
        part_frames = getattr(events_df, "_trailstore_parts", None)
        single = False
        if not parts_meta:
            # NON-segmented store: one part, its own zone map — only the
            # trivial decompositions (bound covers the whole store, or
            # misses it entirely); partial overlap == the plain scan
            if manifest.get("ts_min") is None:
                return None
            single = True
            parts_meta = [{
                "ts_min": manifest.get("ts_min"),
                "ts_max": manifest.get("ts_max"),
                "hll_rollups": manifest.get("hll_rollups") or {},
                "hll_dicts": {f0: union},
                "hll_slices": manifest.get("hll_slices") or {},
                "path": manifest.get("_path"),
            }]
            part_frames = [events_df]
        if not part_frames or len(parts_meta) != len(part_frames):
            return None
        covered_entries: list = []
        boundary: list[int] = []
        for i, pm in enumerate(parts_meta):
            ph = (pm.get("hll_rollups") or {}).get(f0)
            plex = (pm.get("hll_dicts") or {}).get(f0)
            if ph is None or plex is None or len(ph) != len(plex) + 1:
                return None
            pmin, pmax = pm.get("ts_min"), pm.get("ts_max")
            if pmin is None or pmax is None:
                # no zone map != empty (see _run_ts_scoped_rollup): a
                # part with any sketched cookie must be SCANNED, never
                # skipped
                if any(hx != EMPTY_HLL_HEX for hx in ph):
                    boundary.append(i)
                continue
            if lo <= pmin and pmax <= hi:
                covered_entries.append((ph, plex, uindex))
            elif pmax < lo or pmin > hi:
                continue
            else:
                boundary.append(i)
        if single and boundary:
            # a whole-store boundary used to be exactly the plain scan
            # — but a sliced sketch sidecar (r11) changes that: when
            # the bound fully covers >= 1 slice, those slices answer
            # from the sidecar and only the partial slices scan, so a
            # SINGLE (e.g. compacted) store keeps the incremental-
            # uniques cost model instead of losing the tier entirely
            sl0 = (parts_meta[0].get("hll_slices") or {}).get(f0)
            if not sl0 or not parts_meta[0].get("path"):
                return None
            b0 = [int(x) for x in sl0["bounds"]]
            if not any(
                b0[k] >= lo and b0[k + 1] - 1 <= hi
                for k in range(int(sl0["n"]))
            ):
                return None  # no covered slice: it IS the plain scan
        # the covered merge is pure plan-prep over immutable manifests
        # (202 Python RLE decodes at 100 values x 2 parts ~= 0.5 s):
        # memoize it ON the manifest like the engine memoizes compiled
        # plans — repeat runs still pay the full boundary scan
        cache = manifest.setdefault("_ts_hll_covered_cache", {})
        ck = (f0, lo, hi)
        covered_hex = cache.get(ck)
        if covered_hex is None:
            from trck_spark.store import _merge_hll_hexes

            covered_hex = _merge_hll_hexes(
                len(union) + 1, covered_entries
            )
            cache[ck] = covered_hex
        b_code_regs: dict[int, str] = {}  # code -> boundary-scan wire hex
        boundary_files: list[str] = []
        if boundary:
            from pyspark.sql import functions as F

            sub = part_frames[boundary[0]]
            for i in boundary[1:]:
                sub = sub.unionByName(
                    part_frames[i], allowMissingColumns=True
                )
            # memoized next to the covered merge: the union's file
            # listing is a py4j + filesystem round-trip per run on an
            # IMMUTABLE boundary set (segments never change once
            # written) — the scan below re-executes every run either
            # way, so only the fixed plan-prep cost is cached
            fcache = manifest.setdefault("_ts_hll_files_cache", {})
            boundary_files = fcache.get(ck)
            if boundary_files is None:
                boundary_files = list(sub.inputFiles())
                fcache[ck] = boundary_files
            # The boundary sketch is the register-max over DISTINCT
            # (value, cookie) pairs with an in-bound event — the same
            # vectorized pass the store write runs (_field_hll_rollups),
            # here with the ts predicate pushed into the parquet scan.
            # NOT the FSM sub-run: per-event Python evaluation costs
            # ~50x more than distinct + Arrow-batched murmur at scale,
            # and idempotent adds make the two provably identical.
            if "__c_" + f0 in sub.columns:
                # segment opens remap __c_* to union codes already
                code_col = F.coalesce(F.col("__c_" + f0), F.lit(0))
            else:
                # code column dropped (over-budget remap): literal map
                # over the union lexicon (bounded by DICT_MAX)
                mapping = F.create_map(
                    *[
                        x
                        for v, i in uindex.items()
                        for x in (F.lit(v), F.lit(i))
                    ]
                )
                code_col = F.coalesce(
                    mapping[F.col(f0).cast("string")], F.lit(0)
                )
            n_slots = len(union) + 1
            use_rr = all(
                "__hll_rr" in part_frames[i].columns for i in boundary
            )
            if use_rr:
                # stores written with the materialized packed register
                # column (store._hll_rr_expr) take the register-blob
                # fold: the JVM side is ONLY a pushed-down ts filter +
                # 2-int projection (code, __hll_rr), and each scan
                # partition folds its rows into one 16 KiB register
                # blob per live code via a vectorized Arrow pass — so
                # the data crossing any boundary is codes x partitions
                # BLOBS (~3 k rows), not the values x 16384 x tasks
                # partial-aggregate rows the groupBy(code, register)
                # form shuffled (VERDICT r10 item 1b: at the
                # adversarial 53 M-row boundary the partial agg barely
                # reduced — the exchange carried ~input-size row
                # counts, and the final agg collected values x 16384
                # rows to the driver).  There is no exchange at all:
                # sketch adds are idempotent and register-max is
                # commutative, so per-partition partials merge on the
                # driver with one numpy max per blob.  Byte-identical
                # to the murmur fold below (the packed column IS that
                # fold, precomputed at write).
                from trck_spark.fsm.hll import (
                    HLL_M,
                    RR_RANK_BITS,
                    RR_RANK_MASK,
                    Hll,
                )

                # sliced sidecar (store._write_hll_slices): for each
                # boundary part that carries per-(code, time-slice)
                # sketches, the slices fully inside [lo, hi] answer
                # from the sidecar blobs and only the 1-2 PARTIAL
                # slices at the bound's edges scan — the boundary cost
                # becomes proportional to a slice (1/16 segment), not
                # the segment, no matter where the bound lands.
                # Idempotent register max makes slice/scan overlap
                # harmless; only a coverage GAP could be wrong, and the
                # ranges below are exact complements of the covered
                # slice span.
                scache = manifest.setdefault("_ts_hll_slice_cache", {})
                slice_hit = scache.get(ck)
                if slice_hit is None:
                    slice_hit = self._ts_hll_slice_plan(
                        parts_meta, boundary, f0, union, lo, hi, n_slots
                    )
                    scache[ck] = slice_hit
                slice_mat, part_ranges, slices_cov = slice_hit

                # prepared-plan cache (engine-cache analog): repeat
                # runs re-execute every stage on the SAME immutable
                # boundary plan but skip the py4j Dataset construction
                pcache = manifest.setdefault("_ts_hll_plan_cache", {})
                miss = pcache.get(ck, _MISS) is _MISS
                fold_df = None if miss else pcache[ck]
                frames = []
                if miss:
                    for i in boundary:
                        rngs = part_ranges.get(i, [(lo, hi)])
                        if not rngs:
                            continue  # part fully covered by slices
                        tsl = F.col(ts_col).cast("long")
                        cond = None
                        for a, b in rngs:
                            piece = (tsl >= a) & (tsl <= b)
                            cond = piece if cond is None else cond | piece
                        frames.append(part_frames[i].filter(cond))
                    if not frames:
                        pcache[ck] = None
                if miss and frames:
                    subf = frames[0]
                    for fr in frames[1:]:
                        subf = subf.unionByName(
                            fr, allowMissingColumns=True
                        )
                    rr_pairs = subf.select(
                        code_col.cast("int").alias("c"),
                        F.col("__hll_rr").alias("rr"),
                    )
                    # Scale-adaptive Python-stream count: each
                    # mapInPandas PARTITION pays a fixed worker-stream
                    # setup (~0.2 s measured, per parent partition —
                    # a coalesce placed downstream of the fold cannot
                    # amortize it), and a union of bucketed segment
                    # scans opens >= minPartitionNum streams PER
                    # SEGMENT even when the boundary holds a few MB.
                    # Coalesce the fold input to ceil(scanned file
                    # bytes / 1 MB), clamped to [1, cores].  The tiny
                    # per-stream target is deliberate: the bucketed
                    # store's dictionary/RLE parquet decodes 10-20x
                    # its disk bytes (a ~90 MB segment holds 53 M
                    # rows), so any boundary bigger than ~cores MB
                    # keeps FULL parallelism — measured: 64 MB and
                    # even 4 MB targets under-parallelized the
                    # adversarial 53 M-row gate boundary (0.70 s at 32
                    # streams -> 1.1-1.4 s at 2-17).  Only a genuinely
                    # small boundary (the sf-scale store, a thin
                    # slice-complement) collapses to 1-3 streams,
                    # where the ~0.2 s per-stream worker setup — paid
                    # per PARENT partition, so a downstream coalesce
                    # cannot amortize it — dominated the row (1.02 s
                    # -> 0.43 s at sf0.1).  Partitioning cannot change
                    # the answer (register max is commutative and
                    # idempotent), pinned by the fold-path tests.
                    # Sizing input (ADVICE r11): bytes of the parts
                    # that actually CONTRIBUTE frames (parts fully
                    # covered by sidecar slices are excluded), each
                    # scaled by the fraction of its ts span left to
                    # scan — the full boundary union's listing
                    # overestimated a thin slice-complement over large
                    # segments and kept paying the ~0.2 s/stream setup
                    # the coalesce exists to avoid.  Over-/under-
                    # provisioning cannot change the answer (register
                    # max is commutative and idempotent).
                    n_streams = None
                    try:
                        tot_b = 0
                        for i in boundary:
                            rngs = part_ranges.get(i, [(lo, hi)])
                            if not rngs:
                                continue  # fully covered by slices
                            pfl = fcache.get(("part", i))
                            if pfl is None:
                                pfl = list(
                                    part_frames[i].inputFiles()
                                )
                                fcache[("part", i)] = pfl
                            pb = 0
                            for fp in pfl:
                                p = (
                                    fp[len("file:"):]
                                    if fp.startswith("file:")
                                    else fp
                                )
                                pb += _os.path.getsize(p)
                            pmin = parts_meta[i].get("ts_min")
                            pmax = parts_meta[i].get("ts_max")
                            if (
                                pmin is not None
                                and pmax is not None
                                and pmax >= pmin
                            ):
                                span = pmax - pmin + 1
                                scan = sum(
                                    max(
                                        0,
                                        min(b, pmax) - max(a, pmin) + 1,
                                    )
                                    for a, b in rngs
                                )
                                pb = int(pb * min(1.0, scan / span))
                            tot_b += pb
                        par = (
                            self.spark.sparkContext.defaultParallelism
                        )
                        n_str = max(
                            1, min(par, -(-tot_b // (1 << 20)))
                        )
                        rr_pairs = rr_pairs.coalesce(int(n_str))
                        n_streams = int(n_str)
                    except Exception:
                        pass  # sizing is best-effort; plan unchanged
                    ns = n_slots

                    def _fold_rr(batches):
                        # per-partition scatter-max of the packed
                        # (reg << 6 | rank) ints into a flat
                        # (codes x 16384) uint8 accumulator; within a
                        # (code, reg) cell max(packed) == the packed
                        # value carrying max(rank), so one pass over
                        # the raw ints needs no pre-aggregation
                        drop_spark_zip_importers()
                        import numpy as np
                        import pandas as pd

                        flat = None
                        for pdf in batches:
                            if not len(pdf):
                                continue
                            if flat is None:
                                flat = np.zeros(ns * HLL_M, np.uint8)
                            rr = pdf["rr"].to_numpy(np.int64)
                            keys = (
                                pdf["c"].to_numpy(np.int64) * HLL_M
                                + (rr >> RR_RANK_BITS)
                            )
                            np.maximum.at(
                                flat,
                                keys,
                                (rr & RR_RANK_MASK).astype(np.uint8),
                            )
                        if flat is None:
                            return
                        regs2d = flat.reshape(ns, HLL_M)
                        live = np.flatnonzero(regs2d.any(axis=1))
                        if not len(live):
                            return
                        yield pd.DataFrame(
                            {
                                "c": live.astype("int32"),
                                "regs": [
                                    regs2d[c].tobytes() for c in live
                                ],
                            }
                        )

                    fold_df = rr_pairs.mapInPandas(
                        _fold_rr, "c int, regs binary"
                    )
                    # Driver-merge bound (VERDICT r11 item 1/item 2 of
                    # "what's wrong"): the collect below pulls one
                    # 16 KiB blob per live code per STREAM — fine at
                    # local[32] (<= codes x 32 blobs), but the stream
                    # cap is defaultParallelism, so a deep boundary on
                    # a real cluster could collect codes x thousands x
                    # 16 KiB (GBs) to the driver.  When the estimated
                    # collect exceeds the cap, insert ONE blob-level
                    # groupBy("c") register-max merge first: the
                    # exchange carries streams x codes x 16 KiB across
                    # the cluster, and the driver collects O(codes)
                    # blobs regardless of parallelism.  Register max
                    # is associative/commutative, so the two-level
                    # fold is byte-identical (pinned by the forced-cap
                    # test).  At the bench geometry (32 streams x ~101
                    # codes x 16 KiB ~= 52 MB < 256 MB) the plan is
                    # UNCHANGED — no local-only tuning.
                    try:
                        est = (
                            n_streams
                            if n_streams is not None
                            else self.spark.sparkContext
                            .defaultParallelism
                        )
                        cap_b = float(
                            _os.environ.get(
                                "TRCK_SPARK_RR_FOLD_DRIVER_MAX_MB",
                                "256",
                            )
                        ) * (1 << 20)
                        if est * n_slots * HLL_M > cap_b:

                            def _merge_rr_blobs(pdf):
                                drop_spark_zip_importers()
                                import numpy as np
                                import pandas as pd

                                out = None
                                for b in pdf["regs"]:
                                    a = np.frombuffer(
                                        bytes(b), np.uint8
                                    )
                                    if out is None:
                                        out = a.copy()
                                    else:
                                        np.maximum(out, a, out)
                                return pd.DataFrame(
                                    {
                                        "c": pdf["c"].iloc[:1],
                                        "regs": [out.tobytes()],
                                    }
                                )

                            fold_df = fold_df.groupBy("c").applyInPandas(
                                _merge_rr_blobs, "c int, regs binary"
                            )
                    except Exception:
                        pass  # bound is best-effort; plan unchanged
                    pcache[ck] = fold_df
                import numpy as np

                b_raw: dict[int, object] = {}
                if fold_df is not None:
                    for r in fold_df.collect():
                        arr = np.frombuffer(
                            bytes(r["regs"]), dtype=np.uint8
                        )
                        c = int(r["c"])
                        prev = b_raw.get(c)
                        b_raw[c] = (
                            arr.copy()
                            if prev is None
                            else np.maximum(prev, arr)
                        )
                if slice_mat is not None:
                    for c in np.flatnonzero(slice_mat.any(axis=1)):
                        c = int(c)
                        prev = b_raw.get(c)
                        b_raw[c] = (
                            slice_mat[c].copy()
                            if prev is None
                            else np.maximum(prev, slice_mat[c])
                        )
                for c, arr in b_raw.items():
                    s = Hll()
                    s.M = bytearray(arr.tobytes())
                    b_code_regs[c] = s.to_hex()
                return (
                    covered_hex,
                    b_code_regs,
                    {
                        "covered_parts": len(covered_entries),
                        "boundary_parts": list(boundary),
                        "boundary_files": boundary_files,
                        "boundary_plan": "rr_fold",
                        "slices_covered": slices_cov or None,
                    },
                )
            pairs = sub.filter(
                (F.col(ts_col).cast("long") >= lo)
                & (F.col(ts_col).cast("long") <= hi)
            ).select(
                F.col(uuid_col).cast("string").alias("u"),
                code_col.cast("int").alias("c"),
            )
            # JVM-side pre-reduction: (cookie, set of matched codes) —
            # the bucketed store scan is already hash-partitioned by
            # uuid, so this HashAggregate runs with NO exchange, and
            # only ~trails rows (not ~events) cross into Python.  The
            # raw event stream through Arrow alone measured 7-10s at a
            # 25M-row boundary; this form moves ~0.8M rows
            grouped = pairs.groupBy("u").agg(
                F.collect_set("c").alias("cs")
            )

            def _fold(batches):
                # per-partition flat scatter-max into a (codes x 2^14)
                # accumulator: one murmur per distinct cookie, registers
                # repeated per matched code, vectorized end to end.
                # Sketch adds are idempotent, so cookies split across
                # file-split partitions just max to the same registers
                drop_spark_zip_importers()
                import numpy as np
                import pandas as pd

                from trck_spark.fsm.hll import (
                    HLL_M,
                    cookie_display_hex,
                    hll_register_updates_vec,
                )

                flat = None
                for pdf in batches:
                    if not len(pdf):
                        continue
                    if flat is None:
                        flat = np.zeros(n_slots * HLL_M, np.uint8)
                    disp = [cookie_display_hex(u) for u in pdf["u"]]
                    reg_u, rank_u = hll_register_updates_vec(disp)
                    lens = np.fromiter(
                        (len(x) for x in pdf["cs"]),
                        np.int64,
                        count=len(pdf),
                    )
                    allc = np.concatenate(
                        [np.asarray(x, np.int64) for x in pdf["cs"]]
                    )
                    regr = np.repeat(np.asarray(reg_u, np.int64), lens)
                    rankr = np.repeat(
                        np.asarray(rank_u, np.uint8), lens
                    )
                    np.maximum.at(flat, allc * HLL_M + regr, rankr)
                if flat is None:
                    return
                regs2d = flat.reshape(n_slots, HLL_M)
                live = [c for c in range(n_slots) if regs2d[c].any()]
                if not live:
                    return
                yield pd.DataFrame(
                    {
                        "c": live,
                        # RAW register bytes, not RLE hex: the driver
                        # merges partition partials with one numpy max
                        # per row — RLE-decoding thousands of partials
                        # in Python costs more than the whole scan
                        "regs": [regs2d[c].tobytes() for c in live],
                    }
                )

            import numpy as np

            b_raw: dict[int, object] = {}
            for r in grouped.mapInPandas(
                _fold, "c int, regs binary"
            ).collect():
                arr = np.frombuffer(bytes(r["regs"]), dtype=np.uint8)
                c = int(r["c"])
                prev = b_raw.get(c)
                b_raw[c] = (
                    arr.copy() if prev is None else np.maximum(prev, arr)
                )
            from trck_spark.fsm.hll import Hll

            for c, arr in b_raw.items():
                s = Hll()
                s.M = bytearray(arr.tobytes())
                b_code_regs[c] = s.to_hex()
        return (
            covered_hex,
            b_code_regs,
            {
                "covered_parts": len(covered_entries),
                "boundary_parts": list(boundary),
                "boundary_files": boundary_files,
            },
        )

    def _run_hll_valueset(
        self, events_df, program: Program, params: dict | None,
        manifest: dict, f0: str, hll_vars: list, values: frozenset,
        ts_conds: list, uuid_col: str, ts_col: str,
        fn_registry: dict | None,
    ):
        """GRIDLESS value-set uniques ('how many unique cookies
        clicked?'): clause 0 matches a driver-resolvable value set on
        ONE field (``field = "lit"``, ``field in #set``, or a
        conjunction — the uniques analog of the set-membership counter
        tier), every yield ``yield cookie to ^x``, no foreach.  The
        answer is the register-max over the member values' manifest
        sketches: a cookie is added iff it has >= 1 event whose value
        is IN the set, and sketch-union == register max makes the
        member merge exact.  Timestamp conjuncts take the same
        covered/boundary decomposition as the foreach tiers.  Values
        absent from the lexicon have zero occurrences by construction.
        Returns None when the decomposition can't be proven."""
        from trck_spark.fsm.hll import EMPTY_HLL_HEX

        union = manifest["dicts"][f0]
        uindex = {v: i + 1 for i, v in enumerate(union)}
        uindex[""] = 0
        codes = sorted(
            {uindex[v] for v in values if v in uindex}
        )
        scope = None
        if not ts_conds:
            hll_roll = (manifest.get("hll_rollups") or {}).get(f0)
            if hll_roll is None or len(hll_roll) != len(union) + 1:
                return None
            member_hexes = [hll_roll[c] for c in codes]
        else:
            sk = self._ts_hll_code_sketches(
                events_df, params, manifest, f0, ts_conds, uuid_col,
                ts_col,
            )
            if sk is None:
                return None
            covered_hex, b_code_regs, scope = sk
            member_hexes = [
                _max_hll_hex(covered_hex[c], b_code_regs.get(c))
                for c in codes
            ]
        merged = EMPTY_HLL_HEX
        for hx in member_hexes:
            merged = _max_hll_hex(hx, merged if merged != EMPTY_HLL_HEX else None)
        per_tuple: dict[int, Results] = {}
        if merged != EMPTY_HLL_HEX:
            res = Results()
            for v in hll_vars:
                # PLAIN register dicts, not _HexRegs: the non-foreach
                # output path folds through Results.merge, which walks
                # the dict items (a hex-backed empty dict would merge
                # to nothing).  One decode for one sketch — no hot loop
                res.hlls[v] = dict(_decode_hll_hex(merged))
            per_tuple[0] = res
        rs = TrckLocalResultSet(
            self, per_tuple, program, None, fn_registry
        )
        if scope is not None:
            rs._ts_scope = scope
        return rs

    def _ts_scoped_partials(
        self, df, program: Program, tuples: list | None, manifest: dict,
        field: str, weights: dict, ts_conds: list, params: dict | None,
        extra_dedup, pred_codes, values=None,
        db_col: str | None = None,
    ):
        """TIME-SCOPED rollup for the EXPLICIT-grid (`*_by_type`) and
        LITERAL counter shapes: aggregated-partials frame =
        rollup-partials(parts fully inside the bound) UNION
        scan-partials(boundary parts only).  Sound because the partials
        consumer (collect_partials) SUMS sum_n across rows of the same
        (tuple_id, var), and rollup-safe shapes yield plain counters
        only.  The boundary scan filters the already-projected union
        frame on __db — each union branch carries a constant __segment,
        so Catalyst folds the filter per branch and prunes covered
        segments' scans entirely.  Returns None when the decomposition
        can't be proved or buys nothing (every part boundary)."""
        from pyspark.sql import functions as F

        interval = _ts_bound_interval(ts_conds, params)
        if interval is None:
            return None
        lo, hi = interval
        union = manifest["dicts"][field]
        parts_meta = manifest.get("parts")
        single = not parts_meta
        if single:
            if manifest.get("ts_min") is None:
                return None
            parts_meta = [{
                "ts_min": manifest.get("ts_min"),
                "ts_max": manifest.get("ts_max"),
                "rollups": manifest.get("rollups") or {},
            }]
        covered = [0] * (len(union) + 1)
        boundary: list[int] = []
        pruned_any = False
        for i, pm in enumerate(parts_meta):
            pr = (pm.get("rollups") or {}).get(field)
            if pr is None or len(pr) != len(union) + 1:
                return None
            pmin, pmax = pm.get("ts_min"), pm.get("ts_max")
            if pmin is None or pmax is None:
                # legacy manifest: rollups without a zone map — scan the
                # part (boundary), never skip it (see _run_ts_scoped_rollup)
                if any(int(x) for x in pr):
                    boundary.append(i)
                continue  # genuinely empty part (all-zero rollup)
            if lo <= pmin and pmax <= hi:
                covered = [a + int(b) for a, b in zip(covered, pr)]
                pruned_any = True
            elif pmax < lo or pmin > hi:
                pruned_any = True
            else:
                boundary.append(i)
        if boundary and (single or not pruned_any):
            return None  # whole-input boundary: the plain scan IS this
        if tuples is not None:
            rp = self._rollup_partials(tuples, union, covered, weights)
            if rp is None:
                return None  # non-string grid binding
        else:
            # literal / set-membership shape: the covered count is the
            # SUM over the matching value set's rollup entries (a value
            # absent from the lexicon has zero occurrences by lexicon
            # construction)
            index = {v: i + 1 for i, v in enumerate(union)}
            index[""] = 0
            n = sum(
                int(covered[index[v]])
                for v in (values or ())
                if v in index
            )
            rows = [
                (0, var, None, None, n * w, n * w)
                for var, w in weights.items()
                if n * w
            ]
            rp = self.spark.createDataFrame(
                rows,
                "tuple_id long, var string, key binary, reg long, "
                "sum_n long, max_n long",
            )
        if not boundary:
            return rp
        if db_col != "__segment":
            # a custom db column's values are not part indices; only the
            # auto segmented form is provably filterable
            return None
        from trck_spark.planner import compile_relational

        # part index -> __segment VALUE(s): plain segmented stores map
        # identity, but a compacted-then-appended store's composite
        # __segment gives part 0 the base's own db values 0..db_max and
        # part i>=1 the value db_max + i (store._open_segmented)
        if manifest.get("db_col"):
            base_max = int(manifest.get("db_max") or 0)
            vals: list[int] = []
            for b in boundary:
                vals.extend(
                    range(base_max + 1) if b == 0 else [base_max + b]
                )
        else:
            vals = [int(b) for b in boundary]
        sub = df.filter(F.col("__db").isin(vals))
        sub._trck_cols = getattr(df, "_trck_cols", None) or tuple(
            df.columns
        )
        agg_scan = compile_relational(
            self, sub, program, tuples, params, extra_dedup,
            no_dedup=True, pred_codes=pred_codes,
        )
        return agg_scan.unionByName(rp)

    def _rollup_partials(self, tuples: list, code_values: list,
                         rollup: list, weights: dict):
        """EXPLICIT-grid rollup answer: aggregated-partials frame
        (tuple_id, var, key, reg, sum_n, max_n — compile_relational's
        output shape) built from the manifest rollup.  A grid value
        absent from the store lexicon has zero occurrences by the
        lexicon's construction (store.py _dict_lexicons collects every
        distinct value) and densifies to its zero row downstream.
        Returns None when a grid binding is not a plain string (caller
        falls back to the scan path)."""
        index = {v: i + 1 for i, v in enumerate(code_values)}
        rows = []
        for ti, tup in enumerate(tuples):
            val = tup[0]
            if not isinstance(val, str):
                return None
            code = 0 if val == "" else index.get(val)
            n = int(rollup[code]) if code is not None else 0
            for var, w in weights.items():
                if n * w:
                    rows.append((ti, var, None, None, n * w, n * w))
        return self.spark.createDataFrame(
            rows,
            "tuple_id long, var string, key binary, reg long, "
            "sum_n long, max_n long",
        )

    def run(
        self,
        events_df,
        program_text_or_ir,
        params: dict | None = None,
        event_filter: dict | None = None,
        window_entries=None,  # list[(uuid,start,end,repl)] | DataFrame
        exclude=None,  # list[str] | DataFrame (first column = uuid)
        uuid_col: str = "uuid",
        ts_col: str = "timestamp",
        seq_col: str | None = None,
        db_col: str | None = None,
        num_partitions: int | None = None,
        fn_registry: dict | None = None,
        dedup_cols: list[str] | None = None,
        assume_clustered: bool = False,
    ) -> TrckResultSet:
        """Run a trck program over an events DataFrame.

        window_entries / exclude side inputs take two forms: a driver-side
        list (CLI file compatibility — reference window_set.c /
        exclude_set.c semantics, broadcast to executors) or a DataFrame
        (uuid[, start, end[, replacement_id]] positional columns) that is
        joined distributed and never materializes on the driver — the
        only form that survives 10^8+-row side inputs.

        seq_col: tie-break for events sharing a timestamp.  When omitted,
        a partition-layout-dependent id is used, so the relative order of
        same-timestamp events — and therefore results of order-sensitive
        programs — can vary across runs and partitionings (the reference
        relies on stable insertion order within a TrailDB file).  Supply
        a real sequence column whenever same-ts ordering matters.

        dedup_cols: extra columns to include in the consecutive-duplicate
        identity beyond the program's referenced fields (the reference
        compares ALL stored fields — src/ctx.c:106-134; by default we
        compare only referenced fields, which is cheaper and equivalent
        unless duplicates differ exclusively in unreferenced columns).

        assume_clustered: caller guarantees every uuid's rows already live
        in a single partition (e.g. the input was written bucketed by
        uuid); skips the repartition shuffle — only the in-partition sort
        runs.  A DataFrame opened via store.open_trail_store carries its
        manifest: clustering is then assumed automatically, and when the
        store proved at write time that no trail repeats a timestamp,
        the consecutive-duplicate skip (whose identity always includes
        ts) is dropped as provably no-op from every compiled plan.
        """
        from pyspark.sql import functions as F

        # --- prepared-plan cache: an identical (input frame, program,
        # options) run re-uses the compiled logical plan through a FRESH
        # Dataset (full re-execution — see _fresh_df).  The Python-side
        # plan construction is the engine's fixed per-query overhead
        # (~0.3-0.5 s of py4j round-trips vs ~1 ms parse+plan in a
        # native engine); caching it gives repeat queries native-style
        # prepared-statement latency.  Strong ref to events_df in the
        # entry keeps the id()-key from being recycled.  Side-input
        # DataFrames and user hooks are not fingerprintable -> skip. ---
        cache_key = None
        if (
            window_entries is None
            and exclude is None
            and fn_registry is None
            and not _os.environ.get("TRCK_SPARK_NO_PLAN_CACHE")
        ):
            try:
                cache_key = (
                    id(events_df),
                    program_text_or_ir
                    if isinstance(program_text_or_ir, str)
                    else json.dumps(program_text_or_ir, sort_keys=True),
                    # no default=str: two distinct non-JSON values with
                    # equal str() (e.g. two equal-schema DataFrames) must
                    # NOT collide into one cache key — anything that is
                    # not plain JSON raises TypeError and skips caching
                    json.dumps(params, sort_keys=True),
                    json.dumps(event_filter, sort_keys=True),
                    uuid_col, ts_col, seq_col, db_col, num_partitions,
                    tuple(dedup_cols)
                    if isinstance(dedup_cols, (list, tuple))
                    else dedup_cols,
                    assume_clustered,
                    bool(_os.environ.get("TRCK_SPARK_NO_FASTPATH")),
                    bool(_os.environ.get("TRCK_SPARK_NO_ROLLUP")),
                )
            except TypeError:
                cache_key = None
            hit = self._plan_cache.get(cache_key) if cache_key else None
            if hit is not None:
                refreshed = hit[1]._refresh()
                if refreshed is not None:
                    return refreshed

        manifest = getattr(events_df, "_trailstore_manifest", None) or {}
        # a SEGMENTED store's manifest carries clustered=False: the
        # union of per-part bucketed scans concatenates partitions, so
        # a uuid's rows are NOT co-located and the repartition must stay
        if manifest.get("uuid_col") == uuid_col and manifest.get(
            "clustered", True
        ):
            assume_clustered = True
        no_dedup = bool(
            manifest.get("ts_unique")
            and manifest.get("uuid_col") == uuid_col
            and manifest.get("ts_col") == ts_col
        )
        # a segmented store IS a multi-DB input (one DB per segment,
        # reference one-tdb-per-period): default the db column so a
        # caller can't silently merge per-segment dedup scopes
        if (
            db_col is None
            and manifest.get("segments")
            and "__segment" in events_df.columns
        ):
            db_col = "__segment"
        # a COMPACTED store persists the original segment index
        # (store.compact_trail_store __db0) — same defaulting, same
        # reason: event order and dedup scoping must replay per DB
        if (
            db_col is None
            and manifest.get("db_col")
            and manifest["db_col"] in events_df.columns
        ):
            db_col = manifest["db_col"]

        q = TrckQuery(
            program_text_or_ir, params=params, fn_registry=fn_registry
        )
        program = q.program
        fields = q.compiled.fields

        # user pre-query hook (reference match_traildb.c:1226-1229,
        # 1248): once on the driver here, once per worker process in
        # _worker_query; the matching `finalize` hook runs driver-side
        # when the result set materializes.
        if fn_registry and "initialize" in fn_registry:
            fn_registry["initialize"]()

        df = events_df
        cols = df.columns

        # --- CNF pre-scan filter: pure Catalyst, pushes to the scan ---
        cond = cnf_to_spark_condition(event_filter, cols)
        if cond is not None:
            df = df.filter(cond)

        exclude_on = exclude is not None and not (
            isinstance(exclude, (list, set, tuple)) and not exclude
        )
        has_window_input = window_entries is not None
        has_db = db_col is not None

        # dedup_cols="all": exact reference parity — the consecutive-dup
        # identity compares EVERY stored field (src/ctx.c:106-134), not
        # just the program-referenced ones (wider Arrow rows; see
        # COVERAGE.md "Known parity divergences")
        if dedup_cols == "all":
            skip = {uuid_col, ts_col, seq_col, db_col}
            dedup_cols = [c for c in cols if c not in skip]
        extra_dedup = [
            c for c in (dedup_cols or []) if c in cols and c not in fields
        ]

        # --- dictionary-code fast path eligibility: when the store
        # carries a lexicon for the implicit-foreach field and the query
        # is the single-scan value-keyed counter shape (no filter/
        # exclude/window inputs), the plan can aggregate on the int
        # ``__c_<field>`` code and decode once post-agg — the
        # dictionary-id aggregation TrailDB/DuckDB execute natively
        # (reference src/db.c:62-113).  Decided here so the code column
        # rides the one canonical projection below. ---
        from trck_spark.planner import (
            _equi_join_fields,
            is_simple_counter_program,
        )

        fastpath_on = not _os.environ.get("TRCK_SPARK_NO_FASTPATH")
        dicts = manifest.get("dicts") or {}
        code_field = None
        if (
            fastpath_on
            and program.implicit_foreach
            and len(program.groupby_vars) == 1
            and not program.merge_results
            and window_entries is None
            and event_filter is None
            and not exclude_on
        ):
            f0 = program.var_fields.get(program.groupby_vars[0])
            if (
                f0 in dicts
                and f0 in cols
                and is_simple_counter_program(program)
                and _equi_join_fields(program)
                == {program.groupby_vars[0]: f0}
            ):
                # --- rollup answer (VERDICT r06 item 4): the store
                # already aggregated (code, count) at WRITE time
                # (store.py _field_rollups), so when the scan would be
                # an identity — ts_unique proves the dedup window a
                # no-op, and rollup_weights proves the program counts
                # every matching event exactly once — the counters
                # frame is built straight from the manifest: ZERO scan.
                # A counter over 100 TB should not rescan events; this
                # is the TrailStore owning its write path the way a
                # native column store owns its zone maps.  The tier
                # needs no columns at all, so it also serves SEGMENTED
                # stores (merged union rollup — store.py
                # _merge_segment_manifests) whose __c_* columns may
                # have been dropped. ---
                from trck_spark.planner import rollup_weights

                rollup = (manifest.get("rollups") or {}).get(f0)
                weights = rollup_weights(
                    program, program.groupby_vars[0], f0
                )
                if (
                    no_dedup
                    and rollup is not None
                    and weights is not None
                    and len(rollup) == len(dicts[f0]) + 1
                    and not _os.environ.get("TRCK_SPARK_NO_ROLLUP")
                ):
                    frame = self._rollup_frame(
                        program, dicts[f0], rollup, weights
                    )
                    return self._cache_put(
                        cache_key,
                        events_df,
                        TrckFrameResultSet(
                            self, frame, program, params, fn_registry
                        ),
                    )
                # --- TIME-SCOPED rollup (VERDICT r07 item 5): same
                # gates, but clause 0 also carries timestamp relops —
                # over a segmented store the per-part zone maps split
                # the answer into rollup(covered) + scan(boundary) ---
                from trck_spark.planner import rollup_weights_ts

                r_ts = rollup_weights_ts(
                    program, program.groupby_vars[0], f0
                )
                if (
                    no_dedup
                    and r_ts is not None
                    and r_ts[1]
                    and rollup is not None
                    and len(rollup) == len(dicts[f0]) + 1
                    and (
                        manifest.get("parts")
                        or manifest.get("ts_min") is not None
                    )
                    and not _os.environ.get("TRCK_SPARK_NO_ROLLUP")
                ):
                    frame = self._run_ts_scoped_rollup(
                        events_df, program, program_text_or_ir, params,
                        manifest, f0, r_ts[0], r_ts[1], uuid_col,
                        ts_col, seq_col,
                    )
                    if frame is not None:
                        return self._cache_put(
                            cache_key,
                            events_df,
                            TrckFrameResultSet(
                                self, frame, program, params, fn_registry
                            ),
                        )
                # dictionary-scan tier needs the code column (a
                # segmented open may have dropped an over-budget field)
                if "__c_" + f0 in cols:
                    code_field = f0
            # --- HLL uniques rollup (VERDICT r08 item 1): a
            # `yield cookie to ^h` query over a store field answers
            # straight from the manifest's per-(field, value) cookie
            # sketches — ZERO scan, no Spark job at all.  Weaker gates
            # than counters: sketch adds are idempotent (reference
            # hll_add is a register max), so neither ts-uniqueness nor
            # dedup proofs are needed; the program shape
            # (rollup_hll_cookie_vars) guarantees the sketch inputs are
            # exactly the matching trails' cookies, and the sketches
            # merge across segments by register max
            # (store._merge_segment_manifests), so the tier survives
            # continuous ingestion like the counter tiers do. ---
            if (
                f0 in dicts
                and f0 in cols
                and manifest.get("uuid_col") == uuid_col
                and not _os.environ.get("TRCK_SPARK_NO_ROLLUP")
            ):
                from trck_spark.planner import rollup_hll_cookie_vars_ts

                r_h = rollup_hll_cookie_vars_ts(
                    program, program.groupby_vars[0], f0
                )
                hll_roll = (manifest.get("hll_rollups") or {}).get(f0)
                if (
                    r_h
                    and not r_h[1]
                    and hll_roll is not None
                    and len(hll_roll) == len(dicts[f0]) + 1
                ):
                    # not plan-cached: re-running costs no Spark work
                    return self._hll_rollup_result(
                        program, params, dicts[f0], hll_roll, r_h[0],
                        fn_registry,
                    )
                # --- TIME-SCOPED uniques: clause 0 also carries
                # timestamp relops.  Sketch union IS register max, so
                # the counter tier's zone-map decomposition applies
                # verbatim — merge(covered parts' manifest sketches,
                # boundary-scan sketches) == the full-scan sketch
                # byte-for-byte, and history never rescans. ---
                if (
                    r_h
                    and r_h[1]
                    and (
                        manifest.get("parts")
                        or manifest.get("ts_min") is not None
                    )
                ):
                    rs = self._run_ts_scoped_hll(
                        events_df, program, program_text_or_ir, params,
                        manifest, f0, r_h[0], r_h[1], uuid_col, ts_col,
                        seq_col, fn_registry,
                    )
                    if rs is not None:
                        return rs

        # --- EXPLICIT-grid uniques (`foreach %v in @arr`): the same two
        # sketch tiers, with the grid's values looked up in the lexicon
        # — a grid value absent from the store's lexicon has, by the
        # lexicon's construction, zero occurrences (empty sketch), the
        # exact analog of the explicit-grid counter rollup ---
        if (
            fastpath_on
            and not program.implicit_foreach
            and program.groupby_vars
            and len(program.groupby_vars) == 1
            and not program.merge_results
            and window_entries is None
            and event_filter is None
            and not exclude_on
            and manifest.get("uuid_col") == uuid_col
            and not _os.environ.get("TRCK_SPARK_NO_ROLLUP")
        ):
            f0 = program.var_fields.get(program.groupby_vars[0])
            if f0 in dicts and f0 in cols:
                from trck_spark.planner import rollup_hll_cookie_vars_ts

                r_h = rollup_hll_cookie_vars_ts(
                    program, program.groupby_vars[0], f0
                )
                hll_roll = (manifest.get("hll_rollups") or {}).get(f0)
                grid_ok = False
                if r_h:
                    try:
                        grid_ok = foreach_tuples(program, params) is not None
                    except Exception:
                        grid_ok = False  # unresolvable grid: normal path
                if (
                    grid_ok
                    and not r_h[1]
                    and hll_roll is not None
                    and len(hll_roll) == len(dicts[f0]) + 1
                ):
                    return self._hll_rollup_result(
                        program, params, dicts[f0], hll_roll, r_h[0],
                        fn_registry,
                    )
                if (
                    grid_ok
                    and r_h[1]
                    and (
                        manifest.get("parts")
                        or manifest.get("ts_min") is not None
                    )
                ):
                    rs = self._run_ts_scoped_hll(
                        events_df, program, program_text_or_ir, params,
                        manifest, f0, r_h[0], r_h[1], uuid_col, ts_col,
                        seq_col, fn_registry,
                    )
                    if rs is not None:
                        return rs

        # --- GRIDLESS value-set uniques ("how many unique cookies
        # clicked?"): clause 0 matches a literal / set-membership value
        # set on one field, yields only `yield cookie to ^x` — the
        # answer is the register-max over the member values' manifest
        # sketches, ts-bounded via the same covered/boundary
        # decomposition ---
        if (
            fastpath_on
            and not program.groupby_vars
            and not program.merge_results
            and window_entries is None
            and event_filter is None
            and not exclude_on
            and manifest.get("uuid_col") == uuid_col
            and not _os.environ.get("TRCK_SPARK_NO_ROLLUP")
        ):
            from trck_spark.planner import rollup_hll_valueset

            r_v = rollup_hll_valueset(program, params)
            if r_v is not None:
                vfield, v_hll_vars, v_ts, v_values = r_v
                if vfield in dicts and vfield in cols and (
                    not v_ts
                    or manifest.get("parts")
                    or manifest.get("ts_min") is not None
                ):
                    rs = self._run_hll_valueset(
                        events_df, program, params, manifest, vfield,
                        v_hll_vars, v_values, v_ts, uuid_col, ts_col,
                        fn_registry,
                    )
                    if rs is not None:
                        return rs

        # --- canonical + program columns in ONE projection (each
        # withColumn is a py4j round-trip + an analysis pass; on
        # sub-second queries the chatter is measurable) ---
        uuid_c = F.col(uuid_col).cast("string")
        sel = [
            uuid_c.alias("__uuid"),
            F.col(ts_col).cast("long").alias("__ts"),
            (
                F.col(seq_col).cast("long")
                if seq_col
                else F.monotonically_increasing_id()
            ).alias("__seq"),
            (
                F.col(db_col).cast("int") if db_col else F.lit(0)
            ).alias("__db"),
        ]
        # canonical 32-hex cookie form of the uuid (matches
        # runner.cookie_to_bytes: well-formed hex passes through, anything
        # else is utf-8 zero-padded to 16 bytes) — exclude/window side
        # inputs are keyed by this form, as in the reference
        if exclude_on or has_window_input:
            sel.append(_uuid_hex_col(uuid_c).alias("__uuid_hex"))
        for f in fields:
            if f in cols:
                # nullable cast, NOT coalesce(.., ''): null reads as ""
                # at every consumer (planner predicates are null-aware,
                # the FSM feed fills ""), but keeping the bare cast lets
                # Catalyst push literal equality filters down to the
                # parquet scan — coalesce() blocks pushdown entirely,
                # which at 100 TB is the difference between pruning
                # row-groups and reading everything
                sel.append(F.col(f).cast("string").alias("__f_" + f))
            else:
                # referenced but absent: reads as "" (reference semantics)
                sel.append(F.lit("").alias("__f_" + f))
        for c in extra_dedup:
            sel.append(
                F.coalesce(F.col(c).cast("string"), F.lit("")).alias(
                    "__d_" + c
                )
            )
        # dictionary-code columns for every program field with a store
        # lexicon: literal predicates compile against the int code
        # (planner.pred_codes_ctx — the TrailDB value-id idea applied to
        # predicates; when no predicate ends up referencing the string
        # column, Catalyst prunes it from the scan entirely)
        pred_codes = (
            {
                f: {v: i + 1 for i, v in enumerate(dicts[f])}
                for f in fields
                if f in dicts and f in cols and "__c_" + f in cols
            }
            if fastpath_on
            else {}
        )
        for f in sorted(set(pred_codes) | ({code_field} - {None})):
            sel.append(
                F.col("__c_" + f).cast("int").alias("__c_" + f)
            )
        df = df.select(*sel)

        # --- exclude anti-join: a driver list broadcasts (CLI exclude
        # files are small); a DataFrame joins distributed — at 100 TB an
        # exclude set is itself big data, so it must never be collected
        # (AQE still broadcasts it when it turns out small) ---
        if exclude_on:
            if isinstance(exclude, (list, set, tuple)):
                excl_df = self.spark.createDataFrame(
                    [(u.lower(),) for u in exclude], schema=["__uuid_hex"]
                )
                df = df.join(
                    F.broadcast(excl_df), "__uuid_hex", "left_anti"
                )
            else:
                excl_df = exclude.select(
                    _uuid_hex_col(
                        F.col(exclude.columns[0]).cast("string")
                    ).alias("__uuid_hex")
                ).distinct()
                df = df.join(excl_df, "__uuid_hex", "left_anti")

        # --- per-uuid window entries: join + range filter.  Entries are a
        # LIST (the same uuid may appear on several lines, each an
        # independent evaluation — reference match_traildb.c:521-549), so
        # every entry needs a distinct __entry id within its uuid. ---
        if has_window_input:
            if isinstance(window_entries, list):
                w_df = self.spark.createDataFrame(
                    [
                        (i, u.lower(), s, e, (r if r else u).lower())
                        for i, (u, s, e, r) in enumerate(window_entries)
                    ],
                    schema=[
                        "__entry", "__uuid_hex", "__wstart", "__wend",
                        "__eff",
                    ],
                )
                w_df = F.broadcast(w_df)
            else:
                # DataFrame form: positional columns (uuid, start, end
                # [, replacement_id]); uuids raw or hex.  __entry comes
                # from a per-uuid row_number — unique within the join key,
                # computed distributed (no driver materialization).
                from pyspark.sql import Window as W

                wc = window_entries.columns
                uhex = _uuid_hex_col(F.col(wc[0]).cast("string"))
                eff = (
                    _uuid_hex_col(
                        F.coalesce(
                            F.col(wc[3]).cast("string"),
                            F.col(wc[0]).cast("string"),
                        )
                    )
                    if len(wc) > 3
                    else uhex
                )
                w_df = window_entries.select(
                    uhex.alias("__uuid_hex"),
                    F.col(wc[1]).cast("long").alias("__wstart"),
                    F.col(wc[2]).cast("long").alias("__wend"),
                    eff.alias("__eff"),
                ).withColumn(
                    "__entry",
                    F.row_number().over(
                        W.partitionBy("__uuid_hex").orderBy(
                            "__wstart", "__wend", "__eff"
                        )
                    ),
                )
            df = df.join(w_df, "__uuid_hex", "inner").filter(
                (F.col("__ts") >= F.col("__wstart"))
                & (F.col("__ts") < F.col("__wend"))
            )

        # --- prune to the live columns (constant metadata columns are
        # NOT shipped through Arrow) ---
        proj = ["__uuid", "__ts", "__seq"]
        if has_db:
            proj.append("__db")
        if has_window_input:
            proj += ["__entry", "__wstart", "__wend", "__eff"]
        proj += ["__f_" + f for f in fields]
        proj += ["__d_" + c for c in extra_dedup]
        proj += [
            "__c_" + f
            for f in sorted(set(pred_codes) | ({code_field} - {None}))
        ]
        df = df.select(*proj)
        # planner reads column membership from this tuple instead of
        # df.columns — each .columns on a fresh plan runs the full JVM
        # analyzer, which is measurable on sub-second queries
        df._trck_cols = tuple(proj)

        from trck_spark.planner import (
            compile_attribution,
            compile_bounce,
            compile_counter_implicit,
            compile_funnel,
            compile_relational,
            compile_sessions,
            is_attribution_program,
            is_bounce_program,
            is_gap_sessions_program,
            is_simple_funnel_program,
        )

        # --- implicit foreach: the field's distinct values in the data ---
        lexicon = None
        if program.implicit_foreach:
            field = program.var_fields.get(program.groupby_vars[0])
            src = None
            if field is not None:
                src = (
                    events_df.select(
                        F.coalesce(
                            F.col(field).cast("string"), F.lit("")
                        ).alias("v")
                    )
                    if field in cols
                    else self.spark.createDataFrame([], "v string")
                )
            # value-keyed fast path: the lexicon stays a DataFrame
            # end-to-end (no driver round-trip; see
            # planner.compile_counter_implicit)
            if (
                fastpath_on
                and src is not None
                and len(program.groupby_vars) == 1
                and not program.merge_results
                and window_entries is None
                and is_simple_counter_program(program)
                and _equi_join_fields(program)
                == {program.groupby_vars[0]: field}
            ):
                # with no filter/exclude the post-filter distinct values
                # ARE the lexicon -> single-scan form (no grid subquery);
                # a store lexicon upgrades it to the code-keyed form
                need_grid = event_filter is not None or exclude_on
                frame = compile_counter_implicit(
                    self, df, program,
                    src.distinct() if need_grid else None,
                    params, extra_dedup, no_dedup=no_dedup,
                    code_col="__c_" + code_field if code_field else None,
                    code_values=dicts.get(code_field)
                    if code_field
                    else None,
                    pred_codes=pred_codes,
                )
                return self._cache_put(
                    cache_key,
                    events_df,
                    TrckFrameResultSet(
                        self, frame, program, params, fn_registry
                    ),
                )
            # FSM / tuple-grid path: the grid must materialize (the task
            # closure ships it), so cap the cardinality with a hard error
            # instead of silently OOMing the driver at scale
            if field is None:
                lexicon = []
            else:
                cap = int(
                    _os.environ.get("TRCK_SPARK_MAX_LEXICON", "1000000")
                )
                head = src.distinct().limit(cap + 1).collect()
                if len(head) > cap:
                    raise ValueError(
                        f"implicit foreach over field {field!r} exceeds "
                        f"{cap} distinct values; use an explicit foreach "
                        "grid or raise TRCK_SPARK_MAX_LEXICON"
                    )
                lexicon = [r["v"] for r in head if r["v"]]
        tuples = foreach_tuples(program, params, lexicon_values=lexicon)

        # --- fast path: simple counter programs compile to pure Catalyst
        # (no Python workers, whole-stage codegen; see planner.py) ---
        if fastpath_on and is_simple_counter_program(program):
            # EXPLICIT-grid rollup (the `*_by_type` family): same gates
            # as the implicit form — ts_unique store, rollup-safe shape
            # — with the grid's values looked up in the lexicon (a grid
            # value absent from the store's lexicon has, by the lexicon
            # construction, zero occurrences)
            agg_df = None
            rollup_ok = (
                not program.merge_results
                and window_entries is None
                and event_filter is None
                and not exclude_on
                and no_dedup
                and not _os.environ.get("TRCK_SPARK_NO_ROLLUP")
            )
            if rollup_ok and (
                tuples is not None and len(program.groupby_vars) == 1
            ):
                from trck_spark.planner import (
                    rollup_weights,
                    rollup_weights_ts,
                )

                gvar = program.groupby_vars[0]
                gfield = program.var_fields.get(gvar)
                grollup = (manifest.get("rollups") or {}).get(gfield)
                gweights = rollup_weights(program, gvar, gfield)
                if (
                    grollup is not None
                    and gweights is not None
                    and gfield in dicts
                    and len(grollup) == len(dicts[gfield]) + 1
                    and _equi_join_fields(program) == {gvar: gfield}
                ):
                    agg_df = self._rollup_partials(
                        tuples, dicts[gfield], grollup, gweights
                    )
                elif (
                    grollup is not None
                    and gfield in dicts
                    and len(grollup) == len(dicts[gfield]) + 1
                    and _equi_join_fields(program) == {gvar: gfield}
                ):
                    # TIME-SCOPED form: clause 0 adds timestamp relops —
                    # rollup(covered parts) + scan(boundary parts only)
                    g_ts = rollup_weights_ts(program, gvar, gfield)
                    if g_ts is not None and g_ts[1]:
                        agg_df = self._ts_scoped_partials(
                            df, program, tuples, manifest, gfield,
                            g_ts[0], g_ts[1], params, extra_dedup,
                            pred_codes, db_col=db_col,
                        )
            elif rollup_ok and tuples is None and not program.groupby:
                # LITERAL / SET-MEMBERSHIP counter (`field = "lit"`,
                # `field in #set`, or any conjunction of both on ONE
                # field — the count-matching-events shapes): same
                # gates; the matching VALUE SET is resolved driver-side
                # (planner.rollup_weights_ts_valueset) and the answer
                # is the sum of its rollup entries.  Timestamp relop
                # conjuncts take the time-scoped decomposition.
                from trck_spark.planner import rollup_weights_ts_valueset

                vs = rollup_weights_ts_valueset(program, params)
                if vs is not None:
                    lfield, lweights, lconds, lvalues = vs
                    lrollup = (manifest.get("rollups") or {}).get(
                        lfield
                    )
                    if (
                        lfield in dicts
                        and lrollup is not None
                        and len(lrollup) == len(dicts[lfield]) + 1
                    ):
                        if lconds:
                            agg_df = self._ts_scoped_partials(
                                df, program, None, manifest, lfield,
                                lweights, lconds, params,
                                extra_dedup, pred_codes,
                                values=lvalues, db_col=db_col,
                            )
                        else:
                            lindex = {
                                v: i + 1
                                for i, v in enumerate(dicts[lfield])
                            }
                            lindex[""] = 0
                            n = sum(
                                int(lrollup[lindex[v]])
                                for v in lvalues
                                if v in lindex
                            )
                            rows = [
                                (0, var, None, None, n * w, n * w)
                                for var, w in lweights.items()
                                if n * w
                            ]
                            agg_df = self.spark.createDataFrame(
                                rows,
                                "tuple_id long, var string, "
                                "key binary, reg long, sum_n long, "
                                "max_n long",
                            )
            if agg_df is None:
                agg_df = compile_relational(
                    self, df, program, tuples, params, extra_dedup,
                    no_dedup=no_dedup, pred_codes=pred_codes,
                )
            return self._cache_put(
                cache_key,
                events_df,
                TrckResultSet(self, agg_df, program, tuples, fn_registry),
            )
        if fastpath_on:
            # funnels compile for any stream order: single-db uses the
            # min-agg rewrite, multi-db the stream-position form
            # (planner.compile_funnel db branch) — except grids, where
            # the segment-max guard would need every event per tuple
            # (FSM path instead).  sessions/bounce/attribution compile
            # exactly for any stream order with db_col set.
            if is_simple_funnel_program(program) and not (
                has_db and program.groupby
            ):
                agg_df = compile_funnel(
                    self, df, program, tuples, extra_dedup,
                    no_dedup=no_dedup, clustered=assume_clustered,
                    pred_codes=pred_codes,
                )
                return self._cache_put(
                    cache_key,
                    events_df,
                    TrckResultSet(
                        self, agg_df, program, tuples, fn_registry
                    ),
                )
            for match, compiler in (
                (is_gap_sessions_program, compile_sessions),
                (is_bounce_program, compile_bounce),
                (is_attribution_program, compile_attribution),
            ):
                if match(program):
                    # grid attribution uses the exists-rewrite, which
                    # needs monotonic per-trail stream order (single db)
                    if (
                        compiler is compile_attribution
                        and program.groupby
                        and has_db
                    ):
                        break
                    grid_tuples = tuples if program.groupby else None
                    agg_df = compiler(
                        self, df, program, grid_tuples, extra_dedup,
                        no_dedup=no_dedup, pred_codes=pred_codes,
                    )
                    return self._cache_put(
                        cache_key,
                        events_df,
                        TrckResultSet(
                            self, agg_df, program, tuples, fn_registry
                        ),
                    )

        # --- FSM path from here: the interpreter consumes strings, so
        # the dictionary-code columns are dead weight in the Arrow feed ---
        if pred_codes or code_field:
            keep = [c for c in proj if not c.startswith("__c_")]
            df = df.select(*keep)
            df._trck_cols = tuple(keep)
            proj = keep

        # --- the single shuffle: co-locate each trail, sort within
        # (skipped entirely when the input is already uuid-clustered) ---
        if not assume_clustered:
            if num_partitions:
                df = df.repartition(num_partitions, "__uuid")
            else:
                df = df.repartition("__uuid")
        sort_cols = [
            c
            for c in ("__uuid", "__entry", "__db", "__ts", "__seq")
            if c in proj
        ]
        df = df.sortWithinPartitions(*sort_cols)

        spec_json = json.dumps(
            {
                "ir": program.ir,
                "params": params,
                "tuples": [
                    [list(x) if isinstance(x, tuple) else x for x in tup]
                    for tup in tuples
                ]
                if tuples is not None
                else None,
                # the grid-pruning kill switch rides in the spec:
                # executor Python workers don't see driver env changes
                # made after session start (fuzz toggles it per run)
                "no_grid_prune": _os.environ.get(
                    "TRCK_SPARK_NO_GRID_PRUNE"
                ) == "1",
            },
            default=str,
        )
        n_fields = len(fields)

        # --- run telemetry (the reference's per-DB log counters:
        # trails, events, match calls, early-breaks —
        # match_traildb.c:750-776, 854-870).  Spark accumulators merge
        # per-task on completion; like all accumulators the counts can
        # overcount under stage retries, AND under recomputation — a
        # second action on an uncached agg_df (e.g. collect_json then
        # counters_df) re-runs evaluate and doubles every counter.
        # Read telemetry() after exactly one materialization; this is
        # observability, never an input to results. ---
        _sc = self.spark.sparkContext
        telemetry = {
            "trails": _sc.accumulator(0),
            "events": _sc.accumulator(0),
            "fsm_runs": _sc.accumulator(0),
            "grid_shared": _sc.accumulator(0),
        }

        def evaluate(batches: Iterator) -> Iterator:
            import pandas as pd

            q, tuples_w = _worker_query(spec_json, fn_registry)
            agg: dict[int, Results] = {}
            trail_rows: list = []
            trail_key = None
            trail_meta = (0, 0, "")
            tstats = {"trails": 0, "events": 0}

            def flush_trail():
                if not trail_rows:
                    return
                tstats["trails"] += 1
                tstats["events"] += len(trail_rows)
                wstart, wend, eff = trail_meta
                # per-db consecutive-duplicate skip, then concat (dedup
                # identity = ts + program fields + extra dedup_cols)
                events: list = []
                db_cur = None
                db_rows: list = []
                for db, ts, vals, dk in trail_rows:
                    if db != db_cur and db_rows:
                        events.extend(
                            (t, v)
                            for t, v, _d in dedup_consecutive(db_rows)
                        )
                        db_rows = []
                    db_cur = db
                    db_rows.append((ts, vals, dk))
                if db_rows:
                    events.extend(
                        (t, v) for t, v, _d in dedup_consecutive(db_rows)
                    )
                cookie = _cookie_from_uuid(eff)
                per_tuple = q.trail_results(
                    events, cookie, tuples_w, wstart, wend, stats=tstats
                )
                for ti, res in per_tuple.items():
                    acc = agg.get(ti)
                    if acc is None:
                        acc = Results()
                        agg[ti] = acc
                    acc.merge(res)
                trail_rows.clear()

            import numpy as np

            for pdf in batches:
                m = len(pdf)
                if m == 0:
                    continue
                have = set(pdf.columns)
                uuids = pdf["__uuid"].values
                entries = (
                    pdf["__entry"].values if "__entry" in have else None
                )
                dbs = (
                    pdf["__db"].tolist() if "__db" in have else [0] * m
                )
                tss = pdf["__ts"].tolist()
                wstarts = (
                    pdf["__wstart"].values if "__wstart" in have else None
                )
                wends = pdf["__wend"].values if "__wend" in have else None
                effs = pdf["__eff"].values if "__eff" in have else uuids
                # bulk-zip event rows: (db, ts, vals, dedup-key) per row
                # __f_ is a bare nullable cast (parquet pushdown); the
                # FSM reads null as "" (reference absent-value semantics)
                fcols = [
                    pdf["__f_" + f].fillna("").tolist()
                    for f in q.compiled.fields
                ]
                if fcols:
                    vals_iter = list(zip(*fcols))
                else:
                    vals_iter = [()] * m
                dcols = [pdf["__d_" + c].tolist() for c in extra_dedup]
                if dcols:
                    dk_iter = list(zip(*dcols))
                else:
                    dk_iter = [()] * m
                rows = list(zip(dbs, tss, vals_iter, dk_iter))
                # trail boundaries where (uuid, entry) changes
                change = np.empty(m, dtype=bool)
                change[0] = True
                if m > 1:
                    change[1:] = uuids[1:] != uuids[:-1]
                    if entries is not None:
                        change[1:] |= entries[1:] != entries[:-1]
                bounds = np.flatnonzero(change).tolist() + [m]
                for bi in range(len(bounds) - 1):
                    s, e = bounds[bi], bounds[bi + 1]
                    key = (
                        uuids[s],
                        entries[s] if entries is not None else 0,
                    )
                    if key != trail_key:
                        flush_trail()
                        trail_key = key
                        trail_meta = (
                            int(wstarts[s]) if wstarts is not None else 0,
                            int(wends[s]) if wends is not None else 0,
                            effs[s],
                        )
                    trail_rows.extend(rows[s:e])
            flush_trail()

            out_rows = []
            for ti, res in agg.items():
                for var, n in res.counters.items():
                    out_rows.append((ti, var, None, None, n))
                for var, d in res.sets.items():
                    for key_b, n in d.items():
                        out_rows.append((ti, var, key_b, None, n))
                for var, d in res.hlls.items():
                    for reg, rank in d.items():
                        out_rows.append((ti, var, None, reg, rank))
            for k, acc in telemetry.items():
                acc.add(tstats.get(k, 0))
            yield pd.DataFrame(
                out_rows, columns=["tuple_id", "var", "key", "reg", "n"]
            )

        partials = df.mapInPandas(evaluate, schema=PARTIAL_SCHEMA)

        from pyspark.sql import functions as F2

        agg_df = partials.groupBy("tuple_id", "var", "key", "reg").agg(
            F2.sum("n").alias("sum_n"), F2.max("n").alias("max_n")
        )
        return TrckResultSet(
            self, agg_df, program, tuples, fn_registry, telemetry=telemetry
        )


def _cookie_from_uuid(uuid: str) -> bytes:
    """uuid string -> 16 effective cookie bytes (hex when well-formed,
    else zero-padded raw — mirrors the fixture loader)."""
    if len(uuid) == 32:
        try:
            return bytes.fromhex(uuid)
        except ValueError:
            pass
    return uuid.encode().ljust(16, b"\0")[:16]
