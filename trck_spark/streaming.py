"""Structured Streaming execution of trck programs.

The reference is strictly batch, but its cross-file state carry (a global
uuid -> FSM-state map persisted between TrailDBs — match_traildb.c:372-394,
812-849) is exactly the shape of a streaming stateful operator: here each
micro-batch plays the role of one TrailDB, and ``applyInPandasWithState``
keeps each trail's per-tuple FSM states between batches.

Semantics notes (mirroring the reference's cross-DB behavior):
- events are ordered within a batch (timestamp, seq); cross-batch order is
  arrival order — the reference behaves the same across DB files;
- consecutive-duplicate skip applies within a batch only (the reference's
  duplicate check never spans file boundaries);
- when a trail goes idle for ``finalize_after_ms`` of processing time, OR
  when the event-time watermark passes its last event by
  ``finalize_idle_gap`` seconds, the end-of-data sentinel runs (pending
  ``after`` edges fire) and the state is dropped — the streaming analog of
  end-of-run finalization.  The event-time form is deterministic w.r.t.
  the data (replay-safe): idle trails finalize because the *stream*
  advanced past them, not because wall-clock elapsed.

The operator emits partial monoid rows (tuple_id, var, key, reg, n); sum
them with ``aggregate_partials`` (e.g. inside foreachBatch) exactly like
the batch engine's final aggregation.
"""

from __future__ import annotations

import json
import os
import pickle
from typing import Any, Iterator

from trck_spark.engine import PARTIAL_SCHEMA, _cookie_from_uuid, _worker_query
from trck_spark.fsm.interpreter import (
    Results,
    SENTINEL,
    State,
    dedup_consecutive,
    finalize_needed,
    get_matcher,
)

STREAM_PARTIAL_SCHEMA = "uuid string, " + PARTIAL_SCHEMA
STATE_SCHEMA = "blob binary"

# End-of-trail marker timestamp for stream events (int64 max — the true
# finalization sentinel 2^64-2 doesn't fit a signed long column; any event
# at or beyond this value triggers finalization instead of being matched).
STREAM_END_TS = (1 << 63) - 1

# Versioned per-trail state blob.  v2 = dict layout {"v", "ms", "ts",
# "eff", "prev"}; pre-versioning checkpoints pickled bare tuples
# ((machine_states, last_ts) then (machine_states, last_ts, eff)) —
# _load_state migrates both instead of crashing the executor with an
# opaque unpack ValueError on resume-from-old-checkpoint.
_STATE_VERSION = 2

# Versioned BUCKET state blob (r12 secondary grouping): {"bv": 3,
# "nb": state_buckets width (absent in older blobs),
# "t": {skey: v2 trail blob}, "dl": {skey: deadline_ms},
# "pt": {skey: last_data_ms}} — one blob per hash(uuid)%N bucket, each
# trail's entry the unchanged v2 per-trail layout.  Distinguished from
# v2 blobs by the "bv" key, so per-trail-grouping checkpoints migrate
# in place when buckets are disabled.
_BUCKET_STATE_VERSION = 3


def _load_state(blob) -> tuple[dict, Any, Any, Any, set]:
    """state blob -> (machine_states, last_ts, eff, prev_event,
    hll_emitted), migrating pre-versioning tuple layouts (prev_event /
    eff default None; ``he`` — the emit-once set for cookie-only sketch
    yields, r10 — is an OPTIONAL v2 key so older checkpoints resume
    cleanly with an empty set)."""
    data = pickle.loads(bytes(blob))
    if isinstance(data, dict):
        v = data.get("v")
        if v != _STATE_VERSION:
            raise ValueError(
                f"streaming state version {v!r} is newer than this build "
                f"supports ({_STATE_VERSION}); upgrade trck_spark or "
                "restart the query from a fresh checkpoint"
            )
        he: set = set()
        if data.get("he2"):
            import numpy as np

            for var, blob in data["he2"].items():
                for ti in np.frombuffer(blob, "<i4"):
                    he.add((int(ti), var))
        elif data.get("he"):
            he = {(int(ti), var) for ti, var in data["he"]}
        return data["ms"], data["ts"], data["eff"], data["prev"], he
    if isinstance(data, tuple) and len(data) == 2:
        return data[0], data[1], None, None, set()
    if isinstance(data, tuple) and len(data) == 3:
        return data[0], data[1], data[2], None, set()
    raise ValueError(
        "unrecognized streaming state blob (not a v2 dict or a known "
        "legacy tuple layout); the checkpoint was not written by "
        "trck_spark.streaming"
    )


def _dump_state(machine_states, last_ts, eff, prev_event,
                hll_emitted=()) -> bytes:
    out = {
        "v": _STATE_VERSION,
        "ms": machine_states,
        "ts": last_ts,
        "eff": eff,
        "prev": prev_event,
    }
    if hll_emitted:
        # compact var-keyed int32 arrays instead of a list of (ti, var)
        # tuples: at a 100-value grid the emit-once set dominates the
        # per-trail blob, and pickling ~100 tuples per trail per batch
        # was the profiled (un)pickle floor (VERDICT r10 item 3)
        import numpy as np

        by_var: dict = {}
        for ti, var in hll_emitted:
            by_var.setdefault(var, []).append(ti)
        out["he2"] = {
            v: np.array(sorted(t), "<i4").tobytes()
            for v, t in by_var.items()
        }
    return pickle.dumps(out)


def _load_bucket_state(raw: bytes, n_buckets: int):
    """bucket blob -> (trails, dl, pt), or None when ``raw`` is a
    per-trail (v2/legacy) blob.  Raises ValueError when the blob was
    written under a different ``state_buckets`` width: trails would
    now hash to other buckets and their state would be stranded.
    Blobs written before the width was recorded load unchecked."""
    data = pickle.loads(raw)
    if not (isinstance(data, dict) and "bv" in data):
        return None
    if data["bv"] != _BUCKET_STATE_VERSION:
        raise ValueError(
            f"streaming bucket-state version {data['bv']!r} is newer "
            f"than this build supports ({_BUCKET_STATE_VERSION}); "
            "upgrade trck_spark or restart from a fresh checkpoint"
        )
    nb = data.get("nb")
    if nb is not None and nb != n_buckets:
        raise ValueError(
            f"streaming checkpoint was written with state_buckets={nb}"
            f", this query runs with state_buckets={n_buckets}; resume "
            f"with state_buckets={nb} or restart from a fresh checkpoint"
        )
    return data["t"], data.get("dl") or {}, data.get("pt") or {}


def _dump_bucket_state(trails: dict, dl: dict, pt: dict,
                       n_buckets: int) -> bytes:
    out: dict = {"bv": _BUCKET_STATE_VERSION, "nb": n_buckets, "t": trails}
    if dl:
        out["dl"] = dl
    if pt:
        out["pt"] = pt
    return pickle.dumps(out)


def _cookie_only_hll_vars(ir) -> frozenset:
    """``^hll`` vars whose EVERY yield across the whole program is the
    bare ``cookie`` — for those, a trail contributes exactly ONE fixed
    (register, rank) per (tuple, var) (the murmur of its own cookie),
    so re-emitting it every micro-batch is pure downstream-merge noise.
    The streaming step suppresses re-emission via a tiny per-trail
    emitted-set carried in state (sketch adds are idempotent, so an
    at-least-once replay after a failure stays correct)."""
    found: dict = {}

    def walk(x):
        if isinstance(x, dict):
            for k, v in x.items():
                if k == "yield" and isinstance(v, list):
                    for y in v:
                        dst = y.get("dst") if isinstance(y, dict) else None
                        if isinstance(dst, str) and dst.startswith("^"):
                            src = y.get("src") or []
                            ok = (
                                len(src) == 1
                                and isinstance(src[0], dict)
                                and src[0].get("_k") == "field"
                                and src[0].get("name") == "cookie"
                            )
                            found[dst] = found.get(dst, True) and ok
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)

    walk(ir)
    return frozenset(v for v, ok in found.items() if ok)


_PRUNE_ABSENT = ("__absent__",)


def _is_repeat_only_cookie_hll(program, cookie_hll_vars) -> bool:
    """True for the pure streaming-uniques shape: ONE state, every
    clause a repeat (no quit/stop/transitions/windows/after), every
    yield a bare ``cookie`` into a ``^`` var.  Such a machine can never
    leave the initial state, and its only effect per (trail, tuple) is
    the trail's own fixed (register, rank) — so once that emitted
    (the emit-once set), re-running the machine is provably a no-op
    and the step skips it outright.  Combined with the projection
    cache, steady-state FSM runs drop to ~first-co-occurrence only."""
    from trck_spark.ir import A_REPEAT

    if len(program.rules) != 1:
        return False
    r = program.rules[0]
    if r.get("window") is not None or "after" in r or r.get("outer"):
        return False
    clauses = r.get("clauses") or []
    if not clauses or not cookie_hll_vars:
        return False
    for c in clauses:
        if c["_action"][0] != A_REPEAT:
            return False
        for y in c.get("yield", []) or []:
            if y["dst"] not in cookie_hll_vars:
                return False
    return True


_PRUNE_PRESENT = ("__present__",)


def _value_indep_uniques(program, cookie_hll_vars, repeat_only) -> bool:
    """True when every PRESENT grid value's machine provably produces
    the IDENTICAL result over a trail's batch — so one run serves all
    of them (cache group ``_PRUNE_PRESENT``).

    Holds for the canonical uniques grid: single foreach var, single
    rule, exactly one yielding clause whose predicate is exactly
    ``field = %v`` (no other conjuncts, not negated), yields all
    cookie-only ``^`` vars (so the result is the trail's own fixed
    registers — idempotent, count-free), every other clause a no-op,
    and a catch-all present (exhaustiveness can't depend on the
    binding).  A machine for present value v1 and one for v2 then
    differ only in WHICH events match the yielding clause — and every
    match adds the same cookie registers, so the Results and the final
    (initial) state are equal.  The profiled 100-value gate stream
    spent 87% of step time re-running the interpreter once per present
    value per trail-batch; this collapses that to one run."""
    if not repeat_only:
        return False
    gvars = program.groupby_vars or []
    if len(gvars) != 1 or gvars[0].startswith("#"):
        return False
    v = gvars[0]
    if v in program.param_yield_vars:
        return False
    field = program.var_fields.get(v)
    if not field or field == "timestamp":
        return False
    clauses = program.rules[0].get("clauses") or []
    acting = [c for c in clauses if c.get("yield")]
    if len(acting) != 1:
        return False
    c0 = acting[0]
    if c0.get("op") == "not" or c0.get("attrs") != {field: [v]}:
        return False
    if not all(
        y["dst"] in cookie_hll_vars for y in c0["yield"]
    ):
        return False
    # exhaustiveness must not depend on the binding: a plain catch-all
    has_catchall = any(
        not c.get("attrs") and c.get("op") != "not" for c in clauses
    )
    return has_catchall


def _stream_prune_meta(q, fields: list) -> tuple:
    """Per-batch grid-pruning plan for the stateful step — the
    reference's GROUPBY_USED distinct-value memoization
    (match_traildb.c:653-744) applied per (trail, micro-batch), with
    the carried FSM state as an extra cache dimension.

    Two grid tuples take IDENTICAL transitions through a batch when
    (a) their projection keys over the batch's distinct field values
    match (params.projection_key — values absent from the batch can
    never satisfy an equality predicate, so all absent values are
    interchangeable; the batch engine's run cache is built on exactly
    this, differential-fuzzed both ways), and (b) their carried machine
    states match.  The step then runs ONE machine per (projection,
    state) group instead of one per grid tuple — at a 100-value grid
    with a handful of values per trail-batch that is a ~20x cut in
    matcher calls.

    Returns ("off",) | ("fast", field_index) | ("generic", {field:
    index}): "fast" is the single-scalar-var special case where the
    projection key reduces to value-present-or-absent on one field."""
    program = q.program
    gvars = program.groupby_vars or []
    if getattr(q, "no_grid_prune", False) or not gvars:
        return ("off",)
    vf = program.var_fields
    findex = {f: i for i, f in enumerate(fields)}
    v0 = gvars[0]
    if (
        len(gvars) == 1
        and not v0.startswith("#")
        and v0 not in program.param_yield_vars
        and vf.get(v0) not in (None, "timestamp")
        and vf[v0] in findex
    ):
        return ("fast", findex[vf[v0]])
    need = {}
    for v in gvars:
        f = vf.get(v)
        if f is not None and f != "timestamp" and f in findex:
            need[f] = findex[f]
    return ("generic", need)


def _profiled_step(step):
    """Debug wrapper (TRCK_SPARK_STEP_PROFILE=1): cProfile the stateful
    step inside each python worker, dumping cumulative stats to
    /tmp/trck_step_prof_<pid>.txt every 20k groups."""
    box: dict = {}  # profiler created lazily IN the worker (unpicklable)

    def wrapped(key, pdf_iter, state):
        import cProfile
        import io
        import pstats

        if "pr" not in box:
            box["pr"] = cProfile.Profile()
            box["n"] = 0
        pr = box["pr"]
        pr.enable()
        try:
            out = list(step(key, pdf_iter, state))
        finally:
            pr.disable()
        box["n"] += 1
        if box["n"] % 5000 == 0:
            buf = io.StringIO()
            pstats.Stats(pr, stream=buf).sort_stats(
                "cumulative"
            ).print_stats(25)
            with open(f"/tmp/trck_step_prof_{os.getpid()}.txt", "w") as f:
                f.write(f"groups={box['n']}\n" + buf.getvalue())
        yield from out

    return wrapped


_ROW_COLS = ["uuid", "tuple_id", "var", "key", "reg", "n"]


_ROWS_FRAME_PATH = None  # "fast" | "fallback" — canary observability


def _rows_frame(rows):
    """Partial-row pandas frame via a single object block: the plain
    ``pd.DataFrame(list_of_tuples, columns=...)`` constructor costs
    ~300us per call regardless of row count, and the stateful step
    builds one frame per EMITTING (trail, batch) — at a 100-value
    uniques grid that constructor alone was a measurable slice of the
    per-event budget.  Falls back to the plain constructor if the
    pandas internals API moves; Arrow conversion downstream is
    identical (all-object columns infer the same types).  The taken
    path is recorded in ``_ROWS_FRAME_PATH`` so the canary test
    (tests/test_streaming.py) fails LOUDLY when an environment bump
    silently forfeits the fast constructor (VERDICT r11 item 8)."""
    global _ROWS_FRAME_PATH
    import pandas as pd

    try:
        import numpy as np
        from pandas import Index, RangeIndex
        from pandas.core.internals.api import make_block
        from pandas.core.internals.managers import BlockManager

        n = len(rows)
        arr = np.empty((6, n), object)
        for j, r in enumerate(rows):
            (arr[0, j], arr[1, j], arr[2, j],
             arr[3, j], arr[4, j], arr[5, j]) = r
        blk = make_block(arr, placement=slice(0, 6))
        mgr = BlockManager(
            [blk], [Index(_ROW_COLS), RangeIndex(n)],
            verify_integrity=False,
        )
        out = pd.DataFrame._from_mgr(mgr, [])
        _ROWS_FRAME_PATH = "fast"
        return out
    except Exception:
        _ROWS_FRAME_PATH = "fallback"
        return pd.DataFrame(rows, columns=_ROW_COLS)


def _results_rows(uuid: str, agg: dict[int, Results]) -> list[tuple]:
    rows = []
    for ti, res in agg.items():
        for var, n in res.counters.items():
            rows.append((uuid, ti, var, None, None, n))
        for var, d in res.sets.items():
            for key_b, n in d.items():
                rows.append((uuid, ti, var, key_b, None, n))
        for var, d in res.hlls.items():
            for reg, rank in d.items():
                rows.append((uuid, ti, var, None, reg, rank))
    return rows


def streaming_partials(
    events_sdf,
    program_text_or_ir,
    params: dict | None = None,
    uuid_col: str = "uuid",
    ts_col: str = "timestamp",
    seq_col: str | None = None,
    foreach_values: list | None = None,
    finalize_after_ms: int = 0,
    finalize_idle_gap: int | None = None,
    watermark_delay: str = "0 seconds",
    exclude_df=None,
    window_df=None,
    fn_registry: dict | None = None,
    dedup_cols: list | str | None = None,
    dedup_carry: bool = False,
    state_buckets: int | None = None,
):
    """streaming events DataFrame -> streaming partial-monoid rows.

    state_buckets: secondary-grouping width for the stateful step —
    trails are grouped by ``hash(uuid) % state_buckets`` and iterated
    inside the step, amortizing applyInPandasWithState's fixed
    per-group cost over bucket-many trails (identical results: state,
    dedup scoping and finalization deadlines stay per-trail inside the
    bucket blob).  Default (None): ``TRCK_SPARK_STREAM_BUCKETS`` or
    ``max(32, 4 x defaultParallelism)``.  Pass 0 to group per trail
    (required to RESUME a pre-bucketing checkpoint: its state keys are
    uuids, which only the per-trail grouping can address).

    foreach_values: for implicit-foreach programs the lexicon cannot be
    computed from an unbounded stream; pass the value list explicitly.

    fn_registry: FFI functions for ``yield fn(...)`` terms, shipped to
    executors in the state-step closure exactly like the batch engine's
    UDF closure (engine._worker_query; the reserved ``initialize`` hook
    runs once per worker there) — batch and streaming accept the same
    registry.

    dedup_cols: extra columns for the consecutive-duplicate identity
    beyond the program's referenced fields, or "all" for every stored
    column (the reference's exact identity) — the batch engine's
    dedup_cols contract, applied per micro-batch the way the batch
    path applies it per source db.

    dedup_carry: by default (False) the consecutive-duplicate skip is
    scoped to each micro-batch — the micro-batch == source-db analogy,
    matching the reference's duplicate check which never spans file
    boundaries (src/ctx.c:106-134).  With True, each trail carries its
    last event in state and dedups against it at batch start, so a
    duplicate straddling an ARBITRARY micro-batch boundary is dropped —
    the right semantics when the stream is one continuous event source
    whose trigger boundaries are incidental (then streaming == the
    batch engine on the same data as a single db, regardless of how
    the triggers slice it).

    exclude_df / window_df: the batch engine's side inputs, streaming
    form — both are STATIC DataFrames (the reference's exclude/window
    files are fixed per query run), applied as stream-static joins
    before the stateful step, so the micro-batch path needs no state
    for them.  exclude_df: first column = uuid (raw or 32-hex cookie
    form); matching trails are dropped via a stream-static left join +
    null filter (left_anti is not a supported stream-static join
    type).  window_df: positional columns (uuid, start, end
    [, replacement_id]) with the batch engine's semantics — each entry
    is an independent evaluation of the uuid's events inside
    [start, end), reported under replacement_id when given
    (engine.py window-entries join); the stateful group key becomes
    (ORIGINAL uuid, entry) — matching the batch engine's trail
    boundaries — with the effective (possibly rebound) uuid carried as
    a column and used only for the cookie and the reported uuid, so
    two uuids sharing one replacement_id still evaluate as separate
    trails.

    finalize_after_ms > 0 arms a processing-time timeout per trail that
    fires pending ``after`` edges once the trail goes idle.

    finalize_idle_gap (seconds, event time) instead arms an event-time
    timeout: a trail finalizes once the stream's watermark passes its
    last event by the gap.  The watermark is derived from the event
    timestamp column with ``watermark_delay`` late-data allowance, so
    finalization depends only on the data, never on wall clock.  Standard
    watermark semantics apply: events at or below the current watermark
    are dropped as late — size watermark_delay to the stream's real
    disorder (and note the initial watermark is epoch 0, so event times
    must be positive).
    """
    if finalize_after_ms > 0 and finalize_idle_gap is not None:
        raise ValueError(
            "choose one of finalize_after_ms (processing time) or "
            "finalize_idle_gap (event time)"
        )
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from trck_spark.params import env_for_tuple, foreach_tuples
    from trck_spark.runner import TrckQuery

    probe = TrckQuery(
        program_text_or_ir, params=params, fn_registry=fn_registry
    )
    program = probe.program
    if program.implicit_foreach and foreach_values is None:
        raise ValueError(
            "implicit foreach on a stream needs explicit foreach_values"
        )
    tuples = foreach_tuples(
        program, params, lexicon_values=foreach_values
    )
    fields = probe.compiled.fields
    cookie_hll_vars = _cookie_only_hll_vars(program.ir)
    # pure-uniques shape: a machine whose every effect is the trail's
    # own fixed register can be SKIPPED once its emit-once entry exists
    repeat_only_hll = _is_repeat_only_cookie_hll(program, cookie_hll_vars)
    hll_yield_vars = tuple(sorted(cookie_hll_vars))
    # canonical uniques grid: one run serves EVERY present value
    value_indep = _value_indep_uniques(
        program, cookie_hll_vars, repeat_only_hll
    )

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
            # driver-side pruning toggle, shipped in the spec exactly
            # like the batch engine does (engine._worker_query): the
            # executors' env doesn't see driver changes
            "no_grid_prune": bool(
                os.environ.get("TRCK_SPARK_NO_GRID_PRUNE")
            ),
        },
        default=str,
    )

    df = events_sdf.withColumn("__uuid", F.col(uuid_col).cast("string"))
    df = df.withColumn("__ts", F.col(ts_col).cast("long"))
    df = df.withColumn(
        "__seq",
        F.col(seq_col).cast("long") if seq_col else F.lit(0).cast("long"),
    )
    if exclude_df is not None or window_df is not None:
        from trck_spark.engine import _uuid_hex_col

        df = df.withColumn("__uuid_hex", _uuid_hex_col(F.col("__uuid")))
    if exclude_df is not None:
        ex = exclude_df.select(
            _uuid_hex_col(
                F.col(exclude_df.columns[0]).cast("string")
            ).alias("__uuid_hex"),
        ).distinct().withColumn("__excl", F.lit(1))
        # stream-static LEFT join + null filter == anti join (anti is
        # not in Structured Streaming's supported stream-static types)
        df = (
            df.join(ex, "__uuid_hex", "left")
            .filter(F.col("__excl").isNull())
            .drop("__excl")
        )
    if window_df is not None:
        from pyspark.sql import Window as W

        wc = window_df.columns
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
        w_df = window_df.select(
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
        # the static side is FIXED for the stream's lifetime, but a
        # stream-static join re-evaluates it every micro-batch — for a
        # window FILE that means re-running the hex-canonicalization +
        # row_number shuffle per trigger (VERDICT r08 item 7: a 110k-
        # entry file cost the stream ~33% of its throughput).  Persist
        # and materialize ONCE; the materialization also yields the
        # exact entry COUNT, which gates the join strategy: a file-sized
        # window set broadcasts explicitly (without the hint Spark
        # shuffles the STREAM side every micro-batch — measured 3x
        # slower than broadcast at 20M events / 110k entries), while a
        # set past the cap keeps the distributed join (a 10^8-entry
        # window set must never be broadcast — same contract as the
        # batch engine's DataFrame-form side inputs).  The cache lives
        # as long as the stream — exposed on the result as
        # _trck_static_side for callers that want to unpersist after
        # stopping the query.
        w_df = w_df.persist()
        n_window_entries = w_df.count()
        bcast_max = int(
            os.environ.get("TRCK_SPARK_STREAM_WINDOW_BCAST_MAX", "2000000")
        )
        w_join = (
            F.broadcast(w_df) if n_window_entries <= bcast_max else w_df
        )
        df = (
            df.join(w_join, "__uuid_hex", "inner")
            # end-of-trail marker events (ts >= STREAM_END_TS) must reach
            # every entry's FSM to fire pending `after` edges, so they
            # bypass the range filter (the join already fanned them out
            # to one row per entry)
            .filter(
                (
                    (F.col("__ts") >= F.col("__wstart"))
                    & (F.col("__ts") < F.col("__wend"))
                )
                | (F.col("__ts") >= F.lit(STREAM_END_TS))
            )
        )
        # NOTE: the stateful group key stays the ORIGINAL uuid (+ entry),
        # exactly like the batch engine's trail boundaries (engine.py
        # `change` on (__uuid, __entry)).  __eff is only the REPORTING id
        # (batch: cookie/output from __eff, engine.py flush_trail) — two
        # different uuids rebound to the same replacement_id must keep
        # separate FSM trails, and __entry (a per-original-uuid
        # row_number) is only unique within its own uuid anyway.
    proj = ["__uuid", "__ts", "__seq"]
    if window_df is not None:
        proj += ["__entry", "__eff"]
    in_cols = events_sdf.columns
    for f in fields:
        if f in in_cols:
            df = df.withColumn(
                "__f_" + f, F.coalesce(F.col(f).cast("string"), F.lit(""))
            )
        else:
            df = df.withColumn("__f_" + f, F.lit(""))
        proj.append("__f_" + f)
    # extra consecutive-duplicate identity columns, same contract as the
    # batch engine's dedup_cols (engine.py run(): "all" = every stored
    # column — the reference's exact identity, src/ctx.c:106-134)
    if dedup_cols == "all":
        skip = {uuid_col, ts_col, seq_col}
        dedup_cols = [c for c in in_cols if c not in skip]
    extra_dedup = [
        c for c in (dedup_cols or []) if c in in_cols and c not in fields
    ]
    for c in extra_dedup:
        df = df.withColumn(
            "__d_" + c, F.coalesce(F.col(c).cast("string"), F.lit(""))
        )
        proj.append("__d_" + c)
    use_event_time = finalize_idle_gap is not None
    if use_event_time:
        df = df.withColumn(
            "__event_time", F.timestamp_seconds(F.col("__ts"))
        )
        proj.append("__event_time")
    df = df.select(*proj)
    if use_event_time:
        df = df.withWatermark("__event_time", watermark_delay)

    has_window = window_df is not None

    # ---- secondary grouping (VERDICT r11 item 1) ---------------------
    # applyInPandasWithState pays a fixed per-GROUP harness cost every
    # micro-batch (Arrow->pandas conversion, state (de)serialization,
    # the Python invocation itself) — profiled at ~35% of step time on
    # a 100k-trail stream where each group held ~200 events.  Group by
    # hash(uuid) % N buckets instead of bare uuid and iterate the
    # trails INSIDE the step: the per-group cost amortizes over
    # bucket-many trails while per-trail FSM state, dedup scoping,
    # emit-once sets and idle-finalization deadlines stay keyed per
    # trail inside the bucket blob (inner blobs are the unchanged v2
    # per-trail layout).  Trails with no events in a batch pass
    # through as opaque pre-pickled bytes — no per-trail
    # re-(de)serialization.  N scales with the session's parallelism
    # (guide §2.2) and is env/kwarg-overridable; 0 restores per-trail
    # grouping (pre-bucketing checkpoints resume there via the
    # v2-blob migration in the step).
    n_buckets = state_buckets
    if n_buckets is None:
        envv = os.environ.get("TRCK_SPARK_STREAM_BUCKETS")
        if envv is not None:
            n_buckets = int(envv)
        else:
            try:
                n_buckets = 4 * int(
                    events_sdf.sparkSession.sparkContext
                    .defaultParallelism
                )
            except Exception:
                n_buckets = 32
            n_buckets = max(32, n_buckets)
    bucketed = bool(n_buckets) and int(n_buckets) > 0
    # stamped into every bucket blob: a resume under a different width
    # would hash trails to other buckets and strand their state
    n_buckets = int(n_buckets) if bucketed else 0

    def step(key, pdf_iter, state: "GroupState") -> Iterator[Any]:
        q, tuples_w = _worker_query(spec_json, fn_registry)
        entrypoint = q.compiled.entrypoint
        match = get_matcher(q.compiled)
        n_tuples = len(tuples_w) if tuples_w is not None else 1

        # ---- bucket state: {skey: v2 trail blob} + per-trail timer
        # maps.  skey = uuid ((uuid, entry) under a window_df); the
        # inner blobs are exactly the per-trail v2 layout
        # (_dump_state), so per-trail semantics and checkpoint
        # migrations are unchanged.
        trails: dict = {}
        dl: dict = {}  # event-time finalize deadline (ms) per trail
        pt: dict = {}  # processing-time last-data stamp (ms) per trail
        if state.exists:
            raw0 = bytes(state.get[0])
            loaded = _load_bucket_state(raw0, n_buckets)
            if loaded is not None:
                trails, dl, pt = loaded
            else:
                # pre-bucketing checkpoint (per-trail grouping mode):
                # the whole blob is ONE v2/legacy trail keyed by the
                # group key itself
                sk0 = tuple(key) if has_window else key[0]
                trails = {sk0: raw0}
                if use_event_time:
                    lt = _load_state(raw0)[1]
                    dl[sk0] = (
                        (lt + finalize_idle_gap) * 1000
                        if lt is not None
                        else state.getCurrentWatermarkMs() + 1
                    )
                elif finalize_after_ms > 0:
                    import time as _time

                    pt[sk0] = int(_time.time() * 1000)

        out_rows: list = []

        def _hll_filter(rows, hll_emitted):
            # emit-once for cookie-only sketch yields (see
            # _cookie_only_hll_vars): a trail's (register, rank) for
            # such a var never changes, so rows already emitted in a
            # committed batch are pure downstream-merge noise — at a
            # 100-value grid they dominate the partial-row volume
            if not cookie_hll_vars:
                return rows
            kept = []
            for row in rows:
                if row[4] is not None and row[2] in cookie_hll_vars:
                    k = (row[1], row[2])
                    if k in hll_emitted:
                        continue
                    hll_emitted.add(k)
                kept.append(row)
            return kept

        def _finalize_trail(skey, blob):
            # idle trail: fire pending timeout edges via the sentinel
            (machine_states, _lt, eff, _prev,
             hll_emitted) = _load_state(blob)
            uuid = (
                eff
                if (has_window and eff is not None)
                else (skey[0] if isinstance(skey, tuple) else skey)
            )
            cookie = _cookie_from_uuid(uuid)
            agg: dict[int, Results] = {}
            for ti in range(n_tuples):
                st = machine_states.get(ti)
                if st is None:
                    continue
                mstate = State(entrypoint)
                mstate.ri, mstate.expires, outers = st
                mstate.outers = [list(o) for o in outers]
                if mstate.ri != -1 and finalize_needed(
                    mstate, entrypoint
                ):
                    res = Results()
                    env = (
                        env_for_tuple(
                            q.program, q.base_env, tuples_w[ti]
                        )
                        if tuples_w is not None
                        else q.base_env
                    )
                    match(
                        q.compiled, [SENTINEL], mstate, res, env, cookie
                    )
                    if not res.is_zero():
                        agg[ti] = res
            out_rows.extend(
                _hll_filter(_results_rows(uuid, agg), hll_emitted)
            )

        # ---- gather this batch's events per trail --------------------
        per_trail: dict = {}
        eff_map: dict = {}
        for pdf in pdf_iter:
            n = len(pdf)
            if not n:
                continue
            tss = pdf["__ts"].tolist()
            seqs = pdf["__seq"].tolist()
            fcols = [pdf["__f_" + f].tolist() for f in fields]
            vals = list(zip(*fcols)) if fcols else [()] * n
            dcols = [pdf["__d_" + c].tolist() for c in extra_dedup]
            dks = list(zip(*dcols)) if dcols else [()] * n
            effs = pdf["__eff"].tolist() if has_window else None
            if bucketed:
                uu = pdf["__uuid"].tolist()
                if has_window:
                    ee = pdf["__entry"].tolist()
                    for j in range(n):
                        sk = (uu[j], int(ee[j]))
                        per_trail.setdefault(sk, []).append(
                            (tss[j], seqs[j], vals[j], dks[j])
                        )
                        if sk not in eff_map:
                            eff_map[sk] = effs[j]
                else:
                    for j in range(n):
                        per_trail.setdefault(uu[j], []).append(
                            (tss[j], seqs[j], vals[j], dks[j])
                        )
            else:
                sk = tuple(key) if has_window else key[0]
                per_trail.setdefault(sk, []).extend(
                    zip(tss, seqs, vals, dks)
                )
                if has_window and sk not in eff_map:
                    eff_map[sk] = effs[0]

        now_ms = None
        if finalize_after_ms > 0 and (per_trail or trails):
            import time as _time

            now_ms = int(_time.time() * 1000)

        def _run_trail(skey, rows_in, blob):
            """One trail's data step: appends its emitted rows to
            out_rows, returns (new_trail_blob | None, last_ts)."""
            if blob is not None:
                (machine_states, last_ts, eff, prev_event,
                 hll_emitted) = _load_state(blob)
            else:
                machine_states, last_ts, eff, prev_event, hll_emitted = (
                    {}, None, None, None, set()
                )
            # reporting id: the (possibly rebound) effective uuid for
            # window entries — constant per (uuid, entry) — else the
            # original uuid
            if has_window and eff is None:
                eff = eff_map.get(skey)
            uuid = (
                eff
                if (has_window and eff is not None)
                else (skey[0] if isinstance(skey, tuple) else skey)
            )
            cookie = _cookie_from_uuid(uuid)
            agg: dict[int, Results] = {}

            # this batch's events in (ts, seq) order
            rows_in.sort(key=lambda r: (r[0], r[1]))
            batch_max = max(
                (ts for ts, _s, _v, _d in rows_in if ts < STREAM_END_TS),
                default=None,
            )
            if batch_max is not None:
                last_ts = batch_max if last_ts is None else max(
                    last_ts, batch_max
                )
            # events at ts >= STREAM_END_TS are explicit end-of-trail
            # markers: they trigger finalization (pending `after` edges
            # fire), mirroring the reference's end-of-run sentinel
            # (match_traildb.c:902-944)
            finalize = any(
                ts >= STREAM_END_TS for ts, _s, _v, _d in rows_in
            )
            raw = [
                (ts, v, d)
                for ts, _s, v, d in rows_in
                if ts < STREAM_END_TS
            ]
            events = [
                (ts, v)
                for ts, v, _d in dedup_consecutive(
                    raw, prev=prev_event if dedup_carry else None
                )
            ]
            if dedup_carry and raw:
                prev_event = raw[-1]

            # per-batch grid pruning (see _stream_prune_meta): group
            # the grid by (projection key over this batch's distinct
            # values, carried state) and run ONE machine per group.
            # The fast path additionally keeps the whole step O(values
            # present + stored states) instead of O(grid): tuples
            # whose value is absent AND whose machine is fresh form
            # one group decided by a single representative run, with
            # per-tuple bookkeeping only when that run actually
            # produced output or state (per-trail-batch Python cost at
            # a 100-value grid was the profiled throughput floor,
            # VERDICT r10 item 3)
            gids = None
            fast_present = None
            loop_tis = range(n_tuples)
            if tuples_w is not None and n_tuples > 1:
                prune = getattr(q, "_stream_prune", None)
                if prune is None:
                    prune = _stream_prune_meta(q, fields)
                    q._stream_prune = prune
                if prune[0] == "fast":
                    fidx = prune[1]
                    val2ti = getattr(q, "_stream_val2ti", None)
                    if val2ti is None:
                        val2ti = {}
                        for _ti, _tup in enumerate(tuples_w):
                            val2ti.setdefault(_tup[0], []).append(_ti)
                        q._stream_val2ti = val2ti
                    dset = {v[fidx] for _ts, v in events}
                    fast_present = set()
                    for val in dset:
                        fast_present.update(val2ti.get(val, ()))
                    candidates = fast_present.union(machine_states)
                    loop_tis = sorted(candidates)
                elif prune[0] == "generic":
                    from trck_spark.params import projection_key

                    trail_distinct = {
                        f: {v[i] for _ts, v in events}
                        for f, i in prune[1].items()
                    }
                    gids = [
                        projection_key(q.program, tup, trail_distinct)
                        for tup in tuples_w
                    ]
            skip_emitted = (
                repeat_only_hll
                and hll_emitted
                and not getattr(q, "no_grid_prune", False)
            )
            run_cache: dict = {}

            def _run_one(ti, st):
                """One machine run; returns (res_or_None, new_state)
                with res None when zero and new_state None when the
                machine ends indistinguishable from fresh (reference
                gen_is_initial_state, fsm2c.py:919-928 — a missing
                entry already loads as State(entrypoint))."""
                mstate = State(entrypoint)
                if st is not None:
                    mstate.ri, mstate.expires, outers = st
                    mstate.outers = [list(o) for o in outers]
                env = (
                    env_for_tuple(q.program, q.base_env, tuples_w[ti])
                    if tuples_w is not None
                    else q.base_env
                )
                res = Results()
                aborted = match(
                    q.compiled, events, mstate, res, env, cookie
                )
                if finalize and not aborted and finalize_needed(
                    mstate, entrypoint
                ):
                    match(
                        q.compiled, [SENTINEL], mstate, res, env, cookie
                    )
                new_st = (
                    None
                    if mstate.is_initial(entrypoint)
                    else (
                        mstate.ri,
                        mstate.expires,
                        [tuple(o) for o in mstate.outers],
                    )
                )
                return (res if not res.is_zero() else None), new_st

            for ti in loop_tis:
                st = machine_states.get(ti)
                if (
                    skip_emitted
                    and st is None
                    and all(
                        (ti, v) in hll_emitted for v in hll_yield_vars
                    )
                ):
                    # repeat-only cookie-sketch machine whose one
                    # possible row already emitted: a provable no-op
                    continue
                if st is not None and st[0] == -1:
                    continue  # this machine quit in an earlier batch
                gk = None
                if gids is not None or fast_present is not None:
                    if gids is not None:
                        gid = gids[ti]
                    elif ti not in fast_present:
                        gid = _PRUNE_ABSENT
                    elif value_indep:
                        # uniques grid: present machines share ONE run
                        gid = _PRUNE_PRESENT
                    else:
                        gid = tuples_w[ti][0]
                    stk = (
                        None
                        if st is None
                        else (st[0], st[1], tuple(map(tuple, st[2])))
                    )
                    gk = (gid, stk)
                    hit = run_cache.get(gk)
                    if hit is not None:
                        res, new_st = hit
                        if res is not None:
                            agg[ti] = res
                        if new_st is None:
                            machine_states.pop(ti, None)
                        else:
                            machine_states[ti] = new_st
                        continue
                res, new_st = _run_one(ti, st)
                if res is not None:
                    agg[ti] = res
                if new_st is None:
                    machine_states.pop(ti, None)
                else:
                    machine_states[ti] = new_st
                if gk is not None:
                    run_cache[gk] = (res, new_st)

            if (
                fast_present is not None
                and len(loop_tis) < n_tuples
                and not value_indep
            ):
                # absent-and-fresh group: one representative decides
                # all.  Skipped for the value-independent uniques
                # shape: its acting clause is gated on the (absent)
                # value, so the representative provably yields nothing
                # and stays fresh
                cand = set(loop_tis)
                rep = next(
                    ti for ti in range(n_tuples) if ti not in cand
                )
                res, new_st = _run_one(rep, None)
                if res is not None or new_st is not None:
                    for ti in range(n_tuples):
                        if ti in cand:
                            continue
                        if res is not None:
                            agg[ti] = res
                        if new_st is not None:
                            machine_states[ti] = new_st

            out_rows.extend(
                _hll_filter(_results_rows(uuid, agg), hll_emitted)
            )
            if finalize:
                return None, last_ts
            return (
                _dump_state(
                    machine_states,
                    last_ts,
                    eff,
                    prev_event if dedup_carry else None,
                    hll_emitted,
                ),
                last_ts,
            )

        for sk in sorted(per_trail):
            new_blob, last_ts = _run_trail(
                sk, per_trail[sk], trails.get(sk)
            )
            if new_blob is None:
                trails.pop(sk, None)
                dl.pop(sk, None)
                pt.pop(sk, None)
            else:
                trails[sk] = new_blob
                if use_event_time:
                    # finalize when the watermark passes the trail's
                    # last event by the idle gap
                    dl[sk] = (
                        (last_ts + finalize_idle_gap) * 1000
                        if last_ts is not None
                        else state.getCurrentWatermarkMs() + 1
                    )
                if now_ms is not None:
                    pt[sk] = now_ms

        # ---- idle-trail finalization sweep: trails whose deadline
        # passed and that received no events this batch (per-trail
        # analog of the per-group timer the pre-bucketing step used)
        if trails and (use_event_time or now_ms is not None):
            if use_event_time:
                wm = state.getCurrentWatermarkMs()
                due = [
                    sk
                    for sk, d in dl.items()
                    if d <= wm and sk not in per_trail
                ]
            else:
                due = [
                    sk
                    for sk, p in pt.items()
                    if now_ms - p >= finalize_after_ms
                    and sk not in per_trail
                ]
            for sk in sorted(due):
                blob = trails.pop(sk, None)
                dl.pop(sk, None)
                pt.pop(sk, None)
                if blob is not None:
                    _finalize_trail(sk, blob)

        # ---- store bucket state + arm the bucket timer ---------------
        if trails:
            state.update(
                (bytearray(_dump_bucket_state(trails, dl, pt, n_buckets)),)
            )
            if finalize_after_ms > 0:
                state.setTimeoutDuration(finalize_after_ms)
            elif use_event_time:
                # wake at the earliest remaining per-trail deadline
                # (must stay strictly above the watermark)
                wm = state.getCurrentWatermarkMs()
                nd = min(dl.values()) if dl else wm + 1
                state.setTimeoutTimestamp(max(nd, wm + 1))
        elif state.exists:
            state.remove()
        if out_rows:
            yield _rows_frame(out_rows)

    if finalize_after_ms > 0:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    elif use_event_time:
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    if bucketed:
        bcols = [F.col("__uuid")] + (
            [F.col("__entry")] if window_df is not None else []
        )
        df = df.withColumn(
            "__bkt",
            F.pmod(F.xxhash64(*bcols), F.lit(int(n_buckets))).cast(
                "int"
            ),
        )
        group_cols = ["__bkt"]
    else:
        group_cols = (
            ["__uuid", "__entry"]
            if window_df is not None
            else ["__uuid"]
        )
    if os.environ.get("TRCK_SPARK_STEP_PROFILE"):
        step = _profiled_step(step)  # noqa: F811 — debug-only wrapper
    out = df.groupBy(*group_cols).applyInPandasWithState(
        step,
        outputStructType=STREAM_PARTIAL_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
    if window_df is not None:
        # the persisted prepared window side (see the join above):
        # callers may unpersist it after stopping the query
        out._trck_static_side = w_df
    return out


def aggregate_partials(partials_df):
    """Batch-side aggregation of (streamed) partial rows — same monoid
    merges as the batch engine."""
    from pyspark.sql import functions as F

    return partials_df.groupBy("tuple_id", "var", "key", "reg").agg(
        F.sum("n").alias("sum_n"), F.max("n").alias("max_n")
    )


def streaming_uniques(events_sdf, program_text_or_ir, **kw):
    """Incremental uniques over a live stream (VERDICT r09 item 5):
    ``^hll`` partial rows from :func:`streaming_partials` flow into a
    downstream STREAMING aggregation whose state store maintains the
    register-max monoid per (tuple_id, var, register) — the streaming
    form of the reference's cross-DB sketch merge (match_traildb.c:
    403-411 merges per-DB results through the same monoid; a stream is
    the one-db-per-period ingestion workflow in the limit, and the
    TrailStore's segment-manifest sketch merge is the at-rest twin).

    Returns a streaming DataFrame of ``(tuple_id, var, reg, rank)``
    updates; run it with ``outputMode("update")`` so each micro-batch
    emits only the registers it changed, and fold the batches with
    :class:`HllStreamCollector` (or any sink) to read current sketches.
    Sketch adds are idempotent and register max is commutative, so the
    collected state equals the batch engine's sketch over the same
    events regardless of how triggers slice the stream.

    Accepts every :func:`streaming_partials` keyword (side inputs,
    dedup scoping, finalize timeouts, ``foreach_values`` for foreach
    grids over an unbounded stream)."""
    from pyspark.sql import functions as F

    parts = streaming_partials(events_sdf, program_text_or_ir, **kw)
    out = (
        parts.filter(F.col("reg").isNotNull())
        .groupBy("tuple_id", "var", "reg")
        .agg(F.max("n").alias("rank"))
    )
    side = getattr(parts, "_trck_static_side", None)
    if side is not None:
        out._trck_static_side = side
    return out


class HllStreamCollector:
    """foreachBatch sink state for :func:`streaming_uniques`: dense
    registers per (tuple_id, var), folded from the update-mode rows;
    wire hex and estimates on demand.  Driver-side memory is bounded by
    tuples x vars x 16 KiB — the same footprint the batch engine's
    local result set holds."""

    def __init__(self) -> None:
        self._regs: dict = {}

    def update(self, batch_df) -> None:
        """Fold one micro-batch of (tuple_id, var, reg, rank) updates.
        The batch is bounded by the registers that CHANGED, never the
        stream size — but early batches of a wide foreach grid still
        change ~grid x coupon-collector(16384) registers each, so the
        fold is Arrow + numpy (one ``maximum.at`` scatter per var, one
        dense-row max-merge per touched tuple) instead of a per-row
        driver loop: at the 20M-event / 100-value gate the row loop
        was ~40% of the whole streamed run (guide §5 — no driver-side
        row loops on a query path)."""
        import numpy as np

        from trck_spark.fsm.hll import HLL_M

        if not hasattr(batch_df, "toArrow"):
            # pre-Arrow-export PySpark: the original row fold
            for r in batch_df.collect():
                k = (int(r["tuple_id"]), r["var"])
                arr = self._regs.get(k)
                if arr is None:
                    arr = self._regs[k] = np.zeros(HLL_M, np.uint8)
                reg, rank = int(r["reg"]), int(r["rank"])
                if arr[reg] < rank:
                    arr[reg] = rank
            return
        tbl = batch_df.toArrow()
        if tbl.num_rows == 0:
            return
        ti = tbl.column("tuple_id").to_numpy(zero_copy_only=False)
        ti = ti.astype(np.int64, copy=False)
        var = tbl.column("var").to_numpy(zero_copy_only=False)
        reg = tbl.column("reg").to_numpy(zero_copy_only=False)
        reg = reg.astype(np.int64, copy=False)
        # ranks are <= 64 by construction; the uint8 cast matches the
        # register array dtype (and the old loop's uint8 assignment)
        rank = tbl.column("rank").to_numpy(zero_copy_only=False)
        rank = rank.astype(np.uint8)
        uvars, vinv = np.unique(var, return_inverse=True)
        for vi, v in enumerate(uvars):
            sel = vinv == vi if len(uvars) > 1 else slice(None)
            t, r, k = ti[sel], reg[sel], rank[sel]
            utis = np.unique(t)
            dense = np.zeros((len(utis), HLL_M), np.uint8)
            np.maximum.at(dense, (np.searchsorted(utis, t), r), k)
            for i, tival in enumerate(utis):
                key = (int(tival), v)
                arr = self._regs.get(key)
                if arr is None:
                    self._regs[key] = dense[i].copy()
                else:
                    np.maximum(arr, dense[i], out=arr)

    def keys(self):
        return sorted(self._regs)

    def to_hex(self, tuple_id: int, var: str) -> str:
        from trck_spark.fsm.hll import EMPTY_HLL_HEX, Hll

        arr = self._regs.get((tuple_id, var))
        if arr is None:
            return EMPTY_HLL_HEX
        s = Hll()
        s.M = bytearray(arr.tobytes())
        return s.to_hex()

    def estimate(self, tuple_id: int, var: str) -> float:
        from trck_spark.fsm.hll import Hll

        arr = self._regs.get((tuple_id, var))
        if arr is None:
            return 0.0
        s = Hll()
        s.M = bytearray(arr.tobytes())
        return s.estimate()
