"""Per-trail FSM evaluator.

Executes a compiled trck program over one uuid's timestamp-ordered event
list, for one parameter environment, accumulating monoid partials.  The
control flow replicates the reference's generated matcher exactly
(reference: src/fsm2c.py:612-668 rule loop, 190-233 window arming,
400-433 actions; src/match_traildb.c:40-79, 902-944 finalization):

- entering a rule arms its window: deadline = MIN(ts, prev_expires) + N
  (deadline chaining), or NEVER when the rule has no ``after N``
- ``window`` rules push a deadline onto a stack of outer windows and fall
  through to their first inner rule
- per event: if the rule's own window is alive and the event is real, the
  first matching clause fires (non-exhaustive match is a hard error);
  otherwise expired outer windows fire bottom-up, then the rule's own
  ``after`` edge (``restart-from-here``: the current event is re-examined
  in the target rule, without consuming it)
- after the last event, a synthetic empty event at ts=2^64-2 fires pending
  timeout edges — only for trails that left the initial state

This file is deliberately Spark-free: the same evaluator runs inside an
``applyInPandas`` worker and in the local fixture harness.
"""

from __future__ import annotations

from trck_spark.fsm.hll import hll_register_update
from trck_spark.fsm.tuples import TYPE_BYTES, TYPE_STRING, encode_tuple, tuple_to_display
from trck_spark.ir import (
    A_BREAK,
    A_HERE,
    A_NEXT,
    A_QUIT,
    A_REPEAT,
    EXPIRES_NEVER,
    MAX_TIMESTAMP,
    IRError,
    Program,
    is_param,
)


class FsmRuntimeError(Exception):
    pass


class State:
    """FSM state for one (trail, param-tuple) machine."""

    __slots__ = ("ri", "expires", "outers")

    def __init__(self, entrypoint: int):
        self.ri = entrypoint
        self.expires = EXPIRES_NEVER
        # active outer windows, bottom-up: list of [window_rule_id, expires]
        self.outers: list[list[int]] = []

    def is_initial(self, entrypoint: int) -> bool:
        # reference: gen_is_initial_state (fsm2c.py:919-928)
        return (
            self.expires in (0, EXPIRES_NEVER)
            and self.ri == entrypoint
            and not self.outers
        )


class Results:
    """Monoid partials for one (trail, param-tuple) run.

    counters: var -> int
    sets/multisets: var -> {encoded_tuple_bytes: count}
    hlls: var -> {register_index: max_rank}
    """

    __slots__ = ("counters", "sets", "hlls")

    def __init__(self):
        self.counters: dict[str, int] = {}
        self.sets: dict[str, dict[bytes, int]] = {}
        self.hlls: dict[str, dict[int, int]] = {}

    def is_zero(self) -> bool:
        return not self.counters and not self.sets and not self.hlls

    def merge(self, other: "Results") -> None:
        for k, v in other.counters.items():
            self.counters[k] = self.counters.get(k, 0) + v
        for k, d in other.sets.items():
            mine = self.sets.setdefault(k, {})
            for key, n in d.items():
                mine[key] = mine.get(key, 0) + n
        for k, d in other.hlls.items():
            mine = self.hlls.setdefault(k, {})
            for idx, rank in d.items():
                if mine.get(idx, 0) < rank:
                    mine[idx] = rank


class _Clause:
    __slots__ = ("pred", "yields", "action", "uses_params")

    def __init__(self, pred, yields, action, uses_params):
        self.pred = pred
        self.yields = yields
        self.action = action
        self.uses_params = uses_params


class _Rule:
    __slots__ = ("name", "is_outer", "window", "clauses", "after_yields",
                 "after_action")

    def __init__(self, name, is_outer, window, clauses, after_yields,
                 after_action):
        self.name = name
        self.is_outer = is_outer
        self.window = window
        self.clauses = clauses
        self.after_yields = after_yields
        self.after_action = after_action


class CompiledProgram:
    """Program lowered to index-based predicates and yield thunks."""

    def __init__(self, program: Program, fn_registry: dict | None = None):
        self.program = program
        self.fields: list[str] = program.fields_used()
        self.findex = {f: i for i, f in enumerate(self.fields)}
        self.fn_registry = fn_registry or {}
        self.entrypoint = program.entrypoint_id
        self.has_windows = program.has_window_rules
        self.rules: list[_Rule] = [
            self._compile_rule(ri, r) for ri, r in enumerate(program.rules)
        ]
        # static window nesting for transition balancing
        self.rule_windows = program.rule_windows

    # --- compilation ---

    def _compile_rule(self, ri: int, r: dict) -> _Rule:
        clauses = [self._compile_clause(ri, c) for c in r.get("clauses", [])]
        after_yields = None
        after_action = None
        if "after" in r:
            after_yields = [
                self._compile_yield(ri, y) for y in r["after"].get("yield", [])
            ]
            after_action = r["after"]["_action"]
        return _Rule(
            name=self.program.rule_name(ri),
            is_outer=bool(r.get("outer")),
            window=r.get("window"),
            clauses=clauses,
            after_yields=after_yields,
            after_action=after_action,
        )

    def _compile_clause(self, ri: int, c: dict) -> _Clause:
        uses_params = False
        frags = []
        for field, conditions in c.get("attrs", {}).items():
            for expr in conditions:
                frags.append(self._pred_source(field, expr))
                bare = expr.lstrip("<=>")
                if is_param(bare):
                    uses_params = True
        # fuse the conjunction into ONE compiled closure — the hot path
        # runs a single call per clause instead of a per-condition loop
        src = " and ".join(f"({f})" for f in frags) if frags else "True"
        if c.get("op") == "not":
            src = f"not ({src})"
        fused = eval(f"lambda ts, vals, env: {src}", {})  # noqa: S307
        yields = [self._compile_yield(ri, y) for y in c.get("yield", [])]
        return _Clause(
            pred=fused,
            yields=yields,
            action=c["_action"],
            uses_params=uses_params,
        )

    def _pred_source(self, field: str, expr: str) -> str:
        """One condition -> a Python expression fragment over
        (ts, vals, env).  Param-dependent fragments mark env['__used']
        when evaluated (the reference's GROUPBY_USED bit)."""
        mark = "(env.__setitem__('__used', True) or "
        if field == "timestamp":
            import re

            if expr[0].isdigit():
                op, value = "==", expr
            else:
                m = re.match(r"((>=)|(<=)|(==)|(<)|(>))(.+)", expr)
                if not m:
                    raise IRError(f"Bad timestamp condition: {expr}")
                op, value = m.group(1), m.group(7)
            if value.startswith("%"):
                return f"{mark}ts {op} int(env[{value!r}]))"
            return f"ts {op} {int(value)}"
        idx = self.findex[field]
        if is_param(expr):
            if expr[0] == "%":
                return f"{mark}vals[{idx}] == env.get({expr!r}))"
            return f"{mark}vals[{idx}] in env.get({expr!r}, ()))"
        return f"vals[{idx}] == {expr!r}"

    def _compile_yield(self, ri: int, y: dict):
        """One yield -> (dst, kind, term_thunks)."""
        from trck_spark.ir import var_kind

        dst = y["dst"]
        kind = var_kind(dst)
        if kind == "counter":
            return (dst, "counter", None)
        terms = [self._compile_term(ri, t) for t in y.get("src", [])]
        return (dst, kind, terms)

    def _compile_term(self, ri: int, term: dict):
        """Yield term -> closure(ev) -> (bytes, type).

        ev is the _EvalCtx carrying current event, state, env, cookie.
        """
        k = term["_k"]
        if k == "window_ref":
            ref = term.get("ref")
            if ref is None:
                dur = self.program.window_duration(ri)
                if dur is None:
                    raise IRError(
                        "Cannot yield window start timestamp when window "
                        "is infinite"
                    )
                return lambda ev: (
                    str(ev.state.expires - dur).encode(),
                    TYPE_STRING,
                )
            wid = self.program.rule_id(ref)
            dur = self.program.window_duration(wid)
            if dur is None:
                raise IRError(
                    "Cannot yield window start timestamp when window is "
                    "infinite"
                )
            pos = self.program.window_stack_pos(ri, wid)
            def _wref(ev, pos=pos, dur=dur):
                exp = (
                    ev.state.outers[pos][1]
                    if pos < len(ev.state.outers)
                    else 0
                )
                return (str(exp - dur).encode(), TYPE_STRING)
            return _wref
        if k == "field":
            name = term["name"]
            if name == "cookie":
                return lambda ev: (ev.cookie, TYPE_BYTES)
            if name == "timestamp":
                return lambda ev: (str(ev.ts).encode(), TYPE_STRING)
            if name == "cookie_timestamp_filter_start":
                return lambda ev: (str(ev.win_start).encode(), TYPE_STRING)
            if name == "cookie_timestamp_filter_end":
                return lambda ev: (str(ev.win_end).encode(), TYPE_STRING)
            idx = self.findex.get(name)
            if idx is None:
                # referenced but never a condition field: still a data field
                return lambda ev: (b"", TYPE_STRING)
            return lambda ev: (
                (ev.vals[idx] if ev.vals is not None else "")
                .encode()[:256],
                TYPE_STRING,
            )
        if k == "literal":
            v = term["value"]
            b = str(v).encode()
            return lambda ev: (b, TYPE_STRING)
        if k == "param":
            name = term["name"]
            return lambda ev: (str(ev.env.get(name, "")).encode(), TYPE_STRING)
        if k == "fcall":
            name = term["name"]
            fn = self.fn_registry.get(name)
            if fn is None:
                raise IRError(f"External function not registered: {name}")
            arg_thunks = [self._compile_term(ri, a) for a in term["args"]]
            def _fcall(ev, fn=fn, arg_thunks=arg_thunks):
                args = []
                for t in arg_thunks:
                    raw, typ = t(ev)
                    args.append(raw)
                out = fn(*args)
                if isinstance(out, str):
                    out = out.encode()
                return (out[:256], TYPE_STRING)
            return _fcall
        raise IRError(f"Bad yield term: {term}")


class _EvalCtx:
    __slots__ = ("ts", "vals", "state", "env", "cookie", "win_start",
                 "win_end")

    def __init__(self):
        self.ts = 0
        self.vals = None
        self.state = None
        self.env = None
        self.cookie = b""
        self.win_start = 0
        self.win_end = 0


_SAFETY_LIMIT = 10_000_000

# Bounded per-process memos for non-counter yields: the same item
# tuple (a trail's cookie, a popular field value) is yielded on many
# events, and both its tuple encoding and its murmur register update
# are pure Python.  Each memo is cleared whole when it reaches
# _YIELD_MEMO_MAX entries.
_YIELD_MEMO_MAX = 1 << 14
_KEY_MEMO: dict = {}  # items tuple -> encode_tuple(items)
_HLL_MEMO: dict = {}  # encoded key -> (register index, rank)


def do_yields(results: Results, ev: _EvalCtx, ylist) -> None:
    """Apply one clause's (or `after` edge's) yields to `results` —
    shared by run_machine and the generated matcher (fsm/codegen.py)."""
    for dst, kind, terms in ylist:
        if kind == "counter":
            results.counters[dst] = results.counters.get(dst, 0) + 1
            continue
        items = tuple([t(ev) for t in terms])
        key = _KEY_MEMO.get(items)
        if key is None:
            if len(_KEY_MEMO) >= _YIELD_MEMO_MAX:
                _KEY_MEMO.clear()
            key = _KEY_MEMO[items] = encode_tuple(items)
        if kind in ("set", "multiset"):
            d = results.sets.setdefault(dst, {})
            d[key] = d.get(key, 0) + 1
            continue
        # hll — hash the display form (see fsm/hll.py)
        upd = _HLL_MEMO.get(key)
        if upd is None:
            if len(_HLL_MEMO) >= _YIELD_MEMO_MAX:
                _HLL_MEMO.clear()
            upd = _HLL_MEMO[key] = hll_register_update(
                tuple_to_display(key).encode()
            )
        idx, rank = upd
        d = results.hlls.setdefault(dst, {})
        if d.get(idx, 0) < rank:
            d[idx] = rank


def run_machine(
    compiled: CompiledProgram,
    events: list,
    state: State,
    results: Results,
    env: dict,
    cookie: bytes,
    win_start: int = 0,
    win_end: int = 0,
) -> bool:
    """One match_trail call: resume `state` over `events`.

    events: list of (ts, vals) where vals is a tuple aligned to
    compiled.fields, or None for the empty finalization sentinel.
    Returns True iff the machine aborted (quit/stop).
    """
    rules = compiled.rules
    ev = _EvalCtx()
    ev.state = state
    ev.env = env
    ev.cookie = cookie
    ev.win_start = win_start
    ev.win_end = win_end

    pos = 0
    n = len(events)
    ri = state.ri
    arming = False  # False: resume at RULE_CONT; True: enter at RULE_START
    cur_ts = 0
    steps = 0

    def do_transition(action, src_ri):
        """Returns (new_ri, advance). Raises _Stop for quit."""
        kind, target = action
        if kind == A_REPEAT:
            return src_ri, True, False
        if kind == A_QUIT:
            return -1, False, False
        if kind == A_BREAK:
            target = src_ri + 1
            kind = A_NEXT
        # balance window stack (reference: balance_window_rules)
        depth = len(compiled.rule_windows[target])
        del state.outers[depth:]
        return target, kind == A_NEXT, True

    while True:
        steps += 1
        if steps > _SAFETY_LIMIT:
            raise FsmRuntimeError(
                "FSM did not terminate (safety limit reached) in rule %r"
                % rules[ri].name
            )
        rule = rules[ri]
        if arming:
            dur = rule.window
            if rule.is_outer:
                if dur is not None:
                    base = (
                        min(cur_ts, state.expires)
                        if state.expires > 0
                        else cur_ts
                    )
                    state.outers.append([ri, base + dur])
                else:
                    state.outers.append([ri, EXPIRES_NEVER])
                ri += 1
                continue  # fall through to first inner rule, still arming
            if dur is not None:
                base = (
                    min(cur_ts, state.expires)
                    if state.expires > 0
                    else cur_ts
                )
                state.expires = base + dur
            else:
                state.expires = EXPIRES_NEVER
        elif rule.is_outer:
            # resuming onto a window rule: fall through without arming it
            ri += 1
            arming = True
            continue
        arming = False

        state.ri = ri
        if ri == 0 and compiled.has_windows:
            state.outers.clear()
        if pos >= n:
            return False

        # event loop within this rule
        clauses = rule.clauses
        expires = state.expires
        while True:
            steps += 1
            if steps > _SAFETY_LIMIT:
                raise FsmRuntimeError(
                    "FSM did not terminate (safety limit reached) in rule "
                    "%r" % rule.name
                )
            ts, vals = events[pos]
            empty = vals is None
            within = expires == 0 or expires > ts

            if within and not empty:
                matched = None
                for cl in clauses:
                    if cl.pred(ts, vals, env):
                        matched = cl
                        break
                if matched is None:
                    raise FsmRuntimeError(
                        "non-exhaustive clauses at statement %s" % rule.name
                    )
                if matched.yields:
                    ev.ts = ts
                    ev.vals = vals
                    do_yields(results, ev, matched.yields)
                kind, _t = matched.action
                if kind == A_REPEAT:
                    pos += 1
                    if pos >= n:
                        return False
                    continue
                if kind == A_QUIT:
                    state.ri = -1
                    return True
                new_ri, advance, _ = do_transition(matched.action, ri)
                if advance:
                    pos += 1
                cur_ts = ts
                ri = new_ri
                arming = True
                break  # back to rule dispatch

            # timeout / empty path
            ev.ts = ts
            ev.vals = vals
            if empty:
                pos += 1
            fired = False
            for i in range(len(state.outers)):
                oid, oexp = state.outers[i]
                if oexp == 0 or oexp > ts:
                    continue
                # this outer window expired: pop it and everything above
                del state.outers[i:]
                orule = rules[oid]
                if orule.after_yields:
                    do_yields(results, ev, orule.after_yields)
                action = orule.after_action or (A_HERE, 0)
                kind, _t = action
                if kind == A_QUIT:
                    state.ri = -1
                    return True
                if kind == A_REPEAT:
                    pos += 1
                    fired = True
                    break
                new_ri, advance, _ = do_transition(action, oid)
                if advance:
                    pos += 1
                cur_ts = ts
                ri = new_ri
                arming = True
                fired = True
                break
            if fired and not arming:
                # outer fired a 'repeat': stay in this rule
                if pos >= n:
                    return False
                continue
            if fired:
                break  # transition out of expired outer window

            # the rule's own `after` edge (or the implicit one)
            if rule.after_yields:
                do_yields(results, ev, rule.after_yields)
            action = rule.after_action or (A_HERE, 0)
            kind, _t = action
            if kind == A_QUIT:
                state.ri = -1
                return True
            if kind == A_REPEAT:
                pos += 1
                if pos >= n:
                    return False
                continue
            new_ri, advance, _ = do_transition(action, ri)
            if advance:
                pos += 1
            cur_ts = ts
            ri = new_ri
            arming = True
            break


def dedup_consecutive(events: list, prev=None) -> list:
    """Drop events identical (same timestamp AND same field values) to their
    immediate predecessor (reference: src/ctx.c:106-134).  Caller is
    responsible for applying this per source file / db_index.

    ``prev`` seeds the predecessor (default None = no predecessor): the
    streaming path's cross-micro-batch dedup carry passes the previous
    batch's last event so a duplicate straddling the batch boundary is
    dropped exactly like the batch engine's within-db dedup."""
    out = []
    for e in events:
        if e != prev:
            out.append(e)
        prev = e
    return out


def finalize_needed(state: State, entrypoint: int) -> bool:
    return state.ri != -1 and not state.is_initial(entrypoint)


SENTINEL = (MAX_TIMESTAMP, None)


def get_matcher(compiled: CompiledProgram):
    """The per-program specialized matcher (generated Python — see
    fsm/codegen.py), falling back to the interpreter if generation fails
    or TRCK_SPARK_NO_CODEGEN is set.  Same call contract as run_machine.
    """
    cached = getattr(compiled, "_matcher", None)
    if cached is not None:
        return cached
    import os

    matcher = run_machine
    if not os.environ.get("TRCK_SPARK_NO_CODEGEN"):
        try:
            from trck_spark.fsm.codegen import build_matcher

            matcher = build_matcher(compiled)
        except Exception:  # pragma: no cover - defensive fallback
            matcher = run_machine
    compiled._matcher = matcher
    return matcher


def eval_trail(
    compiled: CompiledProgram,
    events: list,
    cookie: bytes,
    env: dict,
    win_start: int = 0,
    win_end: int = 0,
) -> Results:
    """Full evaluation for one (trail, param env): main pass + finalization."""
    state = State(compiled.entrypoint)
    results = Results()
    matcher = get_matcher(compiled)
    aborted = matcher(
        compiled, events, state, results, env, cookie, win_start, win_end
    )
    if not aborted and finalize_needed(state, compiled.entrypoint):
        matcher(
            compiled, [SENTINEL], state, results, env, cookie,
            win_start, win_end,
        )
    return results
