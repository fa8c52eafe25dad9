"""Per-program Python code generation for the FSM hot path.

The reference compiles each program to specialized C (src/fsm2c.py); the
Spark-world analog is specializing the per-trail matcher into generated
Python: rules unrolled, clause conjunctions inlined as expressions,
counter yields inlined as dict updates, transition targets and window
durations baked as constants.  The cold path (window expiry / empty
sentinel handling) stays in one shared helper.

Semantics are identical to trck_spark.fsm.interpreter.run_machine — the
entire reference golden-fixture corpus runs against the generated code
(tests/test_codegen.py runs both paths differentially).
"""

from __future__ import annotations

from trck_spark.fsm.interpreter import (
    CompiledProgram,
    FsmRuntimeError,
    _SAFETY_LIMIT,
    do_yields,
)
from trck_spark.ir import (
    A_BREAK,
    A_HERE,
    A_NEXT,
    A_QUIT,
    A_REPEAT,
    EXPIRES_NEVER,
)


def _timeout_path(compiled, ri, ts, vals, pos, state, env, ev, dy):
    """Shared cold path: expired-window / empty-event handling.

    Mirrors interpreter.run_machine's else-branch exactly.
    Returns (ri, pos, arming, cur_ts, code) with code one of
    'continue' (stay in rule), 'dispatch' (transition), 'stop', 'abort'.
    """
    rules = compiled.rules
    rule = rules[ri]
    ev.ts = ts
    ev.vals = vals
    if vals is None:
        pos += 1
    # expired outer windows fire bottom-up
    for i in range(len(state.outers)):
        oid, oexp = state.outers[i]
        if oexp == 0 or oexp > ts:
            continue
        del state.outers[i:]
        orule = rules[oid]
        if orule.after_yields:
            dy(orule.after_yields)
        kind, target = orule.after_action or (A_HERE, 0)
        if kind == A_QUIT:
            state.ri = -1
            return ri, pos, False, ts, "abort"
        if kind == A_REPEAT:
            pos += 1
            return ri, pos, False, ts, "continue"
        if kind == A_BREAK:
            kind, target = A_NEXT, oid + 1
        depth = len(compiled.rule_windows[target])
        del state.outers[depth:]
        if kind == A_NEXT:
            pos += 1
        return target, pos, True, ts, "dispatch"
    # the rule's own after edge
    if rule.after_yields:
        dy(rule.after_yields)
    kind, target = rule.after_action or (A_HERE, 0)
    if kind == A_QUIT:
        state.ri = -1
        return ri, pos, False, ts, "abort"
    if kind == A_REPEAT:
        pos += 1
        return ri, pos, False, ts, "continue"
    if kind == A_BREAK:
        kind, target = A_NEXT, ri + 1
    depth = len(compiled.rule_windows[target])
    del state.outers[depth:]
    if kind == A_NEXT:
        pos += 1
    return target, pos, True, ts, "dispatch"


def generate_matcher(compiled: CompiledProgram):
    """-> match_trail(events, state, results, env, ev) -> abort(bool)."""
    src = []
    o = src.append
    o("def match_trail(events, state, results, env, ev):")
    o("    pos = 0")
    o("    n = len(events)")
    o("    ri = state.ri")
    o("    arming = False")
    o("    cur_ts = 0")
    o("    steps = 0")
    o("    counters = results.counters")
    o("    outers = state.outers")
    o("    while True:")
    o("        steps += 1")
    o("        if steps > _LIMIT:")
    o("            raise _Err('FSM did not terminate (safety limit)')")

    for ri, rule in enumerate(compiled.rules):
        kw = "if" if ri == 0 else "elif"
        o(f"        {kw} ri == {ri}:")
        dur = rule.window
        # --- arming (RULE_START) ---
        o("            if arming:")
        if rule.is_outer:
            if dur is not None:
                o("                _b = min(cur_ts, state.expires) if "
                  "state.expires > 0 else cur_ts")
                o(f"                outers.append([{ri}, _b + {dur}])")
            else:
                o(f"                outers.append([{ri}, {EXPIRES_NEVER}])")
            o(f"                ri = {ri + 1}")
            o("                continue")
            # resuming onto an outer rule: fall through without arming
            o("            ri = %d" % (ri + 1))
            o("            arming = True")
            o("            continue")
            continue
        if dur is not None:
            o("                _b = min(cur_ts, state.expires) if "
              "state.expires > 0 else cur_ts")
            o(f"                state.expires = _b + {dur}")
        else:
            o(f"                state.expires = {EXPIRES_NEVER}")
        o("            arming = False")
        o(f"            state.ri = {ri}")
        if ri == 0 and compiled.has_windows:
            o("            del outers[:]")
        o("            if pos >= n:")
        o("                return False")
        o("            expires = state.expires")
        # --- event loop ---
        o("            while True:")
        o("                steps += 1")
        o("                if steps > _LIMIT:")
        o("                    raise _Err('FSM did not terminate "
          "(safety limit)')")
        o("                ts, vals = events[pos]")
        o("                if (expires == 0 or expires > ts) and "
          "vals is not None:")
        for ci, cl in enumerate(rule.clauses):
            cond = f"_p_{ri}_{ci}(ts, vals, env)"
            kw2 = "if" if ci == 0 else "elif"
            o(f"                    {kw2} {cond}:")
            body: list[str] = []
            # yields
            has_cold_yield = any(k != "counter" for _d, k, _t in cl.yields)
            if has_cold_yield:
                body.append("ev.ts = ts")
                body.append("ev.vals = vals")
                body.append(f"_y_{ri}_{ci}()")
            else:
                for dst, kind, _terms in cl.yields:
                    body.append(
                        f"counters[{dst!r}] = "
                        f"counters.get({dst!r}, 0) + 1"
                    )
            kind, target = cl.action
            if kind == A_REPEAT:
                body.append("pos += 1")
                body.append("if pos >= n:")
                body.append("    return False")
                body.append("continue")
            elif kind == A_QUIT:
                body.append("state.ri = -1")
                body.append("return True")
            else:
                if kind == A_BREAK:
                    kind, target = A_NEXT, ri + 1
                depth = len(compiled.rule_windows[target])
                body.append(f"del outers[{depth}:]")
                if kind == A_NEXT:
                    body.append("pos += 1")
                body.append("cur_ts = ts")
                body.append(f"ri = {target}")
                body.append("arming = True")
                body.append("break")
            for line in body:
                o("                        " + line)
        o("                    else:")
        o(f"                        raise _Err('non-exhaustive clauses "
          f"at statement {rule.name}')")
        # --- cold path ---
        o("                else:")
        o(f"                    ri, pos, arming, cur_ts, _code = "
          f"_timeout(_C, {ri}, ts, vals, pos, state, env, ev, _dy)")
        o("                    if _code == 'abort':")
        o("                        return True")
        o("                    if _code == 'dispatch':")
        o("                        break")
        o("                    if pos >= n:")
        o("                        return False")

    return "\n".join(src)


def build_matcher(compiled: CompiledProgram):
    """Compile the generated source into a callable, binding clause
    predicates and cold-yield thunks into its namespace."""
    source = generate_matcher(compiled)

    class _Holder:
        __slots__ = ("results", "ev")

    holder = _Holder()
    ns: dict = {
        "_LIMIT": _SAFETY_LIMIT,
        "_Err": FsmRuntimeError,
        "_C": compiled,
        "_timeout": _timeout_path,
        "min": min,
        "len": len,
        "_H": holder,
    }
    # per-clause predicate and cold-yield bindings (bound once; the
    # holder carries the per-call results/ev)
    for ri, rule in enumerate(compiled.rules):
        for ci, cl in enumerate(rule.clauses):
            ns[f"_p_{ri}_{ci}"] = cl.pred
            ns[f"_y_{ri}_{ci}"] = (
                lambda ylist=cl.yields: do_yields(
                    holder.results, holder.ev, ylist
                )
            )
    ns["_dy"] = lambda ylist: do_yields(holder.results, holder.ev, ylist)
    exec(compile(source, "<trck-codegen>", "exec"), ns)  # noqa: S102
    raw = ns["match_trail"]

    from trck_spark.fsm.interpreter import _EvalCtx

    def match_trail(c, events, state, results, env, cookie,
                    win_start=0, win_end=0):
        ev = _EvalCtx()
        ev.state = state
        ev.env = env
        ev.cookie = cookie
        ev.win_start = win_start
        ev.win_end = win_end
        holder.results = results
        holder.ev = ev
        return raw(events, state, results, env, ev)

    match_trail.source = source
    return match_trail

