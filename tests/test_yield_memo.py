"""The shared yield helper (fsm/interpreter.do_yields) memoizes tuple
encodings and HLL register updates per process.  The memos must never
change a result: set, multiset and HLL partials equal the unmemoized
computation byte for byte, on both the interpreter and the generated
matcher, and each memo stays within its size bound."""

from __future__ import annotations

import random

import pytest

import trck_spark.fsm.interpreter as interp
from trck_spark.runner import TrckQuery

PROG = """
start ->
    receive
        t = "a" -> yield cookie to ^uc, yield u to #s, yield t, u to &m, repeat
        t = "b" -> yield u to ^hu, yield cookie, u to #cu, next
        * -> yield u to &m2, repeat
next ->
    receive
        * -> yield t to #after, start
    after 5s -> yield u to ^late, start
"""


class _NoMemo(dict):
    """A memo that never remembers: every lookup misses."""

    def __setitem__(self, key, value):
        pass


def _trails(seed: int, n_trails: int = 40):
    rng = random.Random(seed)
    vals = ["x", "y", "z,w", "n\x00l", "€", "L" * 300]
    out = []
    for i in range(n_trails):
        cookie = bytes([i % 7]) * 16
        ts = 0
        events = []
        for _ in range(rng.randrange(1, 60)):
            ts += rng.randrange(0, 9)
            events.append((ts, (rng.choice("abc"), rng.choice(vals))))
        out.append((cookie, events))
    return out


def _run_all(trails) -> list:
    q = TrckQuery(PROG)
    out = []
    for cookie, events in trails:
        per = q.trail_results(events, cookie, None)
        out.append(
            {
                ti: (r.counters, r.sets, r.hlls)
                for ti, r in per.items()
            }
        )
    return out


@pytest.mark.parametrize("codegen", [True, False])
def test_memo_results_equal_unmemoized(monkeypatch, codegen):
    if not codegen:
        monkeypatch.setenv("TRCK_SPARK_NO_CODEGEN", "1")
    trails = _trails(7)
    monkeypatch.setattr(interp, "_KEY_MEMO", _NoMemo())
    monkeypatch.setattr(interp, "_HLL_MEMO", _NoMemo())
    plain = _run_all(trails)
    assert any(p and p[0][1].get("#s") for p in plain)
    assert any(p and p[0][2].get("^uc") for p in plain)

    monkeypatch.setattr(interp, "_KEY_MEMO", {})
    monkeypatch.setattr(interp, "_HLL_MEMO", {})
    assert _run_all(trails) == plain
    # a warm memo (second pass hits on every key) changes nothing
    assert _run_all(trails) == plain
    assert interp._KEY_MEMO and interp._HLL_MEMO


def test_memo_size_stays_bounded(monkeypatch):
    trails = _trails(11)
    monkeypatch.setattr(interp, "_KEY_MEMO", _NoMemo())
    monkeypatch.setattr(interp, "_HLL_MEMO", _NoMemo())
    plain = _run_all(trails)

    key_memo: dict = {}
    hll_memo: dict = {}
    monkeypatch.setattr(interp, "_KEY_MEMO", key_memo)
    monkeypatch.setattr(interp, "_HLL_MEMO", hll_memo)
    monkeypatch.setattr(interp, "_YIELD_MEMO_MAX", 4)
    assert _run_all(trails) == plain
    assert 0 < len(key_memo) <= 4
    assert 0 < len(hll_memo) <= 4
