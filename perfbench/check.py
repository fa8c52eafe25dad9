"""Result references and the comparator.

Every engine result is reduced to one normal form — ``{binding: {var:
value}}``, where ``binding`` is a tuple of ``(foreach var, value)`` pairs
and rows whose every value is empty are dropped — so results from the
engine, the Spark-free runner and DuckDB compare with ``==``.  Sketch
results (``^var``) are compared as estimates against an exact count.
"""

from __future__ import annotations

import re

from queries import Query

EMPTY_HLL = "0e00"
# p=14 sketch: standard error 1.04/sqrt(16384) = 0.8%; allow 3 sigma plus
# a small absolute slack for tiny sets
HLL_REL_TOL = 0.025
HLL_ABS_TOL = 2


def _empty(v) -> bool:
    return v in (0, [], {}, None, EMPTY_HLL)


def normalize(out) -> dict:
    """Engine/runner output (dict, or list of dicts for foreach) -> normal
    form."""
    rows = out if isinstance(out, list) else [out]
    norm: dict = {}
    for row in rows:
        binding = tuple(sorted(
            (k, v if isinstance(v, str) else tuple(v))
            for k, v in row.items() if k[0] == "%"
        ))
        vals = {k: sorted(v) if isinstance(v, list) else v
                for k, v in row.items() if k[0] != "%" and not _empty(v)}
        if vals:
            norm[binding] = vals
    return norm


def program_shape(text: str) -> tuple[list[str], str]:
    """(foreach vars, the single yield var) of a benchmark program."""
    m = re.search(r"foreach\s+(%\w+(?:\s*,\s*%\w+)*)", text)
    binds = [v.strip() for v in m.group(1).split(",")] if m else []
    ys = set(re.findall(r"yield\s+(?:\w+\s+to\s+)?([$#&^]\w+)", text))
    if len(ys) != 1:
        raise ValueError(f"expected one yield variable, got {sorted(ys)}")
    return binds, ys.pop()


def sql_rows_to_norm(rows: list[tuple], binds: list[str], var: str) -> dict:
    """DuckDB rows -> normal form.

    Counter/sketch rows are ``(binding..., value)``; set rows are
    ``(member,)`` and multiset rows ``(member, count)``, always without a
    foreach binding."""
    if var[0] in "#&":
        if binds:
            raise ValueError("set references take no foreach binding")
        if var[0] == "#":
            vals = sorted(r[0] for r in rows)
        else:
            vals = {r[0]: int(r[1]) for r in rows if r[1]}
        return {(): {var: vals}} if vals else {}
    norm: dict = {}
    for r in rows:
        if r[-1] is None or int(r[-1]) == 0:
            continue
        binding = tuple(sorted(zip(binds, (str(x) for x in r[:-1]))))
        norm[binding] = {var: int(r[-1])}
    return norm


def hll_estimate(hex_str: str) -> float:
    from trck_spark.fsm.hll import hll_from_hex

    return hll_from_hex(hex_str).estimate()


def compare(got: dict, want: dict, sketch: bool = False) -> str | None:
    """None when ``got`` matches ``want`` (both in normal form), else a
    one-line reason.  With ``sketch``, ``got`` holds sketch hex strings and
    ``want`` the exact counts they estimate."""
    if not sketch:
        if got == want:
            return None
        keys = sorted(set(got) | set(want), key=repr)
        bad = [k for k in keys if got.get(k) != want.get(k)]
        k = bad[0]
        return (f"{len(bad)} of {len(keys)} bindings differ; first {k}: "
                f"got {_short(got.get(k))} want {_short(want.get(k))}")
    for k in sorted(set(got) | set(want), key=repr):
        g, w = got.get(k, {}), want.get(k, {})
        for var in set(g) | set(w):
            exact = w.get(var, 0)
            est = hll_estimate(g[var]) if var in g else 0.0
            if abs(est - exact) > max(HLL_ABS_TOL, HLL_REL_TOL * exact):
                return (f"sketch {k} {var}: estimate {est:.1f} outside "
                        f"envelope of exact {exact}")
    return None


def _short(v, n: int = 120) -> str:
    s = repr(v)
    return s if len(s) <= n else s[:n] + "..."


class References:
    """Lazily computed expected results for one generated dataset.

    ``cols`` are the generator's column arrays (planted duplicates
    included and flagged); SQL runs over the deduplicated view ``ev``,
    the runner over the raw trails exactly as the engine sees them."""

    def __init__(self, cols: dict, exclude: set[str] | None = None):
        import duckdb

        from gen import to_arrow

        self.cols = cols
        self.exclude = exclude or set()
        self.con = duckdb.connect()
        self.con.register("ev_raw", to_arrow(cols, with_dup=True))
        self.con.execute("CREATE VIEW ev AS SELECT * FROM ev_raw WHERE NOT dup")
        self._dbs = None
        self._cache: dict[str, dict] = {}
        self.checked: set[str] = set()  # queries whose result was checked

    def close(self) -> None:
        self.con.close()

    def trails(self) -> list[dict]:
        """The events as the runner's single-DB trail dict."""
        if self._dbs is None:
            from gen import FIELDS

            c = self.cols
            db: dict = {}
            for i in range(len(c["uuid"])):
                e = {"timestamp": int(c["timestamp"][i])}
                for f in FIELDS:
                    e[f] = c[f][i]
                db.setdefault(c["uuid"][i], []).append(e)
            self._dbs = [db]
        return self._dbs

    def expected(self, q: Query) -> dict:
        if q.name not in self._cache:
            self._cache[q.name] = self._compute(q)
        return self._cache[q.name]

    def _compute(self, q: Query) -> dict:
        binds, var = program_shape(q.text)
        if q.ref in ("sql", "hll"):
            rows = self.con.execute(q.sql).fetchall()
            return sql_rows_to_norm(rows, binds, var)
        if q.ref == "runner":
            from trck_spark.runner import TrckQuery

            tq = TrckQuery(q.text, params=q.params,
                           event_filter=q.event_filter,
                           exclude=self.exclude if q.exclude else None)
            return normalize(tq.run_local(self.trails()))
        raise ValueError(f"unknown reference kind {q.ref!r}")

    def check(self, q: Query, out) -> str | None:
        return compare(normalize(out), self.expected(q),
                       sketch=q.ref == "hll")
