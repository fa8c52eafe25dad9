"""Programs the benchmark runs, with the reference each result is checked
against.

A query is a ``Query``: program text plus engine options, and a reference
kind:

- ``sql``: a DuckDB statement over the view ``ev`` (the deduplicated
  events); its rows are ``(binding..., value)`` with the binding columns
  named after the program's foreach variables;
- ``runner``: the Spark-free ``trck_spark.runner`` on the raw events (for
  programs SQL cannot express);
- ``hll``: a DuckDB exact distinct count per binding; the engine's sketch
  estimate must fall inside an error envelope around it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Query:
    name: str
    text: str
    ref: str  # "sql" | "runner" | "hll"
    sql: str = ""
    params: dict | None = None
    event_filter: dict | None = None
    exclude: bool = False  # run with the workload's exclude DataFrame


def _dur(seconds: int) -> str:
    for unit, n in (("d", 86400), ("h", 3600), ("m", 60)):
        if seconds % n == 0:
            return f"{seconds // n}{unit}"
    return f"{seconds}s"


# ------------------------------------------------------------ FSM-path

FUNNEL3_SET = """
start ->
    receive
        event_type = "view" -> cart
        * -> repeat
cart ->
    receive
        event_type = "add_to_cart" -> buy
        * -> repeat
    after 1h -> start
buy ->
    receive
        event_type = "purchase" -> yield item to #bought, start
        * -> repeat
    after 1h -> start
"""

NESTED_WINDOW = """
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

GRID_AFTER = """
foreach %t, %c in @pairs
    start ->
        receive
            event_type = %t, campaign = %c -> wait
            * -> repeat
    wait ->
        receive
            event_type = "purchase" -> yield $conv, start
            * -> repeat
        after 1d -> start
"""
GRID_PAIRS = [[t, f"c{i}"] for t in ("view", "click", "add_to_cart")
              for i in range(2)]

HLL_TYPES = """
foreach %t
    start ->
        receive
            event_type = %t -> yield cookie to ^uniq, repeat
            * -> repeat
"""

MSET_ITEMS = """
start ->
    receive
        event_type = "click" -> yield item to &clicked
        * -> repeat
"""

SIDE_INPUTS = """
start ->
    receive
        event_type = "view" -> seen
        * -> repeat
seen ->
    receive
        event_type = "click" -> yield campaign to &click_campaigns, seen
        * -> repeat
    after 2h -> start
"""
# CNF: (view OR click OR purchase) AND (campaign != c0 OR view)
SIDE_FILTER = {"clauses": [
    [{"field": "event_type", "value": "view"},
     {"field": "event_type", "value": "click"},
     {"field": "event_type", "value": "purchase"}],
    [{"field": "campaign", "value": "c0", "op": "notequal"},
     {"field": "event_type", "value": "view"}],
]}


def fsm_queries() -> list[Query]:
    return [
        Query("funnel3_set", FUNNEL3_SET, "runner"),
        Query("nested_window", NESTED_WINDOW, "sql", sql="""
WITH p AS (SELECT uuid, min(timestamp) AS pt FROM ev
           WHERE event_type = 'purchase' GROUP BY 1)
SELECT count(*) FROM ev JOIN p USING (uuid)
WHERE ev.event_type = 'click' AND ev.timestamp > p.pt"""),
        Query("grid_after", GRID_AFTER, "runner",
              params={"@pairs": GRID_PAIRS}),
        Query("hll_types", HLL_TYPES, "hll", sql="""
SELECT event_type AS t, count(DISTINCT uuid) FROM ev GROUP BY 1"""),
        Query("mset_items", MSET_ITEMS, "sql", sql="""
SELECT item AS k, count(*) FROM ev WHERE event_type = 'click'
GROUP BY 1"""),
        Query("side_inputs", SIDE_INPUTS, "runner",
              event_filter=SIDE_FILTER, exclude=True),
    ]


# ---------------------------------------------------- store-interactive


def _funnel(a: str, b: str, w: int) -> Query:
    text = f"""
start ->
    receive
        event_type = "{a}" -> wait
        * -> repeat
wait ->
    receive
        event_type = "{b}" -> yield $conv, quit
        * -> repeat
    after {_dur(w)} -> quit
"""
    sql = f"""
WITH v AS (SELECT uuid, min(timestamp) AS vt FROM ev
           WHERE event_type = '{a}' GROUP BY 1),
f AS (SELECT e.uuid, min(e.timestamp) AS bt FROM ev e JOIN v USING (uuid)
      WHERE e.event_type = '{b}' AND e.timestamp > v.vt GROUP BY 1)
SELECT count(*) FROM f JOIN v USING (uuid) WHERE bt < vt + {w}"""
    return Query(f"funnel_{a}_{b}_{_dur(w)}", text, "sql", sql=sql)


def sessions(gap: int) -> Query:
    text = f"""
start ->
    receive
        * -> yield $sessions, insession
insession ->
    receive
        * -> insession
    after {_dur(gap)} -> start
"""
    sql = f"""
WITH e AS (SELECT timestamp AS t, lag(timestamp) OVER
             (PARTITION BY uuid ORDER BY timestamp, seq) AS pt FROM ev)
SELECT count(*) FROM e WHERE pt IS NULL OR t >= pt + {gap}"""
    return Query(f"sessions_{_dur(gap)}", text, "sql", sql=sql)


def _bounce(w: int) -> Query:
    text = f"""
start ->
    receive
        event_type = "view" -> wait
        * -> repeat
wait ->
    receive
        event_type = "view" -> wait
        * -> start
    after {_dur(w)} -> yield $bounces, start
"""
    sql = f"""
WITH e AS (SELECT event_type, timestamp AS t, lead(timestamp) OVER
             (PARTITION BY uuid ORDER BY timestamp, seq) AS nt FROM ev)
SELECT count(*) FROM e
WHERE event_type = 'view' AND (nt IS NULL OR nt >= t + {w})"""
    return Query(f"bounce_{_dur(w)}", text, "sql", sql=sql)


def _attribution(w: int) -> Query:
    text = f"""
start ->
    receive
        event_type = "click" -> attr
        * -> repeat
attr ->
    receive
        event_type = "click" -> attr
        event_type = "purchase" -> yield $attr_purchases, repeat
        * -> repeat
    after {_dur(w)} -> start
"""
    sql = f"""
WITH e AS (SELECT event_type, timestamp AS t, max(CASE WHEN
             event_type = 'click' THEN timestamp END) OVER
             (PARTITION BY uuid ORDER BY timestamp, seq ROWS BETWEEN
              UNBOUNDED PRECEDING AND 1 PRECEDING) AS ct FROM ev)
SELECT count(*) FROM e
WHERE event_type = 'purchase' AND ct IS NOT NULL AND t < ct + {w}"""
    return Query(f"attribution_{_dur(w)}", text, "sql", sql=sql)


FOREACH_QUERIES = [
    Query("funnel_by_type", """
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
""", "sql", sql="""
WITH v AS (SELECT uuid, min(timestamp) AS vt FROM ev
           WHERE event_type = 'view' GROUP BY 1),
f AS (SELECT e.event_type AS t, e.uuid, min(e.timestamp) AS bt
      FROM ev e JOIN v USING (uuid) WHERE e.timestamp > v.vt GROUP BY 1, 2)
SELECT t, count(*) FROM f JOIN v USING (uuid) WHERE bt < vt + 3600
GROUP BY 1"""),
    Query("sessions_by_type", """
foreach %t
    start ->
        receive
            event_type = %t -> yield $sessions, insession
            * -> repeat
    insession ->
        receive
            * -> insession
        after 30m -> start
""", "sql", sql="""
WITH g AS (SELECT uuid, event_type, timestamp AS t, lag(timestamp) OVER
             (PARTITION BY uuid ORDER BY timestamp, seq) AS pt, seq FROM ev),
i AS (SELECT uuid, event_type, sum(CASE WHEN pt IS NULL OR t >= pt + 1800
             THEN 1 ELSE 0 END) OVER (PARTITION BY uuid ORDER BY t, seq
             ROWS UNBOUNDED PRECEDING) AS isl FROM g)
SELECT event_type AS t, count(DISTINCT (uuid, isl)) FROM i GROUP BY 1"""),
]


def _count_by(field_: str, bounds: tuple[int, int] | None = None) -> Query:
    cond, where, suffix = "", "", ""
    if bounds:
        lo, hi = bounds
        cond = f", timestamp >= {lo}, timestamp < {hi}"
        where = f"WHERE timestamp >= {lo} AND timestamp < {hi}"
        suffix = f"_{lo}_{hi}"
    text = f"""
foreach %v
    start ->
        receive
            {field_} = %v{cond} -> yield $n
            * -> repeat
"""
    return Query(f"count_by_{field_}{suffix}", text, "sql",
                 sql=f"SELECT {field_} AS v, count(*) FROM ev {where} "
                     "GROUP BY 1")


def _uniq_by(field_: str, bounds: tuple[int, int] | None = None) -> Query:
    cond, where, suffix = "", "", ""
    if bounds:
        lo, hi = bounds
        cond = f", timestamp >= {lo}, timestamp < {hi}"
        where = f"WHERE timestamp >= {lo} AND timestamp < {hi}"
        suffix = f"_{lo}_{hi}"
    text = f"""
foreach %v
    start ->
        receive
            {field_} = %v{cond} -> yield cookie to ^uniq, repeat
            * -> repeat
"""
    return Query(f"uniq_by_{field_}{suffix}", text, "hll",
                 sql=f"SELECT {field_} AS v, count(DISTINCT uuid) FROM ev "
                     f"{where} GROUP BY 1")


def store_pool(ts: np.ndarray, rng: np.random.Generator) -> list[Query]:
    """The distinct queries of ``store_interactive``, in Zipf rank order.

    The order is fixed and interleaves the engine's tiers, so the head of
    the distribution mixes compiled, rollup and manifest answers.  The
    two timestamp-bounded queries draw their bounds from ``rng`` at
    quantiles of the data's time range, so every bound cuts into the
    middle of the data."""
    qs = np.quantile(ts, [0.05, 0.95])

    def bounds() -> tuple[int, int]:
        lo, hi = np.sort(rng.uniform(qs[0], qs[1], 2)).astype(np.int64)
        return int(lo), int(hi) + 1

    return [
        _funnel("view", "click", 3600), _count_by("event_type"),
        sessions(1800), _uniq_by("event_type"),
        _count_by("event_type", bounds()), _bounce(1800), FOREACH_QUERIES[0],
        _uniq_by("event_type", bounds()), _funnel("view", "add_to_cart", 3600),
        _count_by("campaign"), _attribution(7 * 86400), FOREACH_QUERIES[1],
    ]


def zipf_stream(n_pool: int, length: int, rng: np.random.Generator,
                s: float = 1.1) -> list[int]:
    """A closed-loop query stream over ``n_pool`` queries, Zipf-weighted by
    pool rank.  Each block of ``length`` draws holds every query once,
    and the remaining ``length - n_pool`` draws split by the weights
    (largest remainder), shuffled by ``rng`` -- so the query mix, and with
    it the latency distribution, is the same for every seed while the
    order changes."""
    if length < n_pool:
        raise ValueError("a block must hold every pool query")
    w = 1.0 / np.arange(1, n_pool + 1) ** s
    share = w / w.sum() * (length - n_pool)
    quota = np.floor(share).astype(int)
    rest = length - n_pool - quota.sum()
    quota[np.argsort(-(share - quota), kind="stable")[:rest]] += 1
    block = np.repeat(np.arange(n_pool), quota + 1)
    return [int(i) for i in rng.permutation(block)]
