"""Seeded event generator for the trail-query benchmark.

The same (seed, trails, events) always gives byte-identical parquet, so a
run is reproducible from its ``--seed`` alone.  The data has the
properties the engine's behaviour depends on:

- heavy-tailed trail lengths (lognormal, capped), so a few trails are long;
- session gaps: most inter-event gaps are seconds to minutes, a few are
  hours, so 30-minute sessions and 1-hour funnel windows both fire;
- a skewed event-type distribution (``view`` common, ``purchase`` rare);
- one high-cardinality field, ``item`` (about 10^4 Zipf-weighted values);
- timestamps strictly increasing inside a trail, except for a few planted
  consecutive duplicates (an exact copy of the previous event with the
  next ``seq``), which the engine must skip.

Output is cached under ``<cache_dir>/<key>/`` with a marker file, keyed by
every generator input.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np

GEN_VERSION = 1
T0 = 1_700_000_000
SPAN_S = 14 * 86400

EVENT_TYPES = ["view", "scroll", "open", "click", "close", "share",
               "add_to_cart", "purchase"]
TYPE_WEIGHTS = [0.34, 0.2, 0.14, 0.12, 0.08, 0.05, 0.04, 0.03]
N_CAMPAIGNS = 24
N_ITEMS = 10_000
DUP_FRAC = 0.001
FIELDS = ("event_type", "campaign", "item")


@dataclass(frozen=True)
class Spec:
    seed: int
    trails: int
    events: int
    dups: bool = True

    @property
    def key(self) -> str:
        return (f"v{GEN_VERSION}_s{self.seed}_t{self.trails}_e{self.events}"
                f"_d{int(self.dups)}")


def generate(spec: Spec) -> dict[str, np.ndarray]:
    """Return the events as column arrays, sorted by (uuid, timestamp, seq).

    Also returns ``dup`` (bool): True on the planted duplicate rows, so the
    references can be computed on the deduplicated stream."""
    rng = np.random.default_rng(spec.seed)
    n_tr = spec.trails
    mean_len = spec.events / n_tr
    lens = rng.lognormal(0.0, 1.0, n_tr)
    lens = np.maximum(1, np.round(lens * mean_len / lens.mean())).astype(np.int64)
    lens = np.minimum(lens, int(mean_len * 25))
    # fix the total to exactly `events` by trimming/extending the longest
    diff = spec.events - int(lens.sum())
    lens[np.argmax(lens)] += diff
    if lens.min() < 1:
        raise ValueError("trail count too large for the event count")
    n = int(lens.sum())

    trail = np.repeat(np.arange(n_tr, dtype=np.int64), lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    seq = np.arange(n, dtype=np.int64) - np.repeat(starts, lens)

    # gaps: 1..~300 s inside a session, 1-8 h between sessions
    gaps = 1 + rng.exponential(60.0, n).astype(np.int64)
    long_gap = rng.random(n) < 0.04
    gaps[long_gap] = rng.integers(3600, 8 * 3600, int(long_gap.sum()))
    gaps[starts] = 0
    first = T0 + rng.integers(0, SPAN_S // 2, n_tr)
    ts = np.repeat(first, lens) + _segmented_cumsum(gaps, starts, lens)

    etype = rng.choice(len(EVENT_TYPES), n, p=TYPE_WEIGHTS)
    campaign = np.minimum(rng.zipf(1.6, n) - 1, N_CAMPAIGNS - 1)
    item = (rng.zipf(1.15, n) - 1) % N_ITEMS

    dup = np.zeros(n, dtype=bool)
    if spec.dups:
        # a planted duplicate copies the previous event of the same trail
        cand = np.flatnonzero(seq > 0)
        pick = np.sort(
            rng.choice(cand, max(1, int(n * DUP_FRAC)), replace=False)
        )
        # never copy a row that is itself a planted duplicate
        pick = pick[np.concatenate([[True], np.diff(pick) > 1])]
        dup[pick] = True
        src = pick - 1
        ts[pick] = ts[src]
        etype[pick] = etype[src]
        campaign[pick] = campaign[src]
        item[pick] = item[src]
        _check_order(ts, trail)

    # uuids in 32-hex cookie form (side-input files match on this form)
    hi = rng.integers(0, 2**63, n_tr, dtype=np.int64)
    lo = rng.integers(0, 2**63, n_tr, dtype=np.int64)
    uuids = np.array([f"{h:016x}{low:016x}" for h, low in zip(hi, lo)])
    order = np.argsort(uuids, kind="stable")
    rank = np.empty(n_tr, dtype=np.int64)
    rank[order] = np.arange(n_tr)
    row_order = np.lexsort((seq, rank[trail]))

    cols = {
        "uuid": uuids[trail],
        "timestamp": ts,
        "seq": seq,
        "event_type": np.array(EVENT_TYPES)[etype],
        "campaign": np.char.add("c", campaign.astype(str)),
        "item": np.char.add("i", item.astype(str)),
        "dup": dup,
    }
    return {k: v[row_order] for k, v in cols.items()}


def _segmented_cumsum(gaps, starts, lens):
    cs = np.cumsum(gaps)
    return cs - np.repeat(cs[starts] - gaps[starts], lens)


def _check_order(ts, trail) -> None:
    """A planted duplicate repeats its predecessor's timestamp; the
    cumulative construction keeps every later event above it.  Check the
    order the references rely on."""
    same = trail[1:] == trail[:-1]
    if np.any(ts[1:][same] < ts[:-1][same]):
        raise AssertionError("timestamps out of order inside a trail")


def to_arrow(cols: dict, with_dup: bool = False):
    import pyarrow as pa

    names = ["uuid", "timestamp", "seq", *FIELDS] + (["dup"] if with_dup else [])
    return pa.table({k: cols[k] for k in names})


def ensure(spec: Spec, cache_dir: str,
           n_files: int = 1) -> tuple[str, dict, float]:
    """Write the events for ``spec`` as ``n_files`` time-sliced parquet
    files under the cache; return (directory, columns, generation seconds).

    A cache hit reads the columns back and reports 0.0 seconds.  Files are
    named, and their modification times set, in time order, so a file
    stream source reads them in that order.  The planted-duplicate flags
    go to ``_dup.npy``, which Spark's file listing skips."""
    import pyarrow.parquet as pq

    out = os.path.join(cache_dir, f"{spec.key}_f{n_files}")
    marker = os.path.join(out, "_GEN.json")
    if os.path.exists(marker):
        # back in generation order, which the duplicate flags follow
        table = pq.read_table(out).sort_by([("uuid", "ascending"),
                                            ("seq", "ascending")])
        cols = {k: table.column(k).to_numpy() for k in table.column_names}
        cols["dup"] = np.load(os.path.join(out, "_dup.npy"))
        return out, cols, 0.0
    t0 = time.perf_counter()
    cols = generate(spec)
    os.makedirs(out, exist_ok=True)
    table = to_arrow(cols)
    ts = cols["timestamp"]
    cuts = np.quantile(ts, np.linspace(0, 1, n_files + 1)[1:-1])
    slot = np.searchsorted(cuts, ts, side="right")
    for i in range(n_files):
        f = os.path.join(out, f"part-{i:04d}.parquet")
        pq.write_table(table.filter(slot == i), f)
        os.utime(f, (T0 + i, T0 + i))
    np.save(os.path.join(out, "_dup.npy"), cols["dup"])
    with open(marker, "w") as f:
        json.dump({"spec": spec.key, "files": n_files}, f)
    return out, cols, time.perf_counter() - t0
