"""Systematic physical-plan audit over EVERY registered query.

The per-operator plan tests pin specific shapes (bucketed-scan elision,
WindowGroupLimit, single-explode pipelines); this module enforces the
blanket invariants on the whole `queries()` registry at once:

1. No row-at-a-time Python UDF anywhere (`BatchEvalPython`): Python is
   allowed only as Arrow-batched pandas stages (mapInPandas /
   FlatMapGroupsInPandas — the FSM path).
2. No cartesian product without an explicit broadcast bound: a
   `CartesianProduct` node means a cross join fell off the broadcast
   path, which is O(n^2) shuffle at scale.  (BroadcastNestedLoopJoin
   over a broadcast side is fine — that's the deliberate
   small-side-cross-join pattern.)
3. Every documents/embeddings/events parquet scan prunes columns: a
   scan whose ReadSchema carries the full table width for a narrow
   query means projection pushdown broke.

Plans are inspected unexecuted (initial adaptive plan): node TYPES are
stable pre-execution even though AQE may later rewrite exchanges.
"""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

_QUERIES = entry_mod.queries()

# full column sets of the wide tables; a scan reading ALL of them is
# only legitimate for queries that genuinely consume every column
_FULL_WIDTH = {
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
}


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in sorted(_QUERIES.items()):
        df = fn(spark, SF_DIR)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
        from trck_spark.pipeline.dedup import release

        release(df)
    return out


def test_no_row_python_udf(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_no_unbounded_cartesian(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"non-broadcast cartesian product in: {bad}"


def _read_schemas(plan: str, table: str):
    """ReadSchema column sets for scans of `<table>.parquet`."""
    out = []
    for scan in re.finditer(
        r"FileScan parquet \[[^\]]*\][^\n]*" + re.escape(f"{table}.parquet")
        + r"[^\n]*ReadSchema: struct<([^>]*)>",
        plan,
    ):
        cols = {
            c.split(":")[0].strip()
            for c in scan.group(1).split(",")
            if c.strip()
        }
        out.append(cols)
    # plans rendered with Location before ReadSchema (common) — fall
    # back to scanning line-wise
    if not out:
        for line in plan.splitlines():
            if f"{table}.parquet" in line and "ReadSchema: struct<" in line:
                inner = line.split("ReadSchema: struct<", 1)[1]
                inner = inner.split(">", 1)[0]
                cols = {
                    c.split(":")[0].strip()
                    for c in inner.split(",")
                    if c.strip()
                }
                out.append(cols)
    return out


# queries that legitimately consume (almost) the whole documents row
_WIDE_OK = {
    "dedup_apply",       # doc_id, source, n_chars + text for pairs
    "incremental_dedup", # doc_id, source, text
}


def test_documents_scans_prune_columns(plans):
    full = _FULL_WIDTH["documents"]
    bad = []
    for name, plan in plans.items():
        for cols in _read_schemas(plan, "documents"):
            if cols >= full and name not in _WIDE_OK:
                bad.append((name, sorted(cols)))
    assert not bad, f"unpruned documents scans: {bad}"


def test_events_scans_prune_columns(plans):
    full = _FULL_WIDTH["events"]
    bad = []
    for name, plan in plans.items():
        for cols in _read_schemas(plan, "events"):
            if cols >= full:
                bad.append((name, sorted(cols)))
    assert not bad, f"unpruned events scans: {bad}"


# ---------------------------------------------------------------------
# Forced-broadcast audit (round-5 invariant): a `F.broadcast(x)` hint is
# a MANDATORY broadcast — Spark honors it regardless of size, so a hint
# on any input whose cardinality grows with the corpus is a latent OOM
# at 10^8-10^9 docs (Spark's broadcast hard limit is 8 GB; the driver
# dies first).  Round 4 shipped exactly that bug on the per-document
# count tables of the ngram/minhash verify joins.  Every hint call site
# must therefore name an input that is bounded by something OTHER than
# corpus size (a parameter grid, an eval set, bloom geometry, sqrt(N)
# pivots with a documented ceiling) and be whitelisted here with its
# bound.  AQE broadcasts genuinely-small sides at runtime without any
# hint, so removing a hint never costs performance at small scale.

_SRC_ROOT = os.path.join(os.path.dirname(__file__), "..", "trck_spark")

# (basename, broadcast argument prefix) -> why the input is bounded
_BROADCAST_WHITELIST = {
    ("dedup.py", "bloom"): "bloom words: geometry-capped (~m/64 rows), "
                           "manifest-gated off beyond ~1e8 fingerprints",
    ("dedup.py", "piv"): "sqrt(N) pivot set, documented ceiling",
    ("engine.py", "excl_df"): "side-input exclude list, file-sized",
    ("engine.py", "w_df"): "side-input window file, file-sized",
    ("streaming.py", "w_df"): "measured-count gate: broadcast only when "
                              "the materialized window-entry count <= "
                              "TRCK_SPARK_STREAM_WINDOW_BCAST_MAX "
                              "(default 2M); larger sets keep the "
                              "distributed join",
    ("planner.py", "grid"): "foreach parameter grid, grid-sized",
    ("store.py", "lex_df"): "lexicon, capped at n_fields * dict_max",
}

_BROADCAST_RE = re.compile(
    r"(?:F|functions)\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)"
)


def test_no_unjustified_forced_broadcast_in_source():
    bad = []
    for dirpath, _dirs, files in os.walk(_SRC_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                src = f.read()
            for m in _BROADCAST_RE.finditer(src):
                arg = m.group(1)
                if (fname, arg) not in _BROADCAST_WHITELIST:
                    line = src[: m.start()].count("\n") + 1
                    bad.append(f"{fname}:{line} broadcast({arg}...)")
    assert not bad, (
        "forced broadcast on un-whitelisted input (prove the input's "
        f"cardinality is corpus-independent, then whitelist): {bad}"
    )


# queries whose analyzed plan legitimately carries broadcast hints —
# every hint inside them resolves to a whitelisted bounded input above
_HINTED_QUERIES_OK = {
    "semantic_dedup",  # sqrt(N) pivot set
    "incremental_dedup",  # store leg's bloom sidecar (geometry-capped)
    # trck engine queries: grid / lexicon / side-input broadcasts
    *{n for n in _QUERIES if n.startswith("trck_")},
}


@pytest.fixture(scope="module")
def analyzed_plans(spark):
    out = {}
    for name, fn in sorted(_QUERIES.items()):
        df = fn(spark, SF_DIR)
        out[name] = df._jdf.queryExecution().analyzed().toString()
        from trck_spark.pipeline.dedup import release

        release(df)
    return out


def test_pair_family_has_no_broadcast_hints(analyzed_plans):
    """The dedup pair family (per-doc count joins, banding self-joins)
    must carry ZERO logical broadcast hints: all of its join inputs
    scale with the corpus, so join strategy is AQE's call, never ours."""
    bad = []
    for name, plan in analyzed_plans.items():
        if name in _HINTED_QUERIES_OK:
            continue
        n_hints = plan.count("ResolvedHint")
        if n_hints:
            bad.append((name, n_hints))
    assert not bad, f"broadcast hints on corpus-scaled queries: {bad}"


def test_bucket_cap_guard_adds_no_band_exchange(spark):
    """The LSH bucket-cap guard must cost ONE physical pass over the
    banded rows, shared by both self-join sides (VERDICT r05 item 6):
    sizes come from a window count over the banding key and the capped
    frame is persisted, so both join sides are InMemoryTableScans that
    preserve the window's hash partitioning — the explode/exchange/
    window lineage executes once (Catalyst's ReusedExchange does not
    fire across the aliased join branches; the cache is what dedups
    the work — A/B at 1M docs: 27 s cached vs 35-38 s recompute).
    The printed plan shows the cached lineage (with its single
    exchange) under each of the two scans.  Uncapped at this tiny
    scale the join broadcasts — zero exchanges — which is why the
    auto cap is size-gated off for small corpora."""
    from trck_spark.pipeline import dedup as dd

    def shape(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        ex = sum(
            1 for l in plan.splitlines()
            if "Exchange hashpartitioning(band" in l
        )
        win = sum(
            1 for l in plan.splitlines()
            if "Window [count(1)" in l and "band" in l
        )
        return ex, win, plan.count("InMemoryTableScan")

    capped = dd.minhash_lsh_pairs(
        spark, SF_DIR, threshold=0.2, max_band_bucket=4096
    )
    uncapped = dd.minhash_lsh_pairs(
        spark, SF_DIR, threshold=0.2, max_band_bucket=None
    )
    try:
        ex, win, imts = shape(capped)
        # one exchange+window pair per cached-plan printout (the cache
        # subtree prints under each scan); >= 2 cached scans prove
        # both join sides read the shared persisted frame
        assert (ex, win) == (2, 2), (ex, win)
        assert imts >= 2, imts
        ex_u, win_u, _ = shape(uncapped)
        assert (ex_u, win_u) == (0, 0), (ex_u, win_u)
    finally:
        dd.release(capped)
        dd.release(uncapped)
