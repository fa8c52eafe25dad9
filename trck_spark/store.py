"""TrailStore: trail-clustered bucketed storage, the Spark analog of the
TrailDB file format.

A TrailDB stores events grouped by cookie and sorted by time, which is why
the reference engine (src/match_traildb.c trail cursor loop) never has to
shuffle or sort anything at query time.  Flat parquet loses that property:
every trail-ordered operator (FSM matching, sessionization windows,
consecutive-duplicate skip) pays a full hash shuffle + sort per query.

TrailStore restores the layout guarantee with Spark-native bucketing:
events are written bucketed by the uuid column and sorted by
(uuid, ts, seq) with exactly one file per bucket.  Reading the store back
through the catalog gives Catalyst a HashPartitioning + SortOrder it can
trust, so window/aggregate plans over trails elide both the Exchange and
the Sort (requires spark.sql.legacy.bucketedTableScan.outputOrdering=true,
set by trck_spark.session.get_spark).  At 100 TB this turns every trail
query from "shuffle the world" into an embarrassingly parallel scan,
exactly like the reference's format does natively.

The catalog entry is session-scoped (in-memory catalog); the files plus a
`_trailstore.json` manifest are the durable artifact, and `open_trail_store`
re-registers the table in any new session via DDL (no data rewrite).
"""

from __future__ import annotations

import json
import os
import re

from trck_spark.worker import drop_spark_zip_importers

MANIFEST = "_trailstore.json"
# per-row packed (register << 6 | rank) of the row's cookie
# (fsm/hll.hll_rr_from_uuids), written into every store
HLL_RR_COL = "__hll_rr"


def _dump_manifest(m: dict, f) -> None:
    """json.dump a manifest, stripping underscore-prefixed keys: those
    are engine run-time caches (may hold py4j Datasets — ADVICE r10)
    and must never reach disk or a copy."""
    json.dump({k: v for k, v in m.items() if not k.startswith("_")}, f)

# per-field lexicon cap for auto dictionary encoding: fields above this
# distinct-count stay plain strings (a 100 TB store's high-cardinality
# fields would otherwise ship giant lexicons through every manifest)
DICT_MAX = 4096


def _dict_lexicons(df, candidates: list[str], dict_max: int) -> dict:
    """{field: sorted non-empty values} for every candidate string field
    whose distinct count fits the cap — the write-time analog of TrailDB's
    per-field lexicon build (reference src/db.c:62-84).

    Two bounded passes: an approx_count_distinct probe prunes
    high-cardinality fields without collecting anything, then ONE
    exploded distinct pass over the survivors (map-side partial
    aggregation keeps the shuffle tiny) collects the actual lexicons.
    The collect is bounded by n_fields x dict_max x margin."""
    from pyspark.sql import functions as F

    if not candidates:
        return {}
    probe = df.agg(
        *[F.approx_count_distinct(f).alias(f) for f in candidates]
    ).first()
    # 1.3x margin over the cap: approx_count_distinct is ~2% rsd; the
    # exact count is re-checked after the distinct pass
    eligible = [f for f in candidates if probe[f] <= dict_max * 1.3]
    if not eligible:
        return {}
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("f"),
                            F.col(f).cast("string").alias("v"),
                        )
                        for f in eligible
                    ]
                )
            ).alias("p")
        )
        .select("p.f", "p.v")
        .filter(F.col("v").isNotNull() & (F.col("v") != ""))
        .distinct()
        .collect()
    )
    lex: dict[str, list] = {f: [] for f in eligible}
    for r in pairs:
        lex[r["f"]].append(r["v"])
    return {
        f: sorted(vs) for f, vs in lex.items() if len(vs) <= dict_max
    }


def _with_dict_codes(df, dicts: dict):
    """Append one ``__c_<field>`` int column per lexicon field.

    Code 0 is the empty/absent value (TrailDB value-id 0 — reference
    src/db.c:99-100); values map to 1..n in lexicon (sorted) order.
    Encoding joins a broadcast lexicon frame per field — no expression
    blowup at the 4096-value cap, and the broadcast hash join keeps the
    probe side streaming (no shuffle before the bucketed write's own
    repartition)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    for f, values in dicts.items():
        code_col = "__c_" + f
        lex_df = spark.createDataFrame(
            [(v, i + 1) for i, v in enumerate(values)],
            schema=f"`{f}__v` string, `{code_col}` int",
        )
        df = df.join(
            F.broadcast(lex_df),
            F.col(f).cast("string") == F.col(f + "__v"),
            "left",
        ).drop(f + "__v")
        df = df.withColumn(code_col, F.coalesce(F.col(code_col), F.lit(0)))
    return df


def _table_name(path: str) -> str:
    slug = re.sub(r"[^A-Za-z0-9_]", "_", os.path.abspath(path)).strip("_")
    return f"trailstore_{slug}"


def _hll_rr_expr(uuid_col: str):
    """Arrow-batched column expression for the packed cookie register
    update (fsm/hll.hll_rr_from_uuids) — one vectorized murmur pass per
    batch, applied once at write time."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # no type hints: the module's `from __future__ import annotations`
    # would stringify them beyond pyspark's inference
    @pandas_udf("int", PandasUDFType.SCALAR)
    def _rr(u):
        drop_spark_zip_importers()
        import pandas as pd

        from trck_spark.fsm.hll import hll_rr_from_uuids

        return pd.Series(hll_rr_from_uuids(u.tolist()))

    return _rr(F.col(uuid_col).cast("string"))


def write_trail_store(df, path: str, uuid_col: str = "uuid",
                      ts_col: str = "timestamp", seq_col: str | None = "seq",
                      n_buckets: int = 32, dict_fields="auto",
                      dict_max: int = DICT_MAX,
                      db_col: str | None = None):
    """Write `df` as a trail-clustered bucketed table at `path` and return
    the re-opened DataFrame.

    The pre-write repartition uses the same murmur3 hash as the bucketing,
    so every task holds exactly one bucket and each bucket is a single
    file — the layout Spark requires before it will trust the sort order
    of a bucketed scan.

    dict_fields: per-field dictionary encoding, the storage idea TrailDB
    is built on (every field is a lexicon of value-ids — reference
    src/db.c:62-113).  "auto" (default) lexicon-izes every string field
    whose cardinality fits `dict_max`; a list selects fields explicitly;
    None disables.  Each encoded field gains an int ``__c_<field>``
    column (0 = ""/absent, 1..n = lexicon order) stored alongside the
    string — compiled count plans aggregate on the int code and decode
    once post-agg, which is exactly the dictionary-id aggregation a
    native engine (or DuckDB) does and several times faster than string
    hash-agg at the 100 TB end.

    db_col: persist a DB-index column (compaction writes the original
    segment index here — compact_trail_store).  The sort becomes
    (uuid, db, ts, seq), matching the engine's stream order exactly, so
    a compacted store replays the segmented store's event order and
    per-DB dedup scoping byte-identically; ts-uniqueness is then proved
    per (uuid, db).  open_trail_store re-exposes it via the manifest
    and the engine defaults its db_col to it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    spark = df.sparkSession
    sort_cols = (
        [uuid_col] + ([db_col] if db_col else []) + [ts_col]
        + ([seq_col] if seq_col else [])
    )
    if dict_fields == "auto":
        skip = {uuid_col, ts_col, seq_col, db_col}
        candidates = [
            fld.name
            for fld in df.schema.fields
            if isinstance(fld.dataType, StringType) and fld.name not in skip
        ]
    else:
        candidates = list(dict_fields or [])
    dicts = _dict_lexicons(df, candidates, dict_max)
    if dicts:
        df = _with_dict_codes(df, dicts)
    # materialize the packed (register << 6 | rank) of each row's
    # cookie at WRITE time (fsm/hll.hll_rr_from_uuids): murmur of a
    # cookie is not expressible in Spark SQL, so persisting its 4-byte
    # relational form is what keeps every later uniques scan
    # (ts-bounded boundary slices above all) pure JVM —
    # groupBy(code, rr >> 6).max(rr & 63) with zero Arrow transfer.
    # Recomputed unconditionally (a compaction input may carry a stale
    # or partially-null column from an older-layout union).
    df = df.drop(HLL_RR_COL).withColumn(HLL_RR_COL, _hll_rr_expr(uuid_col))
    table = _table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.repartition(n_buckets, uuid_col)
        .sortWithinPartitions(*sort_cols)
        .write.bucketBy(n_buckets, uuid_col)
        .sortBy(*sort_cols)
        .option("path", os.path.abspath(path))
        .mode("overwrite")
        .saveAsTable(table)
    )
    rollups, ts_unique, ts_min, ts_max, db_max = _write_stats_and_rollups(
        spark.table(table), dicts, uuid_col, ts_col, db_col
    )
    hll_fields = _hll_fields(dicts)
    hll_slices: dict = {}
    hll_rollups: dict = {}
    if hll_fields and ts_min is not None:
        hll_slices, hll_rollups = _write_hll_slices(
            spark.table(table), dicts, hll_fields, ts_col, ts_min, ts_max,
            path,
        )
    if hll_fields and not hll_rollups:
        hll_rollups = _field_hll_rollups(
            spark.table(table), dicts, hll_fields
        )
    manifest = {
        "version": 3,
        "uuid_col": uuid_col,
        "ts_col": ts_col,
        "seq_col": seq_col,
        "n_buckets": n_buckets,
        "ts_unique": ts_unique,
        "ts_min": ts_min,
        "ts_max": ts_max,
        "db_col": db_col,
        "db_max": db_max if db_col else None,
        "dicts": dicts,
        "rollups": rollups,
        "hll_rollups": hll_rollups,
        "hll_slices": hll_slices,
        "hll_rr_col": HLL_RR_COL,
        "schema_ddl": _schema_ddl(df),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        _dump_manifest(manifest, f)
    manifest["_path"] = os.path.abspath(path)  # run-time-only key
    out = spark.table(table)
    out._trailstore_manifest = manifest
    return out


def _write_stats_and_rollups(
    table_df, dicts: dict, uuid_col: str, ts_col: str,
    db_col: str | None,
) -> tuple[dict, bool, int | None, int | None, int | None]:
    """(rollups, ts_unique, ts_min, ts_max, db_max) in ONE combined
    pass over the just-written table (VERDICT r08 item 5: the write
    path previously scanned once for ts-stats and once for rollups, and
    the ts-stats pass shuffled a per-(uuid, db, ts) group for EVERY
    event — row-scale, the single most expensive step of a 100 TB
    ingest).

    The combined pass exploits the layout the write just created:
    within each bucket file rows are sorted by (uuid[, db], ts[, seq]),
    so equal (uuid, db, ts) triples are ADJACENT and a window lag over
    the bucketed scan detects duplicates with ZERO exchange and zero
    sort (the bucketed scan already satisfies the window's partitioning
    and ordering).  The duplicate flag and the long-cast ts/db then
    ride the per-field rollup explode, so one tiny (fields x codes)
    shuffle carries everything: per-code event counts (the rollups),
    any-duplicate (ts_unique), min/max ts (the zone map), and max db.
    Falls back to a single synthetic tag element when no field is
    dictionary-encoded, so the stats half always runs.

    Semantics identical to the old two-pass form: ts_unique is the
    per-(uuid[, db], ts) multiplicity staying <= 1; monoid rollups
    indexed by dictionary code (0 = ""/absent)."""
    import sys
    import time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t0 = time.time()
    order = ([db_col] if db_col else []) + [ts_col]
    w = Window.partitionBy(uuid_col).orderBy(*order)
    dup = F.col(ts_col) == F.lag(ts_col).over(w)
    if db_col:
        dup = dup & (F.col(db_col) == F.lag(db_col).over(w))
    elements = [
        F.struct(
            F.lit(f).alias("g"),
            F.coalesce(F.col("__c_" + f), F.lit(0)).alias("c"),
        )
        for f in dicts
    ] or [F.struct(F.lit("\x00stats").alias("g"), F.lit(0).alias("c"))]
    # the window MUST be computed before the explode (a single select
    # holding both would evaluate the lag over the exploded stream,
    # where adjacent copies of one row share a timestamp and every row
    # reads as a duplicate) — two selects pin Generate above WindowExec
    base = table_df.select(
        F.coalesce(dup, F.lit(False)).cast("int").alias("__dup"),
        F.col(ts_col).cast("long").alias("__tsl"),
        (
            F.col(db_col) if db_col else F.lit(None)
        ).cast("long").alias("__dbl"),
        F.array(*elements).alias("__els"),
    )
    rows = (
        base.select(
            "__dup", "__tsl", "__dbl", F.explode("__els").alias("p")
        )
        .groupBy("p.g", "p.c")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("__dup").alias("anydup"),
            F.min("__tsl").alias("tmin"),
            F.max("__tsl").alias("tmax"),
            F.max("__dbl").alias("dmax"),
        )
        .collect()
    )
    rollups = {f: [0] * (len(values) + 1) for f, values in dicts.items()}
    ts_unique = True
    ts_min = ts_max = db_max = None
    for r in rows:
        if r["g"] in rollups:
            rollups[r["g"]][r["c"]] = r["n"]
        if r["anydup"]:
            ts_unique = False
        if r["tmin"] is not None:
            ts_min = r["tmin"] if ts_min is None else min(ts_min, r["tmin"])
        if r["tmax"] is not None:
            ts_max = r["tmax"] if ts_max is None else max(ts_max, r["tmax"])
        if r["dmax"] is not None:
            db_max = (
                int(r["dmax"])
                if db_max is None
                else max(db_max, int(r["dmax"]))
            )
    # write-time cost transparency: the one-scan price the store pays so
    # counters never rescan (bench logs show it amortized per write)
    print(
        f"# store rollups: {len(dicts)} fields + ts-stats in one "
        f"combined pass, {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    return rollups, ts_unique, ts_min, ts_max, db_max


# total sketch slots (sum over fields of lexicon size + 1) the write-time
# HLL rollup will compute: each slot is a p=14 sketch (up to 16384
# registers RLE'd into the manifest), so the cap bounds both manifest
# size and the bounded post-aggregation collect.  Fields are admitted in
# sorted-name order until the budget is spent; over-budget fields simply
# lack sketches (the uniques tier declines to the scan path).
HLL_ROLLUP_VALUES_MAX = 4096
# hard ceiling on collected (field, code, register) rows — a pathological
# store (every value near-saturating its sketch) stops here instead of
# materializing an unbounded collect on the driver
HLL_ROLLUP_ROWS_MAX = 4_000_000

# time slices per segment for the sliced sketch sidecar
# (_write_hll_slices): a ts-bounded uniques boundary scan then reads
# only the 1-2 PARTIAL slices at the bound's edges instead of the whole
# segment's matching rows — the continuous-aggregate idea (finer rollup
# granularity than the ingestion period) that keeps the adversarial
# "bound lands mid-segment" geometry proportional to a slice, not a
# segment.  Raw sidecar bytes are capped; the slice count degrades to
# fit and the sidecar is skipped entirely when even 2 slices don't.
HLL_SLICES = 16
HLL_SLICE_BYTES_MAX = 256 * 1024 * 1024
HLL_SLICE_FILE = "_hll_slices.parquet"


def _hll_fields(dicts: dict) -> list[str]:
    """Dictionary fields that get write-time cookie sketches: admitted
    in sorted-name order while their slots (lexicon size + 1) fit the
    ``HLL_ROLLUP_VALUES_MAX`` budget.  The sliced sidecar and the
    part-level sketch rollups both sketch exactly these fields."""
    if os.environ.get("TRCK_SPARK_NO_HLL_ROLLUP"):
        return []
    budget = int(
        os.environ.get(
            "TRCK_SPARK_HLL_ROLLUP_VALUES_MAX", str(HLL_ROLLUP_VALUES_MAX)
        )
    )
    fields: list[str] = []
    used = 0
    for f in sorted(dicts):
        slots = len(dicts[f]) + 1
        if used + slots <= budget:
            fields.append(f)
            used += slots
    return fields


def _field_hll_rollups(table_df, dicts: dict, fields: list[str]) -> dict:
    """Per-(field, dictionary code) HLL sketches of the trail cookies,
    computed at WRITE time — the sketch analog of the count rollups
    (VERDICT r08 item 1; reference sketch semantics
    src/hyperloglog.c:256-296).  Used when the sliced sidecar
    (:func:`_write_hll_slices`) does not apply.

    A ``yield cookie to ^h`` uniques query needs, per field value, the
    sketch over {cookie : trail has >= 1 event with that value}.  Sketch
    adds are idempotent, so unlike counters NO ts-uniqueness proof is
    needed (the consecutive-duplicate skip can only drop repeated adds
    of the same cookie).  The written table carries the packed
    (reg, rank) of each row's cookie (``__hll_rr``), so the rollup is
    ONE whole-stage-codegen aggregation — max(rank) by (field, code,
    register) — with no distinct pass and no Python hashing; a bounded
    (fields x codes x 16384) result.  Monoid (register max), so segment
    manifests merge without rescanning history
    (:func:`_merge_segment_manifests`).

    Shape: {field: [hex_sketch_code0, hex_sketch_code1, ...]} in the
    reference wire format (fsm/hll.py), indexed like the count rollups.
    """
    import sys
    import time

    from pyspark.sql import functions as F

    from trck_spark.fsm.hll import RR_RANK_BITS, RR_RANK_MASK, Hll

    t0 = time.time()
    exploded = table_df.select(
        HLL_RR_COL,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("f"),
                        F.coalesce(
                            F.col("__c_" + f), F.lit(0)
                        ).alias("c"),
                    )
                    for f in fields
                ]
            )
        ).alias("p"),
    )
    agg = (
        exploded.groupBy(
            F.col("p.f").alias("f"),
            F.col("p.c").alias("c"),
            F.shiftright(HLL_RR_COL, RR_RANK_BITS).alias("reg"),
        )
        .agg(
            F.max(
                F.col(HLL_RR_COL).bitwiseAND(F.lit(RR_RANK_MASK))
            ).alias("rank")
        )
    ).persist()
    try:
        n_rows = agg.count()
        if n_rows > HLL_ROLLUP_ROWS_MAX:
            print(
                f"# store hll rollups: skipped ({n_rows} register rows "
                f"> {HLL_ROLLUP_ROWS_MAX} cap)",
                file=sys.stderr,
            )
            return {}
        rows = agg.collect()
    finally:
        agg.unpersist()
    sketches = {
        f: [Hll() for _ in range(len(dicts[f]) + 1)] for f in fields
    }
    for r in rows:
        sketches[r["f"]][r["c"]].set_register(int(r["reg"]), int(r["rank"]))
    out = {f: [s.to_hex() for s in sk] for f, sk in sketches.items()}
    print(
        f"# store hll rollups: {len(fields)} fields, "
        f"{sum(len(sk) for sk in out.values())} sketches "
        f"in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    return out


def _write_hll_slices(
    table_df, dicts: dict, fields: list[str], ts_col: str, ts_min: int,
    ts_max: int, path: str,
) -> tuple[dict, dict]:
    """Write the TIME-SLICED sketch sidecar and derive the part-level
    sketch rollups from it.

    Returns ({field: {"n", "bounds", "file"}}, {field: [hex by code]})
    — or ({}, {}) when slicing isn't applicable (sidecar switched off,
    degenerate ts span, byte cap).

    Each of ``fields`` (:func:`_hll_fields`) gets, per (code, time slice), the
    register-max sketch of the cookies with >= 1 matching event in that
    slice — the continuous-aggregate layer between the per-segment
    manifest sketch (too coarse when a ts bound lands mid-segment) and
    the raw scan.  slice(ts) = (ts - ts_min) * n // W with
    W = ts_max - ts_min + 1; ``bounds`` has n+1 entries, slice k
    covering [bounds[k], bounds[k+1] - 1].  Blobs are stored RLE
    (fsm/hll._rle_encode bytes, no hex) in a small parquet sidecar.

    Plan shape (100 TB note): one mapInPandas partition fold over the
    freshly-written table (no exchange — each task scatter-maxes its
    rows into a fields x codes x slices x 16384 accumulator), then a
    blob-level groupBy merge whose shuffle carries per-partition RLE
    partials (sparse -> small), then one parquet write.  The part-level
    rollup is the register-max across each code's slices, computed on
    the driver from the final (codes x slices) blob set — replacing the
    multi-million-row register collect the unsliced path pays."""
    import sys
    import time

    from pyspark.sql import functions as F

    from trck_spark.fsm.hll import (
        HLL_M,
        RR_RANK_BITS,
        RR_RANK_MASK,
        Hll,
        _rle_decode_registers,
        _rle_encode,
    )

    if os.environ.get("TRCK_SPARK_NO_HLL_SLICES"):
        return {}, {}
    W = int(ts_max) - int(ts_min) + 1
    used = sum(len(dicts[f]) + 1 for f in fields)
    byte_cap = int(
        os.environ.get(
            "TRCK_SPARK_HLL_SLICE_BYTES_MAX", str(HLL_SLICE_BYTES_MAX)
        )
    )
    n = min(
        int(os.environ.get("TRCK_SPARK_HLL_SLICES", str(HLL_SLICES))),
        W,
        byte_cap // (used * HLL_M),
    )
    if n < 2:
        return {}, {}
    t0 = time.time()
    tmin = int(ts_min)
    slots_list = [len(dicts[f]) + 1 for f in fields]
    sel = table_df.select(
        # null ts (never produced by the trck writers, but possible in
        # arbitrary input) lands in slice 0 so its cookie still counts,
        # matching the part-level rollup which ignores ts entirely
        F.coalesce(F.col(ts_col).cast("long"), F.lit(tmin)).alias(
            "__t"
        ),
        F.col(HLL_RR_COL).alias("__rr"),
        *[
            F.coalesce(F.col("__c_" + f), F.lit(0)).alias("__c_" + f)
            for f in fields
        ],
    )

    def _fold(batches):
        drop_spark_zip_importers()
        import numpy as np
        import pandas as pd

        flats = None
        for pdf in batches:
            if not len(pdf):
                continue
            if flats is None:
                flats = [
                    np.zeros(s * n * HLL_M, np.uint8) for s in slots_list
                ]
            t = pdf["__t"].to_numpy(np.int64)
            sl = (t - tmin) * n // W
            rr = pdf["__rr"].to_numpy(np.int64)
            reg = rr >> RR_RANK_BITS
            rank = (rr & RR_RANK_MASK).astype(np.uint8)
            for fi, f in enumerate(fields):
                c = pdf["__c_" + f].to_numpy(np.int64)
                np.maximum.at(
                    flats[fi], (c * n + sl) * HLL_M + reg, rank
                )
        if flats is None:
            return
        rows_f, rows_c, rows_s, rows_b = [], [], [], []
        for fi, f in enumerate(fields):
            cube = flats[fi].reshape(slots_list[fi], n, HLL_M)
            live = np.argwhere(cube.any(axis=2))
            for c, s in live:
                rows_f.append(f)
                rows_c.append(int(c))
                rows_s.append(int(s))
                rows_b.append(_rle_encode(cube[c, s].tobytes()))
        if rows_f:
            yield pd.DataFrame(
                {
                    "f": rows_f,
                    "c": np.array(rows_c, np.int32),
                    "slice": np.array(rows_s, np.int32),
                    "regs": rows_b,
                }
            )

    partials = sel.mapInPandas(
        _fold, "f string, c int, slice int, regs binary"
    )

    def _merge(pdf):
        drop_spark_zip_importers()
        import numpy as np
        import pandas as pd

        acc = None
        for b in pdf["regs"]:
            regs = _rle_decode_registers(bytes(b))
            full = np.zeros(HLL_M, np.uint8)
            full[: min(len(regs), HLL_M)] = regs[:HLL_M]
            acc = full if acc is None else np.maximum(acc, full)
        return pd.DataFrame(
            {
                "f": pdf["f"].iloc[:1],
                "c": pdf["c"].iloc[:1],
                "slice": pdf["slice"].iloc[:1],
                "regs": [_rle_encode(acc.tobytes())],
            }
        )

    out_path = os.path.join(os.path.abspath(path), HLL_SLICE_FILE)
    (
        partials.groupBy("f", "c", "slice")
        .applyInPandas(_merge, "f string, c int, slice int, regs binary")
        .write.mode("overwrite")
        .parquet(out_path)
    )
    # part-level rollups = register-max across each code's slices,
    # assembled from the (small) final blob set on the driver
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(out_path)
    fs = tbl.column("f").to_pylist()
    cs = tbl.column("c").to_pylist()
    bs = tbl.column("regs").to_pylist()
    mats = {
        f: np.zeros((s, HLL_M), np.uint8)
        for f, s in zip(fields, slots_list)
    }
    for f, c, b in zip(fs, cs, bs):
        regs = _rle_decode_registers(bytes(b))
        full = np.zeros(HLL_M, np.uint8)
        full[: min(len(regs), HLL_M)] = regs[:HLL_M]
        np.maximum(mats[f][c], full, out=mats[f][c])
    rollups: dict = {}
    for f, s in zip(fields, slots_list):
        hexes = []
        for c in range(s):
            sk = Hll()
            sk.M = bytearray(mats[f][c].tobytes())
            hexes.append(sk.to_hex())
        rollups[f] = hexes
    bounds = [tmin + (k * W + n - 1) // n for k in range(n)] + [tmin + W]
    meta = {
        f: {"n": n, "bounds": bounds, "file": HLL_SLICE_FILE}
        for f in fields
    }
    print(
        f"# store hll slices: {len(fields)} fields x {n} slices "
        f"({len(fs)} blobs) in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    return meta, rollups


def append_trail_store(df, path: str, **kw):
    """Append ``df`` to the store at ``path`` as a new immutable SEGMENT
    and return the re-opened (now segmented) DataFrame.

    This is the reference's actual ingestion workflow: TrailDBs are
    immutable, so a continuously-fed pipeline produces one tdb per
    period and the engine iterates them in order (match_traildb.c
    multi-DB loop) — a trail continues across segments with carried
    state, and the consecutive-duplicate skip stays scoped per segment
    exactly like the reference's per-file check.  Each segment is a
    full mini-TrailStore (own bucketed layout, own lexicons, own
    rollups — history is NEVER rescanned or rewritten); the parent
    manifest lists segments in append order and :func:`open_trail_store`
    unions them with a ``__segment`` db column for the engine's
    multi-db semantics.

    On a fresh path this is exactly :func:`write_trail_store`."""
    if not is_trail_store(path):
        return write_trail_store(df, path, **kw)
    m = read_manifest(path)
    segs = list(m.get("segments", []))
    name = f"segment_{len(segs):04d}"
    write_trail_store(
        df, os.path.join(path, name), uuid_col=m["uuid_col"],
        ts_col=m["ts_col"], seq_col=m["seq_col"],
        n_buckets=m["n_buckets"],
    )
    m["segments"] = segs + [name]
    with open(os.path.join(path, MANIFEST), "w") as f:
        _dump_manifest(m, f)
    return open_trail_store(df.sparkSession, path)


# per-open cap on the literal remap expressions a field may cost when
# re-coding segment-local dictionary codes to the union lexicon: a field
# whose remaps exceed this drops its __c_* columns (the merged ROLLUP
# still answers counters; only the dictionary-scan tier degrades)
REMAP_LITERAL_MAX = 20_000

# segment count past which open_trail_store emits a CompactionAdvisory:
# every segment adds per-part scan/plan overhead to the union, and a
# long chain silently erodes the scan tiers (measured at 20M events /
# 12 segments: scan-path funnel +53%, dictionary-scan B1 8x slower than
# the same data compacted).  Advisory only — results stay correct.
COMPACT_ADVISE_SEGMENTS = 8


class CompactionAdvisory(UserWarning):
    """Structured 'compact recommended' signal from open_trail_store.

    Attributes mirror the message so tooling can react without parsing:
    ``path``, ``n_segments``, ``dropped_fields`` (fields whose
    dictionary-code columns were dropped because the code remap
    exceeded REMAP_LITERAL_MAX — their dictionary-scan tier is off
    until compaction rebuilds unified lexicons)."""

    def __init__(self, path: str, n_segments: int,
                 dropped_fields: list[str],
                 threshold: int = COMPACT_ADVISE_SEGMENTS):
        self.path = path
        self.n_segments = n_segments
        self.dropped_fields = dropped_fields
        why = []
        if n_segments > threshold:
            why.append(
                f"{n_segments} segments (> {threshold}: "
                "per-segment scan overhead compounds — 12 segments "
                "measured 1.5-8x slower than compacted on scan paths)"
            )
        if dropped_fields:
            why.append(
                f"fields {sorted(dropped_fields)} exceeded the "
                "dictionary-remap budget and lost their code columns "
                "(dictionary-scan tier off until compaction)"
            )
        super().__init__(
            f"TrailStore {path!r}: compaction recommended — "
            + "; ".join(why)
            + f". Run: python -m trck_spark.store --compact {path} DEST "
            "(results are byte-identical; zero-scan tiers are rebuilt)."
        )


def _merge_segment_manifests(all_ms: list[dict], m: dict) -> dict:
    """Value-keyed merge of base + segment manifests into ONE synthetic
    manifest for the segmented union (VERDICT r07 item 1).

    Per-part rollups are monoids over lexicon VALUES (not codes), so the
    union lexicon + summed counts is exact without rescanning anything:
    ``merged_rollup[union_code(v)] = sum_part rollup_part[code_part(v)]``.
    ts_unique ANDs across parts — the consecutive-duplicate skip is
    scoped per segment (per DB, reference per-file semantics), so every
    part being ts-unique proves the skip a no-op for the whole union; a
    boundary-straddling duplicate is correctly counted twice by both the
    scan and the rollup.  ``clustered: False`` marks that the union of
    per-part bucketed scans does NOT co-locate a uuid's rows (Spark
    concatenates scan partitions), so the engine must keep its
    repartition."""
    ts_unique = all(x.get("ts_unique") for x in all_ms)
    common = set(all_ms[0].get("dicts") or {})
    for x in all_ms[1:]:
        common &= set(x.get("dicts") or {})
    dicts: dict = {}
    rollups: dict = {}
    # per-part zone map + union-coded rollups: the time-scoped rollup
    # tier answers a ts-bounded counter as rollup(parts fully inside the
    # bound) + scan(boundary parts only) — history never rescans
    parts: list[dict] = [
        {
            "ts_min": x.get("ts_min"),
            "ts_max": x.get("ts_max"),
            "ts_unique": bool(x.get("ts_unique")),
            "rollups": {},
        }
        for x in all_ms
    ]
    for f in sorted(common):
        union = sorted(set().union(*[set(x["dicts"][f]) for x in all_ms]))
        if len(union) > DICT_MAX:
            continue
        dicts[f] = union
        uindex = {v: i + 1 for i, v in enumerate(union)}
        counts = dict.fromkeys(union, 0)
        zero = 0
        ok = True
        part_rollups = []
        for x in all_ms:
            r = (x.get("rollups") or {}).get(f)
            lex = x["dicts"][f]
            if r is None or len(r) != len(lex) + 1:
                ok = False
                break
            zero += int(r[0])
            recoded = [0] * (len(union) + 1)
            recoded[0] = int(r[0])
            for i, v in enumerate(lex):
                counts[v] += int(r[i + 1])
                recoded[uindex[v]] = int(r[i + 1])
            part_rollups.append(recoded)
        if ok:
            rollups[f] = [zero] + [counts[v] for v in union]
            for p, pr in zip(parts, part_rollups):
                p["rollups"][f] = pr
    # HLL sketch rollups merge by the same value-keyed scheme with the
    # sketch monoid (per-register max — the reference's merge, analog of
    # src/utils.c:16-56): merged_sketch[union_code(v)] = register-max
    # over parts of sketch_part[code_part(v)].  Idempotent adds mean a
    # boundary-straddling duplicate cookie simply maxes to itself.
    hll_rollups: dict = {}
    for f in dicts:
        union = dicts[f]
        part_hlls = []
        ok = True
        for x in all_ms:
            hr = (x.get("hll_rollups") or {}).get(f)
            if hr is None or len(hr) != len(x["dicts"][f]) + 1:
                ok = False
                break
            part_hlls.append(hr)
        if not ok:
            continue
        uindex = {v: i + 1 for i, v in enumerate(union)}
        merged_regs = _merge_hll_hexes(
            len(union) + 1,
            [
                (part_hlls[pi], x["dicts"][f], uindex)
                for pi, x in enumerate(all_ms)
            ],
        )
        hll_rollups[f] = merged_regs
        # per-part sketch REFS (no copies) for the time-scoped uniques
        # tier (engine._run_ts_scoped_hll): covered parts answer from
        # their own sketches, boundary parts scan — the exact counter
        # decomposition, made even simpler by sketch-union == register
        # max.  Each part keeps its OWN coding; the part lexicon rides
        # along for recode-at-query-time
        for p, hr, x in zip(parts, part_hlls, all_ms):
            p.setdefault("hll_rollups", {})[f] = hr
            p.setdefault("hll_dicts", {})[f] = x["dicts"][f]
    return {
        "version": 3,
        "uuid_col": m["uuid_col"],
        "ts_col": m["ts_col"],
        "seq_col": m["seq_col"],
        "n_buckets": m["n_buckets"],
        "ts_unique": ts_unique,
        "dicts": dicts,
        "rollups": rollups,
        "hll_rollups": hll_rollups,
        "parts": parts,
        "segments": list(m.get("segments", [])),
        # a compacted base's own DB index: the composite __segment folds
        # these in (base rows keep db values 0..db_max, segment i maps
        # to db_max + i) — consumers mapping part indices to __segment
        # values need both
        "db_col": m.get("db_col"),
        "db_max": m.get("db_max"),
        "clustered": False,
    }


def _merge_hll_hexes(n_union: int, part_entries: list) -> list[str]:
    """Register-max merge of per-part sketch lists into union-coded hex.

    part_entries: [(hex_list, part_lexicon, union_index)] — hex_list[0]
    is the part's code-0 ("") sketch, hex_list[i+1] the sketch for
    part_lexicon[i].  numpy elementwise max keeps a many-segment open
    cheap (pure-Python register loops would cost parts x values x 16384).
    """
    import numpy as np

    from trck_spark.fsm.hll import HLL_M, Hll, hll_from_hex

    acc = [None] * n_union
    for hex_list, lex, uindex in part_entries:
        for i, hx in enumerate(hex_list):
            code = 0 if i == 0 else uindex[lex[i - 1]]
            regs = np.frombuffer(
                bytes(hll_from_hex(hx).M), dtype=np.uint8
            )
            if acc[code] is None:
                acc[code] = regs.copy()
            else:
                np.maximum(acc[code], regs, out=acc[code])
    out = []
    for a in acc:
        s = Hll()
        if a is not None:
            s.M = bytearray(a.tobytes())
        out.append(s.to_hex())
    return out


def _open_segmented(spark, path: str, m: dict):
    """Base + segments -> one DataFrame with a ``__segment`` db column
    and a MERGED store manifest attached.

    Per-segment dictionary codes are not comparable across segments
    (each segment built its own lexicon), so each part's ``__c_*``
    columns are REMAPPED to the union lexicon's codes (identity when
    the part's lexicon already equals the union; a literal-array
    ``element_at`` lookup otherwise, bounded by REMAP_LITERAL_MAX) —
    the dictionary-scan tier survives appends.  The merged manifest
    also carries union rollups, so rollup-safe counters stay ZERO-SCAN
    through a continuously-ingested store; ``clustered: False`` keeps
    the engine's repartition (the union does not co-locate trails)."""
    from pyspark.sql import functions as F

    names = [None] + list(m["segments"])
    all_ms = [m] + [
        read_manifest(os.path.join(path, s)) for s in m["segments"]
    ]
    merged = _merge_segment_manifests(all_ms, m)
    merged["_part_manifests"] = all_ms  # for check_layout
    # per-part filesystem path + sliced-sketch sidecar meta: the
    # ts-scoped uniques tier reads covered slices straight from the
    # boundary part's sidecar and scans only the partial slices
    for p, seg, x in zip(merged["parts"], names, all_ms):
        p["path"] = os.path.abspath(
            path if seg is None else os.path.join(path, seg)
        )
        if x.get("hll_slices"):
            p["hll_slices"] = x["hll_slices"]

    # per-field remap cost across parts; over-budget fields keep their
    # merged rollup but lose the code columns (dictionary-scan tier)
    remap_cost: dict[str, int] = {}
    for f, union in merged["dicts"].items():
        remap_cost[f] = sum(
            len(x["dicts"][f]) + 1
            for x in all_ms
            if x["dicts"][f] != union
        )
    dropped_cols = {
        f for f, cost in remap_cost.items() if cost > REMAP_LITERAL_MAX
    }
    advise_at = int(
        os.environ.get(
            "TRCK_SPARK_COMPACT_ADVISE_SEGMENTS",
            str(COMPACT_ADVISE_SEGMENTS),
        )
    )
    if len(names) > advise_at or dropped_cols:
        import warnings

        warnings.warn(
            CompactionAdvisory(
                path, len(names), sorted(dropped_cols), advise_at
            ),
            stacklevel=3,
        )

    parts = []
    for i, seg in enumerate(names):
        if seg is None:
            d = spark.table(_table_name(path))
        else:
            seg_path = os.path.join(path, seg)
            seg_table = _table_name(seg_path)
            if not spark.catalog.tableExists(seg_table):
                open_trail_store(spark, seg_path)
            d = spark.table(seg_table)
        pm = all_ms[i]
        drop = []
        remapped = {}
        for c in d.columns:
            if not c.startswith("__c_"):
                continue
            f = c[len("__c_"):]
            if f not in merged["dicts"] or f in dropped_cols:
                drop.append(c)
                continue
            lex = pm["dicts"][f]
            union = merged["dicts"][f]
            if lex == union:
                continue  # codes already union codes
            uindex = {v: k + 1 for k, v in enumerate(union)}
            remap = [0] + [uindex[v] for v in lex]
            remapped[c] = F.element_at(
                F.array(*[F.lit(x) for x in remap]), F.col(c) + 1
            ).cast("int")
        if drop:
            d = d.drop(*drop)
        if remapped:
            d = d.withColumns(remapped)
        # a COMPACTED base carries its own DB index (db_col, values
        # 0..db_max): those stay the first DBs and appended segments
        # follow — compact -> keep appending -> compact again works
        # without ever collapsing the base's internal DB order
        base_db = m.get("db_col")
        if base_db:
            base_max = int(m.get("db_max") or 0)
            seg_ix = (
                F.col(base_db).cast("int")
                if seg is None
                else F.lit(base_max + i)
            )
        else:
            seg_ix = F.lit(i)
        parts.append(d.withColumn("__segment", seg_ix))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    out._trailstore_segments = len(names)
    out._trailstore_manifest = merged
    # per-part frames (remapped codes + __segment) so the engine's
    # time-scoped rollup tier can scan ONLY boundary segments
    out._trailstore_parts = parts
    return out


def compact_trail_store(spark, src_path: str, dest_path: str):
    """Rewrite a store (single, compacted, or base + N appended
    segments) into a FRESH single store at ``dest_path`` and return
    the re-opened frame (VERDICT r07 item 6).

    Many appends leave the union-of-segments plan paying per-segment
    scan overhead; compaction bounds segment count while preserving
    query results byte-identically: the original segment index persists
    as a ``__db0`` column, the store sort becomes (uuid, db, ts, seq) —
    exactly the engine's stream order — so event order AND per-segment
    dedup scoping replay unchanged (a boundary-straddling duplicate
    still survives).  Lexicons, rollups and the per-(uuid, db)
    ts-uniqueness proof are rebuilt over the unified data, restoring
    the dictionary-scan and zero-scan rollup tiers that a long segment
    chain degrades.  Being a full rewrite through
    :func:`write_trail_store`, it is also how a store written in an
    older layout (see :func:`check_layout`) gains the current one."""
    from pyspark.sql import functions as F

    m = read_manifest(src_path)
    df = open_trail_store(spark, src_path)
    if "__segment" in df.columns:
        # re-compaction: the composite __segment already folds a prior
        # compaction's db index in (see _open_segmented), so the stale
        # per-row column is superseded and must not collide
        if m.get("db_col") and m["db_col"] in df.columns:
            df = df.drop(m["db_col"])
        df = df.withColumnRenamed("__segment", "__db0")
        dbc = "__db0"
    elif m.get("db_col"):
        dbc = m["db_col"]  # compacting a compacted store: plain rewrite
    else:
        df = df.withColumn("__db0", F.lit(0))
        dbc = "__db0"
    df = df.drop(*[c for c in df.columns if c.startswith("__c_")])
    return write_trail_store(
        df, dest_path, uuid_col=m["uuid_col"], ts_col=m["ts_col"],
        seq_col=m["seq_col"], n_buckets=m["n_buckets"], db_col=dbc,
    )


def _schema_ddl(df) -> str:
    parts = []
    for field in df.schema.fields:
        parts.append(f"`{field.name}` {field.dataType.simpleString()}")
    return ", ".join(parts)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        m = json.load(f)
    # run-time-only key (underscore: stripped from dumps/copies): lets
    # the engine find a SINGLE store's sliced sketch sidecar without a
    # second path channel
    m["_path"] = os.path.abspath(path)
    return m


# manifest keys the read tiers rely on; write_trail_store writes all of
# them, stores from older layouts lack some
LAYOUT_KEYS = ("rollups", "ts_min", "ts_max", "hll_rollups", "hll_slices")


def check_layout(manifest: dict) -> None:
    """Raise ValueError when the opened store, or any of its segments,
    was written in an older layout than :func:`write_trail_store`
    writes (missing rollups, zone map, sketches, sidecar meta or the
    ``__hll_rr`` column).  Reads only the manifests the open already
    loaded: a single store's own, a segmented store's per-part list.
    Frames that are not opened stores carry neither and pass."""
    parts = manifest.get("_part_manifests") or (
        [manifest] if "_path" in manifest else []
    )
    for m in parts:
        missing = [k for k in LAYOUT_KEYS if k not in m]
        if m.get("hll_rr_col") != HLL_RR_COL:
            missing.append("hll_rr_col")
        if missing:
            root = parts[0]["_path"]
            raise ValueError(
                f"TrailStore {m['_path']!r} was written in an older "
                f"layout (manifest lacks {', '.join(missing)}); rewrite "
                f"it in the current layout with: python -m "
                f"trck_spark.store --compact {root} DEST"
            )


def is_trail_store(path: str) -> bool:
    return os.path.exists(os.path.join(path, MANIFEST))


def open_trail_store(spark, path: str):
    """Register (if needed) and return the bucketed table at `path`.

    Re-issues `CREATE TABLE ... CLUSTERED BY ... SORTED BY ... LOCATION`
    against the existing files, so a store written in one session is
    readable with full layout guarantees in any other.
    """
    m = read_manifest(path)
    table = _table_name(path)
    sort_cols = (
        [m["uuid_col"]]
        + ([m["db_col"]] if m.get("db_col") else [])
        + [m["ts_col"]]
        + ([m["seq_col"]] if m["seq_col"] else [])
    )
    if not spark.catalog.tableExists(table):
        spark.sql(
            f"CREATE TABLE {table} ({m['schema_ddl']}) USING PARQUET "
            f"CLUSTERED BY (`{m['uuid_col']}`) "
            f"SORTED BY ({', '.join(f'`{c}`' for c in sort_cols)}) "
            f"INTO {m['n_buckets']} BUCKETS "
            f"LOCATION '{os.path.abspath(path)}'"
        )
    if m.get("segments"):
        return _open_segmented(spark, path, m)
    out = spark.table(table)
    out._trailstore_manifest = m
    return out


def main(argv=None) -> int:
    """Store builder (the tdb-build analog):

        python -m trck_spark.store SRC.parquet [SRC2.parquet ...] DEST_DIR
            [--uuid-col uuid] [--ts-col timestamp] [--seq-col COL]
            [--buckets 32]
    """
    import argparse

    p = argparse.ArgumentParser(
        prog="trck_spark.store",
        description="Write parquet event data as a TrailStore "
        "(uuid-bucketed, (uuid,ts,seq)-sorted layout)",
    )
    p.add_argument("src", nargs="+", help="source parquet path(s)")
    p.add_argument("dest", help="destination store directory")
    p.add_argument("--uuid-col", default="uuid")
    p.add_argument("--ts-col", default="timestamp")
    p.add_argument("--seq-col", default=None)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument(
        "--append",
        action="store_true",
        help="add the source as a new immutable SEGMENT of an existing "
        "store (the reference's one-tdb-per-period ingestion: history "
        "is never rewritten; queries see segments as ordered DBs)",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="SRC is an existing store: rewrite it (base and any "
        "segments) into a fresh single store at DEST in the current "
        "layout (byte-identical query results via the persisted __db0 "
        "segment index; unified lexicons/rollups restore the zero-scan "
        "tiers)",
    )
    args = p.parse_args(argv)

    from trck_spark.session import get_spark

    spark = get_spark("trailstore_build")
    spark.sparkContext.setLogLevel("ERROR")
    if args.compact:
        if len(args.src) != 1 or not is_trail_store(args.src[0]):
            p.error("--compact takes exactly one existing store as SRC")
        compact_trail_store(spark, args.src[0], args.dest)
        print(json.dumps(read_manifest(args.dest)))
        return 0
    df = spark.read.parquet(*args.src)
    if args.append:
        append_trail_store(
            df, args.dest, uuid_col=args.uuid_col, ts_col=args.ts_col,
            seq_col=args.seq_col, n_buckets=args.buckets,
        )
    else:
        write_trail_store(
            df, args.dest, uuid_col=args.uuid_col, ts_col=args.ts_col,
            seq_col=args.seq_col, n_buckets=args.buckets,
        )
    m = read_manifest(args.dest)
    print(json.dumps(m))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
