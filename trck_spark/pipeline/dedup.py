"""Document deduplication operators for training-data pipelines.

All of these stay JVM-side (built-in functions, no Python row loops)
except MinHash signature generation, which is a vectorized Arrow batch
computation in numpy.

Scale notes (the 100 TB story):
- exact dedup is one hash-shuffle on a 16-byte digest;
- n-gram Jaccard uses an inverted-index join on shingles (candidate pairs
  only materialize for docs sharing a shingle — never O(n^2));
- MinHash/LSH cuts the candidate space further: band buckets shuffle only
  (band_id, band_hash) keys; exact verification runs on candidates only;
- shingle strings are replaced by xxhash64 keys before any shuffle, so
  shuffle rows are fixed-width.
"""

from __future__ import annotations

NORM = "regexp_replace(lower(text), '\\\\s+', ' ')"
WORDS = f"split({NORM}, ' ')"
# word 3-gram shingles, 1-based element_at.  The size guard must be a
# CASE, not greatest(.., 0): Spark's sequence(1, 0) yields the
# DESCENDING array [1, 0] (not empty like SQL generate_series), so a
# document with < 3 words would hit element_at out-of-bounds and kill
# every shingle consumer (regression-tested in
# tests/test_pipeline_smoke.py::test_short_docs_survive_all_operators)
SHINGLES = (
    "CASE WHEN size(w) >= 3 THEN "
    "array_distinct(transform(sequence(1, size(w) - 2), "
    "g -> concat_ws(' ', element_at(w, g), element_at(w, g + 1), "
    "element_at(w, g + 2)))) ELSE array() END"
)


def spread_input(spark, df):
    """Widen a narrow scan to the session's parallelism.

    A small local table is one parquet file -> one input partition, which
    serializes every downstream narrow stage (shingling, quantization,
    signatures) onto a single core.  At production scale the file count
    far exceeds the core count and this is a no-op — the repartition only
    fires when the scan has fewer files than the cluster has slots.
    (File count, not ``df.rdd.getNumPartitions()``: the RDD hop converts
    the whole plan per call — measurable driver latency — while
    ``inputFiles()`` is a listing the scan already did.)
    """
    want = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = want
    if n_files < want:
        return df.repartition(want)
    return df


def _own_caches(out, frames):
    """Attach the persisted intermediates to the returned DataFrame.

    Persist/unpersist lifetime is caller-owned (unpersisting here, before
    the caller's action, would defeat the cache): materialize the result,
    then call :func:`release` to drop the cached blocks.  bench.py and the
    stress tests do exactly that; a long-lived session that ignores it
    accumulates cached blocks across invocations."""
    prev = list(getattr(out, "_trck_persisted", ()))
    out._trck_persisted = prev + list(frames)
    return out


def release(df) -> None:
    """Unpersist every cached intermediate attached by ``_own_caches``."""
    for f in getattr(df, "_trck_persisted", ()):  # pragma: no branch
        try:
            f.unpersist()
        except Exception:
            pass


# Band-row threshold below which the "auto" bucket cap is skipped: the
# guard exists for corpora that can put >cap near-identical docs in one
# bucket; under this many banded rows its window pass costs more than
# the worst representable bucket and blocks AQE's broadcast choice for
# the self-join (VERDICT r05 items 1/6 A/B: 2.6 s -> 1.6 s at sf0.1).
_CAP_GATE_MIN_BAND_ROWS = 1_000_000

# memoized parquet footer row counts: the gate is a scale
# classification (small corpus vs cap-needing corpus), not a live
# count, and the ~0.3 s count-job overhead would otherwise recur per
# invocation at small scale.  Keyed on (path, directory mtime) so a
# same-path rewrite at a different scale (e.g. benchdata's ensure_*
# generators regenerating mid-session) invalidates naturally — an
# overwrite replaces the part files, which bumps the dir mtime.  For
# non-local paths where mtime is unreadable (s3://, hdfs://) the key
# degrades to path-only; rewriting such a path mid-session needs a new
# path or _TABLE_ROWS.clear().
_TABLE_ROWS: dict[tuple, int] = {}


def _table_rows(spark, path: str) -> int:
    import os

    try:
        stamp = os.path.getmtime(path)
    except OSError:
        stamp = None
    key = (path, stamp)
    n = _TABLE_ROWS.get(key)
    if n is None:
        n = spark.read.parquet(path).count()
        _TABLE_ROWS[key] = n
    return n


def _cap_buckets(df, key_cols, cap, label, log_dropped=False):
    """Drop every LSH bucket larger than ``cap`` rows -> (kept, dropped).

    A bucket whose key collides for k docs yields O(k^2) candidate
    pairs in the self-join that follows — one boilerplate-heavy corpus
    (precisely the dedup workload) can put millions of near-identical
    docs in one bucket and turn the job quadratic.  Same pattern as the
    hot-shingle df-cap: count bucket sizes, anti-join the oversized
    ones away.  Pairs only discoverable via a dropped bucket are not
    emitted — that loss is NOT silent: ``dropped`` (one row per dropped
    bucket with its size) is returned and attached to the operator's
    result as ``_trck_dropped_buckets``, and with ``log_dropped=True``
    an eager count emits a warning with the dropped row mass (used by
    the stress tests and the scale bench, which report it).

    Plan shape: the guard itself is ONE exchange.  Bucket sizes come
    from a window count over the banding key on the same rows
    (round-5's groupBy + anti-join form paid a second full exchange
    over the banded rows; VERDICT r05 item 6), and ``kept`` is
    PERSISTED: the self-join that always follows consumes it on both
    sides, and the InMemoryTableScan preserves the window's hash
    partitioning, so the join plans with ZERO further exchanges and
    the explode/window lineage computes once instead of per side
    (Catalyst's ReusedExchange does not fire across the two aliased
    join branches).  The cache is fixed-width (key cols + doc id) and
    MEMORY_AND_DISK, so a 100 TB corpus spills rather than OOMs;
    callers own the release via their ``_own_caches`` list, which
    :func:`release` walks.

    ``cap=None`` disables the guard (exact parity mode); the returned
    kept frame is then ``df`` itself, un-persisted."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    if cap is None:
        return df, None
    sized = df.withColumn(
        "__bn", F.count(F.lit(1)).over(W.partitionBy(*key_cols))
    )
    kept = sized.filter(F.col("__bn") <= cap).drop("__bn").persist()
    over = (
        sized.filter(F.col("__bn") > cap)
        .select(*key_cols, F.col("__bn").alias("bn"))
        .distinct()
    )
    if log_dropped:
        import warnings

        stats = over.agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.sum("bn"), F.lit(0)).alias("rows"),
        ).collect()[0]
        if stats["buckets"]:
            warnings.warn(
                f"{label}: dropped {stats['buckets']} over-cap buckets "
                f"(> {cap} rows) covering {stats['rows']} rows; pairs "
                "only discoverable via those buckets are not emitted"
            )
    return kept, over


def normalized_docs(spark, sf_dir: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(NORM).alias("norm")
    )


def exact_dedup(spark, sf_dir: str):
    """Hash-groupBy exact dedup: one row per distinct normalized text with
    the surviving (minimum) doc_id and the duplicate count."""
    from pyspark.sql import functions as F

    docs = normalized_docs(spark, sf_dir)
    return (
        docs.select(F.md5("norm").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("fingerprint")
    )


def shingle_df(spark, sf_dir: str):
    """(doc_id, shingle) exploded, distinct per doc."""
    from pyspark.sql import functions as F

    docs = spread_input(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return (
        docs.select("doc_id", F.expr(WORDS).alias("w"))
        .select("doc_id", F.explode(F.expr(SHINGLES)).alias("s"))
    )


def ngram_jaccard_pairs(
    spark, sf_dir: str, threshold: float = 0.2,
    max_shingle_df: int = 1000,
):
    """Word-3-gram Jaccard similarity pairs >= threshold via an
    inverted-index self-join on shingles (shingles hashed to int64 before
    the shuffle so shuffle keys are fixed-width).

    Skew guard: shingles whose document frequency exceeds
    ``max_shingle_df`` are dropped from the whole computation (counts and
    intersections) before the self-join — a shingle shared by k docs
    yields O(k^2) candidate pairs, so one boilerplate phrase in 10^6 docs
    would otherwise dominate the job (standard practice in web-scale
    dedup; near-universal shingles carry no similarity signal anyway).
    The surviving join is bounded by max_shingle_df^2 pairs per shingle.
    The guard is :func:`_cap_buckets` with the shingle hash as the
    bucket key: ONE exchange (window count over ``h``), with the kept
    frame persisted so the per-doc counts and both self-join sides read
    the same hash-partitioned cache — the self-join then plans with
    zero further exchanges (round-5's groupBy + anti-join form re-ran
    the filter once per aliased branch).

    No forced broadcasts anywhere: the hot set and the per-doc count
    table both scale with the corpus (counts is one row PER DOCUMENT —
    at 10^9 docs a broadcast hint would blow past Spark's 8 GB
    broadcast limit and the driver heap), so all joins are plain;
    AQE broadcasts a side at runtime iff it is actually small."""
    from pyspark.sql import functions as F

    sh, _hot = _cap_buckets(
        shingle_df(spark, sf_dir).select(
            "doc_id", F.xxhash64("s").alias("h")
        ),
        ["h"], max_shingle_df, "ngram_jaccard_pairs",
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(
        F.col("doc_id").alias("a"), F.col("n").alias("na")
    )
    cb = counts.select(
        F.col("doc_id").alias("b"), F.col("n").alias("nb")
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return _own_caches(
        inter.join(ca, "a")
        .join(cb, "b")
        .filter(jac >= threshold)
        .select("a", "b", F.floor(jac * 1000000).cast("long").alias("jaccard_e6"))
        .orderBy("a", "b"),
        [sh],
    )


def ngram_containment_pairs(
    spark, sf_dir: str, threshold: float = 0.5,
    max_shingle_df: int = 1000,
):
    """Word-3-gram CONTAINMENT pairs: |A ∩ B| / min(|A|, |B|) >= threshold.

    Containment is the asymmetric complement to Jaccard: a short document
    fully embedded in a long one (quote farms, mirrored excerpts, header
    wrappers around the same body) scores near 1.0 on containment but
    arbitrarily low on Jaccard, because the union is dominated by the long
    side.  Web-scale dedup pipelines run both — Jaccard for same-size
    near-dups, containment for subset duplication (Broder's original
    resemblance/containment pair).

    Same inverted-index join, one-exchange :func:`_cap_buckets` df-cap
    skew guard, fixed-width hashed shuffle keys, and
    no-forced-broadcast rule as :func:`ngram_jaccard_pairs`; only the
    final scoring expression differs, so the 100 TB properties carry
    over unchanged.
    """
    from pyspark.sql import functions as F

    sh, _hot = _cap_buckets(
        shingle_df(spark, sf_dir).select(
            "doc_id", F.xxhash64("s").alias("h")
        ),
        ["h"], max_shingle_df, "ngram_containment_pairs",
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(
        F.col("doc_id").alias("a"), F.col("n").alias("na")
    )
    cb = counts.select(
        F.col("doc_id").alias("b"), F.col("n").alias("nb")
    )
    cont = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    return _own_caches(
        inter.join(ca, "a")
        .join(cb, "b")
        .filter(cont >= threshold)
        .select(
            "a", "b",
            F.floor(cont * 1000000).cast("long").alias("containment_e6"),
        )
        .orderBy("a", "b"),
        [sh],
    )


# ------------------------------------------------------------- MinHash/LSH

N_HASHES = 128
N_BANDS = 32
ROWS_PER_BAND = 4
# Mersenne prime 2^31 - 1: (a*h + b) mod p with h reduced mod p WRAPS p
# ~a times per hash, so the family actually permutes.  (The earlier
# 2^61 - 1 modulus with a < 2^29, h < 2^32 never wrapped — a*h+b was
# monotonic in h, every "permutation" shared one argmin, and the whole
# 128-hash signature degenerated to a function of min(h): pair recall
# collapsed to J itself.  Caught by the 100k planted-pair stress test;
# products here stay <= (p-1)^2 < 2^62, still exact in BIGINT on both
# engines.)
_MERSENNE = (1 << 31) - 1


def _perm_coeffs():
    """Deterministic universal-hash coefficients mod 2^31-1 (seeded)."""
    import numpy as np

    rng = np.random.RandomState(42)
    a = rng.randint(1, _MERSENNE, size=N_HASHES).astype(np.int64)
    b = rng.randint(0, _MERSENNE, size=N_HASHES).astype(np.int64)
    return a, b


def _shingle_hashes(spark, sf_dir: str, hash_mode: str = "xxhash64"):
    """(doc_id, h32, h64) per distinct (doc, shingle).

    ``hash_mode='xxhash64'`` (the default, the production path): one
    engine-native JVM hash per shingle — whole-stage codegen, no hex
    round-trip.  ``hash_mode='md5'``: every derived hash reproducible
    in ANSI SQL, so the driver correctness gate can mirror the whole
    pipeline in DuckDB — test infrastructure, NOT the default (round 2
    shipped md5 as the only path and paid +65% on the minhash bench).

    h32 feeds the MinHash permutations (32-bit domain: md5's first 8
    hex chars, or xxhash64's low 32 bits); h64 is the verification
    shingle id (60-bit md5 prefix, or the full xxhash64 — collision
    mass negligible either way).  One shingling+hash pass serves both."""
    from pyspark.sql import functions as F

    sh = shingle_df(spark, sf_dir)
    if hash_mode == "md5":
        m = F.md5("s")
        h32 = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
        h64 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    elif hash_mode == "xxhash64":
        x = F.xxhash64("s")
        h32 = x.bitwiseAND(F.lit(0xFFFFFFFF))
        h64 = x
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    return sh.select("doc_id", h32.alias("h32"), h64.alias("h64"))


def minhash_signatures(spark, sf_dir: str, hashes_df=None,
                       emit: str = "sig"):
    """(doc_id, sig array<long>[128]) via vectorized numpy over Arrow
    batches of exploded shingle hashes — or, with
    ``emit='band_hashes'``, (doc_id, bhs array<long>[N_BANDS]): the
    LSH band hashes computed numpy-side (FNV-1a over each band's
    ROWS_PER_BAND signature slice, exact uint64 wraparound).

    Permutation j of shingle hash h is (a_j*(h mod p) + b_j) mod p with
    p = 2^31 - 1; products stay below 2^62, exact in int64 on every
    engine, and the modulus wraps ~a_j times per hash so the family
    genuinely permutes (see the _MERSENNE note above).

    Why band_hashes exists: the banding consumer needs only one 64-bit
    key per (doc, band), so shipping the full 128-long signature
    through Arrow and hashing slices JVM-side moves 4x the bytes and
    adds 160M-row explode+hash work — at 5M docs that was ~45% of the
    whole operator.  The md5 parity mode still uses the full
    signatures (its band digests must be reproducible in ANSI SQL)."""
    if hashes_df is None:
        hashes_df = _shingle_hashes(spark, sf_dir)
    sh = hashes_df.select("doc_id", "h32")
    band_mode = emit == "band_hashes"

    def sig_batches(batches):
        import numpy as np
        import pandas as pd

        a, b = _perm_coeffs()
        acc: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            doc_ids = pdf["doc_id"].values
            if not len(doc_ids):
                continue
            h = pdf["h32"].values.astype(np.int64) % _MERSENNE
            # (128, n) permutation values for the whole Arrow batch at
            # once, then a segmented min per doc run — the sort above
            # guarantees each doc's shingles are contiguous, so one
            # reduceat replaces a per-doc python loop
            vals = (a[:, None] * h[None, :] + b[:, None]) % _MERSENNE
            starts = np.concatenate(
                ([0], np.nonzero(np.diff(doc_ids))[0] + 1)
            )
            mins = np.minimum.reduceat(vals, starts, axis=1)
            for i, doc_id in enumerate(doc_ids[starts]):
                prev = acc.get(doc_id)
                m = mins[:, i]
                acc[doc_id] = m if prev is None else np.minimum(prev, m)
            del pdf
        # empty partitions (docs with < 3 words have no shingles; tiny
        # corpora leave most partitions bare) must yield NOTHING — an
        # empty untyped pd.DataFrame defaults its columns to float64,
        # which Arrow cannot convert to array<long>
        if not acc:
            return
        if not band_mode:
            yield pd.DataFrame(
                {
                    "doc_id": list(acc.keys()),
                    "sig": [s.tolist() for s in acc.values()],
                }
            )
            return
        # FNV-1a fold of each band's slice, vectorized over all docs
        # at once (numpy uint64 wraps mod 2^64 exactly); viewed back
        # as int64 for the Spark long column
        sigs = np.stack(list(acc.values())).astype(np.uint64)  # (n, 128)
        with np.errstate(over="ignore"):
            bhs = np.empty((sigs.shape[0], N_BANDS), dtype=np.uint64)
            prime = np.uint64(0x100000001B3)
            for band in range(N_BANDS):
                hsh = np.full(
                    sigs.shape[0], 0xCBF29CE484222325, dtype=np.uint64
                )
                for r in range(ROWS_PER_BAND):
                    hsh = (hsh ^ sigs[:, band * ROWS_PER_BAND + r]) \
                        * prime
                bhs[:, band] = hsh
        bhs_i = bhs.view(np.int64)
        yield pd.DataFrame(
            {
                "doc_id": list(acc.keys()),
                "bhs": [row.tolist() for row in bhs_i],
            }
        )

    # shingles of one doc must land in one partition for the local min;
    # repartition by doc_id (same pattern as the trck engine trail shuffle)
    schema = (
        "doc_id long, bhs array<long>"
        if band_mode
        else "doc_id long, sig array<long>"
    )
    return (
        sh.repartition("doc_id")
        .sortWithinPartitions("doc_id")
        .mapInPandas(sig_batches, schema=schema)
    )


def minhash_lsh_pairs(spark, sf_dir: str, threshold: float = 0.2,
                      hash_mode: str = "xxhash64",
                      max_band_bucket: int | None | str = "auto",
                      log_dropped: bool = False):
    """Near-duplicate candidate pairs via LSH banding over MinHash
    signatures, verified with exact Jaccard on the candidates only.

    ``hash_mode='xxhash64'`` (default) keeps every hash engine-native.
    ``hash_mode='md5'`` makes every stage (shingle hashes, int64
    permutations, band digests, exact verification) reproducible in
    ANSI SQL, so the driver hash-checks it against a DuckDB oracle
    despite the banding (see _minhash_oracle_sql); recall near the
    threshold remains probabilistic by construction, covered by the
    recall test (which runs the production hash).

    ``max_band_bucket`` guards the band self-join against bucket skew:
    k docs sharing one (band, band-hash) bucket — boilerplate or
    byte-identical corpora — yield O(k^2) candidates, so buckets larger
    than the cap are dropped (counted, attached to the result as
    ``_trck_dropped_buckets``, warned about with ``log_dropped=True``;
    see :func:`_cap_buckets`).  Byte-identical documents belong to
    :func:`exact_dedup`, which is O(n); this operator's cap only costs
    recall on pathological near-identical floods.  The default
    ``"auto"`` resolves to 4096 in production (xxhash64) and to None in
    md5 parity mode — the DuckDB oracle has no cap, so a capped parity
    run on a flood corpus would mismatch in a hard-to-diagnose way
    (ADVICE r05); an EXPLICIT cap in md5 mode is honored but warned
    about if it ever fires (pass log_dropped to surface the mass)."""
    from pyspark.sql import functions as F

    if max_band_bucket == "auto":
        if hash_mode == "md5":
            # parity mode: the SQL oracle construction has no cap, so a
            # capped run on a flood corpus would mismatch (ADVICE r05)
            max_band_bucket = None
        else:
            # size-gate the guard (VERDICT r05 items 1/6): under
            # ~1M band rows the cap's window pass costs more than the
            # worst representable bucket and blocks AQE's broadcast of
            # the tiny self-join side — measured 2.6 s vs 1.6 s at
            # sf0.1.  The doc count is a memoized parquet-footer read.
            n_docs = _table_rows(spark, f"{sf_dir}/documents.parquet")
            max_band_bucket = (
                4096 if n_docs * N_BANDS >= _CAP_GATE_MIN_BAND_ROWS
                else None
            )
    elif max_band_bucket is not None and hash_mode == "md5":
        import warnings

        warnings.warn(
            "minhash_lsh_pairs: explicit max_band_bucket in md5 parity "
            "mode — the SQL oracle construction has no cap, so parity "
            "breaks if any bucket exceeds it"
        )

    # one shingling+hash pass feeds both signatures and verification
    # (fixed-width rows; MEMORY_AND_DISK so a 100 TB run spills, not OOMs)
    hashes_df = _shingle_hashes(spark, sf_dir, hash_mode=hash_mode)
    hashes_df.persist()
    if hash_mode == "md5":
        # parity mode: full signatures + ANSI-SQL-reproducible md5
        # band digests (the DuckDB oracle mirrors this construction)
        sigs = minhash_signatures(spark, sf_dir, hashes_df=hashes_df)
        band_expr = (
            f"transform(sequence(0, {N_BANDS - 1}), b -> "
            f"struct(b AS band, cast(conv(substring(md5(concat_ws(',', "
            f"transform(slice(sig, b * {ROWS_PER_BAND} + 1, "
            f"{ROWS_PER_BAND}), x -> cast(x AS string)))), 1, 15), "
            f"16, 10) AS bigint) AS bh))"
        )
        bands_raw = sigs.select(
            "doc_id",
            F.explode(F.expr(band_expr)).alias("e"),
        ).select("doc_id", "e.band", "e.bh")
        # the signature pipeline feeds FOUR consumers of the banded
        # keys (bucket-size pass, over-cap anti-join, both self-join
        # sides); persist the exploded rows once — md5 band digests
        # are too expensive to recompute per consumer
        bands_raw.persist()
        banded_cache = bands_raw
    else:
        # production path: band hashes computed inside the signature
        # UDF (numpy FNV over each slice) — the 128-long signatures
        # never cross Arrow and no 160M-row JVM hash+explode runs
        # (measured at 5M docs: sigs+bands 275 s -> ~115 s).  Persist
        # the COMPACT (doc_id, bhs[32]) frame; the per-consumer
        # explode from the persisted columnar frame is cheap, and the
        # cache holds 5M rows instead of 160M
        compact = minhash_signatures(
            spark, sf_dir, hashes_df=hashes_df, emit="band_hashes"
        )
        compact.persist()
        bands_raw = compact.select(
            "doc_id", F.posexplode("bhs").alias("band", "bh")
        )
        banded_cache = compact
    bands, dropped = _cap_buckets(
        bands_raw, ("band", "bh"), max_band_bucket,
        "minhash_lsh_pairs", log_dropped,
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .distinct()
    )
    # exact verification on candidates only (fixed-width shingle ids:
    # negligible collision mass in either hash mode)
    sh = hashes_df.select("doc_id", F.col("h64").alias("h"))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("a"), "h")
    sb = sh.select(F.col("doc_id").alias("b"), "h")
    inter = (
        cands.join(sa, "a").join(sb, ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    # counts is one row per document — never hint it broadcast (see
    # ngram_jaccard_pairs); AQE picks broadcast at runtime iff small
    out = _own_caches(
        inter.join(
            counts.select(F.col("doc_id").alias("a"),
                          F.col("n").alias("na")), "a")
        .join(
            counts.select(F.col("doc_id").alias("b"),
                          F.col("n").alias("nb")), "b")
        .filter(jac >= threshold)
        .select("a", "b", F.floor(jac * 1000000).cast("long").alias("jaccard_e6"))
        .orderBy("a", "b"),
        # `bands` is persisted by _cap_buckets when the cap is active
        # (both self-join sides read it partition-preserving)
        [hashes_df, banded_cache]
        + ([bands] if dropped is not None else []),
    )
    out._trck_dropped_buckets = dropped
    # lazy band-collision candidate pairs (pre-verification): nothing
    # here executes unless a caller counts it — the scale bench reports
    # |candidates| vs |verified pairs| from this handle
    out._trck_candidates = cands
    return out


# --------------------------------------------------------------- SimHash


def simhash_pairs(spark, sf_dir: str, max_hamming: int = 3,
                  hash_mode: str = "xxhash64",
                  max_bucket: int | None = None,
                  log_dropped: bool = False):
    """64-bit token SimHash near-dup pairs with hamming <= max_hamming.

    Pair generation is a multi-index pigeonhole join (the HmSearch /
    multi-index-hashing family): split the 64-bit fingerprint into 6
    chunks (widths 11,11,11,11,10,10); a pair within hamming distance 3
    leaves at least 3 chunks untouched, so SOME 3-subset of its chunks
    matches exactly — an equi-join over the C(6,3) = 20 combination
    keys finds every candidate without O(n^2) comparison, and
    bit_count(xor) verifies.  Recall is exact (pigeonhole), identical
    to brute force, so the banded ANSI-SQL oracle still matches.

    Why 6-choose-3 and not the classic 4 x 16-bit single-chunk scheme:
    key cardinality.  16-bit keys cap at 4 x 65,536 buckets, so
    expected candidate volume on uniform fingerprints is
    ~4 * N^2 / 2^17 — at N = 10^9 that is ~3 * 10^13 joined rows
    (dead).  Combination keys carry 31-33 bits each:
    sum over 20 combos of N^2 / 2^(bits+1) ~= 20 * N^2 / 2^33 —
    ~10^5 pairs at N = 10^6, ~2.3 * 10^9 at N = 10^9 (tractable), at
    the price of 20 key rows per doc instead of 4.

    Real corpora are not uniform: ``max_bucket`` (optional) drops
    over-cap key buckets exactly like the minhash band cap — identical
    fingerprints (byte-identical docs re-ingested at scale) otherwise
    make one bucket quadratic.  The default is None because any
    correct output for such a flood is itself O(k^2) pairs; exact
    duplicates belong to :func:`exact_dedup` first.  Dropped buckets
    attach as ``_trck_dropped_buckets``; ``log_dropped=True`` warns
    with the dropped mass.

    Token bits: ``hash_mode='xxhash64'`` (default) splits the native
    64-bit hash into two 32-bit words; ``hash_mode='md5'`` takes the
    first/second 8 hex chars so an ANSI-SQL oracle reproduces every
    fingerprint exactly.  Either way the fingerprint is carried as two
    32-bit halves (fp_hi, fp_lo), which keeps every shift in the
    signed-64 safe range on both engines, and the whole pipeline stays
    whole-stage-codegen (both hashes are built-in JVM expressions)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(WORDS).alias("w")
    )
    tokens = docs.select("doc_id", F.explode("w").alias("tok"))
    if hash_mode == "md5":
        hi = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
    elif hash_mode == "xxhash64":
        x = F.xxhash64("tok")
        hi = F.shiftrightunsigned(x, 32)
        lo = x.bitwiseAND(F.lit(0xFFFFFFFF))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    th = tokens.select("doc_id", hi.alias("hi"), lo.alias("lo"))

    def bit(word: str, i: int):
        return F.shiftright(F.col(word), i).bitwiseAND(F.lit(1))

    # per bit: sum(+1 if bit set else -1); sign -> fingerprint bit
    bit_sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(bit("lo", i) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(32)
        ],
        *[
            F.sum(
                F.when(bit("hi", i) == 1, 1).otherwise(-1)
            ).alias(f"b{i + 32}")
            for i in range(32)
        ],
    )

    def half(lo_bit: int):
        expr = None
        for i in range(32):
            term = F.shiftleft(
                F.when(F.col(f"b{lo_bit + i}") > 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long"),
                i,
            )
            expr = term if expr is None else expr.bitwiseOR(term)
        return expr

    if max_hamming > 3:
        raise ValueError(
            "the 6-chunk/choose-3 pigeonhole guarantees recall only "
            f"for max_hamming <= 3 (got {max_hamming})"
        )
    fps = bit_sums.select(
        "doc_id", half(0).alias("fp_lo"), half(32).alias("fp_hi")
    )
    fps.cache()

    # 6 chunks over the 64 fingerprint bits; chunk values extracted from
    # the halves (every intermediate stays within signed-64)
    widths = [11, 11, 11, 11, 10, 10]
    offsets = [0, 11, 22, 33, 44, 54]

    def chunk(i: int):
        off, w = offsets[i], widths[i]
        mask = (1 << w) - 1
        if off + w <= 32:  # entirely in the low half
            return F.shiftrightunsigned(F.col("fp_lo"), off).bitwiseAND(
                F.lit(mask)
            )
        if off >= 32:  # entirely in the high half
            return F.shiftrightunsigned(
                F.col("fp_hi"), off - 32
            ).bitwiseAND(F.lit(mask))
        # straddles the split: low bits from fp_lo, rest from fp_hi
        n_lo = 32 - off
        lo_part = F.shiftrightunsigned(F.col("fp_lo"), off)
        hi_part = F.shiftleft(
            F.col("fp_hi").bitwiseAND(F.lit((1 << (w - n_lo)) - 1)), n_lo
        )
        return lo_part.bitwiseOR(hi_part)

    from itertools import combinations

    combos = list(combinations(range(6), 3))
    key_structs = [
        F.struct(
            F.lit(ci).alias("k"),
            (
                chunk(i)
                .bitwiseOR(F.shiftleft(chunk(j), 11))
                .bitwiseOR(F.shiftleft(chunk(l), 22))
            ).alias("kv"),
        )
        for ci, (i, j, l) in enumerate(combos)
    ]
    keys = fps.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        F.explode(F.array(*key_structs)).alias("e"),
    ).select("doc_id", "fp_lo", "fp_hi", "e.k", "e.kv")
    keys, dropped = _cap_buckets(
        keys, ("k", "kv"), max_bucket, "simhash_pairs", log_dropped
    )
    a = keys.alias("a")
    b = keys.alias("b")
    ham = F.bit_count(
        F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo"))
    ) + F.bit_count(F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi")))
    out = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.kv") == F.col("b.kv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            ham.alias("hamming"),
        )
        .distinct()
        .orderBy("a", "b")
    )
    out = _own_caches(
        out, [fps] + ([keys] if dropped is not None else [])
    )
    out._trck_dropped_buckets = dropped
    # lazy pre-verification candidates (key collisions before the
    # hamming filter), same diagnostic handle as the minhash path —
    # nothing executes unless a caller counts it
    out._trck_candidates = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.kv") == F.col("b.kv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    return out


# Embeddings are scored quantized to int64 (round(x * 1e6)): integer dot
# products and norms are exact, so Spark and the DuckDB oracle produce
# bit-identical doubles regardless of summation order — float
# accumulation order can never flip a candidate across the threshold.
QUANT = ("transform(embedding, x -> "
         "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
)


def _quantized(spark, sf_dir: str):
    from pyspark.sql import functions as F

    return spread_input(
        spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ).select("vec_id", F.expr(QUANT).alias("v"))


def _lsh_planes(n_planes: int, dim: int):
    """Deterministic integer hyperplane weights (standard normals scaled
    by 1e6 and rounded).  Integer projections over the quantized
    embeddings are order-free exact sums, so bucket assignment is
    bit-identical on every engine — the property that lets the DuckDB
    oracle reproduce the whole LSH pipeline (max |term| ~3e12, dim
    terms: far inside int64)."""
    import numpy as np

    rng = np.random.RandomState(7)
    return np.round(
        rng.standard_normal((n_planes, dim)) * 1_000_000
    ).astype(np.int64)


def embedding_near_dup_pairs(
    spark,
    sf_dir: str,
    threshold: float = 0.4,
    n_bands: int = 12,
    band_planes: int = 3,
    max_band_bucket: int | None | str = "auto",
    log_dropped: bool = False,
):
    """Embedding-cosine near-duplicate pairs via banded random-hyperplane
    LSH: vectors agreeing with a candidate on ANY band's full sign
    pattern are verified with an exact cosine over the int64-quantized
    embeddings (see QUANT — integer dots are order-free exact, so
    the DuckDB oracle reproduces the whole pipeline bit-for-bit).

    Scale shape: one projection pass computes all band signatures, the
    explode ships only (vec_id, band, sig) fixed-width keys, candidate
    pairs materialize per bucket (never all-pairs), are distinct-ed
    BEFORE verification (a pair colliding in k bands is scored once),
    and verification joins the vectors back by id.  At a production
    near-dup threshold (~0.9) band_planes=8+ keeps buckets tiny; the
    defaults here are tuned to the synthetic table's cosine range
    (max pair ~0.6) so the demo output is non-empty with recall >= 0.9
    at threshold 0.4.

    ``max_band_bucket``: identical-embedding floods (re-ingested
    corpora, zero vectors) put k vectors in one (band, sig) bucket and
    the self-join goes O(k^2); buckets above the cap are dropped with
    the dropped mass attached as ``_trck_dropped_buckets`` (warned with
    ``log_dropped=True``) — same guard as the minhash banding.  The
    ``"auto"`` default (4096) is size-gated exactly like minhash's: the
    guard is skipped when the corpus cannot produce enough banded rows
    to need it (parquet-footer count, see _CAP_GATE_MIN_BAND_ROWS).
    """
    from pyspark.sql import functions as F

    if max_band_bucket == "auto":
        n_vecs = _table_rows(spark, f"{sf_dir}/embeddings.parquet")
        max_band_bucket = (
            4096 if n_vecs * n_bands >= _CAP_GATE_MIN_BAND_ROWS else None
        )

    emb0 = spread_input(
        spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    # one-row dim probe: O(1) driver data at any corpus size (reads a
    # single row from one partition; NOT a collect of the column).  At
    # 100 TB pass dim explicitly if the extra probe job is unwanted.
    dim = len(emb0.select("embedding").first()[0])
    planes = _lsh_planes(n_bands * band_planes, dim)

    sigs = []
    for band in range(n_bands):
        bits = []
        for j in range(band_planes):
            w = planes[band * band_planes + j]
            arr = "array(%s)" % ", ".join("%dL" % x for x in w)
            bits.append(
                f"CASE WHEN aggregate(zip_with(v, {arr}, "
                f"(x, y) -> x * y), 0L, (acc, s) -> acc + s) >= 0 "
                f"THEN {1 << j}L ELSE 0L END"
            )
        sigs.append(
            F.struct(
                F.lit(band).alias("band"),
                F.expr(" + ".join(bits)).alias("sig"),
            )
        )

    # squared norm computed ONCE per vector — recomputing it per pair
    # (the naive form) is 2x64 wasted ops on millions of candidates
    n2 = (
        f"aggregate(zip_with({QUANT}, {QUANT}, (x, y) -> x * y), "
        "0L, (acc, s) -> acc + s)"
    )
    # quantized vectors feed three consumers (both self-join sides via the
    # band keys, and each verification side); the band signatures feed two
    # — persist both so the hyperplane projections run once, not per use
    emb = emb0.select(
        "vec_id", F.expr(QUANT).alias("v"), F.expr(n2).alias("n2")
    ).persist()
    keys = (
        emb.select("vec_id", F.explode(F.array(*sigs)).alias("e"))
        .select("vec_id", "e.band", "e.sig")
        .persist()
    )
    keys_capped, dropped = _cap_buckets(
        keys, ("band", "sig"), max_band_bucket,
        "embedding_near_dup_pairs", log_dropped,
    )
    cand = (
        keys_capped.alias("x")
        .join(
            keys_capped.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b")
        )
        .distinct()
    )
    va = emb.select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("va"),
        F.col("n2").alias("na2"),
    )
    vb = emb.select(
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
        F.col("n2").alias("nb2"),
    )
    dot = F.expr(_DOT.format(a="va", b="vb")).cast("double")
    cos = dot / (
        F.sqrt(F.col("na2").cast("double"))
        * F.sqrt(F.col("nb2").cast("double"))
    )
    out = _own_caches(
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(
            "a",
            "b",
            F.floor(F.col("cos") * 1000000).cast("long").alias("cos_e6"),
        )
        .orderBy("a", "b"),
        [emb, keys]
        + ([keys_capped] if dropped is not None else []),
    )
    out._trck_dropped_buckets = dropped
    # lazy band-collision candidates (pre-verification), diagnostic
    # handle mirroring the minhash/simhash paths
    out._trck_candidates = cand
    return out


# ------------------------------------------------- near-dup clustering


def connected_components(nodes_df, sym_edges, max_iters: int = 25):
    """Min-label connected components -> (labels_df, rounds).

    ``nodes_df``: one ``doc_id`` per node; ``sym_edges``: (a, b) with
    both directions present.  Returns (doc_id, cluster_id) where
    cluster_id is the minimum node id reachable from doc_id, and the
    number of rounds run.

    Each round does (1) neighbor-min propagation — one edge-label join +
    min aggregation — then (2) a pointer-jumping shortcut, relabeling
    every node with its label's label (labels self-joined on
    cluster_id == doc_id).  The shortcut halves chain depth every round,
    so convergence is O(log diameter) instead of the O(diameter) of
    propagation alone — a 10^6-long chain converges in ~20 rounds, not
    10^6.  Labels are localCheckpoint'ed each round to keep lineage
    flat; the convergence probe is an any-change LIMIT 1 count, not a
    collect.  Known skew: the shortcut joins every member of a cluster
    on the cluster's root id — one giant component makes that key hot
    (AQE skew-join splits it; this is inherent to pointer jumping).
    """
    from pyspark.sql import functions as F

    labels = nodes_df.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            sym_edges.join(labels, sym_edges["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        prop = labels.join(
            nbr_min, labels["doc_id"] == nbr_min["a"], "left"
        ).select(
            "doc_id",
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        # pointer jumping: labels always point at real node ids, so the
        # self-join is total and L(v) <- L(L(v)) stays in-component
        refs = prop.select(
            F.col("doc_id").alias("ref"),
            F.col("cluster_id").alias("ref_label"),
        )
        new_labels = (
            prop.join(refs, prop["cluster_id"] == refs["ref"])
            .select("doc_id", F.col("ref_label").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels, rounds


def dedup_clusters(
    spark, sf_dir: str, threshold: float = 0.2, max_iters: int = 25,
    method: str = "ngram",
):
    """Connected components over the verified near-duplicate pairs:
    every document labeled with the minimum doc_id reachable through
    Jaccard >= threshold edges (the canonical survivor of its duplicate
    cluster), plus the cluster size.  Singletons label themselves.

    This is the step that turns pairwise dedup output into an actual
    keep/drop decision (keep doc_id == cluster_id, drop the rest) —
    pairwise lists alone can't be applied when near-dups chain A~B~C
    without A~C.  The label loop is ``connected_components`` (min-label
    propagation + pointer jumping, O(log diameter) rounds).

    ``method``: which pair generator supplies the edges.
      - ``'ngram'`` (default): exact inverted-index Jaccard — full
        recall, and the df-cap bounds it on boilerplate-heavy corpora
        at the price of recall on the capped shingles.  The
        oracle-checked form.
      - ``'minhash'``: LSH-banded edges — cost is flat in shingle
        document frequency, the standard choice at web scale
        (MinHashLSH dedup a la GPT-3/The Pile), with banding-recall
        edges (~0.9 at Jaccard 0.5 under the 32x4 config; exact dups
        always collide).  Missing an edge can only SPLIT a cluster,
        never merge two, so the result is a refinement of the exact
        clustering.
    """
    from pyspark.sql import functions as F

    if method == "ngram":
        pairs = ngram_jaccard_pairs(spark, sf_dir, threshold=threshold)
    elif method == "minhash":
        pairs = minhash_lsh_pairs(spark, sf_dir, threshold=threshold)
    else:
        raise ValueError(f"unknown pair method {method!r}")
    edges = pairs.select("a", "b")
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    labels, _ = connected_components(docs, sym, max_iters=max_iters)

    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return _own_caches(
        labels.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id"),
        [sym] + list(getattr(pairs, "_trck_persisted", ())),
    )


def dedup_apply(spark, sf_dir: str, threshold: float = 0.2,
                method: str = "ngram"):
    """The applied form of near-dup removal: the surviving corpus.

    Keeps exactly one document per connected near-dup cluster (the
    minimum doc_id — the cluster label itself), carrying the cluster
    size so downstream mixing can up/down-weight survivors that stood
    for many duplicates.  This is the operator a pipeline actually
    materializes; pairs and clusters are its intermediates.
    ``method`` selects the edge generator (see dedup_clusters) —
    ``'minhash'`` is the web-scale form.
    """
    from pyspark.sql import functions as F

    clusters = dedup_clusters(spark, sf_dir, threshold=threshold,
                              method=method)
    keep = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id", "cluster_size")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    return _own_caches(
        docs.join(keep, "doc_id")
        .select("doc_id", "source", "n_chars", "cluster_size")
        .orderBy("doc_id"),
        getattr(clusters, "_trck_persisted", ()),
    )


def dup_span_stats(spark, sf_dir: str, k: int = 5):
    """(doc_id, n_grams, n_dup_grams, dup_frac_e6): exact-substring
    duplication coverage — for every word k-gram POSITION in a document,
    is that exact k-gram repeated anywhere in the corpus (another doc,
    or elsewhere in the same doc)?  The Spark-native shape of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): a doc with a high dup_frac is
    mostly boilerplate someone else also has.

    Unlike the Jaccard/MinHash family (distinct shingles, set
    similarity), positions count with multiplicity — a page whose
    footer repeats 40 times scores 40 duplicated positions.

    Plan: per-doc (gram, count) [map-side partial agg before one
    fixed-key shuffle] -> corpus-wide gram totals as a WINDOW over the
    gram partitioning (NOT a groupBy + self-join: the join form plans
    the scan->explode->aggregate pipeline twice, because the outer
    left-join's isnotnull filter blocks exchange-reuse canonicalization
    — a 2x cost on the dominant stage, caught by the plan test) ->
    per-doc rollup.  Shuffle rows are O(distinct grams per doc), never
    O(positions); gram keys could swap to xxhash64 at 100 TB for
    fixed-width shuffle rows (kept as strings here so the DuckDB
    oracle reproduces them verbatim).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = spread_input(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    toks = f"filter(split({NORM}, ' '), x -> x != '')"
    grams = (
        f"CASE WHEN size(t) >= {k} THEN "
        f"transform(sequence(1, size(t) - {k - 1}), "
        f"g -> concat_ws(' ', slice(t, g, {k}))) "
        "ELSE array() END"
    )
    per_pos = (
        docs.select("doc_id", F.expr(toks).alias("t"))
        .select("doc_id", F.explode(F.expr(grams)).alias("gram"))
    )
    per_doc_gram = per_pos.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    with_tot = per_doc_gram.withColumn(
        "tot", F.sum("c").over(Window.partitionBy("gram"))
    )
    rolled = with_tot.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("tot") > 1, F.col("c")).otherwise(0)).alias(
            "n_dup_grams"
        ),
    )
    # left join from documents: short docs (< k words) report 0 grams
    return (
        docs.select("doc_id")
        .join(rolled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
            F.floor(
                F.coalesce("n_dup_grams", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1))
                * 1000000
            )
            .cast("long")
            .alias("dup_frac_e6"),
        )
        .orderBy("doc_id")
    )


def dup_span_stats_oracle_sql(k: int = 5) -> str:
    norm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    gram = " || ' ' || ".join(f"t[g + {i}]" for i in range(k))
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split({norm}, ' '), x -> x != '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, {gram} AS gram
  FROM base,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS g)
),
pdg AS (SELECT doc_id, gram, count(*) AS c FROM pos GROUP BY 1, 2),
wt AS (SELECT doc_id, c,
              sum(c) OVER (PARTITION BY gram) AS tot
       FROM pdg),
rolled AS (
  SELECT doc_id, sum(c) AS n_grams,
         sum(CASE WHEN tot > 1 THEN c ELSE 0 END) AS n_dup_grams
  FROM wt GROUP BY 1
)
SELECT b.doc_id,
       coalesce(n_grams, 0)::BIGINT AS n_grams,
       coalesce(n_dup_grams, 0)::BIGINT AS n_dup_grams,
       floor(coalesce(n_dup_grams, 0)::DOUBLE
             / greatest(coalesce(n_grams, 0), 1) * 1000000)::BIGINT
         AS dup_frac_e6
FROM base b LEFT JOIN rolled ON rolled.doc_id = b.doc_id
ORDER BY b.doc_id
"""


def incremental_dedup(spark, sf_dir: str, corpus_source: str = "src0"):
    """(doc_id, fingerprint, status): dedup an INCOMING batch against an
    EXISTING corpus — the daily-ingestion shape, where the corpus is
    already deduped and only the delta needs work.  Documents from
    ``corpus_source`` are the existing corpus; everything else is the
    incoming batch.  Each incoming doc is classified:

    - ``corpus_dup``  — its normalized-text fingerprint already exists
      in the corpus (drop);
    - ``batch_dup``   — not in the corpus, but a lower-id incoming doc
      has the same fingerprint (drop, keep the canonical one);
    - ``kept``        — first occurrence anywhere (ingest).

    Plan: both sides reduce to (fingerprint, min doc_id) aggregates
    before any join, so the join keys are fixed-width digests and the
    corpus side ships only its distinct fingerprints.  At 100 TB the
    corpus fingerprint set is the thing to keep materialized between
    ingestion runs (or front it with a bloom filter to skip the join
    for the ~99% of incoming docs that are genuinely new) — the
    operator shape is unchanged.
    """
    from pyspark.sql import functions as F

    docs = spread_input(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select(
        "doc_id", "source", F.md5(F.expr(NORM)).alias("fingerprint")
    )
    corpus_fp = (
        docs.filter(F.col("source") == corpus_source)
        .select("fingerprint")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    incoming = docs.filter(F.col("source") != corpus_source)
    first_in_batch = incoming.groupBy("fingerprint").agg(
        F.min("doc_id").alias("first_id")
    )
    return (
        incoming.join(corpus_fp, "fingerprint", "left")
        .join(first_in_batch, "fingerprint")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("in_corpus").isNotNull(), "corpus_dup")
            .when(F.col("doc_id") != F.col("first_id"), "batch_dup")
            .otherwise("kept")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


def incremental_dedup_oracle_sql(corpus_source: str = "src0") -> str:
    norm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    return f"""
WITH d AS (
  SELECT doc_id, source, md5({norm}) AS fingerprint FROM documents
),
corpus AS (SELECT DISTINCT fingerprint, 1 AS in_corpus FROM d
           WHERE source = '{corpus_source}'),
inc AS (SELECT * FROM d WHERE source <> '{corpus_source}'),
first_ids AS (SELECT fingerprint, min(doc_id) AS first_id
              FROM inc GROUP BY 1)
SELECT inc.doc_id, inc.fingerprint,
       CASE WHEN in_corpus IS NOT NULL THEN 'corpus_dup'
            WHEN inc.doc_id <> f.first_id THEN 'batch_dup'
            ELSE 'kept' END AS status
FROM inc
LEFT JOIN corpus USING (fingerprint)
JOIN first_ids f USING (fingerprint)
ORDER BY inc.doc_id
"""


# ------------------------------------------------ fingerprint store
#
# The materialized corpus-side artifact for incremental dedup: the
# docstring TODO of round 3 (re-fingerprinting the whole corpus every
# ingestion run), closed.  A FingerprintStore is a directory holding
#
#   fp/            corpus fingerprints, BUCKETED by fingerprint — an
#                  incremental join shuffles only the (small) incoming
#                  batch to the store's partitioning; the corpus side
#                  is never re-shuffled, never re-fingerprinted
#   bloom/         bloom bitmap as (w: word index, word: int64) rows
#   _fpstore.json  manifest: bucket count, fingerprint count, bloom
#                  geometry (m bits, k hashes)
#
# The bloom filter is PURE CATALYST on both sides: build = explode k
# xxhash64(fp, seed) bit positions -> groupBy(word index) ->
# bit_or(bit); probe = explode the incoming batch's k positions ->
# broadcast-join the bloom words -> a fingerprint is maybe-in-corpus
# iff ALL k probed bits are set.  No UDF, no driver-side bitmap.  At
# 1% fpp the bitmap is ~1.2 bytes/fingerprint (m = -n ln p / ln^2 2),
# so ~10^8 corpus fingerprints broadcast as ~120 MB of words; beyond
# that, skip the bloom (bloom_fpp=None) and rely on the bucketed join
# alone, or shard blooms per bucket (not implemented).

FP_MANIFEST = "_fpstore.json"


def _bloom_geometry(n_fp: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for an n_fp-element bloom at ``fpp``."""
    import math

    n = max(n_fp, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(fp_col, m: int, k: int):
    """array of k bit positions for a fingerprint column — k independent
    hashes via xxhash64(fp, seed_i)."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.pmod(F.xxhash64(fp_col, F.lit(i)), F.lit(m))
            for i in range(k)
        ]
    )


def write_fingerprint_store(
    docs_df,
    path: str,
    n_buckets: int = 32,
    bloom_fpp: float | None = 0.01,
):
    """Materialize the distinct normalized-text fingerprints of
    ``docs_df`` (doc_id, text) as a FingerprintStore at ``path``;
    returns the re-opened fingerprint DataFrame.

    One full scan of the corpus — the LAST one it ever needs: every
    later ingestion run joins the incoming batch against this artifact
    (see ``incremental_dedup_apply``) without touching the corpus
    documents again."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    spark = docs_df.sparkSession
    fps = (
        docs_df.select(F.md5(F.expr(NORM)).alias("fingerprint"))
        .distinct()
    )
    fp_path = os.path.join(os.path.abspath(path), "fp")
    table = _fpstore_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        fps.repartition(n_buckets, "fingerprint")
        .write.bucketBy(n_buckets, "fingerprint")
        .option("path", fp_path)
        .mode("overwrite")
        .saveAsTable(table)
    )
    corpus = spark.table(table)
    n_fp = corpus.count()
    manifest = {"version": 1, "n_buckets": n_buckets, "n_fp": n_fp}
    if bloom_fpp:
        m, k = _bloom_geometry(n_fp, bloom_fpp)
        words = (
            corpus.select(
                F.explode(
                    _bloom_positions(F.col("fingerprint"), m, k)
                ).alias("pos")
            )
            .select(
                (F.col("pos") / 64).cast("long").alias("w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    "CAST(pmod(pos, 64) AS INT))"
                ).alias("bit"),
            )
            .groupBy("w")
            .agg(F.expr("bit_or(bit)").alias("word"))
        )
        words.write.mode("overwrite").parquet(
            os.path.join(os.path.abspath(path), "bloom")
        )
        manifest["bloom"] = {"m": m, "k": k, "fpp": bloom_fpp}
    with open(os.path.join(path, FP_MANIFEST), "w") as f:
        _json.dump(manifest, f)
    return corpus


def _fpstore_table_name(path: str) -> str:
    import os
    import re

    return "fpstore_" + re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.abspath(path)
    ).strip("_")


def drop_fingerprint_store(spark, path: str, delete_files: bool = False):
    """Release the catalog entry for the store at ``path`` (and
    optionally the files).  Stores register a permanent bucketed table
    named from the absolute path; without this, deleting the directory
    leaves a metastore entry pointing at a missing location, and tmp
    paths accumulate dead tables across sessions."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {_fpstore_table_name(path)}")
    if delete_files:
        shutil.rmtree(path, ignore_errors=True)


def open_fingerprint_store(spark, path: str):
    """(fingerprints DataFrame, manifest) for the store at ``path`` —
    re-registers the bucketed table in a fresh session via DDL, no data
    movement.  Raises FileNotFoundError when the fp/ data directory has
    been removed, instead of resurrecting a table over a missing
    location."""
    import json as _json
    import os

    with open(os.path.join(path, FP_MANIFEST)) as f:
        manifest = _json.load(f)
    fp_path = os.path.join(os.path.abspath(path), "fp")
    if not os.path.isdir(fp_path):
        raise FileNotFoundError(
            f"fingerprint store data directory missing: {fp_path} "
            "(was the store deleted? see drop_fingerprint_store)"
        )
    table = _fpstore_table_name(path)
    if not spark.catalog.tableExists(table):
        spark.sql(
            f"CREATE TABLE {table} (`fingerprint` string) USING PARQUET "
            f"CLUSTERED BY (`fingerprint`) INTO {manifest['n_buckets']} "
            f"BUCKETS LOCATION '{fp_path}'"
        )
    return spark.table(table), manifest


def incremental_dedup_apply(spark, batch_df, store_path: str):
    """(doc_id, fingerprint, status) for an incoming batch (doc_id,
    text) against a persisted FingerprintStore — ``incremental_dedup``
    semantics (corpus_dup / batch_dup / kept) WITHOUT re-scanning the
    corpus documents: the corpus side is the materialized fingerprint
    table, fronted by the bloom sidecar when present.

    Bloom front: fingerprints whose k probed bits are not all set are
    definitively absent from the corpus and skip the corpus join
    entirely — at a ~99%-new daily batch that removes the corpus-side
    join for almost every row; only maybe-present fingerprints (real
    dups + fpp false positives) reach the exact bucketed join, which
    shuffles just those rows to the store's bucketing."""
    import os

    from pyspark.sql import functions as F

    corpus, manifest = open_fingerprint_store(spark, store_path)
    incoming = batch_df.select(
        "doc_id", F.md5(F.expr(NORM)).alias("fingerprint")
    )
    first_in_batch = incoming.groupBy("fingerprint").agg(
        F.min("doc_id").alias("first_id")
    )

    fps = incoming.select("fingerprint").distinct()
    bloom_cfg = manifest.get("bloom")
    if bloom_cfg:
        bloom = spark.read.parquet(
            os.path.join(os.path.abspath(store_path), "bloom")
        )
        m, k = bloom_cfg["m"], bloom_cfg["k"]
        probes = fps.select(
            "fingerprint",
            F.explode(
                _bloom_positions(F.col("fingerprint"), m, k)
            ).alias("pos"),
        ).select(
            "fingerprint",
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                "CAST(pmod(pos, 64) AS INT))"
            ).alias("bit"),
        )
        maybe = (
            probes.join(F.broadcast(bloom), "w", "left")
            .groupBy("fingerprint")
            .agg(
                F.min(
                    (
                        F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(
                            F.col("bit")
                        )
                        != 0
                    ).cast("int")
                ).alias("all_set")
            )
            .filter(F.col("all_set") == 1)
            .select("fingerprint")
        )
    else:
        maybe = fps
    in_corpus = (
        maybe.join(corpus, "fingerprint")
        .select("fingerprint")
        .withColumn("in_corpus", F.lit(1))
    )
    # no broadcast hint: in_corpus is bounded by the batch's dup count
    # (tiny for a daily batch) and AQE broadcasts it when it turns out
    # small, but a backfill batch that is mostly dups must be allowed
    # to shuffle-join
    return (
        incoming.join(in_corpus, "fingerprint", "left")
        .join(first_in_batch, "fingerprint")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("in_corpus").isNotNull(), "corpus_dup")
            .when(F.col("doc_id") != F.col("first_id"), "batch_dup")
            .otherwise("kept")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


def semantic_dedup(
    spark,
    sf_dir: str,
    n_cells: int = 16,
    threshold: float = 0.7,
):
    """(vec_id, cell, kept, dup_of): SemDeDup-style embedding-space
    deduplication (Abbas et al. 2023): partition vectors into cells,
    compare pairs only WITHIN a cell, and drop any vector that has a
    lower-id cell-mate with cosine >= threshold (dup_of = the smallest
    such partner; kept rows carry NULL).

    Cells are a deterministic pivot assignment (first n_cells vectors
    as centroids, exact integer squared distance over the 1e6-quantized
    embeddings),
    so the whole operator — assignment, pairing, cosine, verdict — is
    bit-reproducible in the DuckDB oracle.

    Scale: the only quadratic term is per-cell pairing; SemDeDup at
    production scale runs n_cells ~ sqrt(N) (k-means over a sample),
    keeping cells at ~sqrt(N) rows — the pair join here is a shuffle
    on the cell key and AQE splits any skewed cell.  No all-pairs
    stage exists anywhere.  Ceiling note: the pivot table broadcast is
    n_cells rows ~ sqrt(N)·dim·8 B — at N = 1e9, dim = 1024 that is
    ~260 MB, inside Spark's 8 GB broadcast limit but large enough to
    matter; past that, swap the broadcast for a shuffle join on the
    assignment (or a coarse two-level pivot tree), which changes no
    semantics.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    emb = _quantized(spark, sf_dir)
    piv = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("pv")
    )
    dist2 = F.expr(
        "aggregate(zip_with(v, pv, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, t) -> acc + t)"
    )
    w_cell = Window.partitionBy("vec_id").orderBy("d2", "cell")
    assigned = (
        emb.crossJoin(F.broadcast(piv))
        .select("vec_id", "v", "cell", dist2.alias("d2"))
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cell")
        .persist()
    )
    a = assigned.select(
        "cell", F.col("vec_id").alias("a"), F.col("v").alias("av")
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("b"), F.col("v").alias("bv")
    )
    dot = F.expr(_DOT.format(a="av", b="bv")).cast("double")
    na = F.expr(_DOT.format(a="av", b="av")).cast("double")
    nb = F.expr(_DOT.format(a="bv", b="bv")).cast("double")
    dup_pairs = (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b", (dot / (F.sqrt(na) * F.sqrt(nb))).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
    )
    dropped = dup_pairs.groupBy("b").agg(F.min("a").alias("dup_of"))
    return _own_caches(
        assigned.select("vec_id", "cell")
        .join(dropped, F.col("vec_id") == F.col("b"), "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
        .orderBy("vec_id"),
        [assigned],
    )


def semantic_dedup_oracle_sql(
    n_cells: int = 16, threshold: float = 0.7
) -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         [CAST(round(x::DOUBLE * 1000000) AS BIGINT) for x in embedding] AS v
  FROM embeddings
),
piv AS (SELECT vec_id AS cell, v AS pv FROM e WHERE vec_id < {n_cells}),
ranked AS (
  SELECT e.vec_id, e.v, p.cell,
         list_sum([(e.v[i] - p.pv[i]) * (e.v[i] - p.pv[i])
                   for i in generate_series(1, len(e.v))]) AS d2
  FROM e CROSS JOIN piv p
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cell) AS rn
    FROM ranked) WHERE rn = 1
),
pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         list_sum([x.v[i] * y.v[i]
                   for i in generate_series(1, len(x.v))])::DOUBLE
         / (sqrt(list_sum([x.v[i] * x.v[i]
                           for i in generate_series(1, len(x.v))])::DOUBLE)
            * sqrt(list_sum([y.v[i] * y.v[i]
                             for i in generate_series(1, len(y.v))])::DOUBLE))
           AS cos
  FROM assigned x JOIN assigned y
    ON x.cell = y.cell AND x.vec_id < y.vec_id
),
dropped AS (
  SELECT b, min(a) AS dup_of FROM pairs
  WHERE cos >= {threshold} GROUP BY 1
)
SELECT a.vec_id, a.cell,
       (d.dup_of IS NULL) AS kept, d.dup_of
FROM assigned a LEFT JOIN dropped d ON d.b = a.vec_id
ORDER BY a.vec_id
"""
