"""Pipeline query registry: name -> (spark fn, oracle SQL | None)."""

from __future__ import annotations

from trck_spark.pipeline import dedup


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(spark, sf_dir)


def q_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(spark, sf_dir, threshold=0.2)


def q_minhash_lsh_pairs(spark, sf_dir):
    # hash_mode='md5' so the DuckDB oracle reproduces every derived hash
    # (the correctness-gate variant; the library/bench default is the
    # engine-native xxhash64 — same algorithm, faster hash)
    return dedup.minhash_lsh_pairs(spark, sf_dir, threshold=0.2,
                                   hash_mode="md5")


def q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_pairs(spark, sf_dir, max_hamming=3,
                               hash_mode="md5")


def q_embedding_near_dup_pairs(spark, sf_dir):
    return dedup.embedding_near_dup_pairs(spark, sf_dir, threshold=0.4)


def q_dedup_clusters(spark, sf_dir):
    return dedup.dedup_clusters(spark, sf_dir, threshold=0.2)


def q_dedup_apply(spark, sf_dir):
    return dedup.dedup_apply(spark, sf_dir, threshold=0.2)


def q_ngram_containment_pairs(spark, sf_dir):
    return dedup.ngram_containment_pairs(spark, sf_dir, threshold=0.5)


def q_dup_span_stats(spark, sf_dir):
    return dedup.dup_span_stats(spark, sf_dir)


def q_semantic_dedup(spark, sf_dir):
    return dedup.semantic_dedup(spark, sf_dir)


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup by two physical paths: the LOGICAL plan and
    the FingerprintStore-ARTIFACT plan classify the same batch — same
    rows by construction, radically different physical stories (the
    store path never re-scans the corpus).  Each is tagged with a
    `path` column and the two are unioned, so one oracle check covers
    both."""
    from pyspark.sql import functions as F

    logical = dedup.incremental_dedup(spark, sf_dir).withColumn(
        "path", F.lit("logical")
    )
    store = _incremental_dedup_store(spark, sf_dir).withColumn(
        "path", F.lit("store")
    )
    return logical.unionByName(store)


# built FingerprintStores per sf_dir (process lifetime): the two-phase
# query builds the corpus artifact once, then every apply — including
# the driver's own repeat runs — joins against it without re-scanning
# the corpus documents (the point of the operator)
_FP_STORES: dict = {}


def _incremental_dedup_store(spark, sf_dir):
    """Two-phase incremental dedup: materialize the src0 corpus as a
    FingerprintStore (bucketed fingerprints + bloom sidecar), then
    classify the incoming batch against the ARTIFACT — same rows as
    the logical plan, different physical story (no corpus re-scan;
    see dedup.incremental_dedup_apply).  The `store` half of
    q_incremental_dedup."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    path = _FP_STORES.get(sf_dir)
    if path is None or not os.path.exists(
        os.path.join(path, dedup.FP_MANIFEST)
    ):
        path = tempfile.mkdtemp(prefix="trck_fpstore_")
        corpus_docs = spark.read.parquet(
            f"{sf_dir}/documents.parquet"
        ).filter(F.col("source") == "src0")
        dedup.write_fingerprint_store(
            dedup.spread_input(spark, corpus_docs), path
        )
        _FP_STORES[sf_dir] = path
    batch = dedup.spread_input(
        spark,
        spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("source") != "src0"
        ),
    )
    return dedup.incremental_dedup_apply(spark, batch, path)


def pipeline_queries() -> dict:
    return {
        "dedup_exact": q_dedup_exact,
        "dup_span_stats": q_dup_span_stats,
        "semantic_dedup": q_semantic_dedup,
        "incremental_dedup": q_incremental_dedup,
        "dedup_apply": q_dedup_apply,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ngram_containment_pairs": q_ngram_containment_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
    }


_NGRAM_ORACLE = """
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS s
  FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS g)
),
-- hot-shingle df-cap (mirrors ngram_jaccard_pairs max_shingle_df=1000)
sh AS (
  SELECT * FROM sh0 WHERE s NOT IN (
    SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000)
),
c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
i AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a, b, floor(inter::DOUBLE / (ca.n + cb.n - inter) * 1000000)::BIGINT AS jaccard_e6
FROM i JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
WHERE inter::DOUBLE / (ca.n + cb.n - inter) >= 0.2
ORDER BY a, b
"""

_CONTAINMENT_ORACLE = """
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS s
  FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS g)
),
sh AS (
  SELECT * FROM sh0 WHERE s NOT IN (
    SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000)
),
c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
i AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a, b,
       floor(inter::DOUBLE / least(ca.n, cb.n) * 1000000)::BIGINT
         AS containment_e6
FROM i JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
WHERE inter::DOUBLE / least(ca.n, cb.n) >= 0.5
ORDER BY a, b
"""


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB SQL reproducing simhash_pairs bit-for-bit: same md5-derived
    token words, same sign-of-sum fingerprint halves, same 16-bit
    pigeonhole bands (generated programmatically — 64 bit columns)."""
    b_lo = ",\n         ".join(
        f"sum(CASE WHEN (lo >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    b_hi = ",\n         ".join(
        f"sum(CASE WHEN (hi >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i + 32}"
        for i in range(32)
    )
    fp_lo = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32)
    )
    fp_hi = " + ".join(
        f"CASE WHEN b{i + 32} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(32)
    )
    ham = (
        "bit_count(xor(a.fp_lo, b.fp_lo)) + bit_count(xor(a.fp_hi, b.fp_hi))"
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
tok AS (SELECT doc_id, unnest(w) AS tok FROM words),
th AS (SELECT doc_id,
              ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
              ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
       FROM tok),
bits AS (
  SELECT doc_id,
         {b_lo},
         {b_hi}
  FROM th GROUP BY 1
),
fp AS (SELECT doc_id, ({fp_lo})::BIGINT AS fp_lo,
              ({fp_hi})::BIGINT AS fp_hi FROM bits),
k AS (
  SELECT doc_id, fp_lo, fp_hi, 0 AS k, fp_lo % 65536 AS kv FROM fp
  UNION ALL
  SELECT doc_id, fp_lo, fp_hi, 1, (fp_lo // 65536) % 65536 FROM fp
  UNION ALL
  SELECT doc_id, fp_lo, fp_hi, 2, fp_hi % 65536 FROM fp
  UNION ALL
  SELECT doc_id, fp_lo, fp_hi, 3, (fp_hi // 65536) % 65536 FROM fp
)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, ({ham})::INT AS hamming
FROM k a JOIN k b
  ON a.k = b.k AND a.kv = b.kv AND a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
ORDER BY a, b
"""


def _minhash_oracle_sql(threshold: float = 0.2) -> str:
    """DuckDB SQL reproducing minhash_lsh_pairs end-to-end: md5-derived
    32-bit shingle hashes, the 128 seeded permutations (embedded as a
    VALUES table — a_j*h+b_j stays under 2^61, exact in BIGINT), md5
    band digests over the comma-joined signature slices, candidate
    banding, and exact Jaccard verification on 60-bit shingle ids."""
    from trck_spark.pipeline.dedup import (
        ROWS_PER_BAND,
        _MERSENNE,
        _perm_coeffs,
    )

    a, b = _perm_coeffs()
    perm_rows = ",\n    ".join(
        f"({j}, {int(a[j])}, {int(b[j])})" for j in range(len(a))
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS s
  FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS g)
),
sh AS (SELECT doc_id,
              ('0x' || substr(md5(s), 1, 8))::BIGINT AS h32,
              ('0x' || substr(md5(s), 1, 15))::BIGINT AS h60
       FROM sh0),
perm(j, a, b) AS (VALUES
    {perm_rows}
),
sig AS (
  SELECT doc_id, j,
         min((a * (h32 % {_MERSENNE}) + b) % {_MERSENNE}) AS v
  FROM sh CROSS JOIN perm GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band,
         ('0x' || substr(md5(string_agg(v::VARCHAR, ',' ORDER BY j)),
                         1, 15))::BIGINT AS bh
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
i AS (
  SELECT cand.a, cand.b, count(*) AS inter
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.a
  JOIN sh sb ON sb.doc_id = cand.b AND sb.h60 = sa.h60
  GROUP BY 1, 2
)
SELECT a, b,
       floor(inter::DOUBLE / (ca.n + cb.n - inter) * 1000000)::BIGINT
         AS jaccard_e6
FROM i JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
WHERE inter::DOUBLE / (ca.n + cb.n - inter) >= {threshold}
ORDER BY a, b
"""


def _near_dup_oracle_sql(
    threshold: float = 0.4,
    n_bands: int = 12,
    band_planes: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB SQL reproducing embedding_near_dup_pairs bit-for-bit: same
    integer hyperplane weights, same per-band sign signatures over the
    quantized embeddings, same distinct candidate pairs, same
    integer-dot double cosine verification."""
    from trck_spark.pipeline.dedup import _lsh_planes

    planes = _lsh_planes(n_bands * band_planes, dim)
    plane_rows = ",\n    ".join(
        "({}, {}, [{}]::BIGINT[])".format(
            p // band_planes,
            1 << (p % band_planes),
            ", ".join(str(int(w)) for w in planes[p]),
        )
        for p in range(n_bands * band_planes)
    )
    return f"""
WITH e0 AS (
  SELECT vec_id,
         [CAST(round(x::DOUBLE * 1000000) AS BIGINT) for x in embedding] AS v
  FROM embeddings
),
e AS (
  SELECT vec_id, v,
         list_sum([v[i] * v[i]
                   for i in generate_series(1, len(v))]) AS n2
  FROM e0
),
planes(band, bit, w) AS (VALUES
    {plane_rows}
),
sig AS (
  SELECT e.vec_id, pl.band,
         sum(CASE WHEN list_sum([e.v[i] * pl.w[i]
                                 for i in generate_series(1, len(e.v))]) >= 0
                  THEN pl.bit ELSE 0 END)::BIGINT AS sig
  FROM e CROSS JOIN planes pl GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM sig x JOIN sig y
    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id
),
s AS (
  SELECT c.a, c.b,
         list_sum([p.v[i] * q.v[i]
                   for i in generate_series(1, len(p.v))])::DOUBLE
         / (sqrt(p.n2::DOUBLE) * sqrt(q.n2::DOUBLE)) AS cos
  FROM cand c JOIN e p ON p.vec_id = c.a JOIN e q ON q.vec_id = c.b
)
SELECT a, b, floor(cos * 1000000)::BIGINT AS cos_e6
FROM s WHERE cos >= {threshold} ORDER BY a, b
"""


_CLUSTERS_CTE = """
WITH RECURSIVE words AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS s
  FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS g)
),
sh AS (
  SELECT * FROM sh0 WHERE s NOT IN (
    SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000)
),
c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
i AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
e AS (
  SELECT a, b FROM i JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
  WHERE inter::DOUBLE / (ca.n + cb.n - inter) >= 0.2
),
sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON sym.a = reach.r
),
lab AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
       FROM lab GROUP BY 1)
"""

_CLUSTERS_ORACLE = _CLUSTERS_CTE + """
SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
FROM lab JOIN sz USING (cluster_id)
ORDER BY lab.doc_id
"""

_DEDUP_APPLY_ORACLE = _CLUSTERS_CTE + """
SELECT d.doc_id, d.source, d.n_chars, sz.cluster_size
FROM lab JOIN sz USING (cluster_id)
JOIN documents d ON d.doc_id = lab.doc_id
WHERE lab.doc_id = lab.cluster_id
ORDER BY d.doc_id
"""


def pipeline_oracles() -> dict:
    from trck_spark.pipeline.dedup import (
        dup_span_stats_oracle_sql,
        incremental_dedup_oracle_sql,
        semantic_dedup_oracle_sql,
    )

    return {
        "dedup_exact": (
            "SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS "
            "fingerprint, min(doc_id)::BIGINT AS keep_id, "
            "count(*)::BIGINT AS n_docs "
            "FROM documents GROUP BY 1 ORDER BY 1"
        ),
        "ngram_jaccard_pairs": _NGRAM_ORACLE,
        "ngram_containment_pairs": _CONTAINMENT_ORACLE,
        "dup_span_stats": dup_span_stats_oracle_sql(),
        "semantic_dedup": semantic_dedup_oracle_sql(),
        # logical plan + FingerprintStore-artifact
        # plan, tagged by `path` — same classification by construction,
        # so the oracle is the same SQL twice under each tag
        "incremental_dedup": (
            "SELECT 'logical' AS path, * FROM ("
            + incremental_dedup_oracle_sql()
            + ") UNION ALL SELECT 'store' AS path, * FROM ("
            + incremental_dedup_oracle_sql()
            + ")"
        ),
        "simhash_pairs": _simhash_oracle_sql(),
        "minhash_lsh_pairs": _minhash_oracle_sql(),
        "embedding_near_dup_pairs": _near_dup_oracle_sql(),
        "dedup_clusters": _CLUSTERS_ORACLE,
        "dedup_apply": _DEDUP_APPLY_ORACLE,
    }
