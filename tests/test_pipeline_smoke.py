"""Smoke the rows-only (approximate / hash-defined) queries: they must
execute and return sane shapes; exactness is covered by their oracle-backed
exact counterparts.
"""

from __future__ import annotations

import os

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def test_minhash_lsh_recall(spark):
    """LSH candidates verified by exact jaccard must be a subset of the
    exact pair set, with high recall at this threshold/band config."""
    from trck_spark.pipeline.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["a"], r["b"]) for r in ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    lsh = {
        (r["a"], r["b"]) for r in minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_simhash_pairs(spark):
    from trck_spark.pipeline.dedup import simhash_pairs

    rows = simhash_pairs(spark, SF_DIR).collect()
    for r in rows:
        assert 0 <= r["hamming"] <= 3
        assert r["a"] < r["b"]


def test_ngram_hot_shingle_cap(spark, tmp_path):
    """A shingle shared by every doc must not explode into O(n^2)
    candidate pairs: with df > max_shingle_df it is dropped from counts
    and intersections; pairs via rare shingles survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trck_spark.pipeline.dedup import ngram_jaccard_pairs

    hot = "the quick brown"  # one 3-gram shared by all docs
    docs = []
    for i in range(40):
        docs.append(f"{hot} filler{i} x{i} y{i} z{i}")
    # docs 100/101: near-identical via rare shingles
    docs.append(f"{hot} alpha beta gamma delta")
    docs.append(f"{hot} alpha beta gamma delta epsilon")
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    pq.write_table(
        pa.table(
            {"doc_id": list(range(len(docs))), "text": docs}
        ),
        os.path.join(d, "documents.parquet"),
    )
    rows = ngram_jaccard_pairs(
        spark, d, threshold=0.2, max_shingle_df=10
    ).collect()
    pairs = {(r["a"], r["b"]): r["jaccard_e6"] for r in rows}
    # the hot shingle binds all 42 docs; capped, only the real near-dup
    # pair (via its rare shingles) remains
    assert set(pairs) == {(40, 41)}
    # jaccard over non-hot shingles only: 4 shared, union 5 -> 0.8
    assert pairs[(40, 41)] == 800000


def test_embedding_near_dup_recall(spark):
    """Banded-LSH near-dup pairs must be a subset of the exact cosine
    pair set (verification is exact), with high recall at this
    threshold/band config."""
    from pyspark.sql import functions as F

    from trck_spark.pipeline.dedup import embedding_near_dup_pairs
    from trck_spark.pipeline.dedup import _DOT, QUANT

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.expr(QUANT).alias("v")
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    dot = F.expr(_DOT.format(a="va", b="vb")).cast("double")
    na = F.expr(_DOT.format(a="va", b="va")).cast("double")
    nb = F.expr(_DOT.format(a="vb", b="vb")).cast("double")
    exact = {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", dot / (F.sqrt(na) * F.sqrt(nb)))
        .filter(F.col("cos") >= 0.4)
        .select("a", "b")
        .collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in embedding_near_dup_pairs(
            spark, SF_DIR, threshold=0.4
        ).collect()
    }
    assert lsh <= exact
    assert exact, "threshold 0.4 must be non-trivial on the test data"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"near-dup recall too low: {recall}"


def test_dedup_clusters_invariants(spark):
    """Cluster labels must be closed over the edge set (both endpoints of
    every pair share a label), each label must be the minimum doc_id of
    its cluster, and sizes must sum back to the corpus."""
    from trck_spark.pipeline.dedup import dedup_clusters, ngram_jaccard_pairs

    labels = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(spark, SF_DIR).collect()
    }
    edges = ngram_jaccard_pairs(spark, SF_DIR).collect()
    assert edges, "fixture corpus should contain near-dup pairs"
    for e in edges:
        assert labels[e["a"]][0] == labels[e["b"]][0]
    by_cluster: dict = {}
    for doc, (cid, size) in labels.items():
        by_cluster.setdefault(cid, []).append((doc, size))
    for cid, members in by_cluster.items():
        assert cid == min(d for d, _ in members)
        assert all(s == len(members) for _, s in members)
    assert sum(len(m) for m in by_cluster.values()) == len(labels)


def test_connected_components_chain_log_rounds(spark):
    """A 200-node path graph converges in O(log diameter) rounds thanks
    to the pointer-jumping shortcut — propagation alone would need 199
    rounds and blow the iteration cap."""
    from pyspark.sql import functions as F

    from trck_spark.pipeline.dedup import connected_components

    n = 200
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels, rounds = connected_components(nodes, sym, max_iters=25)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12, f"pointer jumping should converge fast, took {rounds}"


def test_containment_catches_subset_dup(spark, tmp_path):
    """A short doc fully embedded in a long one scores containment 1.0
    even though its Jaccard is far below any useful threshold — the case
    the containment operator exists for."""
    from pyspark.sql import functions as F

    from trck_spark.pipeline.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        release,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    long = filler + " " + short + " " + filler[::-1].replace("w", "v")
    df = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id long, text string"
    ).withColumn("source", F.lit("s")).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text"))
    d = str(tmp_path / "sub")
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")

    cont = ngram_containment_pairs(spark, d, threshold=0.9)
    rows = cont.collect()
    release(cont)
    assert [(r["a"], r["b"]) for r in rows] == [(0, 1)]
    assert rows[0]["containment_e6"] == 1000000

    jac = ngram_jaccard_pairs(spark, d, threshold=0.9)
    jrows = jac.collect()
    release(jac)
    assert jrows == []  # Jaccard misses the subset duplicate


def _write_docs(spark, tmp_path, rows, name="docs"):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("source", F.lit("s")).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text"))
    d = str(tmp_path / name)
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def _oracle_rows(sql, sf_dir, table="documents"):
    """Run an oracle SQL string on a planted fixture dir via DuckDB —
    parity on ADVERSARIAL fixtures, not just the synthetic corpus."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS "
        f"SELECT * FROM '{sf_dir}/{table}.parquet/*.parquet'"
    )
    return con.sql(sql).fetchall()


def _spark_vs_oracle(df, sql, sf_dir, table="documents"):
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in _oracle_rows(sql, sf_dir, table))
    assert got == want, (got[:5], want[:5])


def test_dup_span_planted(spark, tmp_path):
    """A doc duplicated verbatim scores 100% dup positions; a unique doc
    scores 0; a doc shorter than the gram width reports zero grams."""
    from trck_spark.pipeline.dedup import dup_span_stats

    shared = "a b c d e f g h"          # 8 tokens -> 4 5-gram positions
    unique = "q w e r t y u i o p"      # 10 tokens -> 6 positions
    short = "x y z"                     # < 5 tokens -> 0 positions
    d = _write_docs(
        spark, tmp_path,
        [(0, shared), (1, shared), (2, unique), (3, short)],
        "spans",
    )
    rows = {r["doc_id"]: r for r in dup_span_stats(spark, d).collect()}
    assert rows[0]["n_grams"] == 4 and rows[0]["n_dup_grams"] == 4
    assert rows[0]["dup_frac_e6"] == 1000000
    assert rows[1]["n_dup_grams"] == 4
    assert rows[2]["n_grams"] == 6 and rows[2]["n_dup_grams"] == 0
    assert rows[3]["n_grams"] == 0 and rows[3]["dup_frac_e6"] == 0

    from trck_spark.pipeline.dedup import dup_span_stats_oracle_sql

    _spark_vs_oracle(
        dup_span_stats(spark, d), dup_span_stats_oracle_sql(), d
    )


def test_semantic_dedup_planted(spark, tmp_path):
    """A vector nearly parallel to a lower-id cell-mate is dropped with
    dup_of pointing at it; orthogonal cell-mates survive."""
    from trck_spark.pipeline.dedup import release, semantic_dedup

    vecs = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),
        (2, [1.0, 0.001], 0),   # near-dup of 0 -> same cell, dropped
        (3, [-1.0, 0.0], 0),    # lands in cell 1, cos 0 vs pivot 1
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "emb")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    out = semantic_dedup(spark, d, n_cells=2, threshold=0.7)
    rows = {r["vec_id"]: r for r in out.collect()}
    release(out)
    assert rows[0]["kept"] and rows[0]["cell"] == 0
    assert rows[1]["kept"] and rows[1]["cell"] == 1
    assert not rows[2]["kept"] and rows[2]["dup_of"] == 0
    assert rows[3]["kept"]

    from trck_spark.pipeline.dedup import semantic_dedup_oracle_sql

    out2 = semantic_dedup(spark, d, n_cells=2, threshold=0.7)
    _spark_vs_oracle(
        out2, semantic_dedup_oracle_sql(n_cells=2, threshold=0.7),
        d, table="embeddings",
    )
    release(out2)


def test_dup_span_single_explode_pipeline(spark):
    """Corpus-wide totals must ride a window over the one aggregated
    lineage, NOT a groupBy + self-join: the join form plans the
    scan->explode->aggregate pipeline twice (the join's implied
    isnotnull filter defeats exchange-reuse canonicalization), doubling
    the dominant stage at 100 TB.  Pinned: exactly one Generate
    (explode) in the executed plan."""
    from trck_spark.pipeline.dedup import dup_span_stats

    df = dup_span_stats(spark, SF_DIR)
    df.collect()  # AQE: final plan only materializes after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # toString prints "== Final Plan ==" then "== Initial Plan ==";
    # only the executed (final) section counts
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate explode") == 1, final[:2000]


def test_incremental_dedup_planted(spark, tmp_path):
    """Corpus dups, within-batch dups and fresh docs classify correctly;
    corpus docs never appear in the output."""
    from pyspark.sql import functions as F

    from trck_spark.pipeline.dedup import incremental_dedup

    rows = [
        (0, "the corpus doc", "src0"),
        (1, "another corpus doc", "src0"),
        (10, "the corpus doc", "src1"),       # dup of corpus
        (11, "a brand new doc", "src1"),      # fresh
        (12, "a brand new doc", "src2"),      # dup within batch
        (13, "unique again", "src2"),         # fresh
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text")
    )
    d = str(tmp_path / "inc")
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")

    out = {r["doc_id"]: r["status"]
           for r in incremental_dedup(spark, d).collect()}
    assert out == {10: "corpus_dup", 11: "kept",
                   12: "batch_dup", 13: "kept"}

    from trck_spark.pipeline.dedup import incremental_dedup_oracle_sql

    _spark_vs_oracle(
        incremental_dedup(spark, d), incremental_dedup_oracle_sql(), d
    )


def test_short_docs_survive_all_operators(spark, tmp_path):
    """Documents with 0/1/2 words must not crash any shingle-based
    operator.  Regression: Spark's sequence(1, 0) yields
    the DESCENDING array [1, 0] (unlike SQL generate_series, which is
    empty), so the un-guarded shingle window indexed out of bounds on
    any real-world corpus containing a short document."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trck_spark.pipeline import dedup

    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(8), pa.int64()),
            "text": pa.array([
                "", "one", "two words",
                "three words here",
                "a slightly longer document with enough words",
                "a slightly longer document with enough words",
                None,  # null text must flow through, never crash
                "héllo wörld émoji 🎉 unicode test words",
            ]),
            "lang": pa.array(["en"] * 8),
            "source": pa.array(["src0"] * 8),
            "n_chars": pa.array(
                [0, 3, 9, 16, 44, 44, 0, 39], pa.int64()
            ),
        }),
        str(tmp_path / "documents.parquet"),
    )
    d = str(tmp_path)
    for fn in (
        lambda: dedup.ngram_jaccard_pairs(spark, d).collect(),
        lambda: dedup.ngram_containment_pairs(spark, d).collect(),
        lambda: dedup.minhash_lsh_pairs(spark, d).collect(),
        lambda: dedup.simhash_pairs(spark, d).collect(),
        lambda: dedup.dup_span_stats(spark, d).collect(),
    ):
        fn()  # must not raise
    # the exact-dup pair (docs 4, 5) must still be found end-to-end
    surv = dedup.dedup_apply(spark, d, threshold=0.2)
    ids = {r["doc_id"] for r in surv.collect()}
    dedup.release(surv)
    assert 4 in ids and 5 not in ids


def test_dedup_clusters_minhash_method(spark):
    """method='minhash' edges are a REFINEMENT of the exact ngram
    clustering (a missed banding edge can split a cluster, never merge
    two): every minhash cluster must sit wholly inside one ngram
    cluster, and byte-identical docs must still co-cluster (identical
    signatures collide in every band)."""
    from trck_spark.pipeline.dedup import dedup_clusters, release

    ng = dedup_clusters(spark, SF_DIR, method="ngram")
    ng_lbl = {r["doc_id"]: r["cluster_id"] for r in ng.collect()}
    release(ng)
    mh = dedup_clusters(spark, SF_DIR, method="minhash")
    mh_rows = mh.collect()
    mh_lbl = {r["doc_id"]: r["cluster_id"] for r in mh_rows}
    release(mh)
    assert set(mh_lbl) == set(ng_lbl)
    # refinement: same minhash label -> same ngram label
    by_mh: dict = {}
    for d, c in mh_lbl.items():
        by_mh.setdefault(c, set()).add(ng_lbl[d])
    for c, ng_labels in by_mh.items():
        assert len(ng_labels) == 1, (
            f"minhash cluster {c} spans ngram clusters {ng_labels}"
        )


def test_table_rows_memo_invalidates_on_rewrite(spark, tmp_path):
    """_table_rows memoizes parquet footer counts for the auto bucket-cap
    gate; a same-path rewrite at a different scale (benchdata's ensure_*
    regenerating mid-session) must invalidate the memo via the directory
    mtime key, not silently mis-gate the cap (ADVICE r06: dedup.py:94)."""
    import os

    from trck_spark.pipeline.dedup import _table_rows

    path = str(tmp_path / "docs.parquet")
    spark.range(10).write.mode("overwrite").parquet(path)
    assert _table_rows(spark, path) == 10
    spark.range(25).write.mode("overwrite").parquet(path)
    # parquet overwrite replaces part files; force a distinct mtime even
    # on coarse-mtime filesystems
    t = os.path.getmtime(path) + 2
    os.utime(path, (t, t))
    assert _table_rows(spark, path) == 25
