"""Physical-plan assertions: the optimizations we claim must be visible
in the executed plans (pushdown, broadcast, column pruning)."""

from __future__ import annotations


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def _op_count(plan: str, op: str) -> int:
    """Count physical operator lines '(N) <op>' (the formatted plan
    repeats operator names in the detail section, so a raw substring
    count overcounts)."""
    import re

    return sum(
        1 for line in plan.splitlines()
        if re.match(rf"^\(\d+\)\s+{op}\b", line.strip())
    )


def test_cnf_filter_pushes_down(spark, tmp_path):
    """The CNF pre-scan filter must reach the parquet scan as
    PushedFilters, and the scan must read only referenced columns."""
    from pyspark.sql import functions as F

    from trck_spark.sideinputs import cnf_to_spark_condition

    src = str(tmp_path / "ev.parquet")
    spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("event_type"),
        F.lit("x").alias("unused_wide_column"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    cond = cnf_to_spark_condition(
        {
            "clauses": [
                [{"field": "event_type", "value": "1", "op": "equal"}],
                [{"field": "event_type", "value": "2", "op": "notequal"}],
            ]
        },
        df.columns,
    )
    out = df.filter(cond).select("id")
    plan = _formatted_plan(out)
    assert "PushedFilters: [" in plan
    # the EqualNullSafe term must be pushed, not just IsNotNull
    assert "EqualNullSafe(event_type,1)" in plan.replace(" ", "").replace(
        "[", ""
    ) or "EqualNullSafe" in plan
    # column pruning: the unused wide column must not be read
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "unused_wide_column" not in read_schema


def test_fast_path_has_no_python_operator(spark):
    """Simple counter programs must compile to a plan with no Python
    evaluation operator (mapInPandas would show as MapInPandas /
    ArrowEvalPython / BatchEvalPython)."""
    from trck_spark.queries import q_trck_count_clicks

    plan = _formatted_plan(
        q_trck_count_clicks(spark, "/root/testdata/sf0.001")
    )
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_counter_implicit_plan_is_single_exchange(spark, tmp_path):
    """The single-scan implicit-foreach counter must stay one shuffle:
    scan -> union(synthetic '' row) -> partial agg -> exchange -> final
    agg.  A second aggregation stage here silently doubles the shuffle
    count on the most common query shape."""
    from pyspark.sql import functions as F

    from trck_spark.engine import TrckSparkEngine

    src = str(tmp_path / "ev.parquet")
    spark.range(2000).select(
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("uuid"),
        F.col("id").alias("timestamp"),
        F.col("id").alias("seq"),
        (F.col("id") % 7).cast("string").alias("event_type"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    prog = """
foreach %t
    start ->
        receive
            event_type = %t -> yield $n
            * -> repeat
"""
    rs = TrckSparkEngine(spark).run(
        df, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq"
    )
    plan = _formatted_plan(rs.counters_df())
    # dedup window shuffle + one aggregation exchange; a regression to
    # the post-agg densification form adds a third
    assert _op_count(plan, "Exchange") <= 2, plan


def test_sessions_plan_single_window_pass(spark, tmp_path):
    """Gap sessions (window >= 1) elides the consecutive-dup pass: the
    compiled plan must contain exactly ONE Window operator (the gap lag)
    — a second one means the dedup window crept back in."""
    from pyspark.sql import functions as F

    from trck_spark.engine import TrckSparkEngine
    from trck_spark.queries import PROG_SESSIONS

    src = str(tmp_path / "ev.parquet")
    spark.range(2000).select(
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("uuid"),
        F.col("id").alias("timestamp"),
        F.col("id").alias("seq"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    rs = TrckSparkEngine(spark).run(
        df, PROG_SESSIONS, uuid_col="uuid", ts_col="timestamp",
        seq_col="seq",
    )
    plan = _formatted_plan(rs.counters_df())
    assert _op_count(plan, "Window") == 1, plan
    assert "MapInPandas" not in plan, "fast path must not hit Python"


def test_multidb_funnel_plan_one_sort_two_windows(spark, tmp_path):
    """The stream-position funnel chains both whole-partition windows on
    ONE sort: a second Sort means the window specs diverged."""
    from pyspark.sql import functions as F

    from trck_spark.engine import TrckSparkEngine

    src = str(tmp_path / "ev.parquet")
    spark.range(2000).select(
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("uuid"),
        F.col("id").alias("timestamp"),
        F.col("id").alias("seq"),
        (F.col("id") % 2).cast("string").alias("db"),
        F.when(F.col("id") % 7 == 0, "view")
        .when(F.col("id") % 7 == 1, "click")
        .otherwise("other")
        .alias("event_type"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    prog = """
start ->
    receive
        event_type = "view" -> wait
        * -> repeat
wait ->
    receive
        event_type = "click" -> yield $conv, quit
        * -> repeat
    after 1h -> quit
"""
    rs = TrckSparkEngine(spark).run(
        df, prog, uuid_col="uuid", ts_col="timestamp", seq_col="seq",
        db_col="db",
    )
    plan = _formatted_plan(rs.counters_df())
    assert _op_count(plan, "Window") == 2, plan
    # one Sort feeding both chained windows + the final presentation
    # sort at most; a third means the window specs diverged
    assert _op_count(plan, "Sort") <= 2, plan
    assert "MapInPandas" not in plan, "fast path must not hit Python"
