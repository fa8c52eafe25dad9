"""The benchmark's workloads.  Each takes a ``Run`` whose Spark session is
already up, prepares its inputs, times its set-up, then runs a closed loop
(one client; the next operation starts when the previous one returns)
in whole rounds (``harness.timed_rounds``) for about ``run.seconds``."""

from __future__ import annotations

import json
import os
import time

import numpy as np

import gen
import queries
from check import References
from harness import WARM, Run, fresh_dir, run_query, timed_rounds
from stats import median
from tracing import engine_cpu_s

# 100 events per trail on average, like the reference's perftest1 shape
EVENTS = 200_000
TRAILS = 2_000
OPEN_REPS = 3
FSM_FILES = 2  # time slices; the stream replay reads one per micro-batch
WARM_SHARE = 10  # the warm-up data is this many times smaller
STORE_SEGMENTS = 2
STREAM_BLOCK = 16  # queries per block of the store_interactive stream
# nominal seconds of one timed round on 4 cores: a run times
# round(--seconds / ROUND_S) rounds, at least one
ROUND_S = {"fsm_trails": 15.0, "store_interactive": 15.0}


def _timed_opens(fn, reps: int = OPEN_REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def _exclude_df(spark, cols: dict, cache: str):
    """Every tenth trail (by uuid order), as a one-column DataFrame read
    from parquet, and as the set the runner takes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    uuids = [str(u) for u in np.unique(cols["uuid"])[::10]]
    path = os.path.join(cache, "exclude.parquet")
    pq.write_table(pa.table({"uuid": uuids}), path)
    return spark.read.parquet(path), set(uuids)


# ------------------------------------------------------------ fsm_trails


def fsm_trails(run: Run, cache: str) -> None:
    """Programs the planner cannot compile, over flat parquet, and the
    sessions program replayed as a stream over the same events."""
    from trck_spark.engine import TrckSparkEngine

    spark = run.spark
    path, cols, run.info["gen_s"] = gen.ensure(
        gen.Spec(run.seed, TRAILS, EVENTS), cache, n_files=FSM_FILES)
    run.open_s = _timed_opens(lambda: spark.read.parquet(path).schema)
    df = spark.read.parquet(path)
    exclude_df, exclude = _exclude_df(spark, cols, run.work)
    refs = References(cols, exclude)
    engine = TrckSparkEngine(spark)
    qs = queries.fsm_queries()
    stream = Replay(run, df.schema, refs)
    warm_path, _, _ = gen.ensure(
        gen.Spec(run.seed, TRAILS // WARM_SHARE, EVENTS // WARM_SHARE),
        cache, n_files=FSM_FILES)

    def cycle(files: str, timed: bool = True) -> None:
        source = df if timed else spark.read.parquet(files)
        for q in qs:
            run_query(run, engine, source, q, refs, EVENTS, exclude_df,
                      timed=timed, check=timed)
        stream.replay(files, timed=timed)

    # warm-up, untimed: one cycle over a tenth-size data set starts the
    # Python workers and the state store and compiles the hot paths, so
    # the timed cycles run at the pace later cycles keep
    run.phase("prep")
    cycle(warm_path, timed=False)
    timed_rounds(run, lambda: cycle(path), ROUND_S["fsm_trails"])
    if run.tracer.enabled:
        run.layer["fsm.matcher_events_per_s"] = matcher_events_per_s(refs, qs)
        side = [t for n, t, _ in run.fsm_tele if n == "side_inputs"]
        run.layer["sideinputs.kept_frac"] = (
            side[0].get("events", 0) / EVENTS if side else 0.0)
        run.layer.update(_stream_layers(stream.batches))
    refs.close()


class Replay:
    """The sessions program with ``finalize_idle_gap`` through
    ``streaming_partials``: each replay is one ``availableNow`` query over
    the time-sliced files, one file per micro-batch, timed from the call
    to ``streaming_partials`` until the query has drained its input."""

    NAME = "stream_sessions"

    def __init__(self, run: Run, schema, refs: References):
        self.run, self.schema, self.refs = run, schema, refs
        self.program = queries.sessions(1800)
        self.want = refs.con.execute(self.program.sql).fetchone()[0]
        self.batches: list[dict] = []  # progress of the timed replays

    def replay(self, path: str, timed: bool = True) -> None:
        from trck_spark.streaming import streaming_partials

        run, name = self.run, self.NAME
        run.next_qid(name if timed else WARM + name)
        total = [0]

        def sink(batch_df, _batch_id):
            for r in batch_df.collect():
                if r["var"] == "$sessions":
                    total[0] += int(r["n"])

        ck = fresh_dir(os.path.join(run.work, "checkpoints", str(run.n_ops)))
        source = (run.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(path))
        try:
            with run.tracer.span("streaming.replay"):
                c0 = engine_cpu_s()
                t0 = time.perf_counter()
                parts = streaming_partials(source, self.program.text,
                                           seq_col="seq",
                                           finalize_idle_gap=1800)
                sq = (parts.writeStream.foreachBatch(sink)
                      .option("checkpointLocation", ck)
                      .trigger(availableNow=True).start())
                done = sq.awaitTermination(150)
                dt = time.perf_counter() - t0
                cpu = engine_cpu_s() - c0
            if not done:
                sq.stop()
                raise TimeoutError("replay did not finish in 150 s")
            if sq.exception() is not None:
                raise RuntimeError(str(sq.exception()))
        except Exception as e:  # counted as a failed operation
            run.outcomes.record(name, f"{type(e).__name__}: {e}")
            return
        run.outcomes.record(name)
        run.timed(name, dt, cpu, EVENTS, warm=not timed)
        if not timed:
            return
        if name not in self.refs.checked:
            self.refs.checked.add(name)
            if total[0] != self.want:
                run.outcomes.mark_wrong(
                    name, f"{name}: sessions {total[0]} want {self.want}")
        progress = [_progress(p) for p in sq.recentProgress]
        self.batches.extend(b for b in progress if b.get("numInputRows"))


def matcher_events_per_s(refs: References, qs, n_trails: int = 300) -> float:
    """Single-core ``TrckQuery.trail_results`` throughput over a fixed
    sample of trails (the first ``n_trails`` by uuid), no Spark involved.
    Programs with an implicit foreach need a lexicon and are skipped."""
    from trck_spark.params import foreach_tuples
    from trck_spark.runner import TrckQuery, cookie_to_bytes

    db = refs.trails()[0]
    sample = sorted(db)[:n_trails]
    events = busy = 0.0
    for q in qs:
        tq = TrckQuery(q.text, params=q.params)
        if tq.program.implicit_foreach:
            continue
        tuples = (foreach_tuples(tq.program, tq.params)
                  if tq.program.groupby else None)
        fields = tq.compiled.fields
        prepared = [
            (cookie_to_bytes(u),
             [(e["timestamp"], tuple(str(e.get(f, "")) for f in fields))
              for e in db[u]])
            for u in sample
        ]
        t0 = time.perf_counter()
        for cookie, evs in prepared:
            tq.trail_results(evs, cookie, tuples)
        busy += time.perf_counter() - t0
        events += sum(len(evs) for _, evs in prepared)
    return events / busy if busy else 0.0


# ----------------------------------------------------- store_interactive


def store_interactive(run: Run, cache: str) -> None:
    from trck_spark import store
    from trck_spark.engine import TrckSparkEngine

    spark = run.spark
    files, cols, run.info["gen_s"] = gen.ensure(
        gen.Spec(run.seed, TRAILS, EVENTS, dups=False), cache,
        n_files=STORE_SEGMENTS)
    path = os.path.join(run.work, "store")
    fresh_dir(path)
    os.rmdir(path)
    appends, opens = [], []
    for i in range(STORE_SEGMENTS):
        with run.tracer.span("store.append", segment=i):
            t0 = time.perf_counter()
            store.append_trail_store(
                spark.read.parquet(os.path.join(files, f"part-{i:04d}.parquet")),
                path)
            appends.append(time.perf_counter() - t0)
        with run.tracer.span("store.open", segments=i + 1):
            t0 = time.perf_counter()
            store.open_trail_store(spark, path)
            opens.append(time.perf_counter() - t0)
    run.open_s = _timed_opens(
        lambda: store.open_trail_store(spark, path))
    sdf = store.open_trail_store(spark, path)
    run.layer.update({
        "store.write_s": appends[0],
        "store.append_s": median(appends[1:]),
        "store.segments": 1 + len(
            store.read_manifest(path).get("segments") or []),
        "store.manifest_bytes": _manifest_bytes(store, path),
        "store.bytes_per_event": _dir_bytes(path) / EVENTS,
    })
    for k, t in enumerate(opens, 1):
        run.layer[f"store.open_s.seg{k}"] = t
    run.info["store_append_s"] = [round(a, 3) for a in appends]

    rng = np.random.default_rng(run.seed)
    pool = queries.store_pool(cols["timestamp"], rng)
    refs = References(cols)

    def block():
        """One analyst session: a fresh engine, so its prepared-plan cache
        starts empty; a query's first run in the block misses the cache
        and its repeats hit it, timed as kinds of their own."""
        engine, seen = TrckSparkEngine(spark), set()
        for i in queries.zipf_stream(len(pool), STREAM_BLOCK, rng):
            q = pool[i]
            kind = q.name + ("/cached" if q.name in seen else "")
            seen.add(q.name)
            run_query(run, engine, sdf, q, refs, EVENTS, kind=kind)

    run.phase("prep")
    # warm-up: the pool's first four queries (every tier), untimed, on a
    # throw-away engine
    warm_engine = TrckSparkEngine(spark)
    for q in pool[:4]:
        run_query(run, warm_engine, sdf, q, refs, EVENTS, timed=False)
    timed_rounds(run, block, ROUND_S["store_interactive"])
    run.info["distinct_queries"] = len(run.outcomes.attempts)
    refs.close()


def _manifest_bytes(store, path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        if store.MANIFEST in files:
            total += os.path.getsize(os.path.join(root, store.MANIFEST))
    return total


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


# ------------------------------------------------------------ streaming


def _progress(p) -> dict:
    raw = getattr(p, "json", None)
    return json.loads(raw) if isinstance(raw, str) else dict(p)


def _stream_layers(batches: list[dict]) -> dict:
    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    ops = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    return {
        "streaming.batch_rows": mean(b["numInputRows"] for b in batches),
        "streaming.state_rows": mean(o.get("numRowsTotal", 0) for o in ops),
        "streaming.state_bytes": mean(o.get("memoryUsedBytes", 0)
                                      for o in ops),
        "streaming.state_update_ms": mean(o.get("allUpdatesTimeMs", 0)
                                          for o in ops),
        "streaming.commit_ms": mean(o.get("commitTimeMs", 0) for o in ops),
        "streaming.add_batch_ms": mean(b["durationMs"].get("addBatch", 0)
                                       for b in batches),
    }


WORKLOADS = {
    "fsm_trails": fsm_trails,
    "store_interactive": store_interactive,
}
