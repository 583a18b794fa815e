"""The benchmark's workloads: inputs, one pass, and the output check.

All workloads are closed loops with one client: the next operation
starts when the previous one has returned its result to the driver.

- `signal_queries`: the paper's operator surface over `events`.
- `batch_analytics`: heavy LLM-pipeline and TPC-H jobs.
- `stream_ingest`: event files through the streamed maintainers of
  `SignalEngine`, compaction, then merge-at-read queries.

A query operation is build (the registry call) plus execution (the
result collected to pandas). Traced passes split it into build, plan
(`executedPlan()`) and exec spans; untraced passes do neither.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.measure import Tally, cpu_seconds, value_hash
from perfbench.tracing import NullTracer

SF = 0.01  # table scale: rows per table as in the reference sf0.01 set

SIGNAL_QUERIES = (
    "q_count q_sum q_max q_agg_stats q_argmax q_range_filter "
    "q_range_smaller q_equal_filter q_precision_sum q_last_per_key "
    "q_last_loc q_high_load q_asof_join q_window_max q_window_max_time "
    "q_last_n q_topk_per_signal q_moving_avg q_derivative q_paa "
    "q_m4_downsample q_summary_merge q_outlier_sum q_outlier_max "
    "q_delta_zigzag q_ohlc q_counter_rate q_time_weighted_avg"
).split()

BATCH_QUERIES = (
    "q_curation q_minhash_lsh_pairs q_dedup_clusters q_incremental_neardup "
    "q_embedding_neardup q_ann_ivf q_bm25 q_tfidf_top_terms q_lang_id_ngram "
    "q_decontaminate q_kmeans_drift q_knn_drift_fft q_pricing_summary "
    "q_market_share"
).split()

# stream_ingest input: one file (= one micro-batch) per day of events.
STREAM_FILES = 4
STREAM_ROWS_PER_FILE = 25_000
STREAM_SIGNALS = 500
STREAM_SCHEMA = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE"
READ_T0, READ_T1 = "2024-01-02 00:00:00", "2024-01-07 00:00:00"
READ_LO, READ_HI = 110.0, 130.0
READ_SIGNALS = tuple(range(0, STREAM_SIGNALS, 10))


class Run:
    """What one benchmark run shares with its workload."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tally = Tally()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.outputs: list[tuple[str, str, pd.DataFrame]] = []


class Pass:
    """One pass: its operations' latencies and its wall time."""

    def __init__(self, index: int, traced: bool) -> None:
        self.index = index
        self.traced = traced
        self.latencies: list[float] = []
        self.read_latencies: list[float] = []
        self.wall = 0.0
        self.cpu = 0.0  # CPU seconds of the driver's process tree
        self.extra: dict[str, float] = {}


def timed_query(run: Run, p: Pass, key: str, build, tracer) -> float | None:
    """Build and collect one frame; returns its latency, or None when
    it raised (counted as a failed operation). The result is kept for
    the check under `key`."""
    op = f"p{p.index}.{key}"
    run.tally.attempt()
    t0 = time.perf_counter()
    try:
        with tracer.span(key, op):
            with tracer.span("build", op, group=f"{op}:build") as b:
                cpu0 = _driver_cpu(run) if tracer.enabled else 0.0
                df = build()
                if tracer.enabled:
                    b["driver_cpu_s"] = _driver_cpu(run) - cpu0
            if tracer.enabled:
                with tracer.span("plan", op, group=f"{op}:plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec", op, group=f"{op}:exec"):
                pdf = df.toPandas()
    except Exception as exc:  # one failing operation must not end the run
        run.tally.error(op, exc)
        return None
    latency = time.perf_counter() - t0
    run.outputs.append((op, key, pdf))
    return latency


def _driver_cpu(run: Run) -> float:
    return time.process_time() + cpu_seconds(run.jvm_pid)


class QueryWorkload:
    """A fixed mix of registry queries over generated tables; each
    pass runs the whole mix once in a seeded order."""

    def __init__(self, name: str, queries, sf: float = SF) -> None:
        self.name = name
        self.queries = tuple(queries)
        self.sf = sf

    def prepare(self, run: Run) -> None:
        from timeseriesdb_spark.registry import QUERIES

        self._registry = QUERIES
        self.data = os.path.join(run.work, "data")
        datagen.write_tables(self.data, self.sf, run.seed)
        # Lazy oracles retrain from this directory, i.e. the timed data.
        os.environ["SPARK_TSDB_TEST_SF"] = self.data

    def one_pass(self, run: Run, index: int, tracer=None) -> Pass:
        tracer = tracer or NullTracer()
        p = Pass(index, tracer.enabled)
        rng = np.random.default_rng([run.seed, 3, index])
        t0 = time.perf_counter()
        for i in rng.permutation(len(self.queries)):
            q = self.queries[i]
            fn = self._registry[q]
            lat = timed_query(
                run, p, q, lambda fn=fn: fn(run.spark, self.data), tracer
            )
            if lat is not None:
                p.latencies.append(lat)
        p.wall = time.perf_counter() - t0
        return p

    def check(self, run: Run) -> None:
        """Every collected output against its DuckDB oracle, by the
        order-insensitive value hash. Only this mix's oracles are
        resolved, so an oracle that fails to build fails its own
        query's operations and nothing else."""
        import duckdb

        from timeseriesdb_spark.registry import LAZY_ORACLES, ORACLES
        from timeseriesdb_spark.tables import TABLES

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{run.work}/duckdb'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'"
                )
            expected = {}
            for q in self.queries:
                try:
                    sql = ORACLES[q] if q in ORACLES else LAZY_ORACLES[q]()
                    exp = con.execute(sql).fetch_df()
                except Exception as exc:  # a broken oracle fails its query
                    expected[q] = f"oracle failed: {type(exc).__name__}: {exc}"
                    continue
                expected[q] = (len(exp), value_hash(exp))
        finally:
            con.close()
        _compare(run, expected)


def _compare(run: Run, expected: dict) -> None:
    """Fail every kept output whose (rows, value hash) differs from its
    reference; a reference given as a string is the reason it is
    missing."""
    for op, key, pdf in run.outputs:
        ref = expected.get(key, "no reference output")
        if isinstance(ref, str):
            run.tally.fail(op, ref)
            continue
        n, h = ref
        got = (len(pdf), value_hash(pdf))
        if got != (n, h):
            run.tally.fail(op, f"rows/hash {got} != expected {(n, h)}")


class StreamWorkload:
    """Seeded event files streamed into the signal store and two
    partial stores, OHLC compaction, then merge-at-read queries. Every
    pass starts from an empty store, so no process-wide cache helps."""

    name = "stream_ingest"

    def __init__(self, files: int = STREAM_FILES,
                 rows_per_file: int = STREAM_ROWS_PER_FILE) -> None:
        self.files = files
        self.rows_per_file = rows_per_file

    def prepare(self, run: Run) -> None:
        self.src = os.path.join(run.work, "stream_src")
        os.makedirs(self.src)
        tables = datagen.stream_events(
            run.seed, self.files, self.rows_per_file, STREAM_SIGNALS
        )
        for i, t in enumerate(tables):
            pq.write_table(t, os.path.join(self.src, f"part-{i:03d}.parquet"))
        self.input = pa.concat_tables(tables).to_pandas()
        self.input["ts"] = self.input["ts"].dt.tz_convert(None)
        self.rows = len(self.input)
        self.input_bytes = _tree_bytes(self.src)[1]

    def _stream(self, run: Run):
        return (
            run.spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )

    def one_pass(self, run: Run, index: int, tracer=None) -> Pass:
        from timeseriesdb_spark.api import SignalEngine

        tracer = tracer or NullTracer()
        p = Pass(index, tracer.enabled)
        d = os.path.join(run.work, f"pass{index}")
        self.store = os.path.join(d, "store")
        rollup, bars = os.path.join(d, "rollup"), os.path.join(d, "bars")
        eng = SignalEngine(run.spark, self.store)
        op = f"p{index}"
        t0 = time.perf_counter()
        steps = (
            ("stream.ingest", lambda s, c: eng.ingest_stream(s, c)),
            ("stream.rollup",
             lambda s, c: eng.maintain_rollup_stream(s, rollup, c)),
            ("stream.ohlc", lambda s, c: eng.maintain_ohlc_stream(s, bars, c)),
        )
        for name, start in steps:
            run.tally.attempt()
            ts = time.perf_counter()
            with tracer.span(name, op) as rec:
                try:
                    q = start(self._stream(run), os.path.join(d, "ckpt", name))
                    done = q.awaitTermination(120)
                except Exception as exc:  # a failed stream fails one op
                    run.tally.error(f"{op}.{name}", exc)
                    continue
            if not done:
                q.stop()
                run.tally.fail(f"{op}.{name}", "stream did not finish in 120 s")
                continue
            p.extra[f"{name}_s"] = time.perf_counter() - ts
            self._progress(p, name, q.recentProgress)
            if tracer.enabled:
                rec.update(tracer.group_stats(str(q.runId)))
        run.tally.attempt()
        with tracer.span("compact", op, group=f"{op}:compact") as rec:
            tc = time.perf_counter()
            try:
                merged = eng.compact_partials(bars, "ohlc")
            except Exception as exc:
                run.tally.error(f"{op}.compact", exc)
                merged = 0
            p.extra["compact_s"] = time.perf_counter() - tc
            p.extra["partials_merged"] = merged
        p.extra["read_files"] = sum(
            _tree_bytes(x)[0] for x in (self.store, rollup, bars)
        )
        reads = (
            ("read.smart_agg",
             lambda: eng.smart_agg("max", rollup, READ_T0, READ_T1)),
            ("read.ohlc_bars", lambda: eng.ohlc_bars(bars)),
            ("read.range_query", lambda: eng.range_query(
                READ_LO, READ_HI, list(READ_SIGNALS), READ_T0, READ_T1)),
        )
        for key, build in reads:
            lat = timed_query(run, p, key, build, tracer)
            if lat is not None:
                p.read_latencies.append(lat)
        p.wall = time.perf_counter() - t0
        p.extra["store_files"], p.extra["store_bytes"] = _tree_bytes(
            self.store
        )
        return p

    def _progress(self, p: Pass, name: str, progress) -> None:
        batches = {}
        for pr in progress:
            if pr.numInputRows > 0:
                batches[pr.batchId] = pr
        for pr in batches.values():
            dur = pr.durationMs
            p.latencies.append(dur["triggerExecution"] / 1e3)
            for k in ("triggerExecution", "addBatch", "queryPlanning",
                      "getBatch", "walCommit"):
                p.extra[f"ms.{k}"] = p.extra.get(f"ms.{k}", 0) + dur.get(k, 0)
        p.extra["batches"] = p.extra.get("batches", 0) + len(batches)
        if name == "stream.ingest":
            p.extra["ingest_rows"] = sum(
                pr.numInputRows for pr in batches.values()
            )

    def check(self, run: Run) -> None:
        """Rows in the last store equal rows generated; every read equals
        a pandas recomputation over the generated input."""
        run.tally.attempt()
        try:
            got = run.spark.read.parquet(self.store).count()
        except Exception as exc:  # no store at all is a failed check
            run.tally.error("store.rows", exc)
        else:
            if got != self.rows:
                run.tally.fail("store.rows", f"{got} rows stored != {self.rows}")
        ev = self.input
        scoped = ev[(ev.ts >= READ_T0) & (ev.ts < READ_T1)]
        agg = scoped.groupby("user_id", as_index=False)["value"].max()
        agg = agg.rename(columns={"value": "max"})
        srt = ev.sort_values(["ts", "event_id"])
        g = srt.assign(day=srt.ts.dt.floor("D")).groupby(["user_id", "day"])
        bars = g["value"].agg(
            open="first", high="max", low="min", close="last", n_samples="count"
        ).reset_index()
        rng = scoped[
            (scoped.value > READ_LO) & (scoped.value < READ_HI)
            & scoped.user_id.isin(READ_SIGNALS)
        ][["user_id", "ts", "event_id", "value"]]
        _compare(run, {
            k: (len(v), value_hash(v)) for k, v in (
                ("read.smart_agg", agg), ("read.ohlc_bars", bars),
                ("read.range_query", rng),
            )
        })


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, skipping hidden and marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


WORKLOADS = {
    "signal_queries": lambda: QueryWorkload("signal_queries", SIGNAL_QUERIES),
    "batch_analytics": lambda: QueryWorkload("batch_analytics", BATCH_QUERIES),
    "stream_ingest": StreamWorkload,
}
