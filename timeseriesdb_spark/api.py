"""User-facing engine facade — the reference's database lifecycle
(configure → ingest signals → query) as one object, so a TimeSeriesDB
user can switch without learning the internals:

reference                                  → SignalEngine
run_single_test ingestion (lib.rs:485-921) → ingest()/ingest_stream()
buffer.run_query count/sum/min/max/avg     → agg()
  (query.rs:41-173)
range/equal filters (split_double.rs:4230) → range_query()
SegmentIter::get_last_n (segment.rs:268)   → last_n()
influx max_groupby (influx_bench/mod.rs)   → window_max()
AggStats summary (buffer_pool.rs:757)      → build_rollup()/rollup_agg()
recoding daemon downsampling               → downsample() (PAA rollup)

Storage is the date-partitioned, signal-clustered Parquet layout of
sources/store.py; every method returns a lazy DataFrame (composable,
optimizer-visible) — nothing collects on the driver.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timeseriesdb_spark.operators import aggregates, chunking, curation
from timeseriesdb_spark.operators import text, tsanalytics
from timeseriesdb_spark.operators.common import dsum, merge_by
from timeseriesdb_spark.sources import store
from timeseriesdb_spark.streaming import driftscore, sequences

_AGGS = {
    "count": lambda c: F.count(c).alias("count"),
    "min": lambda c: F.min(c).alias("min"),
    "max": lambda c: F.max(c).alias("max"),
    "sum": lambda c: dsum(c, "sum"),
    "avg": lambda c: F.round(F.avg(c), 6).alias("avg"),
}


# In every batch_id=compacted-<n>: the highest batch id it absorbed
# (the leading "_" hides the file from Spark's reader).
_HIGH_WATER = "_BATCH_HIGH_WATER"
# In every tiered_before=<cutoff>: the raw store files it tiered,
# relative to the store (apply_retention).
_PINNED_FILES = "_PINNED_FILES"


class _Cut(NamedTuple):
    """A partial store's batch dirs, listed once: `dirs` holds every
    batch_id=<n> and batch_id=compacted-<g> (other names are not
    batches). `live` is what a read serves: the newest generation
    (`gen`, -1 if none) plus every integer id above the high-water it
    absorbed (`absorbed`, -1 without a generation). Anything else is
    already absorbed: integer ids at or below the mark, and older
    generations (seen only between an install and the deletion of the
    dirs it absorbed, or after a crash there). `high` is the highest
    batch id the store holds or absorbed."""

    dirs: list[str]
    live: list[str]
    gen: int
    absorbed: int
    high: int


def _cut(store_path: str, below: int | None = None) -> _Cut:
    """The one listing of `store_path`'s batch dirs; `below` keeps
    only the live integer ids under it."""
    import os

    ids, gens = {}, {}  # dir -> batch id / generation
    for d in os.listdir(store_path) if os.path.isdir(store_path) else []:
        key, _, bid = d.partition("=")
        n = bid.removeprefix("compacted-")
        if key == "batch_id" and n.isdigit():
            (ids if n == bid else gens)[d] = int(n)
    gen, absorbed = max(gens.values(), default=-1), -1
    live = [d for d, g in gens.items() if g == gen]
    mark = os.path.join(store_path, *live[:1], _HIGH_WATER)
    if live and os.path.exists(mark):
        with open(mark) as f:
            absorbed = int(f.read())
    live += sorted(
        d for d, i in ids.items()
        if absorbed < i and (below is None or i < below)
    )
    high = max([absorbed, *ids.values()])
    return _Cut(sorted([*ids, *gens]), live, gen, absorbed, high)


def _read_tier(
    spark: SparkSession, path: str, cut: _Cut | None = None
) -> DataFrame:
    """Every read of a tier store: its live batch dirs (`cut`, default
    the store's `_cut`), or its root if it has no batch_id= dirs (as
    build_rollup writes), with the schema its writer recorded
    (store.footer_schema), so building the read runs no Spark job. An
    empty or missing store raises ValueError."""
    cut = cut or _cut(path)
    paths = [f"{path}/{d}" for d in cut.live] if cut.dirs else [path]
    return spark.read.schema(store.footer_schema(path, paths)).parquet(*paths)


def guard_fresh_checkpoint(
    store_path: str,
    checkpoint: str,
    on_fresh_checkpoint: str = "error",
    new_events_mode: str = "append",
    meta_name: str = "_stream_meta.json",
) -> int:
    """The fresh-checkpoint guard of every batch_id-partitioned partial
    writer (_run_stream calls it once for all of them).

    The one silent-corruption path of a batch_id store is a FRESH
    checkpoint (dir lost, or a second ingest tranche pointed at the
    same store) against a NON-EMPTY store: foreachBatch restarts batch
    ids at 0 and the new tranche's partials silently overwrite the
    oldest stored partials, corrupting every served rollup/sketch. A
    compacted generation (`batch_id=compacted-<n>`) counts as data.
    `on_fresh_checkpoint` declares intent:

    - "error" (default): refuse loudly.
    - "replay": the source replays the IDENTICAL full corpus, which
      re-derives every partial. All existing batch_id partitions,
      compacted generations included, are DELETED first: a coarser
      replay (one batch where the original run used
      maxFilesPerTrigger=1) would otherwise leave stale partials behind
      to double-count at merge.
    - `new_events_mode` ("append"; the drift stream names it
      "rehydrate" because it additionally re-seeds position carries):
      the source carries ONLY events not yet in the store — new
      batches write ABOVE every batch_id the store holds or a
      compacted generation absorbed, with the base recorded in a
      checkpoint sidecar so a crash/resume of this run keeps its
      batch-id namespace stable.

    "replay" deletes under the store's lock (store.rewrite) and
    refuses while a compact_partials holds it. "append" writes above
    every id the store holds and "error" writes nothing, so neither
    collides with a running compaction.

    Returns the base offset to ADD to every foreachBatch batch id.
    """
    import json
    import os

    valid = ("error", "replay", new_events_mode)
    if on_fresh_checkpoint not in valid:
        raise ValueError(
            f"on_fresh_checkpoint must be one of {valid}; "
            f"got {on_fresh_checkpoint!r}"
        )
    cut = _cut(store_path)
    fresh = not os.path.isdir(os.path.join(checkpoint, "offsets"))
    meta_path = os.path.join(checkpoint, meta_name)
    base = 0
    if fresh and cut.dirs:
        if on_fresh_checkpoint == "error":
            raise ValueError(
                f"fresh checkpoint {checkpoint!r} against a non-empty "
                f"partial store {store_path!r}: batch_id would restart "
                "at 0 and silently overwrite good partials. Pass "
                "on_fresh_checkpoint='replay' if the source replays "
                f"the identical full corpus, or {new_events_mode!r} "
                "if it carries only new events (writes land above the "
                "store's max batch_id)."
            )
        if on_fresh_checkpoint == "replay":
            with store.rewrite(store_path, ValueError) as commit:
                commit.delete(  # listed under the lock
                    os.path.join(store_path, d) for d in _cut(store_path).dirs
                )
        else:
            base = 1 + cut.high
    if not fresh and os.path.exists(meta_path):
        with open(meta_path) as f:
            base = json.load(f)["base"]
    if fresh:
        os.makedirs(checkpoint, exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump({"base": base}, f)
    return base


def _run_stream(
    stream: DataFrame,
    checkpoint: str,
    write: Callable[[DataFrame, int], None],
    store_path: str | None = None,
    on_fresh_checkpoint: str = "error",
    transform: Callable[[DataFrame, str, int], DataFrame] | None = None,
    trigger: dict | None = None,
    **guard,
):
    """Start the one foreachBatch sink every streamed writer shares;
    returns the StreamingQuery. `write(batch_df, base + bid)` writes a
    micro-batch; the default trigger drains what is available and stops.

    A store-backed writer (`store_path` given) puts each micro-batch in
    its OWN `{store_path}/batch_id={base + bid}` partition: foreachBatch
    is at-least-once, so a replayed batch just overwrites its own
    partition — idempotent, no double counting, no read-modify-write of
    shared state. The one remaining hazard, a fresh checkpoint against
    a non-empty store, is guarded here (guard_fresh_checkpoint, `guard`
    keywords pass through), which yields `base`; `transform(stream,
    store_path, base)` derives the written stream from it. A batch id
    that a compacted generation already absorbed is not written again:
    it was written before the compaction, and its replay (the commit
    lost in a crash) would re-derive the same partials next to the
    generation that holds them."""
    base, absorbed = 0, -1
    if store_path is not None:
        base = guard_fresh_checkpoint(
            store_path, checkpoint, on_fresh_checkpoint, **guard
        )
        absorbed = _cut(store_path).absorbed
    if transform is not None:
        stream = transform(stream, store_path, base)

    def sink(batch_df: DataFrame, bid: int) -> None:
        if base + bid > absorbed:
            write(batch_df, base + bid)
        else:  # still run it: stateful streams commit state only then
            batch_df.write.format("noop").mode("overwrite").save()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**({"availableNow": True} if trigger is None else trigger))
        .start()
    )


def _partial_stats(events: DataFrame, bucket: str = "1 hour") -> DataFrame:
    """One AggStats partial per (signal, bucket): the ONE rollup schema
    shared by the batch builder and the streaming maintainer —
    cnt/min/max plus the sum kept as DECIMAL so merging partials in any
    order is exact."""
    return (
        events.groupBy("user_id", F.window("ts", bucket).alias("w"))
        .agg(
            F.count("value").alias("cnt"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("dsum"),
        )
        .select(
            "user_id", F.col("w.start").alias("bucket_start"),
            "cnt", "min_value", "max_value", "dsum",
        )
    )


def _ngram_partials(trigrams: DataFrame) -> DataFrame:
    """Linear (e1, e2, e3, user_id) trigram counts."""
    return trigrams.groupBy("e1", "e2", "e3", "user_id").agg(
        F.count("*").alias("n")
    )


def _drift_positioned(stream: DataFrame, feature_path: str, base: int):
    """The drift tier's stream transform: rank every row per signal
    (streaming/driftscore.positioned_stream). On rehydrate (`base` > 0)
    the per-signal carries seed from the store's high-water — carries
    from PRIOR runs only (integer batch ids below base), so this run's
    own writes never inflate the seed on resume."""
    import os

    initial = None
    if base > 0:
        hw = driftscore.signal_high_water(_read_tier(
            stream.sparkSession, feature_path, _cut(feature_path, base)
        ))
        cap = int(
            os.environ.get("SPARK_TSDB_REHYDRATE_MAX_SIGNALS", "1000000")
        )
        n_signals = hw.count()
        if n_signals > cap:
            raise ValueError(
                f"rehydrate seed would carry {n_signals} signals (> "
                f"REHYDRATE_MAX_SIGNALS={cap}) in a driver dict closed "
                "over by the positioner — refusing to build a multi-GB "
                "task closure. Raise SPARK_TSDB_REHYDRATE_MAX_SIGNALS "
                "if the closure size is acceptable, or bootstrap the "
                "positioner's state store from the same "
                "signal_high_water frame (the production lever for an "
                "unbounded signal universe)."
            )
        initial = {r["user_id"]: r["hw"] for r in hw.collect()}
    return driftscore.positioned_stream(stream, initial)


class _Tier(NamedTuple):
    """One streamed partial tier: `partial` builds a micro-batch's
    partial frame; `combine` merges partials at the partial grain and
    keeps their schema, so its output is again a partial (compaction
    writes it, reads may finalize it) — None means the tier cannot be
    compacted; `transform(stream, store, base)` derives the stream the
    partials are built from, for tiers that carry state across
    batches."""

    partial: Callable[..., DataFrame]
    combine: Callable[[DataFrame], DataFrame] | None = None
    transform: Callable[[DataFrame, str, int], DataFrame] | None = None


# Every streamed partial store, keyed by its compact_partials kind. Why
# each combine is exact lives on the tier's maintainer and its test.
_TIERS = {
    "rollup": _Tier(_partial_stats, merge_by(
        ("user_id", "bucket_start"),
        cnt="sum", min_value="min", max_value="max", dsum="sum",
    )),
    "shipdate": _Tier(curation.daily_shipments, merge_by(
        ("ship_d",), d_cnt="sum", d_qty="sum"
    )),
    # DataSketches HLL bytes: no exact schema-preserving combine is
    # pinned by a test, so the tier is not compactable
    "distinct": _Tier(chunking.daily_distinct_sketches),
    "hllreg": _Tier(chunking._hll_registers, merge_by(
        ("user_id", "event_date", "register_idx"), rho="max"
    )),
    "cm": _Tier(aggregates._cm_counters, merge_by(
        ("user_id", "day", "depth", "bucket"), partial_n="sum"
    )),
    "ohlc": _Tier(tsanalytics.ohlc_partials, tsanalytics.combine_ohlc),
    "hist": _Tier(tsanalytics.hist_partials, merge_by(
        ("user_id", "day", "bin"), partial_n="sum"
    )),
    "qsk": _Tier(aggregates.qsk_day_buckets, merge_by(
        ("user_id", "day", "bucket"), partial_n="sum"
    )),
    "ngrams": _Tier(
        _ngram_partials,
        merge_by(("e1", "e2", "e3", "user_id"), n="sum"),
        lambda stream, _path, _base: sequences.event_trigram_stream(stream),
    ),
    "hh": _Tier(aggregates.hh_day_counts, merge_by(("day", "key"), cnt="sum")),
    "terms": _Tier(text.term_source_counts, merge_by(
        ("source", "term"), cnt="sum"
    )),
    # the rehydrate seed reads the integer batch ids below `base`, so a
    # compacted generation would break it: no combine
    "drift": _Tier(
        driftscore.chunk_feature_partials, transform=_drift_positioned
    ),
}
_COMPACTABLE = sorted(k for k, t in _TIERS.items() if t.combine is not None)


def _maintain(
    kind: str, stream: DataFrame, path: str, checkpoint: str,
    on_fresh_checkpoint: str, guard: dict | None = None, **opts,
):
    """Maintain tier `kind` of _TIERS from `stream` into the partial
    store at `path`; `opts` go to the partial builder (rollup bucket)."""
    tier = _TIERS[kind]

    def write(batch_df: DataFrame, bid: int) -> None:
        tier.partial(batch_df, **opts).write.mode("overwrite").parquet(
            f"{path}/batch_id={bid}"
        )

    return _run_stream(
        stream, checkpoint, write, path, on_fresh_checkpoint,
        tier.transform, **(guard or {}),
    )


def _paa(events: DataFrame, chunk: int, *extra) -> DataFrame:
    """PAA chunk means per signal: every `chunk` rows in (ts, event_id)
    order become one (ts = first ts, value = mean) row, plus `extra`
    aggregates."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("pos", F.row_number().over(w) - 1)
        .groupBy("user_id", F.floor(F.col("pos") / chunk).alias("chunk"))
        .agg(
            F.min("ts").alias("ts"),
            F.round(F.avg("value"), 6).alias("value"),
            *extra,
        )
    )


class SignalEngine:
    """A signal store at `path` + query surface over it."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ---- ingestion -----------------------------------------------------

    def ingest(self, events: DataFrame, mode: str = "append") -> None:
        """Batch ingest (the reference's file-client path). Expects
        (user_id, ts, value, ...) columns; layout per sources/store."""
        store.write_signal_store(events, self.path, mode=mode)

    def ingest_stream(self, stream: DataFrame, checkpoint: str):
        """Streaming ingest (BufferedSignal path): foreachBatch append
        through the same partitioned writer — batch and stream land in
        one layout."""
        return _run_stream(
            stream, checkpoint,
            lambda batch_df, _bid: store.write_signal_store(
                batch_df, self.path, mode="append"
            ),
        )

    def ingest_stream_admitted(
        self,
        stream: DataFrame,
        checkpoint: str,
        cap: int,
        window_sec: int,
        shed_path: str | None = None,
    ):
        """Capacity-bounded streaming ingest: the reference's
        buffer-full admission (compression_daemon.rs:51-79) as a
        first-class ingest mode — at most `cap` rows per signal per
        `window_sec` tumbling window land in the store; the shed
        remainder is dead-lettered to `shed_path` (observable, never
        silently lost) or dropped with an explicit flag if no path is
        given. Trigger sizing still bounds micro-batch volume; this
        bounds per-signal rate inside a batch
        (streaming/admission.py)."""
        from timeseriesdb_spark.streaming.admission import admitted_stream

        def write_batch(batch_df: DataFrame, _bid: int) -> None:
            batch_df.cache()
            try:
                store.write_signal_store(
                    batch_df.where(F.col("admitted")).drop("admitted"),
                    self.path,
                    mode="append",
                )
                if shed_path is not None:
                    batch_df.where(~F.col("admitted")).drop(
                        "admitted"
                    ).write.mode("append").parquet(shed_path)
            finally:
                batch_df.unpersist()

        return _run_stream(
            admitted_stream(stream, cap, window_sec), checkpoint, write_batch
        )

    # ---- scans ---------------------------------------------------------

    def events(self) -> DataFrame:
        return store.read_signal_store(self.spark, self.path)

    def _scoped(self, signals=None, t0=None, t1=None) -> DataFrame:
        """Signal/time scoping — predicates are plain conjunctions so
        partition pruning (event_date) and file skipping (user_id
        min/max) both engage; see test_plans."""
        df = self.events()
        if signals is not None:
            df = df.filter(F.col("user_id").isin(list(signals)))
        if t0 is not None:
            df = df.filter(F.col("ts") >= F.lit(t0))
        if t1 is not None:
            df = df.filter(F.col("ts") < F.lit(t1))
        return df

    # ---- queries (the reference's operator surface) --------------------

    def agg(self, which: str, signals=None, t0=None, t1=None) -> DataFrame:
        """Per-signal scalar aggregate (query.rs:41-173)."""
        if which not in _AGGS:
            raise ValueError(f"agg must be one of {sorted(_AGGS)}")
        return (
            self._scoped(signals, t0, t1)
            .groupBy("user_id")
            .agg(_AGGS[which]("value"))
        )

    def range_query(
        self, lo=None, hi=None, signals=None, t0=None, t1=None
    ) -> DataFrame:
        """value-range filter (range/equal filter surface, §2.2)."""
        df = self._scoped(signals, t0, t1)
        if lo is not None:
            df = df.filter(F.col("value") > F.lit(lo))
        if hi is not None:
            df = df.filter(F.col("value") < F.lit(hi))
        return df.select("user_id", "ts", "event_id", "value")

    def last_n(self, n: int, signals=None) -> DataFrame:
        """Newest n rows per signal (SegmentIter::get_last_n)."""
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            self._scoped(signals)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .drop("rn")
        )

    def window_max(self, window_rows: int, signals=None) -> DataFrame:
        """Row-count tumbling windowed max (influx max_groupby)."""
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            self._scoped(signals)
            .withColumn("pos", F.row_number().over(w) - 1)
            .groupBy(
                "user_id",
                F.floor(F.col("pos") / window_rows).alias("win"),
            )
            .agg(F.max("value").alias("win_max"))
        )

    # ---- maintenance (daemon analogs) ----------------------------------

    def build_audio_index(self, table: str) -> None:
        """Persist the signal corpus' AUDIO fingerprint band index
        (multimodal.write_fp_store, family `afp` — clips are
        signal-keyed, so the audio index lives on the signal engine):
        later clip batches dedup against the store without re-decoding
        the corpus (multimodal.incremental_fp / fp_probe_stream)."""
        from timeseriesdb_spark.operators.multimodal import write_fp_store

        write_fp_store(
            self.events().select("user_id", "ts", "event_id", "value"),
            "afp",
            table,
        )

    def build_rollup(self, rollup_path: str, bucket: str = "1 hour") -> None:
        """Materialize the AggStats summary table (per signal × time
        bucket min/max/sum/count) — the recoding/compaction daemon's
        query-visible output."""
        _partial_stats(self.events(), bucket).write.mode("overwrite").parquet(
            rollup_path
        )

    def rollup_agg(self, rollup_path: str, which: str = "max") -> DataFrame:
        """Answer a full-signal aggregate from the rollup instead of
        the raw store (merge of per-bucket AggStats — the associative
        combine buffer_pool.rs:757-790). Works identically on a
        batch-built rollup and the streaming maintainer's per-batch
        partials: merge is associative, so partial granularity is
        irrelevant."""
        return self._merge_rollup(_read_tier(self.spark, rollup_path), which)

    @staticmethod
    def _merge_rollup(r: DataFrame, which: str) -> DataFrame:
        merged = {
            "count": F.sum("cnt"),
            "min": F.min("min_value"),
            "max": F.max("max_value"),
            "sum": F.sum("dsum").cast("double"),
        }
        if which not in merged:
            raise ValueError(f"rollup agg must be one of {sorted(merged)}")
        return r.groupBy("user_id").agg(merged[which].alias(which))

    def smart_agg(
        self,
        which: str,
        rollup_path: str,
        t0: str | None = None,
        t1: str | None = None,
        bucket: str = "1 hour",
    ) -> DataFrame:
        """Rollup-aware aggregate routing — the reference's AggStats
        short-circuit (buffer_pool.rs:621-636 answers whole-segment
        aggregates from cached stats without decoding): when the
        requested [t0, t1) range aligns to rollup bucket boundaries,
        answer by merging per-bucket partials (reads KB of summary
        rows); otherwise fall back to the raw store scan. Both paths
        return identical values for count/min/max (and sum, decimal-
        routed), pinned by test — the router changes I/O, never the
        answer. Buckets start on epoch multiples, and Spark reads a
        naive t0/t1 in the session time zone, so alignment is decided
        in that zone too (a zone Python cannot resolve falls back to
        the raw scan)."""
        from datetime import datetime
        from zoneinfo import ZoneInfo

        def _aligned(s: str | None) -> bool:
            if s is None:
                return True
            sec = {"1 hour": 3600, "1 day": 86400}.get(bucket)
            if sec is None:
                return False
            dt = datetime.fromisoformat(s)
            if dt.tzinfo is None:
                zone = self.spark.conf.get("spark.sql.session.timeZone")
                try:
                    dt = dt.replace(tzinfo=ZoneInfo(zone))
                except (KeyError, ValueError):
                    return False
            return (dt.timestamp() % sec) == 0

        if _aligned(t0) and _aligned(t1):
            r = _read_tier(self.spark, rollup_path)
            if t0 is not None:
                r = r.filter(F.col("bucket_start") >= F.lit(t0))
            if t1 is not None:
                r = r.filter(F.col("bucket_start") < F.lit(t1))
            return self._merge_rollup(r, which)
        out = self.agg(which, t0=t0, t1=t1)
        return out.select("user_id", F.col(which).alias(which))

    def maintain_rollup_stream(
        self,
        stream: DataFrame,
        rollup_path: str,
        checkpoint: str,
        bucket: str = "1 hour",
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental AggStats maintenance from the live stream — the
        reference's daemon keeps per-segment stats at put
        (buffer_pool.rs:1467-1469); here each micro-batch writes its
        partial stats (_run_stream), so the rollup never rescans
        history. rollup_agg merges partials at query time via the
        associative AggStats combine (integer count, DECIMAL(38,6) sum,
        min/max — exact in any order), and compact_partials(path,
        "rollup") collapses old batch partitions whenever partial count
        grows large. Fresh-checkpoint collisions against a non-empty
        store are guarded: declare 'replay' or 'append' intent or get a
        loud refusal."""
        return _maintain(
            "rollup", stream, rollup_path, checkpoint, on_fresh_checkpoint,
            bucket=bucket,
        )

    def maintain_shipdate_stream(
        self,
        stream: DataFrame,
        store_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental materialized-view maintenance for the
        interval-join aggregate (r14): q_interval_join's eager
        aggregation collapses the probe side to per-date integer
        partials (curation.daily_shipments) — and those partials ARE
        streaming state. Each lineitem micro-batch writes its own
        (ship_d, d_cnt, d_qty) frame; integer sums merge exactly, so
        interval_join_from_store serves the exact batch answer with NO
        lineitem rescan."""
        return _maintain(
            "shipdate", stream, store_path, checkpoint, on_fresh_checkpoint
        )

    def interval_join_from_store(
        self, store_path: str, sf_dir: str
    ) -> DataFrame:
        """q_interval_join answered FROM the maintained shipdate store:
        merge the per-batch partials by date (associative integer
        sums), then the identical binned broadcast range join + final
        agg (curation.interval_agg_from_daily) — equal to the batch
        query exactly when the partials cover the same lineitem rows."""
        from timeseriesdb_spark.tables import load_table

        daily = _TIERS["shipdate"].combine(_read_tier(self.spark, store_path))
        orders = load_table(self.spark, sf_dir, "orders")
        return curation.interval_agg_from_daily(daily, orders)

    def maintain_distinct_stream(
        self,
        stream: DataFrame,
        sketch_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental distinct-sketch maintenance — the mergeable-HLL
        twin of maintain_rollup_stream: each micro-batch writes its own
        per-(signal, day) sketches, and distinct_estimate answers any
        later distinct query by union-merging partials. This is the one
        aggregate plain partial stats cannot carry; the sketch's
        associative merge restores the rollup property."""
        return _maintain(
            "distinct", stream, sketch_path, checkpoint, on_fresh_checkpoint
        )

    def maintain_hll_register_stream(
        self,
        stream: DataFrame,
        sketch_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental SEEDED-md5 HLL register maintenance — the
        deterministic twin of maintain_distinct_stream (r11,
        q_hll_register_table's tier): each micro-batch writes its
        per-(signal, day, register_idx) max-rho partials. max is
        associative and idempotent, so merged-at-read registers equal
        the one-pass batch table EXACTLY however the rows were
        micro-batched (tests/test_streaming_sketches.py), and — unlike
        the DataSketches bytes — the whole store is cross-engine
        hash-checkable."""
        return _maintain(
            "hllreg", stream, sketch_path, checkpoint, on_fresh_checkpoint
        )

    def maintain_drift_feature_stream(
        self,
        stream: DataFrame,
        feature_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental drift-FEATURE maintenance — the scoring half of
        the reference's recoding daemon (recoding_daemon.rs:96 ages
        segments; lossyML measures whether aging changed model
        answers) kept current from the live stream. A stateful O(1)
        per-signal position carry (streaming/driftscore.py) assigns
        each row its global arrival rank (_drift_positioned), then
        every micro-batch writes its per-(signal, segment, chunk)
        exact-integer feature partials. sums/min/max/count are
        associative, so the merged chunk rows — and therefore the
        features, labels and agreement rates computed from them — are
        bit-identical to the batch q_*_drift queries however the rows
        were micro-batched (tests/test_streaming_drift.py).

        Checkpoint-loss guard (r13): a FRESH checkpoint against a
        NON-EMPTY feature store would also re-position every returning
        signal from 0 (re-bucketing segments). `on_fresh_checkpoint`
        is "error" (default), "replay" (positions restart at 0 and the
        store is cleared first, see guard_fresh_checkpoint) or
        "rehydrate": the source carries ONLY events not yet in the
        store — per-signal carries seed from the store's high-water
        (signal_high_water: Σn over chunk partials), and new batches
        write ABOVE the store's max batch_id.

        Rehydrate pulls one (signal, count) pair per signal to the
        driver — the same cardinality as the positioner's state store
        (driftscore.py sizes that: fine far past 100 TB of EVENTS).
        The pull is BOUNDED (r14): more than REHYDRATE_MAX_SIGNALS
        distinct signals (default 1,000,000 ≈ low-hundreds-MB task
        closure; env SPARK_TSDB_REHYDRATE_MAX_SIGNALS) refuses loudly —
        past that, the production lever is a state-store bootstrap
        write from the same high-water frame instead of a broadcast
        dict.

        Checkpoint compatibility: r13 widened the positioner's
        STATE_SCHEMA from 1 long to 3 (cnt, last_ts, last_eid) — a
        drift checkpoint written BEFORE that change cannot be resumed
        (Spark fails with a state-schema-incompatibility error).
        Discard the old checkpoint and recover through this guard:
        on_fresh_checkpoint='rehydrate' re-seeds the carries from the
        feature store's high-water with no raw re-scan (or 'replay' if
        the full corpus is still available).

        The store declares no combine, so compact_partials refuses it:
        the rehydrate seed reads the integer batch ids below `base`.
        """
        return _maintain(
            "drift", stream, feature_path, checkpoint, on_fresh_checkpoint,
            guard={
                "new_events_mode": "rehydrate",
                "meta_name": "_drift_stream_meta.json",
            },
        )

    def drift_scores(
        self, feature_path: str, sf_dir: str, family: str = "kmeans"
    ) -> DataFrame:
        """PAA-tier drift agreement answered FROM the maintained
        feature partials — no rescan of raw history. Merges the chunk
        partials (associative), finalizes features (half-up chunk
        mean, std) and labels with the family's trained model — the
        identical math to the batch query, so the result rows equal
        q_<family>_drift(sf_dir) exactly when the partials cover the
        same events."""
        from timeseriesdb_spark.operators.mlscoring import (
            _LABELERS,
            _drift_rollup,
            _features_from_chunks,
        )

        if family not in _LABELERS:  # fail with the options, not a KeyError
            raise ValueError(
                f"unknown drift family {family!r}; one of "
                f"{sorted(_LABELERS)}"
            )
        feats = _features_from_chunks(driftscore.merge_feature_partials(
            _read_tier(self.spark, feature_path)
        ))
        return _drift_rollup(
            self.spark, sf_dir, feats,
            _LABELERS[family](self.spark, sf_dir),
        )

    def hll_registers(
        self, sketch_path: str, start_day=None, end_day=None
    ) -> DataFrame:
        """Merged (signal, day, register_idx, rho) registers from
        maintained partials — bit-identical to q_hll_register_table
        over the same rows (max-merge). Optional [start_day, end_day]
        bounds (inclusive) prune TIER partials, never raw facts —
        the rollup's whole point: any time-range distinct question
        answers from bytes-per-signal-day state."""
        tier = _read_tier(self.spark, sketch_path)
        if start_day is not None:
            tier = tier.where(F.col("event_date") >= F.lit(start_day))
        if end_day is not None:
            tier = tier.where(F.col("event_date") <= F.lit(end_day))
        return _TIERS["hllreg"].combine(tier)

    def hll_distinct_estimate(
        self, sketch_path: str, start_day=None, end_day=None
    ) -> DataFrame:
        """Per-signal raw harmonic distinct estimate served from the
        maintained register store (q_hll_estimate's finalize, minus
        the exact-count witness column — at serving time there is no
        raw re-scan to witness against, that's the point). Day-range
        bounds restrict which daily registers merge (union over the
        range = max over its registers — exactly a range distinct)."""
        return chunking.hll_estimate(
            self.hll_registers(sketch_path, start_day, end_day)
        )

    def maintain_frequency_stream(
        self,
        stream: DataFrame,
        sketch_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental frequency-sketch maintenance — the Count-Min
        twin of maintain_distinct_stream: each micro-batch writes its
        per-(signal, day, depth, bucket) counter partials, and
        frequency_estimate answers point queries by summing partials
        then taking the min over depths. CM is linear, so the
        partitioned partials ARE the sketch — streamed maintenance
        equals the one-pass batch sketch exactly
        (tests/test_streaming_sketches.py)."""
        return _maintain(
            "cm", stream, sketch_path, checkpoint, on_fresh_checkpoint
        )

    def maintain_ohlc_stream(
        self,
        stream: DataFrame,
        bars_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental OHLC candlestick maintenance — the endpoint
        (first/last) twin of maintain_rollup_stream: each micro-batch
        writes per-(signal, day) OHLC partials (endpoint values carried
        inside lexicographic struct min/max keys). ohlc_bars merges
        partials at read — associative, so streamed maintenance
        equals the one-pass batch bars EXACTLY
        (tests/test_streaming_ohlc.py)."""
        return _maintain(
            "ohlc", stream, bars_path, checkpoint, on_fresh_checkpoint
        )

    def ohlc_bars(self, bars_path: str) -> DataFrame:
        """Merged OHLC bars from maintained partials."""
        return tsanalytics.merge_ohlc(_read_tier(self.spark, bars_path))

    def maintain_histogram_stream(
        self,
        stream: DataFrame,
        hist_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental histogram maintenance — the distribution twin
        of maintain_frequency_stream: per-(signal, day, bin) count
        partials per micro-batch. Histograms are linear, so streamed
        partials merge to the exact one-pass histogram
        (tests/test_streaming_histogram.py); histogram_bins answers
        any later distribution query from the store."""
        return _maintain(
            "hist", stream, hist_path, checkpoint, on_fresh_checkpoint
        )

    def histogram_bins(self, hist_path: str) -> DataFrame:
        """Merged per-signal histogram from maintained partials."""
        return (
            _read_tier(self.spark, hist_path)
            .groupBy("user_id", "bin")
            .agg(F.sum("partial_n").alias("n"))
        )

    def maintain_quantile_stream(
        self,
        stream: DataFrame,
        qsk_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental quantile-sketch maintenance — the rank twin of
        maintain_histogram_stream: each micro-batch writes its
        per-(signal, day, bucket) fixed-grid count partials. The tier
        is linear, so streamed partials merge to the exact one-pass
        sketch and quantile_estimates answers any later p50/p90/p99
        question from the store (tests/test_quantile_sketch.py)."""
        return _maintain(
            "qsk", stream, qsk_path, checkpoint, on_fresh_checkpoint
        )

    def quantile_estimates(self, qsk_path: str) -> DataFrame:
        """Per-signal graded quantiles from the maintained tier (merge
        partials, then the SAME finalize as q_quantile_rollup)."""
        merged = (
            _read_tier(self.spark, qsk_path)
            .groupBy("user_id", "bucket")
            .agg(F.sum("partial_n").alias("n"))
        )
        return aggregates.quantiles_from_buckets(merged)

    def maintain_event_ngrams_stream(
        self,
        stream: DataFrame,
        tier_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental sequence-mining tier — q_event_ngrams maintained
        on a stream: the stateful trigram operator (two-event tail per
        user, streaming/sequences.py) closes every triple exactly once
        across any batch slicing, and each micro-batch writes LINEAR
        (e1, e2, e3, user_id) count partials. n and n_users both read
        exactly off the merged tier (user_id is in the partial grain),
        so the streamed read path equals the batch miner EXACTLY
        (tests/test_streaming_sequences.py)."""
        return _maintain(
            "ngrams", stream, tier_path, checkpoint, on_fresh_checkpoint
        )

    def event_ngrams(self, tier_path: str) -> DataFrame:
        """Top trigram paths from the maintained tier (merge partials,
        then the SAME ranking finalize as the batch query)."""
        from timeseriesdb_spark.operators.funnels import (
            rank_trigram_counts,
        )

        per_user = _TIERS["ngrams"].combine(_read_tier(self.spark, tier_path))
        counts = per_user.groupBy("e1", "e2", "e3").agg(
            F.sum("n").alias("n"),
            F.count("*").alias("n_users"),
        )
        return rank_trigram_counts(counts)

    def maintain_heavyhitters_stream(
        self,
        stream: DataFrame,
        hh_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental heavy-hitter tier maintenance — the candidate-
        enumeration twin of maintain_frequency_stream (Count-Min can
        only answer point queries; this tier can LIST the heavy keys
        with deterministic [lb, ub] bounds). Each micro-batch writes
        its exact per-(day, key) count partials. The partial is
        linear, so merge-at-read reproduces the one-pass day counts
        exactly, and the top-K + residual summarization happens
        downstream of the merged exact counts — streamed == batch
        EXACTLY (tests/test_streaming_sketches.py)."""
        return _maintain(
            "hh", stream, hh_path, checkpoint, on_fresh_checkpoint
        )

    def heavy_hitters(
        self, hh_path: str, start_day=None, end_day=None
    ) -> DataFrame:
        """Ranked heavy-hitter candidates with [lb, ub] bounds from the
        maintained tier (merge partials, then summarize). Optional
        [start_day, end_day] bounds (inclusive) restrict the question
        to a day range BEFORE summarization — the range filter prunes
        tier partials (never raw facts), and the residual accounting
        automatically re-derives for exactly the days in range, so the
        interval guarantee holds for the range query too."""
        tier = _read_tier(self.spark, hh_path)
        if start_day is not None:
            tier = tier.where(F.col("day") >= F.lit(start_day))
        if end_day is not None:
            tier = tier.where(F.col("day") <= F.lit(end_day))
        return aggregates.hh_from_day_counts(_TIERS["hh"].combine(tier))

    def compact_partials(self, path: str, kind: str) -> int:
        """Collapse a streamed partial store's per-batch partitions
        into one generation — the maintenance job that keeps
        merge-at-read cost bounded as micro-batches accumulate
        (the reference's recoding daemon compacts aged segments the
        same way, recoding_daemon.rs:96-260). The merge is the tier's
        own schema-preserving combine (_TIERS), so query answers are
        IDENTICAL before/after, and partials streamed afterwards keep
        merging on top, from the tier's own maintainer too
        (tests/test_streaming_guard.py). The generation records the
        highest batch id it absorbed (_HIGH_WATER), so a fresh 'append'
        tranche never writes one of those ids again. `kind` is a
        _TIERS key with a combine (_COMPACTABLE); any other kind raises
        ValueError before any side effect.

        Install is the one commit. Under the store's lock (store.rewrite:
        a kernel flock on `<store>__compact_lock` held for the whole
        call, so a second compactor raises RuntimeError at once and a
        dead one's lock is already free), it snapshots the store's cut
        (_cut), merges the snapshot's live dirs into
        `<store>__compact_tmp`, records the high-water and renames the
        dir to `batch_id=compacted-<g+1>`. From that rename on, every
        read's cut serves the new generation plus the ids above its
        high-water, so each dir of the snapshot is dead and is deleted.
        A micro-batch landing after the snapshot is neither merged nor
        deleted. A crash leaves either an uninstalled tmp (cleared by
        the next call) or dead dirs (outside every cut; deleted by the
        next call's snapshot).

        A tier read lists its files when it is built: build it after
        compacting. A read built before and run after may fail on a
        deleted part file; it never counts a batch twice."""
        import os

        if kind not in _COMPACTABLE:
            raise ValueError(
                f"compact_partials: kind {kind!r} has no combine; "
                f"compactable kinds are {_COMPACTABLE}"
            )
        base = path.rstrip("/")
        with store.rewrite(base) as commit:
            snapshot = _cut(base)
            if not snapshot.dirs:
                return 0
            merged = _TIERS[kind].combine(
                _read_tier(self.spark, base, snapshot)
            )
            merged.coalesce(1).write.mode("overwrite").parquet(commit.tmp)
            with open(os.path.join(commit.tmp, _HIGH_WATER), "w") as f:
                f.write(str(snapshot.high))
            commit.install(f"{base}/batch_id=compacted-{snapshot.gen + 1}")
            commit.delete(f"{base}/{d}" for d in snapshot.dirs)
            return len(snapshot.dirs)

    def frequency_estimate(self, sketch_path: str, keys) -> DataFrame:
        """Per-signal Count-Min point estimates for `keys` from
        maintained counter partials."""
        merged = (
            _read_tier(self.spark, sketch_path)
            .groupBy("user_id", "depth", "bucket")
            .agg(F.sum("partial_n").alias("n"))
        )
        return aggregates.cm_point_estimates(self.spark, merged, keys)

    def distinct_estimate(self, sketch_path: str) -> DataFrame:
        """Per-signal distinct estimate from maintained sketches."""
        r = _read_tier(self.spark, sketch_path)
        return r.groupBy("user_id").agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "approx_distinct"
            )
        )

    def apply_retention(
        self, tier_path: str, cutoff_date: str, chunk: int = 8
    ) -> None:
        """Age-based tiering — the recoding daemon's lifecycle
        (recoding_daemon.rs:143-225: re-encode cold segments to
        lossier levels as data ages): files older than `cutoff_date`
        are downsampled (PAA chunk means) into
        `tier_path/tiered_before=<cutoff>/`, then dropped from the raw
        store. Queries needing old data read the tier; the raw store
        stays bounded at (cutoff window) × ingest rate.

        The install is the one commit. Under the raw store's lock
        (store.rewrite) it pins the data files of every aged event_date
        partition, writes their PAA tier and the pinned list
        (_PINNED_FILES, a file Spark's reader skips) into
        `<store>__compact_tmp`, renames that dir to
        `tiered_before=<cutoff>`, and then deletes exactly the pinned
        files and `os.rmdir`s the date dirs they emptied. A rerun whose
        cutoff dir is installed only repeats the deletes, so a cutoff
        is never tiered twice. Ingest holds the raw store's lock shared
        (store.write_signal_store), so it waits while the call runs, and
        rows it adds to an aged day afterwards wait for a later cutoff.
        A crash before the rename leaves an uninstalled tmp (cleared by
        the next rewrite of the store) and the raw store whole; a crash
        after it leaves pinned files that the next call deletes.
        `tier_path` must be on the raw store's filesystem."""
        import json
        import os

        run_dir = f"{tier_path}/tiered_before={cutoff_date}"
        with store.rewrite(self.path) as commit:
            if not os.path.isdir(run_dir):
                days = os.listdir(self.path) if os.path.isdir(self.path) else []
                files = sorted(
                    f"{d}/{f}"
                    for d in days
                    if d.startswith("event_date=")
                    and d.split("=", 1)[1] < cutoff_date  # ISO dates sort
                    for f in os.listdir(f"{self.path}/{d}")
                    if not f.startswith(("_", "."))
                )
                if not files:
                    return
                # the signal store's declared schema (read_signal_store)
                schema = store.footer_schema(self.path).add("event_date", "date")
                old = (
                    self.spark.read.schema(schema)
                    .option("basePath", self.path)
                    .parquet(*(f"{self.path}/{f}" for f in files))
                )
                _paa(old, chunk, F.count("*").alias("n_src_rows")).write.parquet(
                    commit.tmp
                )
                with open(os.path.join(commit.tmp, _PINNED_FILES), "w") as f:
                    json.dump(files, f)
                os.makedirs(tier_path, exist_ok=True)
                commit.install(run_dir)
            with open(os.path.join(run_dir, _PINNED_FILES)) as f:
                commit.delete(f"{self.path}/{name}" for name in json.load(f))

    def downsample(self, out_path: str, chunk: int = 8) -> None:
        """PAA downsampling to an aged tier (the lossy recoding path,
        recoding_daemon.rs:143-225): chunk means per signal."""
        _paa(self.events(), chunk).write.mode("overwrite").parquet(out_path)


def _write_corpus(docs: DataFrame, path: str, mode: str) -> None:
    """The corpus layout: split-partitioned, zstd Parquet."""
    docs.write.partitionBy("split").option("compression", "zstd").mode(
        mode
    ).parquet(path)


class CorpusEngine:
    """The documents-side lifecycle — bootstrap a curated corpus, keep
    it deduped as crawls arrive, and serve the training-pipeline reads:

    bootstrap(raw)         full curation (quality → exact dedup →
                           near-dup CC → splits), written
                           split-partitioned
    ingest_increment(new)  per-crawl curation against the EXISTING
                           corpus (CurationPipeline.run_incremental) —
                           appends survivors, never re-clusters
    build_band_index(t)    persist the LSH band index (bucketed by
                           band_key) for stored-probe dedup and the
                           streaming probe
    split(name)/chunks()/stats()   the read surface: split reads prune
                           on the partition column; chunks feed the
                           embedding pipeline; stats is the funnel
                           dashboard scan

    Everything returns lazy DataFrames; the split partition column is
    the only layout the reads depend on."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _pipe(self):
        from timeseriesdb_spark.pipeline import CurationPipeline

        return CurationPipeline(self.spark)

    def bootstrap(self, raw_docs: DataFrame, mode: str = "overwrite") -> None:
        """Full batch curation of a raw crawl into the corpus store."""
        _write_corpus(self._pipe().run(raw_docs), self.path, mode)

    def docs(self) -> DataFrame:
        """The corpus, read with a declared schema: the footer's
        (store.footer_schema) plus the `split STRING` partition column,
        so building the read runs no Spark job."""
        schema = store.footer_schema(self.path).add("split", "string")
        return self.spark.read.schema(schema).parquet(self.path)

    def split(self, name: str) -> DataFrame:
        """One split; the predicate is a partition filter (pruned scan)."""
        return self.docs().where(F.col("split") == name)

    def ingest_increment(self, new_docs: DataFrame) -> None:
        """Curate a new crawl against the current corpus and append the
        survivors. Corpus text is re-read for the probe here; at scale,
        maintain the band index (build_band_index) and probe it via
        dedup.incremental_neardup_stored instead — same decision, no
        corpus re-scan."""
        survivors = self._pipe().run_incremental(new_docs, self.docs())
        _write_corpus(survivors, self.path, "append")

    def build_band_index(self, table: str) -> None:
        """Persist the corpus LSH band index as a band_key-bucketed
        catalog table (dedup.write_band_store)."""
        from timeseriesdb_spark.operators.dedup import write_band_store

        write_band_store(self.docs(), table)

    def build_image_index(self, table: str) -> None:
        """Persist the corpus dHash band index (multimodal.write_fp_store,
        family `dhash`) — later image batches dedup against the store
        without re-decoding the corpus (multimodal.incremental_fp /
        fp_probe_stream)."""
        from timeseriesdb_spark.operators.multimodal import write_fp_store

        write_fp_store(self.docs(), "dhash", table)

    def build_video_index(self, table: str) -> None:
        """Persist the corpus VIDEO fingerprint band index
        (multimodal.write_fp_store, family `vfp`) — later clip batches
        dedup against the store without re-decoding the corpus."""
        from timeseriesdb_spark.operators.multimodal import write_fp_store

        write_fp_store(self.docs(), "vfp", table)

    def chunks(self) -> DataFrame:
        """Sliding-window chunks of the corpus (embedding front door)."""
        return chunking.chunk_documents(self.docs())

    def maintain_trending_terms_stream(
        self,
        stream: DataFrame,
        tier_path: str,
        checkpoint: str,
        on_fresh_checkpoint: str = "error",
    ):
        """Incremental trending-terms tier — the text twin of
        SignalEngine.maintain_heavyhitters_stream: each micro-batch of
        documents writes its (source, term) count partials. The partial
        is linear and the top-K + residual summarization runs
        downstream of the merged counts, so the streamed read path
        equals the batch q_trending_terms EXACTLY
        (tests/test_streaming_trending.py)."""
        return _maintain(
            "terms", stream, tier_path, checkpoint, on_fresh_checkpoint
        )

    def trending_terms(self, tier_path: str) -> DataFrame:
        """Trending terms from the maintained tier (merge partials,
        then the SAME finalize as the batch query)."""
        merged = _TIERS["terms"].combine(_read_tier(self.spark, tier_path))
        return text.trending_from_term_counts(merged)

    def compact_partials(self, path: str, kind: str) -> int:
        """Delegate to SignalEngine.compact_partials (same lock and
        commit; _TIERS carries the 'terms' kind this engine
        maintains)."""
        return SignalEngine(self.spark, self.path).compact_partials(
            path, kind
        )

    def trim_duplicates(self, out_path: str, max_rounds: int = 1) -> int:
        """Sub-document dedup maintenance (r8): rewrite the corpus to
        `out_path` with duplicated passages removed — q_dup_spans
        locates maximal cross-document shingle runs, q_trim_spans
        rebuilds affected texts, and unaffected documents pass through
        untouched. n_tokens is recomputed from the trimmed text (the
        whitespace count the pipeline's assign_splits uses); the
        split assignment is PRESERVED (re-hashing trimmed text would
        silently migrate documents across train/val/test — exactly
        the leakage a curation run must not introduce). Writes to a
        NEW path (never in-place over its own input); returns the
        number of distinct documents trimmed.

        ONE locate→trim pass is NOT a fixpoint (r9): rejoining the
        kept words creates seam shingles that can themselves be
        cross-document duplicates (measured on the sf0.01 corpus:
        485 docs affected in pass 1, 108 still affected in pass 2).
        max_rounds > 1 re-runs locate→trim until no document changes
        (each round strictly removes words, so it terminates);
        max_rounds=16 reaches the fixpoint on every tested corpus and
        makes the operation IDEMPOTENT — trim(trim(S)) == trim(S),
        pinned in tests/test_corpus_api.py. The default stays 1 (the
        single-pass Lee-et-al transform q_trim_spans declares)."""
        from timeseriesdb_spark.operators.dedup import trim_spans_frame

        docs = self.docs()
        work = docs.select("doc_id", "text")
        affected = None
        for _ in range(max_rounds):
            trimmed = (
                trim_spans_frame(work)
                .select("doc_id", "trimmed_text")
                .localCheckpoint()  # one locate→trim job per round
            )
            if trimmed.count() == 0:
                break
            ids = trimmed.select("doc_id")
            affected = (
                ids if affected is None else affected.unionByName(ids)
            )
            work = (
                work.join(trimmed, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("trimmed_text", "text").alias("text"),
                )
                .localCheckpoint()
            )
        n_affected = (
            affected.distinct().count() if affected is not None else 0
        )
        t = F.col("text")
        n_tokens = (
            F.length(t)
            - F.length(F.replace(t, F.lit(" "), F.lit("")))
            + F.lit(1)
        ).cast("bigint")
        out = (
            docs.drop("text")
            .join(work, "doc_id")
            .withColumn("n_tokens", n_tokens)
        )
        _write_corpus(out, out_path, "overwrite")
        return n_affected

    def stats(self) -> DataFrame:
        """The curation funnel dashboard: per (split, source) doc and
        token totals — one pruned grouped scan."""
        return self.docs().groupBy("split", "source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )

    # ---- ANN index lifecycle ------------------------------------------

    @staticmethod
    def _centroids_file(index_path: str) -> str:
        import os

        return os.path.join(index_path, "_centroids.json")

    def build_ann_index(self, embeddings: DataFrame, index_path: str) -> None:
        """Train the IVF coarse quantizer (bounded driver sample,
        similarity.train_ivf_centroids) and lay the corpus out as the
        cell-partitioned parquet store (similarity.write_ivf_store).
        The centroid matrix persists NEXT TO the store
        (_centroids.json, atomic rename) so every later probe — batch
        or stream — loads it instead of retraining; index and
        quantizer can never drift apart."""
        import json
        import os
        import tempfile

        from timeseriesdb_spark.operators.similarity import (
            train_ivf_centroids,
            write_ivf_store,
        )

        C = train_ivf_centroids(embeddings)
        write_ivf_store(embeddings, index_path, C)
        # "_"-prefixed temp name: Spark's parquet reader ignores
        # underscore files, so neither the rename window nor a crashed
        # write can break store reads with a stray non-parquet file.
        fd, tmp = tempfile.mkstemp(
            dir=index_path, prefix="_centroids_", suffix=".json.tmp"
        )
        with os.fdopen(fd, "w") as f:
            json.dump([[float(x) for x in row] for row in C], f)
        os.replace(tmp, self._centroids_file(index_path))

    def _load_centroids(self, index_path: str):
        import json

        with open(self._centroids_file(index_path)) as f:
            return json.load(f)

    def ann_query(
        self, index_path: str, query_vec, k: int | None = None,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Top-k cosine probe of a build_ann_index store — partition-
        pruned to the nprobe nearest cells (similarity.ivf_probe_stored
        with the persisted quantizer)."""
        from timeseriesdb_spark.operators import similarity as sim

        return sim.ivf_probe_stored(
            self.spark, index_path, query_vec,
            self._load_centroids(index_path),
            nprobe=nprobe if nprobe is not None else sim.IVF_NPROBE,
            k=k if k is not None else sim.TOP_K,
        )

    def ann_probe_stream(
        self, stream: DataFrame, index_path: str, out_path: str,
        checkpoint: str, k: int | None = None, nprobe: int | None = None,
        trigger: dict | None = None, on_fresh_checkpoint: str = "error",
    ):
        """Continuous top-k retrieval: a query-vector stream probes the
        stored index (streaming/annprobe.py — stateless cell-pruned
        stream-static joins, per-micro-batch top-k finalize). Results
        land EXACTLY-ONCE under ``out_path/batch_id=<id>`` — a
        replayed micro-batch overwrites its own partition, never
        duplicates rows; readers see a ``batch_id`` partition column.
        The fresh-checkpoint collision (a NEW checkpoint over a
        non-empty result log would restart batch ids at 0 and
        overwrite earlier queries' results) is guarded like the
        maintenance sinks (_run_stream): pass
        ``on_fresh_checkpoint='append'`` for a second query tranche.
        ``trigger`` passes through to the stream writer's trigger —
        default drains what's available and stops; a live serving
        deployment passes e.g. ``{"processingTime": "10 seconds"}``.
        Returns the started StreamingQuery."""
        from timeseriesdb_spark.operators import similarity as sim
        from timeseriesdb_spark.streaming import annprobe

        fb = annprobe.make_probe_foreach_batch(
            self.spark, index_path, self._load_centroids(index_path),
            out_path,
            nprobe=nprobe if nprobe is not None else sim.IVF_NPROBE,
            k=k if k is not None else sim.TOP_K,
        )
        return _run_stream(
            stream, checkpoint, fb, out_path, on_fresh_checkpoint,
            trigger=trigger,
        )
