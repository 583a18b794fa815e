"""Lossy time-series transforms — the genuinely non-SQL operators
(SURVEY.md §2.5): truncated-Fourier reconstruction (segment.rs:304-373,
692-851), PLA/LTTB downsampling (compress/pla_lttb.rs:24-110). These
run as grouped-map pandas UDFs (applyInPandas): one Arrow batch per
signal, numpy inside, no row-at-a-time Python.

Scale notes: state is per-signal (the reference's unit of compression),
so the shuffle key is signal_id and skew equals signal skew; at 100 TB
you'd bound group size by (signal_id, day) exactly like the reference
bounds segments to 1000 rows. Outputs are deterministic given the
per-signal row order (sorted inside the UDF on (ts, event_id)). Both
operators run on EXACT INTEGER lattices since r8 (LTTB) / r11
(truncated Fourier — quantized twiddles shared with the oracle as
literals), so both carry full DuckDB hash oracles; pytest additionally
pins the numerical properties (round-trip error bounds, the
reference's own test strategy — segment.rs:882-906 compare_vectors).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from timeseriesdb_spark.tables import lazy_oracle, load_table

FFT_RATIO = 0.1    # keep top ratio·n/2 coefficients (ref ratio sweep 0.01-0.5)
FFT_XU = 100              # value grid: testdata generates exact 0.01 steps
FFT_TWS = 1_000_000_000   # twiddle quantization scale (1e-9 grid)
LTTB_DENOM = 10          # downsample to n // LTTB_DENOM points (ratio 0.1)
LTTB_Y_SCALE = 1_000_000  # trunc-quantization grid for the area criterion


def packed_grouped_map(df: DataFrame, kernel, schema: str,
                       key: str = "user_id") -> DataFrame:
    """Grouped-map with per-PARTITION (not per-group) Python invocation.

    `applyInPandas` ships one Arrow batch and one Python call PER GROUP;
    with many small groups (1500 signals at sf0.1) that fixed cost
    dominates the numpy kernel ~3:1 (measured: identity applyInPandas
    2.6 s vs 0.65 s this path — the kernel itself is unchanged). Here
    rows are repartitioned on `key` and sorted within partitions by
    (key, ts, event_id), then `mapInPandas` streams whole partitions;
    group boundaries that straddle Arrow batches are handled by
    carrying the trailing (possibly incomplete) group into the next
    batch, so executor memory is bounded by batch + one group exactly
    like applyInPandas. `kernel(g)` receives one group's rows already
    in (ts, event_id) order.

    At 100 TB the shape is identical to applyInPandas — one shuffle on
    the group key — with ~batch-count Python crossings per executor
    instead of ~group-count."""
    def emit(groups):
        # drop empty kernel outputs before concat: a group with no
        # result rows contributes an all-NA-dtype frame that pandas'
        # concat warns on today and will mis-type tomorrow
        outs = [r for r in (kernel(g) for _, g in groups) if len(r)]
        return pd.concat(outs, ignore_index=True) if outs else None

    def run(batches):
        carry = None
        for b in batches:
            if carry is not None:
                b = pd.concat([carry, b], ignore_index=True)
            last = b[key].iloc[-1]
            cut = (b[key] != last).to_numpy().nonzero()[0]
            split = cut[-1] + 1 if len(cut) else 0
            head, carry = b.iloc[:split], b.iloc[split:]
            if len(head):
                out = emit(head.groupby(key, sort=False))
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = emit(carry.groupby(key, sort=False))
            if out is not None:
                yield out

    return (
        df.repartition(key)
        .sortWithinPartitions(key, "ts", "event_id")
        .mapInPandas(run, schema)
    )


def stateful_grouped_scan(df: DataFrame, kernel, schema: str,
                          key: str = "user_id", finalize=None) -> DataFrame:
    """The BATCH runner of the carry-scan contract: an ordered per-key
    scan with O(1) carried state — NO group materialization, ever.

    The contract, shared with `stateful_stream_scan`:
    `kernel(key, rows, state) -> (out_pdf | None, state)`, where `rows`
    holds one key's rows in (ts, event_id) order and `state` is None
    at the start of a key; `finalize(key, state) -> pdf | None` fires
    when a key's last row has passed (for kernels that emit only a
    per-key summary, e.g. a forecast).

    `packed_grouped_map` bounds executor memory by "batch + one
    group", which for a hot signal is still that signal's whole
    history in one pandas frame. Sequential recurrences (EWMA, Holt,
    any streaming-style scan) don't need the group: they need the
    rows IN ORDER plus a constant-size state. Here rows are
    repartitioned on `key` and sorted within partitions by
    (key, ts, event_id); the mapInPandas iterator walks Arrow batches
    as they stream, slicing each into contiguous same-key runs and
    calling the kernel per run — state (not rows) is carried when a
    key straddles batches, so per-task memory is bounded by ONE ARROW
    BATCH regardless of how hot the signal is.

    At 100 TB: one shuffle on the key, per-task memory = Arrow batch
    size (spark.sql.execution.arrow.maxRecordsPerBatch), state = a
    few floats per in-flight key. A single signal's recurrence is
    inherently sequential — that one task streams, it never
    materializes."""
    def run(batches):
        cur_key = None
        state = None
        started = False
        for b in batches:
            if not len(b):
                continue
            keys = b[key].to_numpy()
            change = (keys[1:] != keys[:-1]).nonzero()[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(b)]))
            outs = []
            for s_, e_ in zip(starts, ends):
                k = keys[s_]
                if started and k != cur_key:
                    if finalize is not None:
                        f = finalize(cur_key, state)
                        if f is not None and len(f):
                            outs.append(f)
                    state = None
                cur_key, started = k, True
                out, state = kernel(k, b.iloc[s_:e_], state)
                if out is not None and len(out):
                    outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if started and finalize is not None:
            f = finalize(cur_key, state)
            if f is not None and len(f):
                yield f

    return (
        df.repartition(key)
        .sortWithinPartitions(key, "ts", "event_id")
        .mapInPandas(run, schema)
    )


def carry_scan_fn(step, finalize=None, idle_timeout_ms=None):
    """The `(key, pdfs, state)` callable the stream runner hands to
    `applyInPandasWithState`: one key's micro-batch through
    `step(key, rows, state)`, the state read from and written back to
    the GroupState (a step returning state None removes it). With
    `idle_timeout_ms`, a timed-out key's state goes to
    `finalize(key, state)` and is removed, and every update re-arms
    the timeout. Built here, not at module level, so it pickles BY
    VALUE with its step — executors never import this package.

    Concat BEFORE sorting: Spark hands a key's micro-batch slice in
    arbitrary post-shuffle order, split into Arrow chunks of
    spark.sql.execution.arrow.maxRecordsPerBatch rows. Sorting each
    chunk on its own would run the step out of time order (split or
    merge episodes, take deltas against the wrong neighbour, slide a
    frame backwards) whenever a key spans chunks — more than 10k rows
    by default, or an interleaved multi-partition fetch. One concat
    and one sort restore the (ts, event_id) order every step assumes;
    memory stays bounded by the key's micro-batch slice."""
    def run(key, pdfs, state):
        (k,) = key
        carry = state.get if state.exists else None
        if state.hasTimedOut:
            state.remove()
            out = finalize(k, carry) if finalize is not None else None
        else:
            chunks = [p for p in pdfs if len(p)]
            if not chunks:
                return
            rows = (
                pd.concat(chunks, ignore_index=True)
                .sort_values(["ts", "event_id"])
                .reset_index(drop=True)
            )
            out, carry = step(k, rows, carry)
            if carry is None:
                state.remove()
            else:
                state.update(tuple(carry))
                if idle_timeout_ms is not None:
                    state.setTimeoutDuration(idle_timeout_ms)
        if out is not None and len(out):
            yield out

    return run


def stateful_stream_scan(events: DataFrame, step, schema, state_schema,
                         finalize=None,
                         idle_timeout_ms: int | None = None) -> DataFrame:
    """The STREAM runner of the carry-scan contract (see
    `stateful_grouped_scan`): each micro-batch's rows per signal go
    through `step` in (ts, event_id) order, with the state carried in
    Spark's state store under `state_schema` and the step's outputs
    appended to a stream of `schema`. The only
    `applyInPandasWithState` call in the package. Batches must arrive
    per-signal in time order (file source staged time-ordered, or a
    Kafka source partitioned by signal with in-partition ordering —
    the reference's arrival-order assumption, future_signal.rs:207).
    `idle_timeout_ms` turns on a processing-time timeout that hands an
    idle signal's state to `finalize` (see `carry_scan_fn`)."""
    return events.groupBy("user_id").applyInPandasWithState(
        carry_scan_fn(step, finalize, idle_timeout_ms),
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def q_fft_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-Fourier reconstruction per signal: forward DFT, keep
    the largest-magnitude ratio·n/2 coefficients, inverse back — the
    reference's Fourier compress/decompress round trip
    (segment.rs:304-373). Emits (user_id, pos, value, recon).

    ORACLE-CHECKED (r11, the q_pla_lttb discipline applied to the
    Fourier family): the transform runs on an EXACT INTEGER lattice —
    values on their native 0.01 grid (xi = value·FFT_XU, exact by
    construction of the testdata), twiddles quantized to
    round(cos/sin(2π·m/n)·FFT_TWS) where the only libm calls happen
    INSIDE one process at a time and never cross the engine boundary:
    the kernel computes its table with numpy, the LAZY oracle factory
    computes the identical table with the same numpy on the same
    machine and embeds it as VALUES literals (only n rows per DISTINCT
    series length — cos(2πkj/n) = table[(k·j) mod n]). Coefficients
    a_k = Σ xi·c[(kj)%n] are exact int64 (≤ n·maxₓ·FFT_TWS ≈ 5.5e15);
    magnitude ranking a²+b² runs in arbitrary-precision ints (Python /
    HUGEINT) with ties → smaller k; the reconstruction sum is again
    exact integers with ONE final double division by n·FFT_XU·FFT_TWS²
    — identical in both engines, so the emitted doubles hash-match.
    Selection differs from the float rfft only at FP-noise near-ties;
    reconstruction differs by O(keep·maxₓ/FFT_TWS) ≈ 1e-5 absolute —
    far inside the truncation error the operator exists to trade
    (pytest round-trip bounds unchanged, mean preservation at the
    quantization floor).

    The twiddle table is recomputed INLINE per group (no module-level
    helper in the closure — the kernel-serialization rule); nk·n ≈
    5000 int64 ops per signal, and the inverse touches only the ≤
    keep kept coefficients."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    def recon(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["value"].to_numpy(dtype=np.float64)
        n = len(x)
        xi = np.floor(x * float(FFT_XU) + 0.5).astype(np.int64)
        ang = 2.0 * np.pi * np.arange(n, dtype=np.float64) / float(n)
        ca, sa = np.cos(ang), np.sin(ang)
        c = (np.sign(ca) * np.floor(np.abs(ca) * FFT_TWS + 0.5)).astype(
            np.int64
        )
        s = (np.sign(sa) * np.floor(np.abs(sa) * FFT_TWS + 0.5)).astype(
            np.int64
        )
        nk = n // 2 + 1
        j = np.arange(n, dtype=np.int64)
        a = np.empty(nk, dtype=np.int64)
        b = np.empty(nk, dtype=np.int64)
        for k in range(nk):
            idx = (k * j) % n
            a[k] = np.dot(xi, c[idx])
            b[k] = np.dot(xi, s[idx])
        mag = [int(a[k]) ** 2 + int(b[k]) ** 2 for k in range(nk)]
        keep = max(1, int(nk * FFT_RATIO))
        kept = sorted(sorted(range(nk), key=lambda k: (-mag[k], k))[:keep])
        y = [0] * n
        for k in kept:
            w = 1 if (k == 0 or 2 * k == n) else 2
            ak, bk = int(a[k]), int(b[k])
            idx = (k * j) % n
            for jj in range(n):
                m = idx[jj]
                y[jj] += w * (ak * int(c[m]) + bk * int(s[m]))
        # half-away integer micro-units, THEN one exact small-int cast:
        # casting the raw ~1e26 integer to double double-rounds in some
        # engines (DuckDB HUGEINT→DOUBLE goes via upper·2^64 + lower —
        # measured 1-ulp drift on 2/100k rows), while recon_t ≤ ~1e9
        # converts exactly everywhere
        den = n * FFT_XU * FFT_TWS * FFT_TWS
        rec = np.array(
            [
                (
                    (2 * v * 1_000_000 + den) // (2 * den)
                    if v >= 0
                    else -((2 * (-v) * 1_000_000 + den) // (2 * den))
                )
                / 1_000_000
                for v in y
            ],
            dtype=np.float64,
        )
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "pos": np.arange(n, dtype=np.int64),
                "value": x,
                "recon": rec,
            }
        )

    return packed_grouped_map(
        ev, recon, "user_id bigint, pos bigint, value double, recon double"
    )


def fft_twiddles_int(n: int):
    """The quantized twiddle table for modulus n — DRIVER-SIDE twin of
    the inline computation in q_fft_recon's kernel (kept separate on
    purpose: a kernel closure must not reference module functions).
    Used by the oracle factory and the parity test."""
    ang = 2.0 * np.pi * np.arange(n, dtype=np.float64) / float(n)
    ca, sa = np.cos(ang), np.sin(ang)
    c = (np.sign(ca) * np.floor(np.abs(ca) * FFT_TWS + 0.5)).astype(np.int64)
    s = (np.sign(sa) * np.floor(np.abs(sa) * FFT_TWS + 0.5)).astype(np.int64)
    return c, s


def _fft_recon_sql(sf_dir: str) -> str:
    """DuckDB replay of the integer-lattice truncated DFT: twiddle
    VALUES per DISTINCT series length (n rows each — (k·j) mod n
    indexing collapses the k×j plane onto one cycle), exact HUGEINT
    coefficient/magnitude/reconstruction arithmetic, one final double
    division. LAZY (the langid/mlscoring recipe): the factory reads
    the same parquet to learn the distinct lengths."""
    import duckdb

    con = duckdb.connect()
    ns = sorted(
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT count(*) FROM "
            f"'{sf_dir}/events.parquet' GROUP BY user_id"
        ).fetchall()
    )
    con.close()
    rows = []
    for n in ns:
        c, s = fft_twiddles_int(int(n))
        rows.extend(
            f"({n}, {m}, {int(c[m])}, {int(s[m])})" for m in range(n)
        )
    tw = ", ".join(rows)
    ratio = f"CAST({FFT_RATIO!r} AS DOUBLE)"
    return f"""
        WITH ord AS MATERIALIZED (
            SELECT user_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) - 1 AS j,
                   CAST(floor(value * {FFT_XU}.0 + 0.5) AS BIGINT)
                       AS xi,
                   value
            FROM events
        ),
        nn AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM ord GROUP BY user_id
        ),
        tw(n, m, c, s) AS (VALUES {tw}),
        ks AS (
            SELECT user_id, n, unnest(range(0, n // 2 + 1)) AS k
            FROM nn
        ),
        co AS MATERIALIZED (
            SELECT o.user_id, ks.k, ks.n,
                   sum(o.xi * t.c) AS a, sum(o.xi * t.s) AS b
            FROM ord o
            JOIN ks ON ks.user_id = o.user_id
            JOIN tw t ON t.n = ks.n AND t.m = (ks.k * o.j) % ks.n
            GROUP BY o.user_id, ks.k, ks.n
        ),
        pick AS (
            SELECT user_id, k, n, a, b,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY a * a + b * b DESC, k
                   ) AS rn
            FROM co
        ),
        kept AS (
            SELECT user_id, k, n, a, b,
                   CASE WHEN k = 0 OR 2 * k = n THEN 1 ELSE 2 END AS w
            FROM pick
            WHERE rn <= GREATEST(
                1, CAST(floor((n // 2 + 1) * {ratio}) AS BIGINT))
        ),
        yr AS (
            SELECT o.user_id, o.j,
                   sum(kt.w * (kt.a * t.c + kt.b * t.s)) AS y
            FROM ord o
            JOIN kept kt ON kt.user_id = o.user_id
            JOIN tw t ON t.n = kt.n AND t.m = (kt.k * o.j) % kt.n
            GROUP BY o.user_id, o.j
        ),
        den AS (
            SELECT user_id,
                   CAST(n AS HUGEINT) * {FFT_XU}
                   * CAST({FFT_TWS} AS HUGEINT) * {FFT_TWS} AS d
            FROM nn
        )
        SELECT o.user_id, o.j AS pos, o.value,
               CAST(CASE WHEN y.y >= 0
                         THEN (2 * y.y * 1000000 + den.d)
                              // (2 * den.d)
                         ELSE -((2 * (-y.y) * 1000000 + den.d)
                                // (2 * den.d)) END
                    AS DOUBLE) / 1000000.0 AS recon
        FROM ord o
        JOIN yr y ON y.user_id = o.user_id AND y.j = o.j
        JOIN den ON den.user_id = o.user_id
    """


_fft_recon_oracle = lazy_oracle("q_fft_recon", _fft_recon_sql)

LAZY_ORACLES = {"q_fft_recon": _fft_recon_oracle}


def q_pla_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling to n/LTTB_DENOM points per signal — the
    reference's PLA aging level (recoding_daemon.rs progressive
    degradation; pla_lttb.rs:24-110 semantics: endpoints kept, one
    point per bucket maximizing triangle area with the previous kept
    point and the next bucket's centroid).

    ORACLE-CHECKED (r8): every decision runs in EXACT INTEGER
    arithmetic — x is the row position, y is trunc-quantized to a
    1e-6 grid for the AREA CRITERION ONLY (outputs are the raw
    original rows), bucket bounds are the pure-integer
    1 + (j·(n−2)) // (n_out−2), and the triangle area is scaled
    through by the centroid-bucket width W so no division occurs:
    area·W = |(ax·W − Sx)(yq − ayq) − (ax − x)(Syq − ayq·W)|. A
    selection criterion on integers has no FP association gap, so a
    DuckDB recursive CTE carrying the previous kept position picks
    bit-identical rows (argmax ties break to the lowest position on
    both sides). Selection differences vs the float form only ever
    occurred at FP-noise-level near-ties; the integer grid makes the
    operator deterministic across engines — the same discipline as
    the decimal-exact aggregate family.

    NOTE: the LTTB kernel is defined INSIDE the UDF on purpose — a
    module-level helper would be cloudpickled by reference and require
    this package on the executor PYTHONPATH; self-contained closures
    ship by value and run on any cluster."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    def downsample(pdf: pd.DataFrame) -> pd.DataFrame:
        def lttb(yq: np.ndarray, n_out: int) -> np.ndarray:
            """Integer-exact LTTB kept-point indices (positions are
            the x axis; yq is the trunc-quantized value grid)."""
            n = len(yq)
            if n_out >= n or n_out < 3:
                return np.arange(n)
            d = n_out - 2
            # bounds[j] = 1 + (j*(n-2)) // d, j = 0..n_out-2; the last
            # bound is exactly n-1 (j = d gives 1 + (n-2))
            bounds = 1 + (np.arange(n_out - 1, dtype=np.int64) * (n - 2)) // d
            xs = np.arange(n, dtype=np.int64)
            # centroid buckets, vectorized: bucket i = [bounds[i+1],
            # bounds[i+2]) with the last running to n; an empty bucket
            # degrades to the single point at its start (W=1). Integer
            # cumsum differences equal per-bucket sums EXACTLY
            # (integer addition is associative — no FP caveat).
            cs = bounds[1:]
            ce = np.append(bounds[2:], n)
            nonempty = ce > cs
            ws = np.where(nonempty, ce - cs, 1)
            sxs = np.where(nonempty, (cs + ce - 1) * (ce - cs) // 2, cs)
            cum = np.concatenate(([0], np.cumsum(yq)))
            sys_ = np.where(
                nonempty,
                cum[ce] - cum[cs],
                np.where(cs < n, yq[np.minimum(cs, n - 1)], 0),
            )
            kept = [0]
            for i in range(n_out - 2):
                lo = int(bounds[i])
                hi = int(max(bounds[i + 1], bounds[i] + 1))
                w, sx, sy = int(ws[i]), int(sxs[i]), int(sys_[i])
                ax = kept[-1]
                ay = int(yq[ax])
                seg = xs[lo:hi]
                ys = yq[lo:hi]
                areas = np.abs(
                    (ax * w - sx) * (ys - ay) - (ax - seg) * (sy - ay * w)
                )
                kept.append(lo + int(np.argmax(areas)))
            kept.append(n - 1)
            return np.array(sorted(set(kept)), dtype=np.int64)

        pdf = pdf.reset_index(drop=True)
        n = len(pdf)
        n_out = max(3, n // LTTB_DENOM)
        yq = np.trunc(
            pdf["value"].to_numpy(dtype=np.float64) * float(LTTB_Y_SCALE)
        ).astype(np.int64)
        keep = lttb(yq, n_out)
        out = pdf.iloc[keep]
        return pd.DataFrame(
            {
                "user_id": out["user_id"],
                "event_id": out["event_id"],
                "ts": out["ts"],
                "value": out["value"],
            }
        )

    return packed_grouped_map(
        ev, downsample,
        "user_id bigint, event_id bigint, ts timestamp, value double",
    )


def q_pla_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-LINEAR reconstruction from the LTTB kept points —
    what q_pla_lttb's downsample looks like when read back as a full
    series (the reference's PLA aging level reconstructs segments as
    line pieces, pla_lttb.rs; this is the decode half its recoding
    daemon applies on query). Emits (user_id, pos, value, recon) —
    the same contract as q_fft_recon, which is what lets the drift
    matrix (mlscoring.py) score the PLA tier with the identical
    machinery.

    ENGINE-EXACT: the kept-point selection is the q_pla_lttb integer
    criterion verbatim; interpolation runs on the cents lattice
    (yc = floor(value·100 + 0.5), exact on the testdata grid) and
    emits half-away micro-units — recon_u = yc₀·10⁴ +
    half-away((j−x₀)(yc₁−yc₀)·10⁴ / (x₁−x₀)) — so kept positions
    reproduce their value to the 1e-6 grid exactly and every emitted
    double is the same small-integer/10⁶ in both engines. The oracle
    reuses the q_pla_lttb recursive-CTE selection and adds one lead()
    window + a bracketing join for the interp.

    Scale shape: identical to q_pla_lttb — one signal-key exchange,
    per-task state = one signal's chunk (packed_grouped_map); the
    interp adds O(n) integer ops per signal."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def recon(pdf: pd.DataFrame) -> pd.DataFrame:
        def lttb(yq: np.ndarray, n_out: int) -> np.ndarray:
            n = len(yq)
            if n_out >= n or n_out < 3:
                return np.arange(n)
            d = n_out - 2
            bounds = 1 + (np.arange(n_out - 1, dtype=np.int64) * (n - 2)) // d
            xs = np.arange(n, dtype=np.int64)
            cs = bounds[1:]
            ce = np.append(bounds[2:], n)
            nonempty = ce > cs
            ws = np.where(nonempty, ce - cs, 1)
            sxs = np.where(nonempty, (cs + ce - 1) * (ce - cs) // 2, cs)
            cum = np.concatenate(([0], np.cumsum(yq)))
            sys_ = np.where(
                nonempty,
                cum[ce] - cum[cs],
                np.where(cs < n, yq[np.minimum(cs, n - 1)], 0),
            )
            kept = [0]
            for i in range(n_out - 2):
                lo = int(bounds[i])
                hi = int(max(bounds[i + 1], bounds[i] + 1))
                w, sx, sy = int(ws[i]), int(sxs[i]), int(sys_[i])
                ax = kept[-1]
                ay = int(yq[ax])
                seg = xs[lo:hi]
                ys = yq[lo:hi]
                areas = np.abs(
                    (ax * w - sx) * (ys - ay) - (ax - seg) * (sy - ay * w)
                )
                kept.append(lo + int(np.argmax(areas)))
            kept.append(n - 1)
            return np.array(sorted(set(kept)), dtype=np.int64)

        pdf = pdf.reset_index(drop=True)
        n = len(pdf)
        x = pdf["value"].to_numpy(dtype=np.float64)
        n_out = max(3, n // 10)  # LTTB_DENOM inline (closure rule)
        yq = np.trunc(x * 1e6).astype(np.int64)  # LTTB_Y_SCALE inline
        keep = lttb(yq, n_out)
        yc = np.floor(x * 100.0 + 0.5).astype(np.int64)  # cents lattice
        rec_u = np.empty(n, dtype=np.int64)
        if len(keep) == 1:  # single-row signal: the point is itself
            rec_u[0] = int(yc[0]) * 10_000
        for a, b in zip(keep[:-1], keep[1:]):
            a, b = int(a), int(b)
            y0, dy, den = int(yc[a]), int(yc[b]) - int(yc[a]), b - a
            # int64-safe bound (the Theil-Sen THEILSEN_SPAN_CENTS
            # discipline): |num| ≤ |dy|·den·10⁴ and the half-away
            # rounding doubles it, so |dy|·den must stay ≤ 4·10¹⁴ or
            # numpy would WRAP silently where the DuckDB oracle
            # raises. LTTB geometry bounds den to ~2 bucket widths,
            # so tripping this needs a per-gap value span past
            # $4·10¹²/den — raise loudly instead of diverging.
            if abs(dy) * den > 400_000_000_000_000:
                raise ValueError(
                    f"q_pla_recon: gap [{a},{b}] value span {dy} cents"
                    f" x width {den} exceeds the int64-safe"
                    " interpolation bound (4e14 cent-rows)"
                )
            j = np.arange(a, b + 1, dtype=np.int64)
            num = (j - a) * dy * 10_000
            q = np.where(
                num >= 0,
                (2 * num + den) // (2 * den),
                -((2 * (-num) + den) // (2 * den)),
            )
            rec_u[a : b + 1] = y0 * 10_000 + q
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "pos": np.arange(n, dtype=np.int64),
                "value": x,
                "recon": rec_u.astype(np.float64) / 1e6,
            }
        )

    return packed_grouped_map(
        ev, recon, "user_id bigint, pos bigint, value double, recon double"
    )


MP_WINDOW = 16  # matrix-profile subsequence length


def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile per signal: for every length-MP_WINDOW
    subsequence, the z-normalized Euclidean distance to its nearest
    non-trivial neighbor in the same signal, plus that neighbor's
    position — THE modern motif/discord primitive (low profile =
    repeated motif, high profile = anomaly/discord), the natural
    endpoint of the reference's kNN-over-subsequences direction
    (knn/mod.rs squared-L2 classify).

    Kernel: one gram-matrix pass per signal (stride-tricked
    subsequence matrix, ±window/2 trivial-match exclusion) — O(n²m)
    per signal, fine for per-signal chunk sizes; at 100 TB the same
    kernel runs per (signal, day-chunk) with STOMP-style streaming
    dot-product updates, same plan shape. Flat/constant subsequences
    get a NaN-safe conventional distance (sqrt(2m)) like production
    MP libraries; pytest plants a motif and pins the profile at its
    two sites to ~0 pointing at each other.

    ORACLE-CHECKED (r11, completing the q_pla_lttb / q_fft_recon
    integer-lattice family): every REDUCTION runs on exact integers —
    values on their native 0.01 grid, the gram matrix as an int64
    matmul (numpy integer matmul is exact, not BLAS float), window
    sums/sum-of-squares exact — and the float finalize is a FIXED
    per-element expression tree (one division, one sqrt, one clip —
    each IEEE-deterministic on identical inputs), so DuckDB replays
    the doubles bit-for-bit. Flatness is σ² = 0 tested EXACTLY on the
    integer lattice (V = m·ΣQ − S² == 0) instead of a float epsilon.
    Selection = (d ASC, neighbor ASC) on identical doubles ⇒ identical
    argmin in both engines. Emitted mp is half-away micro-units (the
    cast-exact discipline — np.round's half-even is engine-specific)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    m = MP_WINDOW

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["value"].to_numpy(dtype=np.float64)
        n = len(x)
        k = n - m + 1
        uid = pdf["user_id"].iloc[0]
        if k <= max(1, m // 2) + 1:  # exclusion zone would cover every row
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "pos": pd.Series(dtype="int64"),
                    "mp": pd.Series(dtype="float64"),
                    "mp_idx": pd.Series(dtype="int64"),
                }
            )
        xi = np.floor(x * 100.0 + 0.5).astype(np.int64)  # exact 0.01 grid
        S = np.lib.stride_tricks.sliding_window_view(xi, m)  # (k, m) int64
        Ssum = S.sum(axis=1)                 # exact
        Q = (S * S).sum(axis=1)              # exact
        G = S @ S.T                          # exact int64 matmul
        # corr(i,j) = N / sqrt(Vi·Vj) with N = m·G − Si·Sj,
        # V = m·Q − S² — all exact ints ≤ ~1.3e13 (< 2^53, so the
        # float conversions below are exact too)
        N = m * G - np.outer(Ssum, Ssum)
        V = m * Q - Ssum * Ssum
        flat = V == 0
        vf = V.astype(np.float64)
        denom = np.sqrt(
            np.where(flat, 1.0, vf)[:, None] * np.where(flat, 1.0, vf)[None, :]
        )
        corr = np.clip(N.astype(np.float64) / denom, -1.0, 1.0)
        d = np.sqrt((2 * m) * (1.0 - corr))
        d[flat, :] = np.sqrt(float(2 * m))  # σ=0 convention
        d[:, flat] = np.sqrt(float(2 * m))
        both_flat = np.ix_(flat.nonzero()[0], flat.nonzero()[0])
        d[both_flat] = 0.0
        excl = max(1, m // 2)
        for off in range(-excl, excl + 1):
            idx = np.arange(max(0, -off), min(k, k - off))
            d[idx, idx + off] = np.inf  # trivial-match zone
        mp_idx = d.argmin(axis=1)
        mp = d[np.arange(k), mp_idx]
        return pd.DataFrame(
            {
                "user_id": np.full(k, uid, dtype=np.int64),
                "pos": np.arange(k, dtype=np.int64),
                "mp": np.floor(mp * 1_000_000.0 + 0.5) / 1_000_000.0,
                "mp_idx": mp_idx.astype(np.int64),
            }
        )

    return packed_grouped_map(
        ev, profile, "user_id bigint, pos bigint, mp double, mp_idx bigint"
    )


QUERIES = {
    "q_fft_recon": q_fft_recon,
    "q_pla_lttb": q_pla_lttb,
    "q_pla_recon": q_pla_recon,
    "q_matrix_profile": q_matrix_profile,
}

# All three transform kernels run on exact integer lattices (LTTB r8,
# truncated DFT + matrix profile r11), so all three carry full DuckDB
# oracles: recursive-CTE selection replay for LTTB, lazy twiddle-table
# replay for the DFT, and the windowed-statistics replay below for the
# matrix profile (every float op is a fixed per-element expression on
# exact-integer inputs — no reassociated reduction anywhere).
_MP_EXCL = max(1, MP_WINDOW // 2)
_MP_CORR = f"""
    LEAST(GREATEST(
        CAST({MP_WINDOW} * p.g - wi.s * wj.s AS DOUBLE)
        / sqrt(CAST(wi.v AS DOUBLE) * CAST(wj.v AS DOUBLE)),
        -1.0), 1.0)
"""
_MP_ORACLE = f"""
    WITH ord AS MATERIALIZED (
        SELECT user_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - 1 AS j,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xi
        FROM events
    ),
    par AS (
        SELECT user_id, n, n - {MP_WINDOW} + 1 AS k
        FROM (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM ord GROUP BY user_id
        )
        WHERE n - {MP_WINDOW} + 1 > {_MP_EXCL} + 1
    ),
    wx AS (
        SELECT o.user_id,
               unnest(range(GREATEST(o.j - {MP_WINDOW} + 1, 0),
                            LEAST(o.j, p.k - 1) + 1)) AS i,
               o.xi
        FROM ord o JOIN par p USING (user_id)
    ),
    win AS MATERIALIZED (
        SELECT user_id, i, sum(xi) AS s,
               CAST({MP_WINDOW} AS BIGINT) * sum(xi * xi)
               - sum(xi) * sum(xi) AS v
        FROM wx GROUP BY user_id, i
    ),
    pr AS MATERIALIZED (
        SELECT a.user_id, a.j, b.j - a.j AS off, a.xi * b.xi AS p
        FROM ord a
        JOIN par pa USING (user_id)
        JOIN ord b ON b.user_id = a.user_id
                  AND b.j - a.j > {_MP_EXCL}
                  AND b.j - a.j <= pa.k - 1
    ),
    g AS MATERIALIZED (
        SELECT user_id, off, ia, sum(p) AS g
        FROM (
            SELECT r.user_id, r.off, r.p,
                   unnest(range(GREATEST(r.j - {MP_WINDOW} + 1, 0),
                                LEAST(r.j, p.k - 1 - r.off) + 1)) AS ia
            FROM pr r JOIN par p USING (user_id)
        )
        GROUP BY user_id, off, ia
    ),
    pp AS (
        SELECT user_id, ia AS i, ia + off AS jdx, g FROM g
        UNION ALL
        SELECT user_id, ia + off AS i, ia AS jdx, g FROM g
    ),
    scored AS (
        SELECT p.user_id, p.i, p.jdx,
               CASE WHEN wi.v = 0 AND wj.v = 0 THEN 0.0
                    WHEN wi.v = 0 OR wj.v = 0
                         THEN sqrt({float(2 * MP_WINDOW)!r})
                    ELSE sqrt({float(2 * MP_WINDOW)!r} * (1.0 - {_MP_CORR}))
               END AS d
        FROM pp p
        JOIN win wi ON wi.user_id = p.user_id AND wi.i = p.i
        JOIN win wj ON wj.user_id = p.user_id AND wj.i = p.jdx
    ),
    pick AS (
        SELECT user_id, i, jdx, d,
               row_number() OVER (
                   PARTITION BY user_id, i ORDER BY d, jdx
               ) AS rn
        FROM scored
    )
    SELECT user_id, i AS pos,
           floor(d * 1000000.0 + 0.5) / 1000000.0 AS mp,
           jdx AS mp_idx
    FROM pick WHERE rn = 1
"""
# The recursive-CTE LTTB kept-point selection, shared by the
# q_pla_lttb oracle (kept rows) and the q_pla_recon oracle (kept rows
# + lead window + bracketing interp).
_LTTB_KEPT_CTES = f"""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_id, ts, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) - 1 AS pos,
                   CAST(trunc(value * {float(LTTB_Y_SCALE)!r}) AS BIGINT)
                       AS yq,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        par AS (
            SELECT user_id, n, GREATEST(3, n // {LTTB_DENOM}) AS n_out
            FROM (SELECT DISTINCT user_id, n FROM seq)
        ),
        cent AS (
            SELECT p.user_id, t.i,
                   1 + ((t.i + 1) * (p.n - 2)) // (p.n_out - 2) AS cs,
                   CASE WHEN t.i + 2 <= p.n_out - 2
                        THEN 1 + ((t.i + 2) * (p.n - 2))
                                 // (p.n_out - 2)
                        ELSE p.n END AS ce
            FROM par p
            JOIN (SELECT DISTINCT pos AS i FROM seq) t
              ON t.i < p.n_out - 2
            WHERE p.n_out < p.n
        ),
        centv AS (
            SELECT c.user_id, c.i,
                   CASE WHEN c.ce > c.cs THEN c.ce - c.cs ELSE 1 END AS w,
                   CASE WHEN c.ce > c.cs
                        THEN (c.cs + c.ce - 1) * (c.ce - c.cs) // 2
                        ELSE c.cs END AS sx,
                   CASE WHEN c.ce > c.cs
                        THEN CAST((SELECT sum(s.yq) FROM seq s
                                   WHERE s.user_id = c.user_id
                                     AND s.pos >= c.cs
                                     AND s.pos < c.ce) AS BIGINT)
                        ELSE coalesce(
                            (SELECT s.yq FROM seq s
                             WHERE s.user_id = c.user_id
                               AND s.pos = c.cs), 0)
                   END AS sy
            FROM cent c
        ),
        sel AS (
            SELECT user_id, n, n_out, 0 AS i, CAST(0 AS BIGINT) AS prev
            FROM par WHERE n_out < n
            UNION ALL
            SELECT r.user_id, r.n, r.n_out, r.i + 1,
                   (SELECT s.pos
                    FROM seq s
                    JOIN centv c
                      ON c.user_id = r.user_id AND c.i = r.i
                    WHERE s.user_id = r.user_id
                      AND s.pos >= 1 + (r.i * (r.n - 2))
                                       // (r.n_out - 2)
                      AND s.pos < GREATEST(
                            1 + ((r.i + 1) * (r.n - 2))
                                // (r.n_out - 2),
                            1 + (r.i * (r.n - 2))
                                // (r.n_out - 2) + 1)
                    ORDER BY abs(
                        (r.prev * c.w - c.sx)
                          * (s.yq - (SELECT p2.yq FROM seq p2
                                     WHERE p2.user_id = r.user_id
                                       AND p2.pos = r.prev))
                        - (r.prev - s.pos)
                          * (c.sy - (SELECT p2.yq FROM seq p2
                                     WHERE p2.user_id = r.user_id
                                       AND p2.pos = r.prev) * c.w)
                      ) DESC, s.pos
                    LIMIT 1)
            FROM sel r WHERE r.i < r.n_out - 2
        ),
        kept AS (
            SELECT DISTINCT user_id, prev AS pos FROM sel
            UNION
            SELECT user_id, n - 1 AS pos FROM par WHERE n_out < n
            UNION
            SELECT s.user_id, s.pos
            FROM seq s JOIN par p ON p.user_id = s.user_id
            WHERE p.n_out >= p.n
        )
"""

ORACLES: dict[str, str] = {
    "q_matrix_profile": _MP_ORACLE,
    "q_pla_lttb": f"""
        {_LTTB_KEPT_CTES}
        SELECT s.user_id, s.event_id, s.ts, s.value
        FROM seq s
        JOIN kept k ON k.user_id = s.user_id AND k.pos = s.pos
    """,
    # Interp discipline mirrors the kernel exactly: cents lattice
    # yc = floor(value*100 + 0.5), half-away micro-unit division, the
    # final kept point (no successor) emitted via the x1 = x0 + 1
    # degenerate segment whose numerator is 0 at pos = x0.
    "q_pla_recon": f"""
        {_LTTB_KEPT_CTES},
        ky AS (
            SELECT k.user_id, k.pos,
                   CAST(floor(s.value * 100.0 + 0.5) AS BIGINT) AS yc,
                   lead(k.pos) OVER (
                       PARTITION BY k.user_id ORDER BY k.pos) AS npos,
                   lead(CAST(floor(s.value * 100.0 + 0.5) AS BIGINT))
                       OVER (PARTITION BY k.user_id ORDER BY k.pos)
                       AS nyc
            FROM kept k
            JOIN seq s ON s.user_id = k.user_id AND s.pos = k.pos
        ),
        brack AS (
            SELECT user_id, pos AS x0, yc, npos AS x1, nyc
            FROM ky WHERE npos IS NOT NULL
            UNION ALL
            SELECT user_id, pos AS x0, yc, pos + 1 AS x1, yc AS nyc
            FROM ky WHERE npos IS NULL
        ),
        interp AS (
            SELECT s.user_id, s.pos, s.value,
                   b.x0, b.x1, b.yc, b.nyc
            FROM seq s
            JOIN brack b ON b.user_id = s.user_id
                        AND s.pos >= b.x0 AND s.pos < b.x1
        )
        SELECT user_id, pos, value,
               CAST(yc * 10000 +
                    CASE WHEN (pos - x0) * (nyc - yc) >= 0
                         THEN (2 * (pos - x0) * (nyc - yc) * 10000
                               + (x1 - x0)) // (2 * (x1 - x0))
                         ELSE -((2 * (-((pos - x0) * (nyc - yc))) * 10000
                                 + (x1 - x0)) // (2 * (x1 - x0)))
                    END AS DOUBLE) / 1000000.0 AS recon
        FROM interp
    """,
}
