"""Property-based tests (hypothesis) — the reference's quickcheck
strategy (avl/set.rs:371-460) applied to our algebraic kernels.
Formulas are checked on their numpy/python mirrors across generated
inputs, then each is pinned to the Spark implementation once per run
(mirror == Spark on a fixed corpus) so the two can't drift.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from timeseriesdb_spark.functions.codecs import scaled_int, zigzag

# ---- mirrors ------------------------------------------------------------


def _zigzag_py(n: int) -> int:
    return 2 * n if n >= 0 else -2 * n - 1


def _agg_stats(xs) -> tuple:
    return (len(xs), min(xs), max(xs), sum(xs))


def _merge(a: tuple, b: tuple) -> tuple:
    return (a[0] + b[0], min(a[1], b[1]), max(a[2], b[2]), a[3] + b[3])


# ---- properties on mirrors ---------------------------------------------


@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_zigzag_nonnegative_and_invertible(n):
    z = _zigzag_py(n)
    assert z >= 0
    # inverse: even → z/2, odd → -(z+1)/2
    back = z // 2 if z % 2 == 0 else -(z + 1) // 2
    assert back == n


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31), min_size=1))
def test_zigzag_injective_on_list(xs):
    assert len({_zigzag_py(x) for x in set(xs)}) == len(set(xs))


@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=2, max_size=50
    ),
    st.integers(min_value=1, max_value=49),
)
def test_agg_stats_merge_associative(xs, cut):
    """merge(stats(prefix), stats(suffix)) == stats(whole) — the
    AggStats combine (buffer_pool.rs:757-790) that makes partial
    aggregation and the rollup table exact. Integers: float sums are
    NOT associative, which is why the engine routes sums through
    DECIMAL(38,6) (operators/common.py)."""
    cut = min(cut, len(xs) - 1)
    a, b = xs[:cut], xs[cut:]
    assert _merge(_agg_stats(a), _agg_stats(b)) == _agg_stats(xs)


@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=100,
    )
)
def test_scaled_int_floor_bounds(xs):
    """⌊v·1000⌋ is within 1 ulp-scaled unit below v·1000 and
    monotone — the quantization contract of the scaled-int client."""
    scaled = [int(np.floor(v * 1000.0)) for v in xs]
    for v, s in zip(xs, scaled):
        assert s <= v * 1000.0 < s + 1
    order = np.argsort(xs, kind="stable")
    assert all(
        scaled[order[i]] <= scaled[order[i + 1]] for i in range(len(order) - 1)
    )


# ---- mirror == Spark (one corpus per kernel) ----------------------------


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(42)
    ints = rng.integers(-(2**40), 2**40, size=500).tolist()
    floats = (rng.normal(0, 1e4, size=500)).tolist()
    return ints, floats


def test_spark_zigzag_matches_mirror(spark, corpus):
    ints, _ = corpus
    df = spark.createDataFrame([(i, v) for i, v in enumerate(ints)], "idx long, n long")
    got = {
        r.idx: r.z
        for r in df.select("idx", zigzag(F.col("n")).alias("z")).collect()
    }
    assert got == {i: _zigzag_py(v) for i, v in enumerate(ints)}


def test_spark_scaled_int_matches_mirror(spark, corpus):
    _, floats = corpus
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(floats)], "idx long, v double"
    )
    got = {
        r.idx: r.s
        for r in df.select("idx", scaled_int(F.col("v")).alias("s")).collect()
    }
    exp = {i: int(np.floor(v * 1000.0)) for i, v in enumerate(floats)}
    assert got == exp


# ---- chunker mirror ----------------------------------------------------


def _chunks_py(text: str, w: int, stride: int) -> list[tuple[int, str, int]]:
    """Pure-python mirror of chunking.chunk_documents for one doc."""
    words = text.split(" ")
    out = []
    for start in range(0, len(words), stride):
        piece = words[start : start + w]
        out.append((start // stride, " ".join(piece), len(piece)))
    return out


@given(
    st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=8), min_size=0, max_size=60
    )
)
def test_chunker_mirror_covers_and_reconstructs(tokens):
    """Coverage + losslessness of the sliding-window mirror on
    arbitrary token streams (including empty tokens from runs of
    spaces, which the splitter surfaces as '' words)."""
    from timeseriesdb_spark.operators.chunking import CHUNK_STRIDE, CHUNK_WORDS

    text = " ".join(tokens)
    chunks = _chunks_py(text, CHUNK_WORDS, CHUNK_STRIDE)
    words = text.split(" ")
    assert chunks, "split always yields at least one word"
    # dense ids, full coverage, exact reconstruction from stride prefixes
    assert [c[0] for c in chunks] == list(range(len(chunks)))
    assert sum(c[2] for c in chunks) >= len(words)
    rebuilt = " ".join(
        " ".join(c[1].split(" ")[:CHUNK_STRIDE]) for c in chunks
    )
    assert rebuilt == text


def test_chunker_mirror_matches_spark(spark):
    """Mirror == Spark on a corpus slice incl. adversarial rows —
    multi-space runs, single word, empty-ish strings."""
    from tests.conftest import SF_DIR
    from timeseriesdb_spark.operators.chunking import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
        chunk_documents,
    )
    from timeseriesdb_spark.tables import load_table

    doc = load_table(spark, SF_DIR, "documents").limit(30).select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (100001, "one"),
            (100002, "two  spaces   runs"),
            (100003, " leading and trailing "),
            (100004, "a " * 40 + "tail"),
        ],
        "doc_id long, text string",
    )
    doc = doc.unionByName(extra)
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(doc).collect()
    }
    expect = {}
    for row in doc.collect():
        for cid, ctext, n in _chunks_py(row.text, CHUNK_WORDS, CHUNK_STRIDE):
            expect[(row.doc_id, cid)] = (ctext, n)
    assert got == expect


# ---- Gini rank formula (q_lorenz_gini) ----------------------------------


def _gini_rank_formula(counts) -> float:
    """The exact-integer rank form used by q_lorenz_gini: with
    ascending ranks r over sorted counts, G = 2·Σ(r·c)/(n·Σc) − (n+1)/n."""
    n = len(counts)
    s = sorted(counts)
    num = sum((i + 1) * c for i, c in enumerate(s))
    tot = sum(s)
    return 2.0 * num / (n * tot) - (n + 1) / n


def _gini_pairwise(counts) -> float:
    """Textbook definition: G = Σᵢⱼ|cᵢ−cⱼ| / (2·n²·mean)."""
    n = len(counts)
    tot = sum(counts)
    num = sum(abs(a - b) for a in counts for b in counts)
    return num / (2.0 * n * tot)


@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=2, max_size=60)
)
def test_gini_rank_formula_equals_pairwise(counts):
    assert _gini_rank_formula(counts) == pytest.approx(
        _gini_pairwise(counts), abs=1e-12
    )


def test_gini_spark_matches_mirror(spark):
    """q_lorenz_gini's gini column == the python mirror on the real
    per-user counts (ties included)."""
    from tests.conftest import SF_DIR
    from timeseriesdb_spark.operators.funnels import q_lorenz_gini
    from timeseriesdb_spark.tables import load_table

    counts = [
        r.c
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    ]
    got = q_lorenz_gini(spark, SF_DIR).select("gini").first().gini
    assert got == pytest.approx(_gini_rank_formula(counts), abs=5e-7)


# ---- KS integer formulation (q_length_ks) -------------------------------


def _ks_integer(xs, ys) -> float:
    """The integer cross-product form used by q_length_ks:
    D = max over distinct values v of |c1(v)·n2 − c2(v)·n1| / (n1·n2)
    with c(v) = #{samples ≤ v}."""
    support = sorted(set(xs) | set(ys))
    n1, n2 = len(xs), len(ys)
    best = 0
    for v in support:
        c1 = sum(1 for x in xs if x <= v)
        c2 = sum(1 for y in ys if y <= v)
        best = max(best, abs(c1 * n2 - c2 * n1))
    return best / (n1 * n2)


def _ks_ecdf(xs, ys) -> float:
    """Textbook two-sample KS via ECDF evaluation at all sample points."""
    n1, n2 = len(xs), len(ys)
    pts = sorted(set(xs) | set(ys))
    return max(
        abs(
            sum(1 for x in xs if x <= v) / n1
            - sum(1 for y in ys if y <= v) / n2
        )
        for v in pts
    )


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
)
def test_ks_integer_form_equals_ecdf(xs, ys):
    assert _ks_integer(xs, ys) == pytest.approx(_ks_ecdf(xs, ys), abs=1e-12)


def test_stop_shingle_cap_kills_hot_shingle_pairs(spark):
    # A shingle planted in > SHINGLE_DF_CAP documents must contribute
    # ZERO candidate pairs: the df cap fences the inverted-index
    # self-join's df-squared blowup. Docs share ONLY the hot trigram
    # (every other shingle is doc-unique), so with the cap active the
    # capped universes are disjoint -> no pairs at all; without it the
    # hot shingle alone would emit ~N^2/2 candidate pairs.
    from timeseriesdb_spark.operators.dedup import (
        SHINGLE_DF_CAP,
        capped_shingles,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    n = SHINGLE_DF_CAP + 4
    rows = [
        (i, f"u{i}a u{i}b u{i}c u{i}d hot stop shingle")
        for i in range(n)
    ]
    doc = spark.createDataFrame(rows, "doc_id long, text string")
    sh = capped_shingles(doc)
    assert (
        sh.filter(F.col("shingle") == "hot stop shingle").count() == 0
    ), "hot shingle survived the df cap"
    assert ngram_jaccard_pairs(doc).count() == 0
    assert ngram_containment_pairs(doc).count() == 0
    # one doc fewer than the cap -> the same shingle survives
    doc_ok = spark.createDataFrame(
        rows[: SHINGLE_DF_CAP], "doc_id long, text string"
    )
    assert (
        capped_shingles(doc_ok)
        .filter(F.col("shingle") == "hot stop shingle")
        .count()
        == SHINGLE_DF_CAP
    )


def _run_scan_locally(batches, kernel, key, finalize=None):
    """Line-for-line mirror of stateful_grouped_scan's batch-slicing
    runner (transforms.py keeps the real one nested so the closure
    ships by value — a module-level shared function would pickle by
    reference and demand the package on executor PYTHONPATH). The
    mirror lets hypothesis sweep arbitrary chunk boundaries without a
    Spark round trip; the REAL Spark path's chunk bit-identity is
    pinned by test_tsanalytics's 7-row-Arrow-batch test, so mirror
    and engine are cross-checked the same way as the zigzag/chunker
    mirrors above."""
    import numpy as np
    import pandas as pd

    outs = []
    cur_key, state, started = None, None, False
    for b in batches:
        if not len(b):
            continue
        keys = b[key].to_numpy()
        change = (keys[1:] != keys[:-1]).nonzero()[0] + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(b)]))
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
    if started and finalize is not None:
        f = finalize(cur_key, state)
        if f is not None and len(f):
            outs.append(f)
    import pandas as pd

    return (
        pd.concat(outs, ignore_index=True)
        if outs
        else pd.DataFrame()
    )


class _FakeGroupState:
    """The part of Spark's GroupState the stream runner touches."""

    def __init__(self):
        self.value = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, width=64
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    chunk=st.integers(min_value=1, max_value=7),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_stateful_scan_chunking_invariant(vals, chunk, seed):
    """The carry-scan contract, both runners: for a kernel that carries
    exact state (running sum + count here), ANY chunking of the
    key-sorted input produces output identical to the single-chunk
    batch run — state, not rows, crosses every boundary. The stream
    runner's callable gets each key's rows shuffled and cut into
    chunks of the same size (Spark's post-shuffle Arrow chunks) and
    must give the same rows and the same final state."""
    import pandas as pd

    from timeseriesdb_spark.operators.transforms import carry_scan_fn

    pdf = pd.DataFrame(
        {
            "user_id": [k for k, _ in vals],
            "ts": range(len(vals)),  # already unique/ordered per row
            "event_id": range(len(vals)),
            "value": [v for _, v in vals],
        }
    ).sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)

    def kernel(uid, g, state):
        s0, n0 = state if state is not None else (0.0, 0)
        cs = g["value"].cumsum() + s0
        out = pd.DataFrame(
            {
                "user_id": g["user_id"].reset_index(drop=True),
                "event_id": g["event_id"].reset_index(drop=True),
                "rsum": cs.reset_index(drop=True),
            }
        )
        return out, (float(cs.iloc[-1]), n0 + len(g))

    def fin(uid, state):
        return pd.DataFrame(
            {"user_id": [uid], "event_id": [-1], "rsum": [float(state[1])]}
        )

    whole = _run_scan_locally([pdf], kernel, "user_id", fin)
    chunks = [
        pdf.iloc[i : i + chunk] for i in range(0, len(pdf), chunk)
    ]
    chunked = _run_scan_locally(chunks, kernel, "user_id", fin)
    pd.testing.assert_frame_equal(whole, chunked)

    final = {}

    def keep(uid, state):
        final[uid] = state

    rows = _run_scan_locally([pdf], kernel, "user_id", keep)
    run = carry_scan_fn(kernel)
    streamed, streamed_final = [], {}
    for uid, g in pdf.groupby("user_id"):
        g = g.sample(frac=1, random_state=seed)
        state = _FakeGroupState()
        pdfs = [g.iloc[i : i + chunk] for i in range(0, len(g), chunk)]
        streamed += list(run((uid,), iter(pdfs), state))
        streamed_final[uid] = state.get
    pd.testing.assert_frame_equal(
        pd.concat(streamed, ignore_index=True), rows
    )
    assert streamed_final == final


def test_heavy_hitters_bounds_and_completeness(spark, duck):
    """The daily top-K tier's interval guarantee: every reported
    candidate's exact count lies in [lb, ub], ranks follow (lb DESC,
    key), and any key whose exact count exceeds the summed residuals
    must have surfaced in some day's top-K (completeness)."""
    from tests.conftest import SF_DIR
    from timeseriesdb_spark.operators.aggregates import (
        HH_K,
        HH_M,
        q_heavy_hitters,
    )

    rows = q_heavy_hitters(spark, SF_DIR).collect()
    assert 0 < len(rows) <= HH_M
    assert [r.hh_rank for r in rows] == list(range(1, len(rows) + 1))
    prev = None
    for r in rows:
        assert r.lb <= r.exact_n <= r.ub, r
        if prev is not None:
            # lb DESC, then key ASC
            assert prev.lb > r.lb or (
                prev.lb == r.lb and prev.key < r.key
            ), (prev, r)
        prev = r

    # completeness: any key whose exact count exceeds the summed
    # residuals must surface in >= one day's top-K (be a candidate)
    tier = duck.execute(f"""
        WITH day_counts AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(floor(value * 10) AS BIGINT) AS key,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ), ranked AS (
            SELECT day, key, cnt, row_number() OVER (
                PARTITION BY day ORDER BY cnt DESC, key) AS rk
            FROM day_counts
        )
        SELECT CAST((SELECT coalesce(sum(resid), 0) FROM (
                   SELECT day, coalesce(
                       max(CASE WHEN rk > {HH_K} THEN cnt END), 0)
                       AS resid
                   FROM ranked GROUP BY day)) AS BIGINT) AS total_resid,
               list(DISTINCT key) FILTER (rk <= {HH_K}) AS cand_keys
        FROM ranked
    """).fetchone()
    total_resid, cand_keys = tier[0], set(tier[1])
    heavy = duck.execute(f"""
        SELECT CAST(floor(value * 10) AS BIGINT) AS key, count(*) AS n
        FROM events GROUP BY 1 HAVING count(*) > {total_resid}
    """).fetchall()
    for key, n in heavy:
        assert key in cand_keys, (key, n, total_resid)


def _hh_mirror(rows, K, M):
    """Pure-Python mirror of hh_from_day_counts over (day, key, cnt)
    rows: per-day sort (cnt DESC, key ASC), residual = the (K+1)-th
    count, [lb, ub] accounting, final (lb DESC, key ASC) top-M."""
    from collections import defaultdict

    by_day = defaultdict(list)
    exact = defaultdict(int)
    for d, k, c in rows:
        by_day[d].append((k, c))
        exact[k] += c
    resid = {}
    for d, lst in by_day.items():
        lst.sort(key=lambda kc: (-kc[1], kc[0]))
        resid[d] = lst[K][1] if len(lst) > K else 0
    total = sum(resid.values())
    kept = defaultdict(lambda: [0, 0])  # key -> [lb, present_resid]
    for d, lst in by_day.items():
        for k, c in lst[:K]:
            kept[k][0] += c
            kept[k][1] += resid[d]
    cand = sorted(
        ((k, lb, lb + total - pr, exact[k]) for k, (lb, pr) in kept.items()),
        key=lambda t: (-t[1], t[0]),
    )
    return [
        (i + 1, k, lb, ub, ex)
        for i, (k, lb, ub, ex) in enumerate(cand[:M])
    ]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),    # day
            st.integers(0, 8),    # key
            st.integers(1, 20),   # cnt
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 4),  # K
)
def test_hh_mirror_interval_and_completeness(raw, K):
    # collapse duplicates like the (day, key) groupBy would
    from collections import defaultdict

    agg = defaultdict(int)
    for d, k, c in raw:
        agg[(d, k)] += c
    rows = [(d, k, c) for (d, k), c in agg.items()]
    out = _hh_mirror(rows, K, M=10**9)  # all candidates
    exact = defaultdict(int)
    for d, k, c in rows:
        exact[k] += c
    # interval guarantee on every candidate
    for _, k, lb, ub, ex in out:
        assert lb <= exact[k] <= ub
        assert ex == exact[k]
    # completeness: count above the summed residuals => candidate
    by_day = defaultdict(list)
    for d, k, c in rows:
        by_day[d].append((k, c))
    total_resid = 0
    for d, lst in by_day.items():
        lst.sort(key=lambda kc: (-kc[1], kc[0]))
        if len(lst) > K:
            total_resid += lst[K][1]
    cand_keys = {k for _, k, *_ in out}
    for k, n in exact.items():
        if n > total_resid:
            assert k in cand_keys, (k, n, total_resid)


def test_heavy_hitters_spark_matches_mirror(spark):
    """hh_from_day_counts == the mirror on a handcrafted frame that
    exercises the edges: a day with exactly K keys (zero residual), a
    day with ties straddling the K/K+1 boundary, keys kept in one day
    and dropped in another."""
    from timeseriesdb_spark.operators.aggregates import (
        HH_K,
        HH_M,
        hh_from_day_counts,
    )

    rows = []
    # day 0: exactly K keys -> no residual
    rows += [(0, k, 10 + (k % 3)) for k in range(HH_K)]
    # day 1: K+6 keys, counts engineered so the K/K+1 boundary is a tie
    rows += [(1, k, 5) for k in range(HH_K + 6)]
    # day 2: overlapping keys with day 0, steep counts
    rows += [(2, k, 50 - k) for k in range(HH_K + 3)]
    df = spark.createDataFrame(
        [(d, k, c) for d, k, c in rows], "day int, key bigint, cnt bigint"
    )
    got = [
        (r.hh_rank, r.key, r.lb, r.ub, r.exact_n)
        for r in hh_from_day_counts(df).collect()
    ]
    exp = _hh_mirror(rows, HH_K, HH_M)
    assert sorted(got) == sorted(exp)
