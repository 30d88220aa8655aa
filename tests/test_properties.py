"""Property-based checks (SURVEY.md §5.4) via hypothesis.

Three invariants the engine's semantics rest on:
1. ISO-8601-Z strings order identically to the instants they denote —
   the assumption behind the reference's string BETWEEN
   (reference: historical_features.py:31).
2. The latest snapshot is independent of arrival order given the
   (event_time, ingest_seq) tie-break — and both implementations
   (ranking window / max_by) agree on every input.
3. dsum's scale-to-int64 trick really is exact: it equals Decimal
   arithmetic regardless of value mix or partition count.
"""

from __future__ import annotations

from datetime import datetime, timezone
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from cust_sagemaker_feature_store_spark.operators.latest import (
    latest_snapshot,
    latest_snapshot_window,
)
from cust_sagemaker_feature_store_spark.queries.registry import dsum

# -- 1. pure-python: ISO-Z format is order-isomorphic to instants -------

REF_FORMAT = "%Y-%m-%dT%H:%M:%SZ"  # reference: update_feature_store.py:35-36

# The order-isomorphism holds for 4-digit years only: python strftime
# does not zero-pad year 999 -> "999-..." which sorts AFTER "2000-...".
# (hypothesis found this.) Spark's `yyyy` pattern pads to 4 digits and
# feature event times are modern, so the engine contract is years
# 1000-9999 — the same domain the reference's data occupies.
dt_strategy = st.datetimes(
    min_value=datetime(1000, 1, 1),
    max_value=datetime(9999, 12, 31),
    timezones=st.just(timezone.utc),
)


@given(dt_strategy, dt_strategy)
def test_iso_z_string_order_matches_instant_order(a, b):
    sa, sb = a.strftime(REF_FORMAT), b.strftime(REF_FORMAT)
    # truncate to second precision the way the wire format does
    ta, tb = a.replace(microsecond=0), b.replace(microsecond=0)
    assert (sa < sb) == (ta < tb)
    assert (sa == sb) == (ta == tb)


# -- 2. spark: latest snapshot is arrival-order independent -------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # few keys -> frequent collisions
        st.sampled_from(
            [
                "2022-01-01T00:00:00Z",
                "2022-01-01T00:00:01Z",
                "2022-06-30T12:00:00Z",  # duplicated values force tie-breaks
                "2022-06-30T12:00:00Z",
                "2022-12-31T23:59:59Z",
            ]
        ),
        st.integers(min_value=0, max_value=1000),  # payload
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, seed=st.integers(min_value=0, max_value=2**16))
def test_latest_snapshot_order_independent_and_forms_agree(spark, events, seed):
    import random

    # ingest_seq is assigned by ORIGINAL position (write order); the
    # rows may then arrive in any permutation
    rows = [(k, t, v, i) for i, (k, t, v) in enumerate(events)]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    schema = "key long, event_time string, value long, ingest_seq long"

    def snap(make, data):
        df = make(
            spark.createDataFrame(data, schema), "key", "event_time", "ingest_seq"
        )
        return sorted(map(tuple, df.select("key", "event_time", "value").collect()))

    base = snap(latest_snapshot_window, rows)
    assert snap(latest_snapshot_window, shuffled) == base  # order independence
    assert snap(latest_snapshot, shuffled) == base  # both forms agree


# -- 3. spark: dsum is exact integer arithmetic -------------------------


# -- 4. spark: winnowing guarantee --------------------------------------

alpha = st.text(alphabet="abcdef ", min_size=40, max_size=120)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(shared=alpha, pre=alpha, post=alpha)
def test_winnowing_shares_fingerprint_on_shared_run(spark, shared, pre, post):
    """SIGMOD'03 winnowing guarantee: two documents sharing a substring
    of length >= k + w - 1 (= 11 here) share at least one fingerprint."""
    from cust_sagemaker_feature_store_spark.operators.text import (
        winnow_fingerprint_rows,
    )

    # bound the shared run with solid letters so trim() at document
    # boundaries can never eat into it (a run of boundary spaces would
    # otherwise be stripped from one doc but not the other)
    shared = "qqqq" + shared + "qqqq"
    doc_a = pre + shared
    doc_b = shared + post
    df = spark.createDataFrame([(0, doc_a), (1, doc_b)], "doc_id long, text string")
    rows = winnow_fingerprint_rows(df, k=8, w=4).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r["doc_id"]].add(r["fp"])
    # normalization lowercases+trims; shared is already lowercase. The
    # guarantee needs the run to survive normalization: trim only strips
    # ends, so the shared middle run of len>=40 >= 11 always survives.
    assert fps[0] & fps[1], (doc_a, doc_b)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(
        st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=50
    ),
    n_parts=st.integers(min_value=1, max_value=8),
)
def test_dsum_matches_decimal_any_partitioning(spark, cents, n_parts):
    values = [c / 100.0 for c in cents]
    expected = float(sum(Decimal(c) for c in cents) / 100)
    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(n_parts)
    from pyspark.sql import functions as F

    got = df.agg(dsum(F.col("v"), 2).alias("s")).head()["s"]
    assert got == expected


# -- 5. spark: as-of join equals a brute-force reference ----------------

asof_feat_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # key
        st.integers(min_value=0, max_value=20),  # feature time (small int domain)
        st.integers(min_value=0, max_value=99),  # payload
    ),
    min_size=0,
    max_size=10,
)
asof_probe_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # key (4 -> sometimes unseen)
        st.integers(min_value=0, max_value=20),  # probe time
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(feats=asof_feat_strategy, probes=asof_probe_strategy)
def test_asof_strategies_match_bruteforce(spark, feats, probes):
    """All as-of strategies equal the obvious python reference: for each
    probe row, the feature row with max (t, seq) among t <= probe_t for
    the key — including duplicate probes, ties, and unseen keys."""
    from cust_sagemaker_feature_store_spark.operators.asof import (
        asof_join,
        asof_join_agg,
        asof_join_auto,
        asof_join_union,
    )

    frows = [(k, t, v, i) for i, (k, t, v) in enumerate(feats)]
    prows = [(k, t, j) for j, (k, t) in enumerate(probes)]

    def brute(k, pt):
        cand = [(t, seq, v) for (fk, t, v, seq) in frows if fk == k and t <= pt]
        if not cand:
            return None
        t, seq, v = max(cand)
        return v

    expected = sorted(
        (k, t, j, brute(k, t)) for (k, t, j) in prows
    )

    probe = spark.createDataFrame(prows, "k long, pt long, pid long")
    feat = spark.createDataFrame(frows, "k long, ft long, fv long, seq long")
    for fn, kwargs in (
        (asof_join, {"how": "left", "tie_breaker": "seq"}),
        (asof_join_agg, {"how": "left", "tie_breaker": "seq"}),
        (asof_join_union, {"tie_breaker": "seq", "feature_cols": ["fv"]}),
        (asof_join_auto, {"how": "left", "tie_breaker": "seq"}),
    ):
        out = fn(probe, feat, on="k", probe_time="pt", feature_time="ft", **kwargs)
        got = sorted(
            (r["k"], r["pt"], r["pid"], r["fv"]) for r in out.collect()
        )
        assert got == expected, fn.__name__


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(feats=asof_feat_strategy, probes=asof_probe_strategy)
def test_asof_directions_match_bruteforce(spark, feats, probes):
    """forward picks min (t, -seq)... precisely: smallest t >= probe_t,
    greatest seq among equal t; nearest picks min |t - probe_t| with
    backward preferred on equidistant ties, then greatest seq."""
    from cust_sagemaker_feature_store_spark.operators.asof import asof_join

    frows = [(k, t, v, i) for i, (k, t, v) in enumerate(feats)]
    prows = [(k, t, j) for j, (k, t) in enumerate(probes)]

    def brute_forward(k, pt):
        cand = [(t, -seq, v) for (fk, t, v, seq) in frows if fk == k and t >= pt]
        if not cand:
            return None
        return min(cand)[2]

    def brute_nearest(k, pt):
        cand = [
            (abs(t - pt), 0 if t <= pt else 1, -seq, v)
            for (fk, t, v, seq) in frows
            if fk == k
        ]
        if not cand:
            return None
        return min(cand)[3]

    probe = spark.createDataFrame(prows, "k long, pt long, pid long")
    feat = spark.createDataFrame(frows, "k long, ft long, fv long, seq long")
    for direction, brute in (("forward", brute_forward), ("nearest", brute_nearest)):
        expected = sorted((k, t, j, brute(k, t)) for (k, t, j) in prows)
        out = asof_join(
            probe, feat, on="k", probe_time="pt", feature_time="ft",
            how="left", tie_breaker="seq", direction=direction,
        )
        got = sorted((r["k"], r["pt"], r["pid"], r["fv"]) for r in out.collect())
        assert got == expected, direction


# -- 6. spark: dense row ids are 0..N-1 under any partitioning ----------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_rows=st.integers(min_value=0, max_value=60),
    n_parts=st.integers(min_value=1, max_value=9),
)
def test_dense_row_ids_dense_any_partitioning(spark, n_rows, n_parts):
    from cust_sagemaker_feature_store_spark.functions.ids import with_dense_row_ids

    df = spark.range(n_rows).repartition(n_parts)
    out, total = with_dense_row_ids(df, "did")
    ids = sorted(r["did"] for r in out.collect())
    assert total == n_rows
    assert ids == list(range(n_rows))


def test_dense_row_ids_nondeterministic_source(spark):
    """An UNPINNED non-deterministic lineage (rand-keyed repartition +
    rand filter: different rows AND different layout every
    recomputation) must still yield dense 0..N-1 ids — the function
    self-persists inputs the caller forgot to pin (round-3 advice,
    functions/ids.py determinism contract)."""
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.functions.ids import (
        with_dense_row_ids,
    )

    df = (
        spark.range(2_000)
        .filter(F.rand(seed=None) < 0.5)
        .repartition(7, F.floor(F.rand(seed=None) * 7))
    )
    out, total = with_dense_row_ids(df, "did")
    ids = sorted(r["did"] for r in out.collect())
    assert ids == list(range(total))
    # the in-function pin is a localCheckpoint, reclaimed on GC — there
    # is deliberately nothing for the caller to unpersist here


def test_dense_row_ids_add_no_jobs_to_actions(spark, count_jobs):
    """An action on the id-tagged frame runs no more Spark jobs than the
    same action on its persisted input: the per-partition offsets are a
    literal map, not a joined table whose broadcast re-runs with every
    action on the returned frame."""
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.functions.ids import (
        with_dense_row_ids,
    )

    df = spark.range(20_000).repartition(4).persist()
    try:
        df.count()
        out, _ = with_dense_row_ids(df, "did")
        out_jobs = count_jobs(lambda: out.agg(F.max("did")).collect())
        assert out_jobs <= count_jobs(lambda: df.agg(F.max("id")).collect())
    finally:
        df.unpersist()


# -- 7. spark: gram matrix partial sums are exact for any input ---------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_rows=st.integers(min_value=1, max_value=24),
    dim=st.integers(min_value=1, max_value=6),
    n_parts=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_gram_matrix_matches_integer_product(spark, n_rows, dim, n_parts, data):
    """Distributed partial-sum Gram == single-machine integer product of
    the same micro-scaled vectors, for any shape/partitioning/values
    (incl. negatives and zeros)."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.similarity import (
        gram_matrix,
    )

    vals = data.draw(
        st.lists(
            st.lists(
                st.floats(
                    min_value=-100,
                    max_value=100,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=dim,
                max_size=dim,
            ),
            min_size=n_rows,
            max_size=n_rows,
        )
    )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)],
        "vec_id long, embedding array<float>",
    ).repartition(n_parts)
    got = {
        (r["i"], r["j"]): r["gram_scaled"] for r in gram_matrix(df).collect()
    }
    # mirror the engine's quantization: float32 storage, HALF_UP round
    f32 = np.array(vals, dtype=np.float32).astype(np.float64)
    M = np.floor(np.abs(f32) * 1e6 + 0.5).astype(np.int64) * np.sign(f32).astype(
        np.int64
    )
    G = M.T @ M
    want = {
        (i, j): float(G[i, j])
        for i in range(dim)
        for j in range(dim)
        if i <= j
    }
    assert got == want


# -- 8. spark: incremental join delta rule is exact for any split -------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_a=st.integers(min_value=0, max_value=30),
    n_b=st.integers(min_value=0, max_value=20),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_incremental_join_refresh_any_split(spark, n_a, n_b, seed):
    import random

    from cust_sagemaker_feature_store_spark.operators.incremental import (
        incremental_join_refresh,
    )

    rng = random.Random(seed)
    a_rows = [(i, rng.randrange(6)) for i in range(n_a)]
    b_rows = [(j, rng.randrange(6)) for j in range(n_b)]
    a = spark.createDataFrame(a_rows or [(None, None)], "aid long, k long").filter(
        "aid IS NOT NULL"
    )
    b = spark.createDataFrame(b_rows or [(None, None)], "bid long, k long").filter(
        "bid IS NOT NULL"
    )
    cut_a, cut_b = rng.randrange(3), rng.randrange(2)
    a_base, a_delta = a.filter(f"aid % 3 != {cut_a}"), a.filter(f"aid % 3 = {cut_a}")
    b_base, b_delta = b.filter(f"bid % 2 != {cut_b}"), b.filter(f"bid % 2 = {cut_b}")
    cols = ["aid", "bid"]
    materialized = a_base.join(b_base, "k").select(*cols)
    got = incremental_join_refresh(
        materialized, a_base, a_delta, b_base, b_delta, on="k"
    )
    want = a.join(b, "k").select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# -- BM25 exact-arithmetic property (r5) --------------------------------

_vocab = ["spark", "join", "data", "x", "y", "the"]
_doc_strategy = st.lists(st.sampled_from(_vocab), min_size=1, max_size=12)
_corpus_strategy = st.lists(_doc_strategy, min_size=2, max_size=8)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=_corpus_strategy)
def test_bm25_matches_python_reference(spark, corpus):
    """bm25_topk must equal a direct Python evaluation of the same
    integer-rational formulation on ANY corpus — pins the operator
    semantics independently of the DuckDB oracle's fixed fixture."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators import retrieval as R

    docs = [" ".join(d) for d in corpus]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    )
    terms = ["spark", "join"]
    got = {
        r["doc_id"]: r["score_u"]
        for r in R.bm25_topk(df, terms, k=100).collect()
    }

    n = len(corpus)
    tt = sum(len(d) for d in corpus)
    import math

    expected: dict[int, int] = {}
    for t in terms:
        dft = sum(1 for d in corpus if t in d)
        for i, d in enumerate(corpus):
            tf = d.count(t)
            if tf == 0:
                continue
            idf = float(2 * n - 2 * dft + 1) / float(2 * dft + 1)
            sat = float(22 * tf * tt) / float(
                10 * tf * tt + 3 * tt + 9 * len(d) * n
            )
            expected[i] = expected.get(i, 0) + math.floor(idf * sat * 1e6)
    assert got == expected


# -- containment-pairs property (r5) ------------------------------------

_cvocab = ["a", "b", "c", "dd", "ee"]
_cdoc = st.lists(st.sampled_from(_cvocab), min_size=1, max_size=10)
_ccorpus = st.lists(_cdoc, min_size=2, max_size=7)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=_ccorpus)
def test_containment_pairs_match_python_reference(spark, corpus):
    """containment_pairs must equal a direct Python evaluation of the
    same semantics (3-gram shingles with whole-doc fallback, rare-gram
    blocking df in [min_df, max_df], exact intersections) on ANY
    corpus."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators import dedup as D

    min_df, max_df, thr = 2, 3, 0.5
    docs = [" ".join(d) for d in corpus]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(docs)])
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_a"], r["n_b"])
        for r in D.containment_pairs(
            df, min_df=min_df, max_df=max_df, threshold=thr
        ).collect()
    }

    def grams(toks):
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets_ = {i: grams(d) for i, d in enumerate(corpus)}
    from collections import Counter

    dfreq = Counter(g for s in sets_.values() for g in s)
    rare = {g for g, c in dfreq.items() if min_df <= c <= max_df}
    expected = {}
    for i in sets_:
        for j in sets_:
            if i < j and (sets_[i] & sets_[j] & rare):
                inter = len(sets_[i] & sets_[j])
                ca, cb = inter / len(sets_[i]), inter / len(sets_[j])
                if max(ca, cb) >= thr:
                    expected[(i, j)] = (inter, len(sets_[i]), len(sets_[j]))
    assert got == expected


# -- incremental connected components == full recompute on random graphs


edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=16,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_strategy, edge_strategy)
def test_incremental_components_equals_full(spark, old_edges, new_edges):
    """For ANY split of an edge set into (historical, incremental),
    dup_clusters(historical) updated by incremental_components(new)
    must equal dup_clusters(all edges) — the maintenance contract."""
    from cust_sagemaker_feature_store_spark.operators.dedup import (
        dup_clusters,
        incremental_components,
    )

    schema = "src long, dst long"
    all_edges = old_edges + new_edges
    if not all_edges:
        return
    full = {
        r["node"]: r["label"]
        for r in dup_clusters(
            spark.createDataFrame(all_edges, schema), "src", "dst"
        ).collect()
    }
    if old_edges:
        base = dup_clusters(
            spark.createDataFrame(old_edges, schema), "src", "dst"
        )
    else:
        base = spark.createDataFrame([], "node long, label long")
    if new_edges:
        got_df = incremental_components(
            base, spark.createDataFrame(new_edges, schema)
        )
    else:
        got_df = base
    got = {r["node"]: r["label"] for r in got_df.collect()}
    assert got == full


# -- grid cell assignment == brute-force integer argmin -----------------


vec_strategy = st.lists(
    st.lists(
        st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vec_strategy)
def test_grid_assign_cells_matches_bruteforce(spark, vecs):
    """grid_assign_cells must agree with a pure-python argmin over the
    same rounded integer grid (ties -> lowest cell) for arbitrary
    float32 vectors."""
    from cust_sagemaker_feature_store_spark.operators.similarity import (
        GRID_CELL_SCALE,
        grid_assign_cells,
    )

    cents = [[GRID_CELL_SCALE, 0, 0, 0], [0, -GRID_CELL_SCALE, 0, 0], [0, 0, 0, 0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cell"] for r in grid_assign_cells(df, cents).collect()
    }
    import math
    import struct

    def half_away(v):
        # Spark round() is half-away-from-zero, NOT python's banker's
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    for i, v in enumerate(vecs):
        # replicate float32 storage then the double multiply+round
        g = [
            half_away(struct.unpack("f", struct.pack("f", x))[0] * GRID_CELL_SCALE)
            for x in v
        ]
        dists = [
            sum((a - b) * (a - b) for a, b in zip(g, c)) for c in cents
        ]
        want = dists.index(min(dists))
        assert got[i] == want, (v, g, dists, got[i])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vec_strategy)
def test_grid_pq_codes_matches_bruteforce(spark, vecs):
    """grid_pq_codes must agree with a pure-python PQ encode over the
    same rounded integer grid (cell argmin -> residual -> per-block
    code argmin, ties -> lowest index) for arbitrary float32
    vectors."""
    from cust_sagemaker_feature_store_spark.operators.similarity import (
        GRID_CELL_SCALE,
        grid_pq_codes,
    )

    cents = [[GRID_CELL_SCALE, 0, 0, 0], [0, -GRID_CELL_SCALE, 0, 0], [0, 0, 0, 0]]
    # 2 blocks of 2 dims, 3 codes each — includes a zero code so ties hit
    books = [
        [[0, 0], [GRID_CELL_SCALE, 0], [-GRID_CELL_SCALE, GRID_CELL_SCALE]],
        [[0, 0], [0, GRID_CELL_SCALE], [GRID_CELL_SCALE, GRID_CELL_SCALE]],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in grid_pq_codes(df, cents, books).collect()
    }
    import math
    import struct

    def half_away(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    for i, v in enumerate(vecs):
        g = [
            half_away(struct.unpack("f", struct.pack("f", x))[0] * GRID_CELL_SCALE)
            for x in v
        ]
        dists = [
            sum((a - b) * (a - b) for a, b in zip(g, c)) for c in cents
        ]
        cell = dists.index(min(dists))
        rv = [a - b for a, b in zip(g, cents[cell])]
        codes = []
        for j, book in enumerate(books):
            rb = rv[j * 2 : (j + 1) * 2]
            bd = [sum((a - b) * (a - b) for a, b in zip(rb, c)) for c in book]
            codes.append(bd.index(min(bd)))
        assert got[i] == (cell, tuple(codes)), (v, g, cell, codes, got[i])


# -- spark: sketch merge theorems under arbitrary shardings -------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-(10**6), max_value=10**6),
        min_size=1,
        max_size=120,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
    k=st.sampled_from([4, 16]),
)
def test_kmv_merge_equals_direct_under_any_sharding(spark, vals, seed, k):
    """KMV merge theorem as a PROPERTY: for any value set and any
    random sharding, the k smallest of the per-shard k-smallest
    distinct-hash sets equals the direct minset (which
    tests/test_sketches.py separately pins against the Python md5
    reference). This is the exact invariant the streaming store's
    serve() and compaction rely on."""
    import random

    from cust_sagemaker_feature_store_spark.operators import sketches as SK

    rng = random.Random(seed)
    df = spark.createDataFrame(
        [(v, rng.randrange(4)) for v in vals], "v long, shard int"
    )
    direct = sorted(
        r["hv"] for r in SK.kmv_minset(df, [], F.col("v"), k).collect()
    )
    merged = sorted(
        r["hv"]
        for r in SK.kmv_merge_minsets(
            SK.kmv_minset(df, ["shard"], F.col("v"), k), [], k
        ).collect()
    )
    assert merged == direct


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=150,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_hll_register_merge_equals_direct_under_any_sharding(
    spark, vals, seed
):
    """HLL merge theorem as a PROPERTY: register-wise MAX over any
    random sharding's register tables equals the direct register
    table — the invariant behind map-side combine, shard folds, and
    the streaming MAX aggregation."""
    import random

    from cust_sagemaker_feature_store_spark.operators import sketches as SK

    rng = random.Random(seed)
    df = spark.createDataFrame(
        [(v, rng.randrange(3)) for v in vals], "v long, shard int"
    )
    direct = {
        (r["bucket"], r["register"])
        for r in SK.hll_registers(df, [], F.col("v")).collect()
    }
    merged = {
        (r["bucket"], r["register"])
        for r in SK.hll_registers(df, ["shard"], F.col("v"))
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .collect()
    }
    assert merged == direct


# -- 4. codec round trips are identities / bounded, for ARBITRARY inputs --
# (the fixture-rule tests pin specific rasters; hypothesis hunts the
# edge geometry — 1-pixel images, single-color palettes, max-entropy
# noise, every filter/interlace combination)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_gif_roundtrip_is_identity_on_arbitrary_rasters(data):
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    h = data.draw(st.integers(1, 24), label="h")
    w = data.draw(st.integers(1, 24), label="w")
    p = data.draw(st.integers(2, 256), label="palette_size")
    interlace = data.draw(st.booleans(), label="interlace")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
    idx = rng.randint(0, p, (h, w))
    dec = decode_gif(encode_gif(idx, pal, interlace=interlace))
    assert dec.shape == (h, w, 3)
    assert np.array_equal(dec, pal[idx])


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_png_roundtrip_is_identity_across_color_types(data):
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    h = data.draw(st.integers(1, 16), label="h")
    w = data.draw(st.integers(1, 16), label="w")
    kind = data.draw(
        st.sampled_from(["gray", "rgb", "rgba", "palette"]), label="kind"
    )
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h), label="filters"
    )
    rng = np.random.RandomState(seed)
    if kind == "palette":
        p = data.draw(st.integers(1, 256), label="palette_size")
        pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
        idx = rng.randint(0, p, (h, w))
        dec = decode_png(encode_png(idx, row_filters=filters, palette=pal))
        assert np.array_equal(dec, pal[idx])
    elif kind == "gray":
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        dec = decode_png(encode_png(px, row_filters=filters))
        assert np.array_equal(dec, px)
    else:
        ch = 3 if kind == "rgb" else 4
        px = rng.randint(0, 256, (h, w, ch)).astype(np.uint8)
        dec = decode_png(encode_png(px, row_filters=filters))
        assert np.array_equal(dec, px)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_jpeg_error_bound_theorem_on_arbitrary_images(data):
    """All-ones quant tables round each orthonormal-DCT coefficient by
    <= 1/2, so |decode - source| < 8 for EVERY image — a theorem, so
    hypothesis gets to pick the raster, dims, color mode, and restart
    interval."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    h = data.draw(st.integers(1, 20), label="h")
    w = data.draw(st.integers(1, 20), label="w")
    gray = data.draw(st.booleans(), label="gray")
    restart = data.draw(st.sampled_from([0, 1, 2, 5]), label="restart")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    rng = np.random.RandomState(seed)
    if gray:
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(px, restart_interval=restart))
        assert dec.shape == (h, w)
        assert np.abs(dec.astype(int) - px.astype(int)).max() <= 8
    else:
        # ycbcr verbatim: the error bound applies per channel before
        # the color transform, so test through Cb=Cr=128 exactness
        y = rng.randint(0, 256, (h, w)).astype(np.uint8)
        img = np.stack([y, np.full_like(y, 128), np.full_like(y, 128)], 2)
        dec = decode_jpeg(
            encode_jpeg(img, colorspace="ycbcr", restart_interval=restart)
        )
        assert np.abs(dec[:, :, 0].astype(int) - y.astype(int)).max() <= 8
        assert np.array_equal(dec, np.repeat(dec[:, :, :1], 3, axis=2))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=64))
def test_g711_requantization_is_idempotent(samples):
    """compress is a quantizer: expand(compress(x)) lands on a decoder
    level, and quantizing twice equals quantizing once at the VALUE
    level: expand(compress(expand(compress(x)))) == expand(compress(x)).

    Byte-level idempotence is deliberately NOT asserted: G.711 mu-law
    has dual +/-0 codes (0xFF and 0x7F both decode to 0), so
    compress(-1) = 0x7F decodes to 0 which re-compresses to 0xFF — the
    canonical Sun/CCITT reference fails a byte-equality assertion at
    x = -1 by spec (r15 verdict finding)."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    s = np.asarray(samples, dtype=np.int16)
    for comp, exp in ((mulaw_compress, mulaw_expand), (alaw_compress, alaw_expand)):
        level = exp(comp(s))
        assert np.array_equal(exp(comp(level)), level)


def test_g711_expand_matches_ccitt_reference_tables():
    """Full-table parity: our vectorized mulaw_expand / alaw_expand
    agree byte-for-byte with from-the-spec scalar reimplementations of
    the public Sun/CCITT ulaw2linear / alaw2linear recipes over all
    256 code bytes, and compress round-trips every decoder level back
    to its code (involution on the code side, modulo mu-law's dual
    zero: 0x7F's level 0 canonically re-compresses to 0xFF)."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    def ulaw2linear_ref(u):  # CCITT G.711 / Sun g711.c recipe
        u = ~u & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    def alaw2linear_ref(a):
        a ^= 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        return t if (a & 0x80) else -t

    codes = np.arange(256, dtype=np.uint8)
    assert np.array_equal(
        mulaw_expand(codes),
        np.array([ulaw2linear_ref(b) for b in range(256)], dtype=np.int16),
    )
    assert np.array_equal(
        alaw_expand(codes),
        np.array([alaw2linear_ref(b) for b in range(256)], dtype=np.int16),
    )
    # code-side involution: every decoder level re-compresses to its
    # own code, except mu-law negative zero (0x7F -> level 0 -> 0xFF)
    mu_back = mulaw_compress(mulaw_expand(codes))
    mismatch = np.nonzero(mu_back != codes)[0]
    assert mismatch.tolist() == [0x7F] and mu_back[0x7F] == 0xFF
    assert np.array_equal(alaw_compress(alaw_expand(codes)), codes)
