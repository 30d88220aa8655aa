"""Deduplication operators for LLM data pipelines (SURVEY.md §2.10 [EXT]).

Four tiers, cheapest first — the standard large-corpus dedup ladder:

1. exact row dedup        -> dropDuplicates (hash shuffle on the cols)
2. exact content dedup    -> md5(normalized text), keep min id per hash
3. near-dup, set overlap  -> word-shingle Jaccard via shingle-explode +
                             self-join (exact but quadratic in bucket)
4. near-dup at scale      -> MinHash banding: constant-size signature
                             per doc, candidates = band-bucket join,
                             then exact Jaccard only on candidates

At 100 TB tier 3 alone is infeasible (the shingle self-join explodes on
common shingles); tier 4 bounds the join to band buckets, giving the
classic LSH trade-off. Signatures are built from md5 components
(operators/text.minhash_value) so every tier stays oracle-checkable.
SimHash is also provided (bit-vector of weighted token hashes) as the
Hamming-distance variant.
"""

from __future__ import annotations

import math
from fractions import Fraction
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .spread import spread_for_compute
from .text import content_fingerprint, shingles, tokens


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Tier 1: drop exact duplicate rows (optionally on a column subset)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def content_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tier 2: group by normalized-content hash; one output row per
    distinct content with the kept (minimum) id and duplicate count."""
    return (
        df.select(F.col(id_col), content_fingerprint(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs — the input relation for Jaccard
    and MinHash."""
    return (
        spread_for_compute(df)
        .select(F.col(id_col), F.explode(shingles(tokens(text_col), k)).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Tier 3: exact word-k-gram Jaccard over all pairs sharing >=1
    shingle. Output: doc_a, doc_b, intersection size, jaccard."""
    sets_ = shingle_sets(df, text_col, id_col, k)
    sizes = sets_.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sets_.alias("a"), sets_.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.shingle") == F.col(f"b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "jaccard")


def candidate_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """Exact word-k-gram Jaccard for every MinHash BAND CANDIDATE pair
    — the verify tier restricted to LSH candidates, so the quadratic
    shingle intersection touches only bucket-collision pairs, never all
    pairs (the shape that survives 100 TB). Output: (doc_a, doc_b,
    inter, jaccard); a bucket collision without a shared shingle (only
    possible via md5 collision) scores 0 instead of dropping out."""
    cand = minhash_candidates(
        df, text_col, id_col, num_hashes, rows_per_band, k
    ).select("doc_a", "doc_b")
    sets_ = shingle_sets(df, text_col, id_col, k)
    sizes = sets_.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(
            sets_.select(F.col(id_col).alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sets_.select(F.col(id_col).alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    i = F.coalesce(F.col("inter"), F.lit(0))
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            i.cast("long").alias("inter"),
            (i.cast("double") / (F.col("n_a") + F.col("n_b") - i)).alias("jaccard"),
        )
    )


def threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.85, 0.90, 0.95, 0.99),
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """Dedup-threshold sensitivity curve: for each Jaccard threshold,
    how many verified pairs survive, how many clusters they form, and
    how many documents keep-one-per-cluster dedup would remove — the
    report that decides a dedup pass BEFORE committing it (pairs with
    dedup_cluster_size_histogram, which fixes the threshold and breaks
    out cluster sizes).

    One pass over the shared band candidates: `candidate_jaccard` runs
    ONCE and is pinned (localCheckpoint — each threshold's component
    contraction is its own job chain, and cross-job exchange reuse does
    not exist); each threshold then filters the tiny verified-pair
    table and contracts components. Removable-doc counts are monotone
    non-increasing in the threshold by construction (edge sets are
    nested), which the regression test pins.

    Output: (threshold, n_pairs, n_clusters, n_docs, n_removable),
    one row per threshold; n_docs counts documents in >=1 surviving
    pair."""
    if not thresholds:
        raise ValueError("threshold_sweep needs at least one threshold")
    jac = candidate_jaccard(
        df, text_col, id_col, num_hashes, rows_per_band, k
    ).localCheckpoint(eager=True)
    out = None
    for t in thresholds:
        edges = jac.filter(F.col("jaccard") >= float(t)).select("doc_a", "doc_b")
        labels = dup_clusters(edges, "doc_a", "doc_b")
        stats = labels.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("label").cast("long").alias("n_clusters"),
        )
        n_pairs = edges.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        row = n_pairs.crossJoin(stats).select(
            F.lit(float(t)).alias("threshold"),
            "n_pairs",
            "n_clusters",
            "n_docs",
            (F.col("n_docs") - F.col("n_clusters")).cast("long").alias("n_removable"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def allpairs_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float | tuple[int, int] = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity join >= `threshold` via
    prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07; Xiao et al. PPJoin's prefix-filtering principle).

    Unlike MinHash banding (tier 4 — probabilistic recall), this is a
    LOSSLESS pruning of the naive all-pairs join: order the shingle
    universe globally by ascending document frequency (rarest first,
    shingle string as tie-break); a pair with Jaccard >= t over sets
    A, B must have |A∩B| >= ceil(t*|A|), and by the prefix-filtering
    principle must therefore share a shingle within the first
    |A| - ceil(t*|A|) + 1 shingles of EACH set in that global order.
    Candidates are generated only from those prefixes, then verified
    with the exact intersection count.

    Scale story: candidate volume is the self-join of PREFIX posting
    lists, which the rare-first ordering makes the shortest available
    — at 100 TB the frequent shingles (the quadratic blowup in a naive
    shingle self-join) never enter candidate generation, because they
    sort to the suffixes. Two extra shuffles (df count, per-doc
    row_number) buy the pruning; both carry compact derived columns.

    Output: (doc_a, doc_b, inter, jaccard) — identical, by the
    lossless-pruning argument, to the naive all-pairs join the oracle
    computes.

    Threshold arithmetic (ADVICE r10 #1): every bound derived from the
    threshold runs in EXACT integer arithmetic on the rational num/den
    — a float threshold is read as its shortest round-trip decimal
    (so 0.55 means exactly 11/20), or pass a (num, den) tuple
    directly. The former double forms were unsound at boundaries:
    F.ceil(n * t) overshoots by an ULP when n*t lands on an integer
    (t=0.55, n=100 gave ceil 56, not 55), silently shortening the
    prefix below the lossless bound, and the double length filter
    (b.n >= a.n * t) excluded exact size-ratio boundary pairs.

    Computed-float thresholds whose round-trip decimal exceeds a 1e-6
    denominator (1/3, 0.1 + 0.2, ...) are FLOORED onto the 1e-6 grid,
    so the EFFECTIVE threshold is floor(t*1e6)/1e6 <= t and the result
    may include pairs with Jaccard in [floor(t*1e6)/1e6, t) — i.e.
    slightly below the float the caller wrote (ADVICE r12 #2
    documents this broadened-result semantics). The join is exact at
    the effective rational; callers needing the exact float cut can
    re-filter the returned `jaccard`, or pass the intended (num, den)
    tuple to avoid the grid entirely."""
    if isinstance(threshold, tuple):
        frac = Fraction(*threshold)
        if frac.denominator > 1_000_000:
            # an explicit tuple with a huge denominator is a caller
            # error — rounding a deliberately-exact rational would be
            # worse than refusing it.
            raise ValueError(
                "threshold denominator too large for exact int64 "
                f"bounds ({frac.denominator}); pass a (num, den) "
                "tuple with a denominator <= 1e6"
            )
    else:
        # repr round-trip: the shortest decimal that parses back to
        # this double — i.e. the threshold the caller actually wrote.
        frac = Fraction(str(float(threshold)))
        if frac.denominator > 1_000_000:
            # computed floats (1/3, 0.1 + 0.2, ...) round-trip to huge
            # denominators; conservatively FLOOR onto a 1e-6 grid
            # instead of raising (r11 advice — the pre-r11 code
            # accepted any float here). Rounding down keeps the query
            # a coherent exact join at a threshold <= the caller's, so
            # no pair the caller wanted is lost; the verify filter
            # uses the same rational, so results stay exact.
            frac = Fraction(
                math.floor(float(threshold) * 1_000_000), 1_000_000
            )
    if not (0 < frac <= 1):
        raise ValueError(f"threshold must be in (0, 1], got {frac}")
    num, den = frac.numerator, frac.denominator
    sets_ = shingle_sets(df, text_col, id_col, k)
    sizes = sets_.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    dfreq = sets_.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # per-doc global-order position; df=1 shingles can never produce a
    # candidate pair, but they still occupy prefix positions (the
    # ordering is over the full set), so they stay in the ranking.
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    ranked = (
        sets_.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, id_col)
    )
    # lossless prefix length: n - ceil(n*num/den) + 1, the ceil as
    # exact integral division (n*num + den - 1) div den — never the
    # double product (ADVICE r10 #1).
    min_inter = F.expr(f"(n * {num}L + {den - 1}L) div {den}L")
    prefix_len = F.col("n") - min_inter + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(id_col, "shingle", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        # length filter: Jaccard >= t forces t <= |A|/|B| <= 1/t,
        # cross-multiplied to exact integers (b.n >= a.n * num/den).
        .filter(
            (F.col("b.n") * F.lit(den) >= F.col("a.n") * F.lit(num))
            & (F.col("a.n") * F.lit(den) >= F.col("b.n") * F.lit(num))
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(sets_.select(F.col(id_col).alias("doc_a"), "shingle"), "doc_a")
        .join(
            sets_.select(F.col(id_col).alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        # exact verify: inter/union >= num/den, cross-multiplied —
        # the double `jaccard` column is report-only.
        .filter(
            F.col("inter") * F.lit(den)
            >= (F.col("n_a") + F.col("n_b") - F.col("inter")) * F.lit(num)
        )
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    k: int = 3,
) -> DataFrame:
    """Tier 4a: per-doc MinHash signature, one md5-derived min per seed.

    Computed entirely map-side with array expressions — md5 each shingle
    once per document, then `array_min` per 8-hex slice. Zero shuffles
    (the explode+distinct+groupBy formulation costs two); min over the
    shingle multiset equals min over the distinct set, so semantics are
    unchanged and the SQL oracle still matches. At 100 TB this is the
    difference between a narrow scan and shuffling every (doc, shingle)
    pair."""
    def slice_min(s: int):
        # single-arg lambda: pyspark treats 2-arg lambdas as (elem, idx)
        return F.array_min(
            F.transform(F.col("_mh_h"), lambda h: F.substring(h, 1 + 8 * s, 8))
        ).alias(f"mh{s}")

    df = spread_for_compute(df)
    hashed = df.withColumn("_mh_h", F.transform(shingles(tokens(text_col), k), F.md5))
    return hashed.select(F.col(id_col), *[slice_min(s) for s in range(num_hashes)])


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """Tier 4b: LSH banding — hash `rows_per_band` signature components
    per band; docs sharing any band bucket become candidate pairs.
    Output: doc_a, doc_b, n_shared_bands."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k)
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat(
                        *[
                            F.col(f"mh{bi * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                ).alias("bucket"),
            )
            for bi in range(n_bands)
        ]
    )
    exploded = sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    # Repartition on the join keys BEFORE self-joining: the hash exchange
    # carries only (id, band, 32-hex) — tiny — and makes both join sides
    # byte-identical plans, so Spark computes the shingle/md5 work once
    # and reads the second side from ReusedExchange. Without it the
    # map-side signature pipeline (no shuffle at all) is evaluated twice
    # at scan parallelism, which is slower than the shuffle it saves.
    # Explicit partition count: the exchange is BYTE-tiny but the join
    # above it does quadratic per-bucket verify work, so AQE's byte-
    # based coalescing would run it on one core (guide §2 — partition
    # count must follow compute here, not shuffle size).
    exploded = exploded.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "band", "bucket"
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance (Manku/Jain/Sarma,
    WWW'07): split each 64-bit fingerprint into 4 16-bit chunks; any
    two fingerprints within Hamming distance 3 must agree on at least
    one chunk (pigeonhole), so candidate generation is 4 bucket-joins —
    never an all-pairs scan. Exact popcount(xor) then filters the
    candidates. Output: doc_a, doc_b, hamming."""
    fp = simhash64(df, text_col, id_col)
    chunks = F.array(
        *[
            F.struct(
                F.lit(ci).alias("ci"),
                F.shiftrightunsigned(F.col("simhash"), 16 * ci)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("cv"),
            )
            for ci in range(4)
        ]
    )
    exploded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")
    ).select(id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    # same trick as minhash_candidates: hash-repartition the compact
    # banded rows so both self-join sides share one exchange; explicit
    # count so AQE's byte-based coalescing can't serialize the
    # quadratic per-bucket Hamming verify
    exploded = exploded.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "ci", "cv"
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()  # a pair can share several chunks
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens using xxhash64 bit votes.

    Engine-native hash (not oracle-portable) — verified by property
    tests (near-identical docs -> small Hamming distance), exposed as a
    rows-only query. One narrow pass + one groupBy(doc).
    """
    tok = spread_for_compute(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    h = tok.withColumn("h", F.xxhash64("token"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{bit}")
        for bit in range(64)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    fingerprint = reduce(
        lambda acc, bit: acc.bitwiseOR(
            F.when(
                F.col(f"b{bit}") > 0, F.shiftleft(F.lit(1).cast("long"), bit)
            ).otherwise(F.lit(0).cast("long"))
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Orient every edge larger-id -> smaller-id, drop self-loops, dedupe."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: each node u links every STRICTLY LARGER neighbor to
    the minimum of its closed neighborhood min(Γ(u) ∪ {u})."""
    d = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = d.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    # emitted (v, m) always has v > u >= m, so orientation + no-self-loop
    # are preserved by construction; only dedupe is needed.
    return (
        d.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: each node u links all its SMALLER-OR-EQUAL neighbors
    (and itself) to the minimum of that set. Input must be canonically
    oriented (src > dst), so the per-u smaller-neighbor set is exactly
    u's dst list."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        edges.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = mins.select("src", F.col("m").alias("dst"))
    return (
        relink.unionByName(self_link)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def dup_clusters(
    pairs: DataFrame,
    src_col: str,
    dst_col: str,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected dup-pair graph — the
    step that turns candidate PAIRS into droppable CLUSTERS (keep the
    min-id representative per component, drop the rest).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014 — public
    algorithm): each round, large-star hangs every node's larger
    neighbors off its neighborhood minimum, then small-star re-hangs the
    smaller neighbors; both preserve connectivity, and the graph
    contracts to one depth-1 star per component (every node pointing at
    the component MINIMUM) in O(log² n) rounds REGARDLESS of diameter.
    This replaces round-3's hash-min label propagation, which re-joined
    the full edge set for diameter-many rounds — a pathological
    high-diameter component (a chain of near-dups) would grind at
    100 TB, where log² n is ~10 rounds for any corpus. Per-round work
    also SHRINKS as stars form (edges collapse onto roots and dedupe),
    and ``localCheckpoint`` truncates lineage so plan depth stays O(1)
    per round. Skewed mega-components make the star root a hot join key;
    AQE skew-join splitting handles that at runtime (the aggregation
    side is map-side-combined and skew-safe by construction).

    Deterministic: the component label is the component's minimum node
    id. Output: one row per node appearing in ``pairs`` —
    (node, label); singletons are the caller's complement set.

    Raises after ``max_iter`` rounds without a fixpoint rather than
    silently emitting half-merged clusters (log² bound makes the
    default unreachable for any real input).
    """
    nodes = (
        pairs.select(F.col(src_col).cast("long").alias("node"))
        .unionByName(pairs.select(F.col(dst_col).cast("long").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = _canonical_edges(
        pairs.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # canonical + distinct on both sides: equal counts plus an empty
        # one-sided difference ⟺ identical edge sets (the star fixpoint)
        if (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        ):
            stars = new_edges.select(
                F.col("src").alias("node"), F.col("dst").alias("label")
            )
            return nodes.join(stars, "node", "left").select(
                "node", F.coalesce("label", F.col("node")).alias("label")
            )
        edges = new_edges
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds; "
        "this exceeds the O(log² n) star-contraction bound — the input "
        "graph is larger than any supported corpus, raise max_iter"
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_df: int = 2,
    max_df: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram containment C(A,B) = |A∩B| / |A| — catches
    quote-inclusion / partial-copy pairs that symmetric Jaccard dilutes
    (a short doc fully quoted inside a long one has high containment
    but low Jaccard).

    Candidate generation is *rare-gram blocking*: only shingles whose
    document frequency lies in [min_df, max_df] propose pairs, so the
    pair blowup per shingle is bounded by max_df choose 2 and stopword-
    grade shingles propose nothing — the inverted-index analogue of a
    skew guard. Exact intersection sizes are then computed only for
    proposed candidates. A pair sharing exclusively ultra-common grams
    is invisible by design (contract: rare-gram evidence required).

    Output: doc_a < doc_b with n_common/n_a/n_b and both containment
    directions (each one exact int64 division), filtered to
    max(C(A,B), C(B,A)) >= threshold.

    The distinct (id, shingle) relation feeds several differently-
    grouped consumers whose aliases differ, so Catalyst's
    ReusedExchange never fires and the tokenize→shingle→explode→
    distinct pipeline would re-run for each (measured: 16 scans, 0
    reuse before this layout). It is pinned once, eagerly — exactly
    what a 100 TB run would do by materializing the gram relation
    before fan-out. localCheckpoint, not persist: blocks are
    GC-reclaimed, no caller-managed unpersist (functions/ids.py
    rationale).

    Intersections are computed as array_intersect over per-document
    gram ARRAYS (bounded by document length — safe to collect, unlike
    corpus-keyed lists), joined to the candidate pairs. The naive
    alternative — candidates x gram-rows twice, then count — shuffles
    |pairs| x |grams/doc| narrow rows (measured 18M at sf0.1 and
    collapsed to one task by AQE's byte-based estimate); the array
    form moves the same O(len) per-pair work without the row
    explosion, and n_a/n_b fall out of the same arrays for free.
    """
    sets_ = shingle_sets(df, text_col, id_col, k).localCheckpoint(eager=True)
    dfreq = sets_.groupBy("shingle").agg(F.count(F.lit(1)).alias("__c"))
    rare = dfreq.filter(F.col("__c").between(min_df, max_df)).select("shingle")
    blocked = sets_.join(rare, "shingle")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    garr = sets_.groupBy(id_col).agg(F.collect_list("shingle").alias("__g"))
    ga = garr.select(F.col(id_col).alias("doc_a"), F.col("__g").alias("__ga"))
    gb = garr.select(F.col(id_col).alias("doc_b"), F.col("__g").alias("__gb"))
    out = (
        spread_for_compute(cand)
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__ga", "__gb")).cast("long").alias("n_common"),
            F.size("__ga").cast("long").alias("n_a"),
            F.size("__gb").cast("long").alias("n_b"),
        )
        .withColumn(
            "containment_a", F.col("n_common").cast("double") / F.col("n_a")
        )
        .withColumn(
            "containment_b", F.col("n_common").cast("double") / F.col("n_b")
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= threshold
        )
    )
    return out.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        "containment_a", "containment_b",
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH band rows for cross-frame probing — the
    storable dedup index an incremental ingest pipeline keeps for the
    corpus so a new batch can be checked without re-signing history.
    Band construction mirrors `minhash_candidates` exactly (same md5
    bucket over `rows_per_band` signature components); it is kept as a
    separate function rather than refactoring `minhash_candidates`
    through it so the shipped self-join operator — and the driver-green
    evidence attached to its bytes — stays untouched."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k)
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat(
                        *[
                            F.col(f"mh{bi * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                ).alias("bucket"),
            )
            for bi in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def incremental_dedup_status(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """Classify each NEW-batch document against an existing corpus
    index: 'exact_dup' (content hash already present), 'near_dup'
    (shares an LSH band bucket with some corpus doc), else 'new' —
    the incremental-ingest dedup mode a 100 TB pipeline actually runs
    (dedup the delta against stored indexes, never re-dedup history).

    `corpus_hashes` is a 1-column frame of md5(lower(trim(text)))
    values; `corpus_bands` is a (band, bucket) frame — both are the
    byte-sized INDEX of the corpus (what would be persisted between
    batches), so the corpus text itself is never rescanned here. Both
    probes are left-semi joins: nothing corpus-sized flows to the
    batch side beyond the matched keys."""
    bh = batch.select(
        F.col(id_col), F.md5(F.lower(F.trim(F.col(text_col)))).alias("__h")
    )
    exact = bh.join(
        corpus_hashes.select(F.col(corpus_hashes.columns[0]).alias("__h")),
        "__h",
        "semi",
    ).select(id_col)
    bb = minhash_bands(batch, text_col, id_col, num_hashes, rows_per_band, k)
    near = (
        bb.join(
            corpus_bands.select("band", "bucket").distinct(),
            ["band", "bucket"],
            "semi",
        )
        .select(id_col)
        .distinct()
    )
    return (
        batch.select(id_col)
        .join(exact.withColumn("__e", F.lit(1)), id_col, "left")
        .join(near.withColumn("__n", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("__e") == 1, F.lit("exact_dup"))
            .when(F.col("__n") == 1, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Update connected-component labels under NEW edges without
    recomputing over the old edge set — the cluster-state maintenance
    an incremental dedup pipeline runs when a fresh shard's candidate
    pairs arrive (the component analogue of incremental_dedup_status).

    `labels` is dup_clusters' output contract: (node, label) with
    label = the component's minimum node id. New edges map their
    endpoints through the existing labels (unknown nodes label
    themselves); the DISTINCT label pairs that differ form a
    COMPONENT graph — its size is bounded by the number of components
    the new edges touch, never the corpus — and star-contraction over
    that tiny graph yields the label merges, applied back with one
    broadcast-sized remap join.

    Correctness: the merged component's new label is the minimum of
    the merged old labels, and each old label is already its
    sub-component's minimum node id, so the min-id invariant is
    preserved — the output is IDENTICAL to dup_clusters over the
    union of old and new edges (pinned by the
    dedup_incremental_components oracle, whose ground truth is the
    full recompute).

    Scale story: one hash join of the new edges against the label
    store, a component-sized star contraction, one remap join.
    Nothing touches historical edges or text."""
    e = new_edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    new_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # label lookup for every endpoint; unseen nodes label themselves
    lab = (
        new_nodes.join(labels, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
        .localCheckpoint(eager=True)  # feeds two join sides + the union
    )
    le = (
        e.join(lab.withColumnRenamed("node", "src").withColumnRenamed("label", "la"), "src")
        .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("label", "lb"), "dst")
        .filter(F.col("la") != F.col("lb"))
        .select("la", "lb")
        .distinct()
    )
    # all known nodes: old store + newly seen endpoints
    combined = labels.unionByName(lab.join(labels, "node", "left_anti"))
    if not le.take(1):
        return combined
    merged = dup_clusters(le, "la", "lb").select(
        F.col("node").alias("label"), F.col("label").alias("__new")
    )
    return (
        combined.join(F.broadcast(merged), "label", "left")
        .select("node", F.coalesce("__new", F.col("label")).alias("label"))
    )
