"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.10 [EXT]).

Pure Column expressions over `pyspark.sql.functions` — JVM-side,
whole-stage-codegen'd, no Python in the hot path — plus two
DataFrame-level operators built from them (`winnow_fingerprint_rows`,
`contamination_overlap`). Each has an exact SQL twin used by the DuckDB
oracles (queries/text_q.py), so semantics are pinned by the correctness
gate, not by convention.

Design note for 100 TB: everything here is embarrassingly parallel
(per-row narrow transforms). The only shuffles in the downstream
queries are the groupBys on hash/shingle keys, which carry compact
derived columns, never the raw text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .spread import spread_for_compute

TOKEN_SPLIT_RE = r"\s+"

# Tiny per-language stopword profiles for the rule-based language-ID
# heuristic. Deliberately small and explicit: the heuristic is defined
# BY these lists (same lists live in the SQL oracle).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
    "es": ("el", "la", "de", "y", "que", "en", "un"),
    "fr": ("le", "la", "les", "et", "de", "un", "une"),
    "zh": ("的", "是", "了", "在", "和", "有", "我"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the canonical token counter's base)."""
    return F.split(F.trim(_col(text)), TOKEN_SPLIT_RE)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish regex tokenization: word pieces, numbers, or single
    non-space symbols — a deterministic proxy for subword token counts."""
    return F.regexp_extract_all(_col(text), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in `words` (not distinct)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    t = _col(text)
    stripped = F.regexp_replace(t, r"[a-zA-Z0-9\s]", "")
    return F.length(stripped).cast("double") / F.length(t)


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles; documents shorter than k yield one shingle
    (the whole token string), so no document silently drops out."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    whole = F.array(F.concat_ws(" ", toks))
    return F.when(n >= k, grams).otherwise(whole)


def max_gram_count(grams: Column) -> Column:
    """Occurrence count of the MOST FREQUENT element of a per-document
    gram array (the Gopher top-n-gram repetition signal, Rae et al.
    2021 §A1.1 — public paper). Pure column expression, entirely
    map-side — for a doc-local statistic the explode + two-level
    groupBy alternative would shuffle every (doc, gram) pair at 100 TB.
    Computed as the longest equal-run of the SORTED gram array via one
    aggregate fold: O(n log n) per row. (The obvious
    transform-over-distinct x filter formulation is O(distinct x n)
    interpreted lambda evaluations — measured 20s for 500 mid-size docs
    on one core; this fold is ~100x fewer lambda steps.)"""
    s = F.array_sort(grams)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(s, zero, step, lambda acc: acc["best"])


def dup_gram_frac(grams: Column) -> Column:
    """Fraction of a document's gram occurrences that are repeats of an
    earlier gram (1 - distinct/total) — the Gopher duplicate-n-gram
    fraction, doc-local and map-side like `max_gram_count`."""
    return F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / F.size(grams)


def content_fingerprint(text: Column | str) -> Column:
    """Deterministic content hash of normalized text (lower+trim) —
    exact-dedup key and document fingerprint."""
    return F.md5(F.lower(F.trim(_col(text))))


def winnow_fingerprint_rows(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every char k-gram of the normalized text, take the
    min hash of each sliding window of w hashes, dedupe. The classic
    rolling-hash fingerprint for plagiarism/near-dup detection —
    guaranteed to share fingerprints with any document that shares a
    run of >= k+w-1 chars. One output row per (doc, fingerprint).

    The gram-hash array is materialized behind a Generate (`inline` of
    a one-struct array) before the sliding-window pass. This matters:
    a single nested expression would re-evaluate the whole O(n) md5
    array inside every window lambda — O(n*w) md5 calls per document —
    because Catalyst cannot hoist loop-invariant subexpressions out of
    higher-order-function lambdas, and CollapseProject re-inlines plain
    projections. The Generate barrier pins one evaluation per row while
    staying map-side (no shuffle, no Python)."""
    df = spread_for_compute(df)
    t = F.lower(F.trim(F.col(text_col)))
    # gram positions 1..len-k+1 (min 1 so short docs yield one gram)
    hi_g = F.greatest(F.length(t) - F.lit(k - 2), F.lit(2))
    hs = F.transform(
        F.sequence(F.lit(1), hi_g - F.lit(1)),
        lambda i: F.substring(F.md5(F.substring(t, i, k)), 1, 8),
    )
    staged = df.select(
        F.col(id_col), F.inline(F.array(F.struct(hs.alias("_hs"))))
    )
    arr = F.col("_hs")
    hi_w = F.greatest(F.size(arr) - F.lit(w - 2), F.lit(2))
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), hi_w - F.lit(1)),
            lambda i: F.array_min(F.slice(arr, i, w)),
        )
    )
    return staged.select(F.col(id_col), F.explode(mins).alias("fp"))


CONTAM_BROADCAST_MAX_DOCS = 50_000
"""Benchmark-size cutoff for the broadcast plan in
`contamination_overlap`'s auto strategy. Real benchmark suites are
10^2..10^5 documents (MBs of grams — comfortably under Spark's default
10 MB autoBroadcast threshold after dedup); anything larger joins as a
shuffle so the driver never materializes an unbounded gram set."""


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    gram_n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    exclude_same_id: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """Benchmark-contamination detection (the GPT-3/PaLM n-gram-overlap
    decontamination step, public methodology): every corpus document
    sharing at least one exact word `gram_n`-gram with any benchmark
    document, with shared-gram and benchmark-doc counts per hit.
    Returns (doc_id, n_shared_grams, n_bench_docs).

    The benchmark is a caller-supplied DataFrame, NOT a corpus slice —
    the join strategy is chosen by benchmark size, never corpus size:

    - ``strategy="broadcast"``: hint the (deduped, compact) benchmark
      gram set for a map-side hash join — the corpus's raw grams never
      shuffle. Right whenever the benchmark is a real suite (MBs).
    - ``strategy="shuffle"``: SHUFFLE_HASH hint on the benchmark side;
      both sides exchange on `gram` and the benchmark is never
      materialized on one node, even when catalog stats underestimate
      it (the failure mode this strategy exists to rule out). Right
      when the benchmark is itself corpus-scale (e.g. corpus x corpus
      contamination studies).
    - ``strategy="auto"`` (default): one bounded probe job counts
      benchmark *documents* (column-pruned scan of the benchmark side
      only) and picks broadcast iff it is <= CONTAM_BROADCAST_MAX_DOCS.
      The probe never touches the corpus, so its cost is independent of
      corpus scale.

    `exclude_same_id` drops gram matches where the corpus id equals the
    benchmark id — for held-out-slice fixtures where the benchmark is
    carved from the corpus itself and every doc trivially matches
    itself.
    """
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")
    bench_id_col = bench_id_col or id_col
    bench_text_col = bench_text_col or text_col
    grams = spread_for_compute(corpus).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(tokens(text_col), gram_n))).alias("gram"),
    )
    bench_grams = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(
            F.array_distinct(shingles(tokens(bench_text_col), gram_n))
        ).alias("bench_gram"),
    )
    if strategy == "auto":
        n_bench = benchmark.select(bench_id_col).count()
        strategy = (
            "broadcast" if n_bench <= CONTAM_BROADCAST_MAX_DOCS else "shuffle"
        )
    if strategy == "broadcast":
        bench_grams = F.broadcast(bench_grams)
    else:
        bench_grams = bench_grams.hint("shuffle_hash")
    cond = F.col("g.gram") == F.col("b.bench_gram")
    if exclude_same_id:
        cond = cond & (F.col("g.doc_id") != F.col("b.bench_id"))
    return (
        grams.alias("g")
        .join(bench_grams.alias("b"), cond)
        .groupBy(F.col("g.doc_id").alias("doc_id"))
        .agg(
            F.countDistinct("g.gram").alias("n_shared_grams"),
            F.countDistinct("b.bench_id").alias("n_bench_docs"),
        )
    )


def doc_line_segments(
    docs: DataFrame,
    line_tokens: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment each document into fixed-width non-overlapping token
    "lines" — the unit of cross-document boilerplate dedup (the
    CCNet/RefinedWeb line-dedup tier; public methodology). Real corpora
    carry newlines and segment with ``split(text, '\\n')``; this
    corpus's synthetic documents are single-line word streams, so the
    segmenter is a fixed `line_tokens`-token chunker instead — every
    downstream step (normalization, df counting, stripping) is
    segmenter-agnostic.

    Normalization = whitespace tokenization + single-space rejoin, so a
    line's identity is its token sequence, not its raw spacing. Pure
    per-row narrow transform (sequence + posexplode), map-side at any
    scale. Returns (doc_id, line_no, line)."""
    if line_tokens < 1:
        raise ValueError("line_tokens must be >= 1")
    docs = spread_for_compute(docs)
    toks = tokens(text_col)
    n_seg = F.greatest(
        F.ceil(F.size(toks) / float(line_tokens)).cast("int"), F.lit(1)
    )
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * line_tokens + F.lit(1), line_tokens), " "
        ),
    )
    return docs.select(
        F.col(id_col), F.posexplode(segs).alias("line_no", "line")
    )


def line_document_frequency(
    lines: DataFrame, line_col: str = "line", id_col: str = "doc_id"
) -> DataFrame:
    """Document frequency per normalized line: in how many DISTINCT
    documents does each line occur (df), and how many times in total
    (n_total)? The table that DEFINES boilerplate — headers, nav text,
    license blocks are exactly the lines with high df.

    Two-level aggregation instead of countDistinct: the first groupBy
    on (line, doc) gets a map-side partial (most duplication is
    in-document repetition, combined before the shuffle), the second
    reduces per line. Both shuffles carry compact (hashable) line keys,
    never document text."""
    per_doc = lines.groupBy(line_col, id_col).agg(F.count("*").alias("__n"))
    return per_doc.groupBy(line_col).agg(
        F.count("*").alias("df"), F.sum("__n").alias("n_total")
    )


def strip_boilerplate(
    docs: DataFrame,
    line_tokens: int = 3,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate removal: drop every line that occurs
    in >= `min_df` distinct documents, and report what survived per
    document — n_lines, n_boiler_lines, removed_frac, plus the length
    and md5 of the retained text (lines rejoined in original order), so
    the reassembly itself is pinned by the correctness gate.

    Plan shape for 100 TB: the boilerplate side of the join is the
    df >= min_df SLICE of the line-df table — repeated lines only,
    orders of magnitude smaller than the corpus (AQE broadcasts it when
    it fits; no hint, so a pathological corpus that is mostly
    boilerplate degrades to a shuffle join instead of an OOM). The
    per-doc reassembly sorts each document's surviving lines by
    line_no inside one groupBy — state bounded by the longest document,
    not the corpus."""
    lines = doc_line_segments(
        docs, line_tokens=line_tokens, id_col=id_col, text_col=text_col
    )
    # One hash exchange on `line` feeds BOTH consumers (the df count and
    # the boilerplate flag join): without it each subtree re-evaluates
    # the tokenize+posexplode pipeline from the scan (guide §2.4 — two
    # operations keyed the same way share one exchange), and the df
    # aggregation chain (line,doc)->(line) rides the same partitioning.
    lines = lines.repartition("line")
    boiler = (
        line_document_frequency(lines, id_col=id_col)
        .filter(F.col("df") >= min_df)
        .select("line", F.lit(1).alias("__boiler"))
    )
    flagged = lines.join(boiler, "line", "left")
    kept_struct = F.when(
        F.col("__boiler").isNull(), F.struct("line_no", "line")
    )
    retained = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
        ),
        " ",
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("__boiler").isNotNull(), 1).otherwise(0)).alias(
            "n_boiler_lines"
        ),
        F.length(retained).alias("retained_chars"),
        F.md5(retained).alias("retained_md5"),
    ).withColumn(
        "removed_frac",
        F.col("n_boiler_lines").cast("double") / F.col("n_lines"),
    )


def repeated_span_coverage(
    docs: DataFrame,
    gram_tokens: int = 4,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level repeated-span coverage — the exact-substring
    dedup signal (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", public methodology) the line/doc tiers
    can't see: OVERLAPPING `gram_tokens`-token windows (any alignment,
    unlike `doc_line_segments`' fixed chunks), a window is "repeated"
    when its gram occurs >= `min_count` times corpus-wide (including
    within-document repeats), and per document the repeated windows'
    token intervals are UNION-merged so overlapping spans never double
    count. Returns per doc: n_tokens, n_windows, n_repeated_windows,
    covered_tokens, covered_frac — the rank-and-cut signal for
    memorization-prone spans.

    Scale shape: windows explode map-side (narrow); the gram count is
    one hash-partitioned partial agg on compact gram keys; the
    interval union is a classic gaps-and-islands pass (running max of
    interval ends, island break when a start clears it) inside
    per-document window partitions — bounded by the longest document,
    never the corpus. Docs shorter than the window width contribute
    one whole-doc window (the `shingles` convention)."""
    if gram_tokens < 1:
        raise ValueError("gram_tokens must be >= 1")
    docs = spread_for_compute(docs)
    toks = tokens(text_col)
    n = F.size(toks)
    n_win = F.greatest(n - F.lit(gram_tokens - 1), F.lit(1))
    starts = F.sequence(F.lit(0), n_win - F.lit(1))
    wins = docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.array_join(
                    F.slice(toks, i + F.lit(1), gram_tokens), " "
                ),
            )
        ).alias("start", "gram"),
    )
    # one gram exchange shared by the count subtree and the semi-join
    # probe side (guide §2.4) — otherwise the window posexplode above
    # is evaluated once per consumer
    wins = wins.repartition("gram")
    repeated = (
        wins.groupBy("gram")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gram")
    )
    r = wins.join(repeated, "gram", "left_semi").select(
        id_col,
        "start",
        F.least(
            F.col("start") + F.lit(gram_tokens - 1), F.col("n_tokens") - 1
        ).alias("__e"),
    )
    w = Window.partitionBy(id_col).orderBy("start")
    prev_end = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = r.select(
        id_col,
        "start",
        "__e",
        F.when(
            prev_end.isNull() | (F.col("start") > prev_end), 1
        ).otherwise(0).alias("__new"),
    )
    isl = flagged.withColumn(
        "__g",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = isl.groupBy(id_col, "__g").agg(
        (F.max("__e") - F.min("start") + 1).alias("__cov"),
        F.count("*").alias("__nw"),
    )
    per_doc = per_island.groupBy(id_col).agg(
        F.sum("__cov").cast("long").alias("covered_tokens"),
        F.sum("__nw").cast("long").alias("n_repeated_windows"),
    )
    base = docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_win.cast("long").alias("n_windows"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce("n_repeated_windows", F.lit(0))
            .cast("long")
            .alias("n_repeated_windows"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("covered_frac"),
        )
    )


def minhash_value(shingle: Column, seed: int) -> Column:
    """One MinHash component: the seed-th 8-hex slice of md5(shingle),
    minimized lexicographically over a document's shingle set. One md5
    per shingle feeds 4 independent hash functions (the slices), which
    quarters the hash cost at scale; md5 hex compares identically in
    every engine, keeping signatures oracle-checkable (unlike
    engine-specific hash() functions). Valid seeds: 0..3."""
    if not 0 <= seed <= 3:
        raise ValueError("md5 yields 32 hex chars = 4 slices; seed must be 0..3")
    return F.substring(F.md5(shingle), 1 + 8 * seed, 8)


def shared_span_pairs(
    docs: DataFrame,
    gram_tokens: int = 4,
    max_occ: int = 16,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document longest-shared-span report — the ACTIONABLE
    output of the Lee et al. 2021 exact-substring signal: for the
    doc pairs sharing the longest verbatim token runs, how long is
    the longest run and how many aligned windows do they share?
    `repeated_span_coverage` scores each document's repeated mass;
    this names the pairs, which is what a curation pass actually acts
    on (drop/trim one side of the longest clones).

    Method (gram-chain islands, no suffix array needed): overlapping
    `gram_tokens`-token windows (same convention as
    repeated_span_coverage, whole-doc window for short docs); two
    documents' window occurrences of the SAME gram at starts (sa, sb)
    lie on diagonal sa − sb, and a verbatim shared run of L windows is
    exactly a maximal set of consecutive sa values on one diagonal —
    the same gaps-and-islands selection the repo uses everywhere,
    partitioned by (doc_a, doc_b, diagonal). Longest run of L windows
    = L + gram_tokens − 1 shared tokens.

    Scale guard: grams are joined only when their TOTAL occurrence
    count is in [2, max_occ] — the self-join is bounded by max_occ²
    pairs per gram, never all-pairs, and the dropped ubiquitous grams
    are precisely the boilerplate the line-dedup tier already handles
    (a run containing one such gram splits into two reported runs —
    the documented cost of the bound). Per-doc work stays bounded by
    document length."""
    if gram_tokens < 1:
        raise ValueError("gram_tokens must be >= 1")
    if max_occ < 2:
        raise ValueError("max_occ must be >= 2")
    docs = spread_for_compute(docs)
    toks = tokens(text_col)
    n = F.size(toks)
    n_win = F.greatest(n - F.lit(gram_tokens - 1), F.lit(1))
    starts = F.sequence(F.lit(0), n_win - F.lit(1))
    wins = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.array_join(
                    F.slice(toks, i + F.lit(1), gram_tokens), " "
                ),
            )
        ).alias("start", "gram"),
    )
    # one gram exchange shared by ALL downstream consumers: the occ
    # bound, the semi-join probe, and both sides of the diagonal
    # self-join key on gram, so a single repartition lets ReuseExchange
    # evaluate the window posexplode once instead of once per subtree
    # (guide §2.4; measured 3x ~3.3s single-task passes before)
    wins = wins.repartition("gram")
    bounded = (
        wins.groupBy("gram")
        .agg(F.count("*").alias("__occ"))
        .filter((F.col("__occ") >= 2) & (F.col("__occ") <= max_occ))
        .select("gram")
    )
    occ = wins.join(bounded, "gram", "left_semi")
    a = occ.select(
        "gram", F.col(id_col).alias("doc_a"), F.col("start").alias("sa")
    )
    b = occ.select(
        "gram", F.col(id_col).alias("doc_b"), F.col("start").alias("sb")
    )
    pairs = a.join(b, "gram").filter(F.col("doc_a") < F.col("doc_b"))
    diag = pairs.select(
        "doc_a", "doc_b", "sa", (F.col("sa") - F.col("sb")).alias("__diag")
    )
    wr = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("sa")
    runs = (
        diag.withColumn("__grp", F.col("sa") - F.row_number().over(wr))
        .groupBy("doc_a", "doc_b", "__diag", "__grp")
        .agg(F.count("*").alias("__len"))
    )
    report = runs.groupBy("doc_a", "doc_b").agg(
        (F.max("__len") + F.lit(gram_tokens - 1))
        .cast("long")
        .alias("longest_shared_tokens"),
        F.sum("__len").cast("long").alias("n_shared_windows"),
    )
    return report.orderBy(
        F.desc("longest_shared_tokens"),
        F.desc("n_shared_windows"),
        F.asc("doc_a"),
        F.asc("doc_b"),
    ).limit(top_k)
