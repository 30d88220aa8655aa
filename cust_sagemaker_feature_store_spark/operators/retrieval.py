"""Retrieval / relevance-scoring operators over a document corpus:
term frequencies, an inverted index, TF-IDF and BM25 ranking
(SURVEY.md §2.10 [EXT] — LLM-data-pipeline operators; used for
query-based corpus curation and contamination triage).

Exactness discipline (the registry's hash gate compares bit-for-bit):

- Every relevance score is built from *integer* corpus statistics
  (tf, df, dl, N, total tokens) combined by IEEE double ops with an
  explicit, parenthesized op tree. int64 -> double conversion, +, *, /
  are all correctly rounded, so DuckDB and the JVM produce identical
  bits when given the identical tree.
- Per-document sums over matched query terms are order-nondeterministic
  in any engine, so term scores are floored onto a 1e-6 grid FIRST
  (floor of identical doubles is identical, no round-half ambiguity)
  and summed as int64 — exact and order-independent — then divided
  back once.

Scale notes (100 TB): term statistics are map-side-combined aggregates
whose output is vocabulary-sized, independent of corpus size; query
scoring touches only postings of the query terms (filter pushed to the
token explode); the inverted index caps materialized postings arrays
with a window row_number, so no executor ever collects an unbounded
stopword postings list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text as T
from .spread import spread_for_compute

SCORE_SCALE = 1_000_000


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, term, tf, dl): whitespace-token term frequencies plus the
    document length — the base relation for every scorer here. The
    single-split small-SF corpus is spread first (no-op at real scale;
    measured 5x on the one-file fixture — the explode+group pipeline
    was serializing on one core)."""
    toks = T.tokens(text_col)
    exploded = spread_for_compute(docs).select(
        F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term")
    )
    return exploded.groupBy(id_col, "dl", "term").agg(
        F.count("*").cast("long").alias("tf")
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row: (n_docs, total_tokens). Broadcast-joined by scorers —
    never collected to the driver."""
    return docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(T.tokens(text_col))).cast("long").alias("total_tokens"),
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_cap: int = 100,
) -> DataFrame:
    """Inverted index: per term, document frequency, collection
    frequency, and the first `postings_cap` doc ids in ascending order.

    The df/cf aggregate is map-side combined (vocabulary-sized output).
    The postings arrays are capped BEFORE collection via a window
    row_number, so the per-term array a task materializes is bounded by
    `postings_cap` even for stopword-grade terms — the unbounded
    collect_list is the classic 100 TB executor-OOM shape this avoids.
    """
    # tf feeds two differently-grouped consumers (term stats + capped
    # postings) whose exchanges don't alias-match, so the token explode
    # would run twice; pin it once (GC-reclaimed checkpoint blocks —
    # functions/ids.py rationale).
    tf = term_frequencies(docs, id_col, text_col).localCheckpoint(eager=True)
    stats = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    w = Window.partitionBy("term").orderBy(id_col)
    head = (
        tf.select("term", id_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= postings_cap)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list(id_col)).alias("postings"))
    )
    return stats.join(head, "term").select("term", "df", "cf", "postings")


def _with_query_stats(
    docs: DataFrame, query_terms: list[str], id_col: str, text_col: str
) -> DataFrame:
    """tf rows restricted to the query terms, joined with per-term df
    and the corpus-level (n_docs, total_tokens) — both tiny (|query|
    rows / 1 row), both broadcast."""
    tf = term_frequencies(docs, id_col, text_col).filter(
        F.col("term").isin(query_terms)
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    stats = corpus_stats(docs, text_col)
    return tf.join(F.broadcast(df_tbl), "term").crossJoin(F.broadcast(stats))


def tfidf_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Raw-idf TF-IDF ranking: score = sum_t tf_t * N / df_t, kept on
    an exact ppm grid via integer division (tf*N*1e6 div df), summed as
    int64. The log-idf variant is a monotone reweighting; raw idf keeps
    the score an exact rational so the oracle pins it bit-for-bit."""
    scored = _with_query_stats(docs, query_terms, id_col, text_col)
    per_doc = (
        scored.select(
            id_col,
            (F.col("tf") * F.col("n_docs") * F.lit(SCORE_SCALE))
            .cast("long")
            .alias("num"),
            "df",
        )
        .select(id_col, F.expr("num div df").alias("term_ppm"))
        .groupBy(id_col)
        .agg(F.sum("term_ppm").cast("long").alias("score_ppm"))
    )
    return (
        per_doc.select(
            id_col,
            "score_ppm",
            (F.col("score_ppm").cast("double") / float(SCORE_SCALE)).alias("tfidf"),
        )
        .orderBy(F.desc("score_ppm"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) exact-arithmetic formulation.

    With k1=6/5 and b=3/4, multiplying the saturation term through by
    10*TT (TT = total corpus tokens) gives integer numerator and
    denominator:

        sat = 22*tf*TT / (10*tf*TT + 3*TT + 9*dl*N)

    and the +1-free Robertson idf is the exact rational
    (N - df + .5)/(df + .5) = (2N - 2df + 1)/(2df + 1). Each factor is
    one correctly-rounded int64->double division; their product is one
    more IEEE op — bit-identical across engines. Per-doc summation
    floors each term score onto the 1e-6 grid first (see module doc).

    int64 margins: 22*tf*TT at sf0.1 is ~9e10; the formulation holds to
    tf*TT ~ 4e17, i.e. corpora around 1e15 tokens with the default
    tokenizer — beyond 100 TB of text. Past that, swap TT for avgdl
    pre-divided per partition of terms (documented, not needed here).
    """
    scored = _with_query_stats(docs, query_terms, id_col, text_col)
    tf, dl = F.col("tf"), F.col("dl").cast("long")
    n, tt, df = F.col("n_docs"), F.col("total_tokens"), F.col("df")
    sat = (F.lit(22) * tf * tt).cast("double") / (
        (F.lit(10) * tf * tt + F.lit(3) * tt + F.lit(9) * dl * n).cast("double")
    )
    idf = (F.lit(2) * n - F.lit(2) * df + F.lit(1)).cast("double") / (
        (F.lit(2) * df + F.lit(1)).cast("double")
    )
    term_scaled = F.floor(idf * sat * F.lit(float(SCORE_SCALE))).alias("term_scaled")
    per_doc = (
        scored.select(id_col, term_scaled)
        .groupBy(id_col)
        .agg(F.sum("term_scaled").cast("long").alias("score_u"))
    )
    return (
        per_doc.select(
            id_col,
            "score_u",
            (F.col("score_u").cast("double") / float(SCORE_SCALE)).alias("bm25"),
        )
        .orderBy(F.desc("score_u"), F.asc(id_col))
        .limit(k)
    )


def bm25_scores_frame(
    docs: DataFrame,
    terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 per-doc scores against a TERM FRAME (one `term` column)
    instead of a literal list — the shape query-expansion needs, where
    the term set is itself data-dependent. Same exact-arithmetic
    formulation as bm25_topk (see its docstring for the int64-margin
    analysis); the term frame broadcasts, so the only data-sized work
    is the tf join. Output: (id_col, score_u) — callers add the
    float score / top-k."""
    tf = term_frequencies(docs, id_col, text_col).join(
        F.broadcast(terms.select("term")), "term"
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    stats = corpus_stats(docs, text_col)
    scored = tf.join(F.broadcast(df_tbl), "term").crossJoin(F.broadcast(stats))
    tfc, dl = F.col("tf"), F.col("dl").cast("long")
    n, tt, dfc = F.col("n_docs"), F.col("total_tokens"), F.col("df")
    sat = (F.lit(22) * tfc * tt).cast("double") / (
        (F.lit(10) * tfc * tt + F.lit(3) * tt + F.lit(9) * dl * n).cast("double")
    )
    idf = (F.lit(2) * n - F.lit(2) * dfc + F.lit(1)).cast("double") / (
        (F.lit(2) * dfc + F.lit(1)).cast("double")
    )
    term_scaled = F.floor(idf * sat * F.lit(float(SCORE_SCALE))).alias("term_scaled")
    return (
        scored.select(id_col, term_scaled)
        .groupBy(id_col)
        .agg(F.sum("term_scaled").cast("long").alias("score_u"))
    )


QL_SCALE = 1_000_000_000  # 1e-9 log-score grid


def query_likelihood_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mu: float = 1000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    SIGIR'01) — the language-modeling retrieval family next to BM25:

        score(d) = sum_t ln((tf_td + mu*p_t) / (dl_d + mu)),
        p_t = cf_t / TT (collection language model)

    decomposed, as LM-retrieval implementations do, into a SPARSE part
    over (doc, present-term) rows plus a per-doc length part:

        sum_{t: tf>0} ln(1 + tf*TT/(mu*cf_t)) + |Q'| * ln(mu/(dl + mu))

    where |Q'| counts query terms with cf > 0 (a cf=0 term contributes
    no evidence either way — the standard drop). Every ln output lands
    on the 1e-9 grid as int64 before summation, so scores are
    order-independent and engine-exact; tf*TT and mu*cf multiply as
    doubles of exact ints (no int64 overflow ceiling at 100 TB token
    counts, unlike a scaled-integer formulation).

    Work: one corpus-narrow dl pass + the query-sparse tf join + a
    TakeOrderedAndProject — identical scale shape to bm25_topk."""
    tf = term_frequencies(docs, id_col, text_col).filter(
        F.col("term").isin(query_terms)
    )
    cf_tbl = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    stats = corpus_stats(docs, text_col)
    nq = cf_tbl.agg(F.count("*").cast("long").alias("n_q"))
    present = tf.join(F.broadcast(cf_tbl), "term").crossJoin(F.broadcast(stats))
    lp = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.col("total_tokens").cast("double"))
            / (F.lit(mu) * F.col("cf").cast("double"))
        )
        * F.lit(QL_SCALE)
    ).cast("long")
    per_doc = present.groupBy(id_col).agg(F.sum(lp).alias("ps"))
    dls = docs.select(F.col(id_col), F.size(T.tokens(text_col)).alias("dl"))
    lq = F.round(
        F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu)))
        * F.lit(QL_SCALE)
    ).cast("long")
    scored = (
        dls.join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col(id_col),
            (F.coalesce(F.col("ps"), F.lit(0)) + F.col("n_q") * lq)
            .cast("long")
            .alias("score_u"),
        )
    )
    return (
        scored.select(
            id_col,
            "score_u",
            (F.col("score_u").cast("double") / float(QL_SCALE)).alias("ql"),
        )
        .orderBy(F.desc("score_u"), F.asc(id_col))
        .limit(k)
    )
