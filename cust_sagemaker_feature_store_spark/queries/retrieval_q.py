"""Retrieval / relevance-scoring query surface over `documents`
(SURVEY.md §2.10 [EXT] — LLM-data-pipeline operators).

Inverted index, TF-IDF and BM25 ranking, and bigram collocation lift —
the query-based curation primitives a training-data pipeline uses to
pull topical slices out of a 100 TB corpus and to find over-represented
phrase patterns. Every oracle restates the exact integer/IEEE op tree
(see operators/retrieval.py's exactness discipline), so scores are
pinned bit-for-bit by the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import retrieval as R
from ..operators.spread import spread_for_compute
from .registry import register
from .text_q import SQL_TOKS

QUERY_TERMS = ["spark", "vector", "stream"]
TOP_K = 25
POSTINGS_CAP = 40

_SQL_TF = f"""
tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, len({SQL_TOKS}) AS dl, unnest({SQL_TOKS}) AS term
    FROM documents
  )
  GROUP BY 1, 2, 3
)
"""

_SQL_QUERY_STATS = (
    _SQL_TF
    + """,
qtf AS (SELECT * FROM tf WHERE term IN ({terms})),
dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY 1),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({toks})) AS BIGINT) AS total_tokens
  FROM documents
)
"""
)


def _terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in QUERY_TERMS)


@register(
    "text_inverted_index",
    oracle=f"""
WITH {_SQL_TF},
stats AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
  FROM tf GROUP BY 1
),
capped AS (
  SELECT term, doc_id FROM tf
  QUALIFY row_number() OVER (PARTITION BY term ORDER BY doc_id) <= {POSTINGS_CAP}
),
p AS (
  SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings
  FROM capped GROUP BY 1
)
SELECT s.term, s.df, s.cf, p.postings
FROM stats s JOIN p USING (term)
""",
    description=(
        "Inverted index over the corpus: per term, document frequency, "
        "collection frequency, and the first 40 postings in doc_id "
        "order (comma-joined — registered query outputs are flat "
        "scalar columns by contract, see tests/test_queries_oracle.py's "
        "registry-wide schema assertion; the operator's ArrayType "
        "postings stay available via operators/retrieval.inverted_index). "
        "The postings array is capped via window row_number BEFORE "
        "collect_list, so no task materializes an unbounded "
        "stopword postings list at 100 TB."
    ),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    idx = R.inverted_index(docs, postings_cap=POSTINGS_CAP)
    return idx.select(
        "term", "df", "cf", F.array_join("postings", ",").alias("postings")
    )


@register(
    "text_tfidf_topk",
    oracle="WITH "
    + _SQL_QUERY_STATS.format(terms=_terms_sql(), toks=SQL_TOKS)
    + f""",
scored AS (
  SELECT q.doc_id, (q.tf * c.n_docs * 1000000) // d.df AS term_ppm
  FROM qtf q JOIN dft d USING (term) CROSS JOIN corpus c
),
agg AS (
  SELECT doc_id, CAST(SUM(term_ppm) AS BIGINT) AS score_ppm
  FROM scored GROUP BY 1
)
SELECT doc_id, score_ppm,
       CAST(score_ppm AS DOUBLE) / 1000000.0 AS tfidf
FROM agg
ORDER BY score_ppm DESC, doc_id
LIMIT {TOP_K}
""",
    description=(
        "Raw-idf TF-IDF top-k for a fixed query-term set: score = "
        "sum_t tf*N/df on an exact ppm integer grid (order-independent "
        "summation). Only query-term postings are touched — the filter "
        "is pushed below the token explode."
    ),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return R.tfidf_topk(docs, QUERY_TERMS, k=TOP_K)


@register(
    "text_bm25_topk",
    oracle="WITH "
    + _SQL_QUERY_STATS.format(terms=_terms_sql(), toks=SQL_TOKS)
    + f""",
scored AS (
  SELECT q.doc_id,
         CAST(floor(
           (CAST(2*c.n_docs - 2*d.df + 1 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE))
           * (CAST(22*q.tf*c.total_tokens AS DOUBLE)
              / CAST(10*q.tf*c.total_tokens + 3*c.total_tokens + 9*q.dl*c.n_docs AS DOUBLE))
           * 1000000.0) AS BIGINT) AS term_scaled
  FROM qtf q JOIN dft d USING (term) CROSS JOIN corpus c
),
agg AS (
  SELECT doc_id, CAST(SUM(term_scaled) AS BIGINT) AS score_u
  FROM scored GROUP BY 1
)
SELECT doc_id, score_u, CAST(score_u AS DOUBLE) / 1000000.0 AS bm25
FROM agg
ORDER BY score_u DESC, doc_id
LIMIT {TOP_K}
""",
    description=(
        "BM25 (k1=1.2, b=0.75) top-k: integer-rational saturation and "
        "Robertson idf, each one correctly-rounded IEEE division; term "
        "scores floored onto the 1e-6 grid before the per-doc int64 sum "
        "(order-independent). See operators/retrieval.py for the "
        "100 TB int64 margin analysis."
    ),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return R.bm25_topk(docs, QUERY_TERMS, k=TOP_K)


MIN_BIGRAM_COUNT = 20
LIFT_TOP_K = 50


@register(
    "text_bigram_lift",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
uni AS (
  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY 1
),
tu AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM uni),
bi AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM tok WHERE len(toks) >= 2
  )
  GROUP BY 1
),
tb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS tb FROM bi)
SELECT b.bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
       ((CAST(b.c_xy AS DOUBLE) * t1.tu) * t1.tu)
       / ((CAST(t2.tb AS DOUBLE) * ux.c) * uy.c) AS lift
FROM bi b
JOIN uni ux ON ux.tok = string_split(b.bigram, ' ')[1]
JOIN uni uy ON uy.tok = string_split(b.bigram, ' ')[2]
CROSS JOIN tu t1 CROSS JOIN tb t2
WHERE b.c_xy >= {MIN_BIGRAM_COUNT}
ORDER BY lift DESC, bigram
LIMIT {LIFT_TOP_K}
""",
    description=(
        "Bigram collocation lift p(xy)/(p(x)p(y)) — PMI's monotone "
        "twin, kept exact as ((c_xy*TU)*TU)/((TB*c_x)*c_y) with a fixed "
        "IEEE op tree (no log). Unigram/bigram counts are map-side "
        "combined; the unigram join strategy is left to AQE because "
        "vocabulary is power-law unbounded at corpus scale."
    ),
)
def text_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    tok = spread_for_compute(docs).select("doc_id", toks.alias("toks"))

    # lazy pins: the unigram table feeds three branches (total count +
    # both join sides) and the unfiltered bigram table two (total mass
    # + the lift candidates); per-branch pruning defeats ReuseExchange,
    # so unpinned each branch re-tokenizes the corpus — measured 5
    # corpus scans, 2 after pinning. Both frames are vocabulary-sized.
    uni = (
        tok.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tu = uni.agg(F.sum("c").cast("long").alias("tu"))

    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    bi_all = (
        tok.filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    bi = bi_all.filter(F.col("c_xy") >= MIN_BIGRAM_COUNT)
    tb_full = bi_all.agg(F.sum("c_xy").cast("long").alias("tb"))

    x = F.split(F.col("bigram"), " ")[0]
    y = F.split(F.col("bigram"), " ")[1]
    ux = uni.select(F.col("tok").alias("__x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("tok").alias("__y"), F.col("c").alias("c_y"))
    lift = (
        (F.col("c_xy").cast("double") * F.col("tu")) * F.col("tu")
    ) / ((F.col("tb").cast("double") * F.col("c_x")) * F.col("c_y"))
    return (
        bi.withColumn("__x", x)
        .withColumn("__y", y)
        # no broadcast hint on the unigram sides: vocabulary is power-law
        # unbounded at corpus scale (typos/URLs), so the join strategy is
        # left to AQE — the r4 contamination lesson applied at design time
        .join(ux, "__x")
        .join(uy, "__y")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(tb_full))
        .select("bigram", "c_xy", "c_x", "c_y", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(LIFT_TOP_K)
    )


N_HASH_BUCKETS = 64
_SIGN_BIT = 10

# DuckDB twin of conv(substr(md5(token),1,4),16,10): first 4 md5 hex
# chars as an integer 0..65535 (same idiom as text_q's simhash16)
_SQL_H16 = (
    "((strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(token), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(token), 4, 1)) - 1))"
)


@register(
    "ml_hashed_features",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
h AS (
  SELECT doc_id,
         {_SQL_H16} % {N_HASH_BUCKETS} AS bucket,
         CASE WHEN (({_SQL_H16} >> {_SIGN_BIT}) & 1) = 1 THEN 1 ELSE -1 END AS sgn
  FROM tok
)
SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS feature_value
FROM h GROUP BY 1, 2
HAVING CAST(SUM(sgn) AS BIGINT) <> 0
""",
    description=(
        "Feature hashing (the hashing trick, Weinberger et al. 2009, "
        "public methodology): tokens -> signed counts in a fixed "
        "64-bucket space via an oracle-portable md5-derived 16-bit "
        "hash; the sign bit makes collisions cancel in expectation. "
        "Output is the sparse (doc, bucket, value) relation — the "
        "fixed-width featurizer that needs no vocabulary build, which "
        "is why it scales to 100 TB: one narrow map + one "
        "map-side-combined aggregation, no global dictionary shuffle."
    ),
)
def ml_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from ..operators import text as T

    tok = spread_for_compute(docs).select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    )
    h = F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("long")
    sgn = F.when(
        F.shiftright(h, _SIGN_BIT).bitwiseAND(F.lit(1)) == 1, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", (h % N_HASH_BUCKETS).alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("long").alias("feature_value"))
        .filter(F.col("feature_value") != 0)
    )


TARGET_SMOOTHING = 20  # pseudo-observations of the global mean


@register(
    "ml_target_encoding",
    oracle=f"""
WITH o AS (
  SELECT o_orderpriority AS category,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n
  FROM o
),
c AS (
  SELECT category, CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM o GROUP BY 1
)
SELECT c.category, c.n AS n_rows,
       (CAST(c.s AS DOUBLE) / c.n) / 100.0 AS category_mean,
       ((c.s + {TARGET_SMOOTHING} * (CAST(g.tot AS DOUBLE) / g.n))
        / (c.n + {TARGET_SMOOTHING})) / 100.0 AS encoded_value
FROM c CROSS JOIN g
""",
    description=(
        "Smoothed target encoding (the category->mean-label feature, "
        "m-estimate smoothing): per-category mean blended with the "
        "global mean weighted by 20 pseudo-observations, all on the "
        "exact cent grid with a fixed IEEE op tree. Two map-side-"
        "combined aggregates, category-sized output, global stats "
        "broadcast — no per-row state at any scale."
    ),
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = o.agg(
        F.sum("cents").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("gn"),
    )
    c = o.groupBy("category").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sm = F.lit(TARGET_SMOOTHING)
    return c.crossJoin(F.broadcast(g)).select(
        "category",
        F.col("n").alias("n_rows"),
        ((F.col("s").cast("double") / F.col("n")) / 100.0).alias("category_mean"),
        (
            (
                (F.col("s") + sm * (F.col("tot").cast("double") / F.col("gn")))
                / (F.col("n") + sm)
            )
            / 100.0
        ).alias("encoded_value"),
    )


LM_TOP_K = 100


@register(
    "text_bigram_lm",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
uni AS (
  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY 1
),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM uni),
bi AS (
  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM tok WHERE len(toks) >= 2
  )
  GROUP BY 1, 2
)
SELECT b.w1, b.w2, b.c_xy, u.c AS c_w1,
       CAST(b.c_xy + 1 AS DOUBLE) / CAST(u.c + v.vocab AS DOUBLE) AS prob_laplace
FROM bi b JOIN uni u ON u.tok = b.w1 CROSS JOIN v
ORDER BY b.c_xy DESC, b.w1, b.w2
LIMIT {LM_TOP_K}
""",
    description=(
        "Bigram language-model table with add-one (Laplace) smoothing: "
        "P(w2|w1) = (c_xy+1)/(c_w1+V) as ONE exact int64 division — the "
        "n-gram LM build that backs perplexity-style quality filtering, "
        "without log arithmetic. Counts are map-side combined; the "
        "unigram join strategy is left to AQE (vocabulary is power-law "
        "unbounded at corpus scale, so a forced broadcast would not hold)."
    ),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    tok = spread_for_compute(docs).select("doc_id", toks.alias("toks"))

    # lazy pin: the vocab total and the c_w1 join side both read the
    # unigram table; unpinned each re-tokenizes the corpus (3 scans -> 2)
    uni = (
        tok.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    v = uni.agg(F.count(F.lit(1)).cast("long").alias("vocab"))

    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    bi = (
        tok.filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .select(
            F.split("bigram", " ")[0].alias("w1"),
            F.split("bigram", " ")[1].alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
    )
    u = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_w1"))
    prob = (F.col("c_xy") + 1).cast("double") / (
        (F.col("c_w1") + F.col("vocab")).cast("double")
    )
    return (
        # unigram side un-hinted for the same vocabulary-scale reason as
        # text_bigram_lift; only the 1-row vocab total is broadcast
        bi.join(u, "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", "c_xy", "c_w1", prob.alias("prob_laplace"))
        .orderBy(F.desc("c_xy"), F.asc("w1"), F.asc("w2"))
        .limit(LM_TOP_K)
    )


DROPOUT_RATE_PCT = 10  # drop ~10% of token positions
DROPOUT_SEED = 7


@register(
    "text_word_dropout",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       array_to_string(
         list_transform(
           list_filter(generate_series(1, len(toks)),
             i -> ((strpos('0123456789abcdef', substr(md5(doc_id || '-' || i || '-' || {DROPOUT_SEED}), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(doc_id || '-' || i || '-' || {DROPOUT_SEED}), 2, 1)) - 1))
                  % 100 >= {DROPOUT_RATE_PCT}),
           i -> toks[i]),
         ' ') AS dropped_text
FROM tok
""",
    description=(
        "Deterministic word-dropout augmentation: each token position "
        "is kept iff an md5-derived hash of (doc_id, position, seed) "
        "clears the drop rate — reproducible across engines, reruns "
        "and partitionings (no rand()), so augmented corpora are "
        "versionable. Pure narrow map at any scale."
    ),
)
def text_word_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    tok = spread_for_compute(docs).select("doc_id", toks.alias("toks"))

    def keep(i):
        h = F.md5(
            F.concat_ws("-", F.col("doc_id"), i, F.lit(DROPOUT_SEED))
        )
        h8 = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
        return (h8 % 100) >= DROPOUT_RATE_PCT

    kept = F.transform(
        F.filter(F.sequence(F.lit(1), F.size("toks")), keep),
        lambda i: F.element_at("toks", i),
    )
    return tok.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.concat_ws(" ", kept).alias("dropped_text"),
    )


NB_TEST_MOD = 5  # doc_id % 5 == 0 -> held-out test fold


@register(
    "ml_naive_bayes",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({SQL_TOKS}) AS token FROM documents
),
train AS (SELECT * FROM tok WHERE doc_id % {NB_TEST_MOD} <> 0),
test  AS (SELECT * FROM tok WHERE doc_id % {NB_TEST_MOD} = 0),
prior AS (
  SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM train GROUP BY 1
),
vocab AS (SELECT DISTINCT token FROM train),
vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
ctot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS t FROM train GROUP BY 1),
cnt AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n_tc
  FROM train GROUP BY 1, 2
),
tt AS (
  SELECT t.doc_id, t.token, CAST(COUNT(*) AS BIGINT) AS c
  FROM test t JOIN vocab v ON t.token = v.token
  GROUP BY 1, 2
),
sc AS (
  SELECT tt.doc_id, p.lang,
         ln(p.n_docs)
         + SUM(tt.c * ln(COALESCE(cnt.n_tc, 0) + 1))
         - SUM(tt.c) * ln(ctot.t + vsize.v) AS score
  FROM tt
  CROSS JOIN prior p
  JOIN ctot ON ctot.lang = p.lang
  CROSS JOIN vsize
  LEFT JOIN cnt ON cnt.lang = p.lang AND cnt.token = tt.token
  GROUP BY tt.doc_id, p.lang, p.n_docs, ctot.t, vsize.v
),
pred AS (
  SELECT doc_id, lang AS pred_lang,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM sc
),
truth AS (
  SELECT doc_id, lang AS true_lang FROM documents
  WHERE doc_id % {NB_TEST_MOD} = 0
)
SELECT truth.true_lang, pred.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred JOIN truth USING (doc_id)
WHERE rn = 1
GROUP BY 1, 2
""",
    description=(
        "Multinomial Naive Bayes language classifier, trained and "
        "scored in one distributed plan (the counts-based classifier "
        "every large-corpus pipeline can afford at 100 TB because "
        "training IS aggregation): add-one-smoothed per-class token "
        "log-likelihoods from exact int64 counts, held-out fold by "
        "deterministic doc_id hash, argmax with a lexicographic "
        "tie-break. Output is the integer confusion matrix — float "
        "scores decide the argmax (min top-2 gap ~3e-4 at sf0.01, "
        "9 decimal orders above cross-engine libm noise) but never "
        "appear in the result, so the hash gate pins it exactly. "
        "Scale: model state = (class x token) counts (vocabulary-"
        "sized, map-side combined); scoring joins the token stream "
        "to the model by token — no per-row driver state anywhere."
    ),
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("token")
    )
    train = tok.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    test = tok.filter(F.col("doc_id") % NB_TEST_MOD == 0)

    prior = train.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    # lazy pin: cnt IS the trained model ((class x token) counts,
    # vocabulary-sized), and the vocabulary, its size, and the per-class
    # token totals are all marginals of it — deriving them from the
    # pinned model instead of from `train` drops the corpus tokenize
    # from 5 passes to 1 (ReuseExchange cannot collapse the branches:
    # per-branch pruning makes their subplans non-identical).
    cnt = train.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("n_tc")
    ).localCheckpoint(eager=False)
    vocab = cnt.select("token").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    ctot = cnt.groupBy("lang").agg(F.sum("n_tc").cast("long").alias("t"))
    tt = (
        test.join(vocab, "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sc = (
        tt.crossJoin(F.broadcast(prior))
        .join(F.broadcast(ctot), "lang")
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["lang", "token"], "left")
        .groupBy("doc_id", "lang", "n_docs", "t", "v")
        .agg(
            (
                F.log(F.col("n_docs"))
                + F.sum(
                    F.col("c")
                    * F.log(F.coalesce(F.col("n_tc"), F.lit(0)) + 1)
                )
                - F.sum("c") * F.log(F.col("t") + F.col("v"))
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang")
    )
    pred = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    truth = docs.filter(F.col("doc_id") % NB_TEST_MOD == 0).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    return pred.join(truth, "doc_id").groupBy(
        "true_lang", "pred_lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# -- hybrid retrieval: reciprocal-rank fusion (r9) -----------------------

RRF_K = 60        # the standard RRF damping constant (Cormack 2009)
RRF_POOL = 20     # per-ranker candidate pool
RRF_TOP = 10


@register(
    "retrieval_rrf_fusion",
    oracle="WITH "
    + _SQL_QUERY_STATS.format(terms=_terms_sql(), toks=SQL_TOKS)
    + f""",
scored AS (
  SELECT q.doc_id,
         CAST(floor(
           (CAST(2*c.n_docs - 2*d.df + 1 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE))
           * (CAST(22*q.tf*c.total_tokens AS DOUBLE)
              / CAST(10*q.tf*c.total_tokens + 3*c.total_tokens + 9*q.dl*c.n_docs AS DOUBLE))
           * 1000000.0) AS BIGINT) AS term_scaled
  FROM qtf q JOIN dft d USING (term) CROSS JOIN corpus c
),
agg AS (
  SELECT doc_id, CAST(SUM(term_scaled) AS BIGINT) AS score_u
  FROM scored GROUP BY 1
),
bm AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id)
                      AS BIGINT) AS ra
  FROM agg ORDER BY score_u DESC, doc_id LIMIT {RRF_POOL}
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
cs AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv.v)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qv.v, qv.v))), 6) AS c
  FROM embeddings e, qv
),
co AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id)
                      AS BIGINT) AS rb
  FROM cs ORDER BY c DESC, doc_id LIMIT {RRF_POOL}
),
f AS (
  SELECT COALESCE(bm.doc_id, co.doc_id) AS doc_id, bm.ra, co.rb
  FROM bm FULL OUTER JOIN co ON bm.doc_id = co.doc_id
)
SELECT doc_id,
       CAST(ra AS DOUBLE) AS rank_bm25,
       CAST(rb AS DOUBLE) AS rank_cosine,
       COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + ra), CAST(0 AS DOUBLE))
       + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + rb), CAST(0 AS DOUBLE))
         AS rrf_score
FROM f
ORDER BY rrf_score DESC, doc_id
LIMIT {RRF_TOP}
""",
    description=(
        "[EXT] hybrid retrieval via reciprocal-rank fusion (Cormack et "
        "al. 2009, the standard lexical+vector combiner): BM25 top-20 "
        "for the query terms fused with cosine top-20 for the query "
        "embedding by score = sum 1/(60 + rank), full-outer over the "
        "two pools so single-ranker hits still score. Ranks, not raw "
        "scores, make the fusion scale-free — no normalization to get "
        "wrong across engines; each contribution is one IEEE division "
        "and the two-term sum has a fixed evaluation order, so fused "
        "scores hash-match bit-for-bit (rank columns surfaced as "
        "DOUBLE: nullable ints round-trip pandas as float64). Cost is "
        "two TakeOrdered pools + a 40-row join — the corpus is "
        "touched once per ranker, never by the fusion."
    ),
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import similarity as S
    from .similarity_q import QUERY_VEC_ID, _query_vector

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = R.bm25_topk(docs, QUERY_TERMS, k=RRF_POOL).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_u"), F.asc("doc_id")))
        .cast("long")
        .alias("ra"),
    )
    qv = _query_vector(spark, sf_dir)
    co = S.cosine_topk(emb, qv, k=RRF_POOL).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine_sim"), F.asc("vec_id")))
        .cast("long")
        .alias("rb"),
    )
    f = bm.join(co, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (RRF_K + F.col("ra")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (RRF_K + F.col("rb")), F.lit(0.0))
    return (
        f.select(
            "doc_id",
            F.col("ra").cast("double").alias("rank_bm25"),
            F.col("rb").cast("double").alias("rank_cosine"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOP)
    )


MMR_POOL = 10
MMR_K = 5
# lambda = 0.7: mmr = 0.7*rel - 0.3*max_sim_to_selected (Carbonell 1998)


def _mmr_oracle() -> str:
    head = """
WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
rel AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv.v)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qv.v, qv.v))), 6) AS rel
  FROM embeddings e, qv
),
pool AS (SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id LIMIT 10),
pe AS (SELECT p.doc_id, CAST(e.embedding AS DOUBLE[]) AS v
       FROM pool p JOIN embeddings e ON e.vec_id = p.doc_id),
sims AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM pe a JOIN pe b ON a.doc_id <> b.doc_id
),
sel_1 AS (
  SELECT doc_id, rel, 0.7 * rel AS mmr, CAST(1 AS BIGINT) AS rank
  FROM pool ORDER BY rel DESC, doc_id LIMIT 1
)"""
    parts = [head]
    for t in range(2, MMR_K + 1):
        parts.append(f""",
cand_{t} AS (
  SELECT p.doc_id, p.rel, MAX(s.sim) AS ms
  FROM pool p JOIN sims s ON s.a = p.doc_id
  WHERE s.b IN (SELECT doc_id FROM sel_{t - 1})
    AND p.doc_id NOT IN (SELECT doc_id FROM sel_{t - 1})
  GROUP BY 1, 2
),
pick_{t} AS (
  SELECT doc_id, rel, 0.7 * rel - 0.3 * ms AS mmr, CAST({t} AS BIGINT) AS rank
  FROM cand_{t} ORDER BY mmr DESC, doc_id LIMIT 1
),
sel_{t} AS (SELECT * FROM sel_{t - 1} UNION ALL SELECT * FROM pick_{t})""")
    parts.append(f"\nSELECT rank, doc_id, rel, mmr FROM sel_{MMR_K} ORDER BY rank")
    return "".join(parts)


@register(
    "retrieval_mmr_rerank",
    oracle=_mmr_oracle(),
    description=(
        "[EXT] maximal-marginal-relevance diversity rerank (Carbonell & "
        "Goldstein 1998, the RAG context-packing standard): greedy "
        "5-round selection from the cosine top-10 pool, each round "
        "argmax of 0.7*rel - 0.3*max-sim-to-already-selected with "
        "doc_id tie-break. Pool relevance and pairwise sims are "
        "ROUND(...,6) so every argmax decision is bit-identical "
        "cross-engine; the oracle unrolls all 5 rounds as chained "
        "CTEs (the pagerank pattern). Scale shape: the corpus-sized "
        "stage is ONE TakeOrderedAndProject (pool selection); the "
        "greedy loop runs on pool-sized frames (10 rows, 90 sims), "
        "constant at any corpus size."
    ),
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S
    from .similarity_q import _query_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    # pin pool + sims: the greedy loop references them in every round's
    # plan — unpinned, each of the 5 rounds re-scans the corpus for the
    # TakeOrdered pool (measured 7.1s -> pinned 3.1s at sf0.1); both
    # frames are pool-sized (10 rows / 90 rows)
    pool = (
        S.cosine_topk(emb, qv, k=MMR_POOL)
        .select(F.col("vec_id").alias("doc_id"), F.col("cosine_sim").alias("rel"))
        .localCheckpoint(eager=True)
    )
    pe = pool.join(emb, pool.doc_id == emb.vec_id).select(
        "doc_id", S.as_double("embedding").alias("v")
    )
    a, b = pe.alias("a"), pe.alias("b")
    sims = a.join(b, F.col("a.doc_id") != F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("a"),
        F.col("b.doc_id").alias("b"),
        F.round(
            S.dot(F.col("a.v"), F.col("b.v"))
            / (S.l2_norm(F.col("a.v")) * S.l2_norm(F.col("b.v"))),
            6,
        ).alias("sim"),
    ).localCheckpoint(eager=True)
    sel = (
        pool.orderBy(F.desc("rel"), "doc_id")
        .limit(1)
        .select(
            "doc_id",
            "rel",
            (F.lit(0.7) * F.col("rel")).alias("mmr"),
            F.lit(1).cast("long").alias("rank"),
        )
    )
    for t in range(2, MMR_K + 1):
        prev_ids = sel.select("doc_id")
        to_sel = sims.join(
            prev_ids.withColumnRenamed("doc_id", "b"), "b", "left_semi"
        )
        ms = to_sel.groupBy(F.col("a").alias("doc_id")).agg(
            F.max("sim").alias("ms")
        )
        cand = pool.join(prev_ids, "doc_id", "left_anti").join(ms, "doc_id")
        pick = (
            cand.select(
                "doc_id",
                "rel",
                (F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("ms")).alias("mmr"),
                F.lit(t).cast("long").alias("rank"),
            )
            .orderBy(F.desc("mmr"), "doc_id")
            .limit(1)
        )
        sel = sel.unionByName(pick)
    return sel.select("rank", "doc_id", "rel", "mmr")


PRF_FEEDBACK = 5
PRF_EXPAND = 3
PRF_TOP = 10

_PRF_BM25 = """floor(
  (CAST(2*c.n_docs - 2*d.df + 1 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE))
  * (CAST(22*q.tf*c.total_tokens AS DOUBLE)
     / CAST(10*q.tf*c.total_tokens + 3*c.total_tokens + 9*q.dl*c.n_docs AS DOUBLE))
  * 1000000.0)"""


@register(
    "retrieval_prf_expansion",
    oracle="WITH "
    + _SQL_TF.strip()
    + f""",
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS total_tokens
  FROM documents
),
q1 AS (SELECT * FROM tf WHERE term IN ({", ".join(repr(t) for t in QUERY_TERMS)})),
d1 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q1 GROUP BY 1),
s1 AS (
  SELECT q.doc_id, CAST({_PRF_BM25} AS BIGINT) AS term_scaled
  FROM q1 q JOIN d1 d USING (term) CROSS JOIN corpus c
),
a1 AS (SELECT doc_id, CAST(SUM(term_scaled) AS BIGINT) AS score_u FROM s1 GROUP BY 1),
fb AS (SELECT doc_id FROM a1 ORDER BY score_u DESC, doc_id LIMIT {PRF_FEEDBACK}),
ex AS (
  SELECT term FROM tf JOIN fb USING (doc_id)
  WHERE term NOT IN ({", ".join(repr(t) for t in QUERY_TERMS)})
  GROUP BY term ORDER BY SUM(tf) DESC, term LIMIT {PRF_EXPAND}
),
qterms AS (
  SELECT term FROM ex
  UNION ALL
  SELECT unnest([{", ".join(repr(t) for t in QUERY_TERMS)}]) AS term
),
q2 AS (SELECT tf.* FROM tf JOIN qterms USING (term)),
d2 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q2 GROUP BY 1),
s2 AS (
  SELECT q.doc_id, CAST({_PRF_BM25} AS BIGINT) AS term_scaled
  FROM q2 q JOIN d2 d USING (term) CROSS JOIN corpus c
),
a2 AS (SELECT doc_id, CAST(SUM(term_scaled) AS BIGINT) AS score_u FROM s2 GROUP BY 1)
SELECT doc_id, score_u, CAST(score_u AS DOUBLE) / 1000000.0 AS bm25
FROM a2 ORDER BY score_u DESC, doc_id LIMIT {PRF_TOP}
""",
    description=(
        "[EXT] pseudo-relevance-feedback query expansion (Rocchio/RM1 "
        "family): BM25 top-5 for the seed terms, expand with the 3 "
        "highest-total-tf non-seed terms from those feedback docs "
        "(deterministic int tie-break), rescore the corpus with the "
        "expanded term FRAME, return the new top-10. The expansion "
        "term set is data-dependent, so the second pass uses "
        "bm25_scores_frame (term frame broadcast join) instead of an "
        "IN-list — the operator shape a real retrieval stack needs. "
        "Two corpus-sized tf passes, everything else feedback-pool-"
        "sized; scores on the exact 1e-6 floor grid as all BM25 here."
    ),
)
def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fb = R.bm25_topk(docs, QUERY_TERMS, k=PRF_FEEDBACK).select("doc_id")
    tf_all = R.term_frequencies(docs)
    ex = (
        tf_all.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("term").isin(QUERY_TERMS))
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("total_tf"))
        .orderBy(F.desc("total_tf"), "term")
        .limit(PRF_EXPAND)
        .select("term")
    )
    seed = docs.sparkSession.createDataFrame(
        [(t,) for t in QUERY_TERMS], "term string"
    )
    qterms = ex.unionByName(seed)
    scores = R.bm25_scores_frame(docs, qterms)
    return (
        scores.select(
            "doc_id",
            "score_u",
            (F.col("score_u").cast("double") / 1000000.0).alias("bm25"),
        )
        .orderBy(F.desc("score_u"), "doc_id")
        .limit(PRF_TOP)
    )


NDCG_K = 10


@register(
    "retrieval_ndcg_eval",
    oracle="WITH "
    + _SQL_QUERY_STATS.format(terms=_terms_sql(), toks=SQL_TOKS)
    + f""",
rel AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS rel FROM qtf GROUP BY 1
),
scored AS (
  SELECT q.doc_id,
         CAST(floor(
           (CAST(2*c.n_docs - 2*d.df + 1 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE))
           * (CAST(22*q.tf*c.total_tokens AS DOUBLE)
              / CAST(10*q.tf*c.total_tokens + 3*c.total_tokens + 9*q.dl*c.n_docs AS DOUBLE))
           * 1000000.0) AS BIGINT) AS term_scaled
  FROM qtf q JOIN dft d USING (term) CROSS JOIN corpus c
),
agg AS (SELECT doc_id, CAST(SUM(term_scaled) AS BIGINT) AS score_u FROM scored GROUP BY 1),
ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS rank
  FROM agg ORDER BY score_u DESC, doc_id LIMIT {NDCG_K}
),
dcg AS (
  SELECT SUM(CAST(ROUND(rel.rel / (ln(ranked.rank + 1) / ln(2)) * 1000000000) AS BIGINT)) AS dcg_u
  FROM ranked JOIN rel USING (doc_id)
),
ideal AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rank
  FROM rel ORDER BY rel DESC, doc_id LIMIT {NDCG_K}
),
idcg AS (
  SELECT SUM(CAST(ROUND(rel / (ln(rank + 1) / ln(2)) * 1000000000) AS BIGINT)) AS idcg_u
  FROM ideal
)
SELECT CAST({NDCG_K} AS BIGINT) AS k,
       CAST(dcg_u AS DOUBLE) / 1000000000.0 AS dcg,
       CAST(idcg_u AS DOUBLE) / 1000000000.0 AS idcg,
       CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE) AS ndcg
FROM dcg, idcg
""",
    description=(
        "[EXT] nDCG@10 of the BM25 ranking against graded relevance = "
        "total query-term frequency per doc (linear-gain DCG, "
        "Järvelin & Kekäläinen 2002): DCG over the BM25 top-10, IDCG "
        "over the relevance-ideal top-10, one division. Each rel/"
        "log2(rank+1) term snaps onto the 1e-9 grid before the int64 "
        "sum (ln ULP rule + order independence). The ranking-quality "
        "eval rung next to AP/AUC — both top-k frames are "
        "TakeOrderedAndProject, the relevance table is query-term-"
        "postings-sized."
    ),
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = R.term_frequencies(docs).filter(F.col("term").isin(QUERY_TERMS))
    rel = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("rel"))
    bm = R.bm25_topk(docs, QUERY_TERMS, k=NDCG_K).select("doc_id", "score_u")
    ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_u"), "doc_id"))
        .alias("rank"),
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    term = lambda r, k: F.round(  # noqa: E731
        r / log2(k + F.lit(1.0)) * 1e9
    ).cast("long")
    dcg = (
        ranked.join(rel, "doc_id")
        .agg(F.sum(term(F.col("rel").cast("double"), F.col("rank").cast("double"))).alias("dcg_u"))
    )
    # TakeOrderedAndProject the pool FIRST (the relevance table is
    # postings-sized at 100 TB); the ranking window then runs on k rows
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(NDCG_K)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), "doc_id"))
            .alias("rank"),
        )
    )
    idcg = ideal.agg(
        F.sum(term(F.col("rel").cast("double"), F.col("rank").cast("double"))).alias("idcg_u")
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(NDCG_K).cast("long").alias("k"),
            (F.col("dcg_u").cast("double") / 1e9).alias("dcg"),
            (F.col("idcg_u").cast("double") / 1e9).alias("idcg"),
            (F.col("dcg_u").cast("double") / F.col("idcg_u").cast("double")).alias(
                "ndcg"
            ),
        )
    )


QL_MU = 1000.0


@register(
    "retrieval_query_likelihood",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, len({SQL_TOKS}) AS dl, unnest({SQL_TOKS}) AS term
    FROM documents
  )
  GROUP BY 1, 2, 3
),
qtf AS (SELECT * FROM tf WHERE term IN ({', '.join(f"'{t}'" for t in QUERY_TERMS)})),
cft AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM qtf GROUP BY 1),
corpus AS (
  SELECT CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS total_tokens FROM documents
),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_q FROM cft),
ps AS (
  SELECT q.doc_id,
         CAST(SUM(CAST(ROUND(
           ln(1.0 + (CAST(q.tf AS DOUBLE) * CAST(c.total_tokens AS DOUBLE))
                    / (1000.0 * CAST(f.cf AS DOUBLE)))
           * 1000000000) AS BIGINT)) AS BIGINT) AS ps
  FROM qtf q JOIN cft f USING (term) CROSS JOIN corpus c GROUP BY 1
),
dls AS (SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS dl FROM documents),
sc AS (
  SELECT d.doc_id,
         COALESCE(p.ps, 0)
           + nq.n_q * CAST(ROUND(
               ln(1000.0 / (CAST(d.dl AS DOUBLE) + 1000.0))
               * 1000000000) AS BIGINT) AS score_u
  FROM dls d LEFT JOIN ps p USING (doc_id) CROSS JOIN nq
)
SELECT doc_id, CAST(score_u AS BIGINT) AS score_u,
       CAST(score_u AS DOUBLE) / 1000000000.0 AS ql
FROM sc ORDER BY score_u DESC, doc_id LIMIT {TOP_K}
""",
    description=(
        "[EXT] Dirichlet-smoothed query-likelihood top-k (Zhai & "
        "Lafferty SIGIR'01; mu=1000) — the language-modeling retrieval "
        "family next to BM25/TF-IDF, decomposed into the sparse "
        "present-term part ln(1 + tf*TT/(mu*cf)) plus the per-doc "
        "length normalizer |Q|*ln(mu/(dl+mu)), so EVERY document is "
        "ranked (shorter docs win when evidence ties — the LM "
        "smoothing behavior BM25 lacks). Each ln lands on the 1e-9 "
        "grid as int64 before summation (order-independent, engine-"
        "exact); tf*TT multiplies as doubles so no int64 ceiling at "
        "100 TB token counts. One corpus-narrow dl pass + the query-"
        "sparse tf join + TakeOrderedAndProject."
    ),
)
def retrieval_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return R.query_likelihood_topk(docs, QUERY_TERMS, k=TOP_K, mu=QL_MU)
