"""Text-analysis + dedup query surface over `documents`
(SURVEY.md §2.10 [EXT]: the LLM-data-pipeline operators).

Every oracle below re-states the operator's exact semantics in DuckDB
SQL built from the same primitives (string_split_regex / md5 / list
lambdas), so tokenization, shingling, MinHash and Jaccard are pinned
bit-for-bit by the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as D
from ..operators import text as T
from ..operators.spread import spread_for_compute
from .registry import register

# -- shared DuckDB fragments (must mirror operators/text.py exactly) ----

SQL_TOKS = r"string_split_regex(trim(text), '\s+')"
SQL_BPE = r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')"

# word 3-gram shingles; short docs yield one whole-text shingle
SQL_SHINGLE_CTE = f"""
tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks)-2),
                             i -> array_to_string(toks[i:i+2], ' '))
         ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM tok
),
d AS (SELECT DISTINCT doc_id, shingle FROM sh)
"""


def _sql_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return f"len(list_filter({SQL_TOKS}, x -> list_contains([{words}], x)))"


def _sql_grams(n: int, toks: str = "toks") -> str:
    """DuckDB twin of operators/text.shingles(toks, n): word n-grams,
    one whole-text gram for docs shorter than n tokens."""
    return (
        f"CASE WHEN len({toks}) >= {n} "
        f"THEN list_transform(generate_series(1, len({toks})-{n - 1}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


@register(
    "text_stats",
    oracle=f"""
SELECT doc_id, lang, n_chars,
       length(text) AS n_chars_measured,
       len({SQL_TOKS}) AS n_tokens,
       len(list_distinct({SQL_TOKS})) AS n_uniq_tokens,
       CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS}) AS ttr,
       len({SQL_BPE}) AS n_bpe_tokens
FROM documents
""",
    description="Per-document token/char statistics: whitespace + BPE-ish token counts, type-token ratio.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.length("text").alias("n_chars_measured"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        F.size(T.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
    )


@register(
    "text_quality_filter",
    oracle=f"""
WITH q AS (
  SELECT doc_id,
         len({SQL_TOKS}) AS n_tokens,
         len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
           * 1.0 / len({SQL_TOKS}) AS stop_ratio,
         CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS}) AS ttr
  FROM documents
)
SELECT doc_id, n_tokens, stop_ratio, ttr,
       (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
      + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
      + CASE WHEN ttr BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) / 3.0 AS quality_score
FROM q
WHERE (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
     + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
     + CASE WHEN ttr BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) / 3.0 >= 0.66
""",
    description="Rule-based quality scoring (length / stopword-ratio / type-token-ratio gates) + filter.",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n = F.size(toks)
    stop_ratio = (
        T.stopword_hits(toks, T.LANG_STOPWORDS["en"]) * F.lit(1.0) / n
    )
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    score = (
        F.when(n.between(20, 2000), 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
        + F.when(ttr.between(0.1, 0.9), 1).otherwise(0)
    ) / 3.0
    return (
        docs.select(
            "doc_id",
            n.alias("n_tokens"),
            stop_ratio.alias("stop_ratio"),
            ttr.alias("ttr"),
            score.alias("quality_score"),
        )
        .filter(F.col("quality_score") >= 0.66)
    )


_LANGS = ("en", "de", "es", "fr", "zh")


@register(
    "text_langid",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         {_sql_hits('en')} AS hits_en,
         {_sql_hits('de')} AS hits_de,
         {_sql_hits('es')} AS hits_es,
         {_sql_hits('fr')} AS hits_fr,
         {_sql_hits('zh')} AS hits_zh
  FROM documents
)
SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, hits_zh,
       CASE
         WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
         WHEN hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
         WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         WHEN hits_fr >= hits_zh THEN 'fr'
         ELSE 'zh'
       END AS pred_lang
FROM s
""",
    description="Rule-based language ID: per-language stopword-profile hit counts, deterministic argmax.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    hits = {
        lang: T.stopword_hits(toks, T.LANG_STOPWORDS[lang]).alias(f"hits_{lang}")
        for lang in _LANGS
    }
    scored = docs.select("doc_id", "lang", *hits.values())
    h = {lang: F.col(f"hits_{lang}") for lang in _LANGS}
    pred = (
        F.when(
            (h["en"] >= h["de"]) & (h["en"] >= h["es"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["zh"]),
            "en",
        )
        .when((h["de"] >= h["es"]) & (h["de"] >= h["fr"]) & (h["de"] >= h["zh"]), "de")
        .when((h["es"] >= h["fr"]) & (h["es"] >= h["zh"]), "es")
        .when(h["fr"] >= h["zh"], "fr")
        .otherwise("zh")
    )
    return scored.withColumn("pred_lang", pred)


@register(
    "text_token_topk",
    oracle=f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
""",
    description="Global token frequency top-20 (word count): explode + groupBy + deterministic top-k.",
)
def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id, md5(lower(trim(text))) AS content_hash,
       substr(md5(lower(trim(text))), 1, 4) AS hash_bucket
FROM documents
""",
    description="Deterministic content fingerprint (md5 over normalized text) + coarse hash bucket.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = T.content_fingerprint("text")
    return docs.select(
        "doc_id", fp.alias("content_hash"), F.substring(fp, 1, 4).alias("hash_bucket")
    )


@register(
    "dedup_exact_groups",
    oracle="""
SELECT md5(lower(trim(text))) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
""",
    description="Exact content dedup: normalized-text hash groups, keep min doc_id (SURVEY.md §2.10 [EXT]).",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.content_dedup_groups(docs)


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4
""",
    description="Near-dup detection: exact word-3-gram Jaccard >= 0.4 over pairs sharing a shingle.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, threshold=0.4)


@register(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {SQL_SHINGLE_CTE}
SELECT doc_id,
       MIN(substr(md5(shingle), 1, 8)) AS mh0,
       MIN(substr(md5(shingle), 9, 8)) AS mh1,
       MIN(substr(md5(shingle), 17, 8)) AS mh2,
       MIN(substr(md5(shingle), 25, 8)) AS mh3
FROM d GROUP BY doc_id
""",
    description="MinHash signatures (4 md5-derived components) — engine-portable, hence oracle-checkable.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, num_hashes=4)


@register(
    "dedup_minhash_candidates",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    description="MinHash LSH banding (2 bands x 2 rows): candidate near-dup pairs sharing a band bucket.",
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)


@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand c
  JOIN d da ON da.doc_id = c.doc_a
  JOIN d db ON db.doc_id = c.doc_b AND da.shingle = db.shingle
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
scored AS (
  SELECT c.doc_a, c.doc_b,
         (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END
        + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
        + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END
        + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) AS n_match,
         CAST(COALESCE(i.inter, 0) AS DOUBLE)
           / (sa.n + sb.n - COALESCE(i.inter, 0)) AS j
  FROM cand c
  JOIN sig a ON a.doc_id = c.doc_a
  JOIN sig b ON b.doc_id = c.doc_b
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)
SELECT CAST(n_match AS BIGINT) AS n_match,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(ROUND(ABS(n_match / 4.0 - j) * 1000000000)
                     AS BIGINT)) AS DOUBLE)
         / 1000000000.0 / COUNT(*) AS mean_abs_err
FROM scored GROUP BY 1 ORDER BY 1
""",
    description=(
        "[EXT] MinHash estimator-accuracy audit: for every LSH band "
        "candidate pair, the signature estimate (matching components "
        "/ 4) against the EXACT shingle Jaccard, reported per match "
        "count — the empirical check that the sketch's E[estimate] = "
        "J contract holds on this corpus (Broder 1997), i.e. the "
        "number that justifies trusting banding at 100 TB where "
        "exact verification of every pair is unaffordable. Exact "
        "intersections touch only bucket-collision pairs (the "
        "candidate_jaccard shape, never all pairs); per-pair errors "
        "land on the 1e-9 grid and sum as int64, one division at the "
        "end."
    ),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cj = D.candidate_jaccard(docs)
    sig = D.minhash_signatures(docs)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(4)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(4)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(4)
    )
    scored = (
        cj.join(a, "doc_a")
        .join(b, "doc_b")
        .select(n_match.alias("n_match"), F.col("jaccard").alias("j"))
    )
    err = F.round(
        F.abs(F.col("n_match") / F.lit(4.0) - F.col("j"))
        * F.lit(1_000_000_000)
    ).cast("long")
    return (
        scored.groupBy(F.col("n_match").cast("long").alias("n_match"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                F.sum(err).cast("double")
                / F.lit(1_000_000_000.0)
                / F.count(F.lit(1))
            ).alias("mean_abs_err"),
        )
        .orderBy("n_match")
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
WITH g AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), h AS (
  SELECT doc_id,
    list_transform(range(1, greatest(length(t)-8+2, 2)),
                   i -> substr(md5(substr(t, i, 8)), 1, 8)) AS hs
  FROM g
)
SELECT doc_id,
       unnest(list_distinct(list_transform(
         range(1, greatest(len(hs)-4+2, 2)),
         i -> list_min(list_slice(hs, i, i+3))))) AS fp
FROM h
""",
    description=(
        "Winnowing rolling-hash fingerprints (k=8 char-grams, window "
        "w=4): the SIGMOD'03 document-fingerprint scheme as map-side "
        "array expressions, one output row per distinct fingerprint."
    ),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.winnow_fingerprint_rows(spread_for_compute(docs), k=8, w=4)


@register(
    "pipeline_clean_corpus",
    oracle=f"""
WITH keep1 AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))
),
d1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
{SQL_SHINGLE_CTE.replace("FROM documents", "FROM d1")},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
drop_docs AS (
  SELECT DISTINCT b.doc_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM drop_docs)),
q AS (
  SELECT doc_id,
         len({SQL_TOKS}) AS n_tokens,
         len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
           * 1.0 / len({SQL_TOKS}) AS stop_ratio,
         CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS}) AS ttr
  FROM d2
)
SELECT doc_id, n_tokens,
       (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
      + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
      + CASE WHEN ttr BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) / 3.0 AS quality_score
FROM q
WHERE (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
     + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
     + CASE WHEN ttr BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) / 3.0 >= 0.66
""",
    description=(
        "End-to-end training-corpus cleaning, composed and oracle-"
        "checked as ONE dataflow: exact content dedup (keep min id) -> "
        "MinHash-LSH near-dup removal (greedy: drop the higher id of "
        "each candidate pair) -> rule-based quality gates. Every "
        "shuffle carries compact derived keys (hashes, ids, buckets); "
        "raw text moves only in the parallelism repartition of a "
        "single-file corpus."
    ),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # 1. exact content dedup — one row per distinct normalized content
    keep = (
        docs.groupBy(T.content_fingerprint("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = docs.join(keep, "doc_id", "left_semi")
    # 2. near-dup removal — LSH candidates, drop the higher id
    drop = (
        D.minhash_candidates(d1, num_hashes=4, rows_per_band=2)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    d2 = d1.join(drop, "doc_id", "left_anti")
    # 3. quality gates (same formula as text_quality_filter)
    toks = T.tokens("text")
    n_tokens = F.size(toks)
    stop_ratio = T.stopword_hits(toks, T.LANG_STOPWORDS["en"]) * 1.0 / n_tokens
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    gate = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    score = (
        gate(n_tokens.between(20, 2000))
        + gate(stop_ratio.between(0.01, 0.5))
        + gate(ttr.between(0.1, 0.9))
    ) / 3.0
    return (
        d2.select("doc_id", n_tokens.alias("n_tokens"), score.alias("quality_score"))
        .filter(F.col("quality_score") >= 0.66)
    )


@register(
    "dedup_simhash",
    oracle=None,  # engine-native xxhash64 — verified by property tests
    description="64-bit SimHash fingerprints over tokens (rows-only: engine-native hash, see tests).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash64(docs)


@register(
    "dedup_simhash_candidates",
    oracle=None,  # engine-native xxhash64 — verified by property tests
    description=(
        "SimHash near-dup pairs (Manku WWW'07): 16-bit-chunk bucket "
        "join guarantees every pair within Hamming distance 3 is "
        "generated, exact popcount(xor) filter — rows-only (engine-"
        "native hash), locality verified in tests."
    ),
)
def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_candidates(docs, max_hamming=3)


@register(
    "text_chunk_windows",
    oracle="""
SELECT doc_id,
       CAST((off - 1) / 150 AS BIGINT) AS chunk_id,
       substr(text, CAST(off AS INTEGER), 200) AS chunk,
       length(substr(text, CAST(off AS INTEGER), 200)) AS chunk_len
FROM (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(n_chars, 1), 150)) AS off
  FROM documents)
""",
    description=(
        "Document chunking for training-data prep: fixed 200-char "
        "windows at stride 150 (50-char overlap so no span is lost at a "
        "boundary). sequence + posexplode is a narrow per-row transform "
        "— no shuffle at any scale, chunks stream out of the scan "
        "partition-parallel; downstream ops see chunk rows keyed "
        "(doc_id, chunk_id). Character-addressed here; a tokenizer-"
        "addressed variant swaps the substring for a token-slice UDF."
    ),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    offs = F.sequence(
        F.lit(1), F.greatest(F.col("n_chars"), F.lit(1)).cast("int"), F.lit(150)
    )
    exploded = docs.select(
        "doc_id", "text", F.posexplode(offs).alias("pos", "off")
    )
    chunk = F.col("text").substr(F.col("off"), F.lit(200))
    return exploded.select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_id"),
        chunk.alias("chunk"),
        F.length(chunk).alias("chunk_len"),
    )


@register(
    "text_pack_bins",
    oracle="""
WITH c AS (
  SELECT source, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents)
SELECT source,
       CAST(FLOOR((cum - n_chars) / 2000.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS bin_chars
FROM c
GROUP BY source, bin_id
""",
    description=(
        "Sequence packing for pretraining batches: documents stream "
        "into ~2000-char bins in deterministic (source, doc_id) order — "
        "bin = floor(preceding-chars / budget), the running-sum "
        "formulation of sequential first-fit. TWO-PHASE running sum "
        "(r1 review follow-up): a single Window.partitionBy(source) "
        "puts a whole source through ONE task — terabytes per task at "
        "100 TB. Instead, rows shard by doc_id range within source; "
        "phase 1 aggregates per-shard char totals (map-side partial, "
        "shuffles #shards rows) and turns them into per-shard starting "
        "offsets with a window over that TINY table; phase 2 broadcasts "
        "the offsets back and runs the running sum inside each (source, "
        "shard) — parallelism = sources x shards, identical result to "
        "the global window (same oracle pins it)."
    ),
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard_size = 4096  # doc_ids per shard: ~thousands of parallel tasks per source at 100 TB
    sharded = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.floor(F.col("doc_id") / shard_size).alias("__shard"),
    )
    # phase 1: per-shard totals (narrow partial agg), then per-source
    # exclusive prefix over the shard totals — a window over #shards
    # rows, not data rows
    shard_off = (
        sharded.groupBy("source", "__shard")
        .agg(F.sum("n_chars").alias("__tot"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__tot").over(
                    Window.partitionBy("source")
                    .orderBy("__shard")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("source", "__shard", "__off")
    )
    # phase 2: shard-local running sum + broadcast shard offset
    inner = (
        Window.partitionBy("source", "__shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chars").over(inner) + F.col("__off")
    return (
        sharded.join(F.broadcast(shard_off), ["source", "__shard"])
        .select(
            "source",
            "n_chars",
            F.floor((cum - F.col("n_chars")) / 2000.0).alias("bin_id"),
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bin_chars"),
        )
    )


@register(
    "text_mixture_resample",
    oracle="""
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT source, n_chars, doc_id,
         CASE WHEN source IN ('src0', 'src1') THEN 1000
              WHEN source IN ('src2', 'src3') THEN 500
              ELSE 250 END AS permille
  FROM documents)
WHERE (doc_id * 2654435761) % 1000 < permille
GROUP BY source
""",
    description=(
        "Dataset mixture resampling: per-source sampling rates (here "
        "100% / 50% / 25% tiers) realize a target corpus mix — the "
        "data-mixing step of pretraining-corpus construction. The keep "
        "decision is a pure per-row predicate on a multiplicative key "
        "hash: reproducible across engines and reruns, pushes into the "
        "scan, zero shuffle before the per-source summary. Completes "
        "the sampling trio with Bernoulli (sample_hash_deterministic) "
        "and stratified (sample_stratified_exact) draws."
    ),
)
def text_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    permille = (
        F.when(F.col("source").isin("src0", "src1"), 1000)
        .when(F.col("source").isin("src2", "src3"), 500)
        .otherwise(250)
    )
    return (
        docs.filter((F.col("doc_id") * F.lit(2654435761)) % 1000 < permille)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "text_scrub_entities",
    oracle="""
SELECT doc_id,
       replace(text, 'customer', '<ENT>') AS scrubbed,
       CAST((length(text) - length(replace(text, 'customer', ''))) / 8 AS BIGINT)
         AS n_redactions
FROM documents
WHERE text LIKE '%customer%'
""",
    description=(
        "Corpus scrubbing / entity redaction for training-data prep: "
        "replace a sensitive literal with a placeholder token and count "
        "redactions per document (real pipelines swap the literal for "
        "PII regex alternations; the plumbing — narrow per-row "
        "transform, redaction audit count, filter to touched docs — is "
        "identical and the literal form keeps the oracle exact across "
        "engines' regex dialects). Pure map over the scan: no shuffle "
        "at any scale, and the LIKE pre-filter pushes into the parquet "
        "scan so untouched documents are never rewritten."
    ),
)
def text_scrub_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace("text", "customer", "<ENT>")
    removed = F.regexp_replace("text", "customer", "")
    return docs.filter(F.col("text").contains("customer")).select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        ((F.length("text") - F.length(removed)) / 8).cast("long").alias("n_redactions"),
    )


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
SELECT node AS doc_id, label AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS cluster_size
FROM cc
""",
    description=(
        "[EXT] near-dup CLUSTERS from LSH candidate pairs "
        "(operators/dedup.dup_clusters): connected components via "
        "alternating large-star/small-star contraction (Kiveris et al. "
        "2014 — O(log² n) rounds regardless of diameter) over the "
        "MinHash band-bucket pair graph — the step that turns pairwise "
        "candidates into droppable groups (keep min-id per cluster). "
        "The oracle computes the same components with a recursive CTE, "
        "so the distributed iterative fixpoint is hash-checked against "
        "a declarative ground truth."
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)
    labels = D.dup_clusters(pairs, "doc_a", "doc_b")
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# Gopher-style repetition gates (Rae et al. 2021 §A1.1, public paper).
# Thresholds sit inside the measured sf0.01 distribution so the filter
# is non-vacuous: top-2-gram fraction p5-p95 spans 0.040-0.167 (0.10
# keeps ~80%), dup-3-gram fraction is 0 for most docs with a repeating
# tail (0.02 drops ~1%).
TOP2_MAX = 0.10
DUP3_MAX = 0.02


@register(
    "text_repetition_filter",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, len(toks) AS n_tokens,
         {_sql_grams(2)} AS g2,
         {_sql_grams(3)} AS g3
  FROM tok
),
c2 AS (
  SELECT doc_id, MAX(c) AS maxc FROM (
    SELECT doc_id, gram, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY 1, 2
  ) GROUP BY 1
),
m AS (
  SELECT g.doc_id, g.n_tokens,
         c2.maxc * 2.0 / g.n_tokens AS top2_frac,
         1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup3_frac
  FROM g JOIN c2 USING (doc_id)
)
SELECT doc_id, n_tokens, top2_frac, dup3_frac,
       (top2_frac <= {TOP2_MAX}) AND (dup3_frac <= {DUP3_MAX}) AS keep
FROM m
""",
    description=(
        "[EXT] Gopher-style repetition quality gates: per-document "
        "top-2-gram token fraction and duplicate-3-gram fraction "
        "(operators/text.max_gram_count / dup_gram_frac), with the "
        "keep/drop decision at measured thresholds. Entirely map-side "
        "column expressions — no shuffle for a doc-local statistic at "
        "any corpus size."
    ),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    toks = T.tokens("text")
    n = F.size(toks)
    g2 = T.shingles(toks, 2)
    g3 = T.shingles(toks, 3)
    top2 = T.max_gram_count(g2) * F.lit(2.0) / n
    dup3 = T.dup_gram_frac(g3)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        top2.alias("top2_frac"),
        dup3.alias("dup3_frac"),
        ((top2 <= TOP2_MAX) & (dup3 <= DUP3_MAX)).alias("keep"),
    )


CONTAM_GRAM_N = 4
CONTAM_BENCH_MOD = 20  # doc_id % 20 == 0 -> the held-out "benchmark" 5%


@register(
    "text_contamination_overlap",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct({_sql_grams(CONTAM_GRAM_N)})) AS gram
  FROM tok
),
b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % {CONTAM_BENCH_MOD} = 0)
SELECT g.doc_id,
       CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_shared_grams,
       CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM g JOIN b ON g.gram = b.gram AND g.doc_id <> b.bench_id
GROUP BY g.doc_id
""",
    description=(
        "[EXT] benchmark-contamination detection (the GPT-3/PaLM "
        "n-gram-overlap decontamination step, public methodology): "
        "corpus documents sharing any exact word 4-gram with a held-out "
        "benchmark set, with shared-gram and benchmark-doc counts per "
        "contaminated doc. Thin fixture over "
        "operators.text.contamination_overlap — the operator takes the "
        "benchmark as a caller-supplied DataFrame and sizes the join by "
        "a benchmark-only probe (broadcast iff small, shuffle "
        "otherwise), so the plan never depends on corpus scale; this "
        "fixture's benchmark is the deterministic 5% doc_id slice, "
        "which the auto probe correctly classifies as broadcastable at "
        "test SFs."
    ),
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    return T.contamination_overlap(
        docs,
        bench,
        gram_n=CONTAM_GRAM_N,
        exclude_same_id=True,
        strategy="auto",
    )


# -- oracle-portable SimHash twin (md5-based, 16-bit) --------------------
#
# The production simhash64 uses xxhash64 (engine-native, rows-only
# evidence). This twin runs the SAME vote/assemble/chunk-bucket logic
# over a 16-bit md5-derived token hash both engines can compute, so the
# SimHash family earns hard hash-green rows: bit votes, fingerprint
# assembly, and the WWW'07 chunk-bucket candidate join are all pinned.

SIMHASH16_BITS = 16
SIMHASH16_CHUNKS = 4  # 4-bit chunks; any pair with hamming<=3 shares one
SIMHASH16_MAX_HAMMING = 3

# DuckDB: value of the first 4 md5 hex chars as an integer 0..65535
_SQL_H16 = (
    "((strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(token), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(token), 4, 1)) - 1))"
)

_SQL_VOTES = ", ".join(
    f"SUM(CASE WHEN (({_SQL_H16} >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH16_BITS)
)
_SQL_FP = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(SIMHASH16_BITS)
)

_SQL_SIMHASH16_CTE = f"""
tok16 AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
),
votes16 AS (
  SELECT doc_id, {_SQL_VOTES} FROM tok16 GROUP BY doc_id
),
fp16 AS (
  SELECT doc_id, CAST({_SQL_FP} AS BIGINT) AS simhash16 FROM votes16
)
"""


def _spark_simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-file corpus before the md5-vote map side — the
    # 16 per-bit conditional sums over every token otherwise partial-
    # aggregate inside the one scan task
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    )
    h = F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("long")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH16_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(SIMHASH16_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("long").alias("simhash16"))


@register(
    "dedup_simhash_md5",
    oracle=f"""
WITH {_SQL_SIMHASH16_CTE}
SELECT doc_id, simhash16 FROM fp16
""",
    description=(
        "[EXT] oracle-portable SimHash signatures: 16-bit md5-derived "
        "token hashes, per-bit majority votes, fingerprint assembly — "
        "the same logic as the production xxhash64 simhash64, pinned "
        "exactly by the gate instead of rows-only."
    ),
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_simhash16(spark, sf_dir)


@register(
    "dedup_simhash_md5_candidates",
    oracle=f"""
WITH {_SQL_SIMHASH16_CTE},
chunks AS (
  SELECT doc_id, simhash16, c.c AS ci,
         (simhash16 >> (4 * c.c)) & 15 AS cv
  FROM fp16, unnest([0, 1, 2, 3]) AS c(c)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT) AS hamming
FROM chunks a
JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash16, b.simhash16)) <= {SIMHASH16_MAX_HAMMING}
""",
    description=(
        "[EXT] oracle-portable SimHash near-dup candidates: WWW'07 "
        "chunk-bucket scheme on the 16-bit md5 fingerprints (4-bit "
        "chunks guarantee every pair within Hamming 3 shares a bucket), "
        "exact Hamming verify on bucket collisions only — the candidate "
        "join logic of dedup_simhash_candidates, hash-checked."
    ),
)
def dedup_simhash_md5_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _spark_simhash16(spark, sf_dir)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("ci"),
                F.shiftright(F.col("simhash16"), 4 * c)
                .bitwiseAND(F.lit(15))
                .alias("cv"),
            )
            for c in range(SIMHASH16_CHUNKS)
        ]
    )
    chunks = fp.select(
        "doc_id", "simhash16", F.explode(chunk_structs).alias("ch")
    ).select(
        "doc_id",
        "simhash16",
        F.col("ch.ci").alias("ci"),
        F.col("ch.cv").alias("cv"),
    )
    # explicit count: the exchange is byte-tiny (only 64 distinct
    # buckets) but the verify join above it is quadratic per bucket —
    # AQE's byte-based coalescing would run it on one core
    chunks = chunks.repartition(
        spark.sparkContext.defaultParallelism, "ci", "cv"
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash16").bitwiseXOR(F.col("b.simhash16"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH16_MAX_HAMMING)
    )


@register(
    "dedup_triangle_count",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
e AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e1.v = e2.u
JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
""",
    description=(
        "[EXT] triangle count over the MinHash-LSH candidate-pair graph "
        "(the standard densest-cluster / graph-quality signal next to "
        "connected components): edges oriented low->high id, so each "
        "triangle is counted exactly once by the canonical two-hop join. "
        "At scale this is the classic 2-shuffle triangle enumeration on "
        "an oriented edge list — no node's full neighborhood ever "
        "materializes on one task beyond its out-degree."
    ),
)
def dedup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = (
        D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "dedup_canonical_docs",
    oracle=f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
q AS (
  SELECT doc_id,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
  FROM tok
),
ranked AS (
  SELECT cc.label AS cluster_id, cc.node AS doc_id, q.ttr,
         row_number() OVER (
           PARTITION BY cc.label ORDER BY q.ttr DESC, cc.node ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY cc.label) AS n_members
  FROM cc JOIN q ON q.doc_id = cc.node
)
SELECT cluster_id, doc_id AS canonical_doc_id,
       CAST(n_members AS BIGINT) AS n_members, ttr AS canonical_ttr
FROM ranked WHERE rn = 1
""",
    description=(
        "[EXT] canonical-document selection: inside every near-dup "
        "cluster keep the HIGHEST-QUALITY copy (type-token ratio, "
        "doc-id tie-break) instead of an arbitrary representative — "
        "what a production dedup actually ships. Composes the LSH "
        "candidate graph, star-contraction connected components, and "
        "the quality metric; the oracle recomputes all three "
        "declaratively (recursive CTE + window argmax)."
    ),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)
    labels = D.dup_clusters(pairs, "doc_a", "doc_b")
    toks = T.tokens("text")
    q = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )
    m = labels.join(q, labels["node"] == q["doc_id"]).select(
        F.col("label").alias("cluster_id"), F.col("node").alias("member_id"), "ttr"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("ttr").desc(), F.col("member_id").asc()
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("member_id").alias("canonical_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("ttr").alias("canonical_ttr"),
        )
    )


@register(
    "text_token_doc_freq",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS token FROM tok)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS collection_freq,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM e GROUP BY token
""",
    description=(
        "[EXT] full token-level corpus statistics: collection frequency "
        "and document frequency per token — the TF-IDF/vocabulary-"
        "pruning building block. One shuffle on token with map-side "
        "combine; output is vocabulary-sized, independent of corpus "
        "row count."
    ),
)
def text_token_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    return e.groupBy("token").agg(
        F.count(F.lit(1)).alias("collection_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


@register(
    "text_unigram_familiarity",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS token FROM tok),
cf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY token)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(cf.c) AS DOUBLE) / COUNT(*) AS mean_token_freq,
       CAST(MIN(cf.c) AS BIGINT) AS rarest_token_freq
FROM e JOIN cf ON e.token = cf.token
GROUP BY e.doc_id
""",
    description=(
        "[EXT] corpus-statistics quality feature (the exact-arithmetic "
        "stand-in for CCNet-style LM-perplexity filtering, which needs "
        "libm log and would break cross-engine hashing): per document "
        "the mean and minimum CORPUS frequency of its tokens — "
        "rare-vocabulary documents score low, boilerplate scores high. "
        "Two shuffles (vocab count, per-doc agg); the vocab table "
        "joins back by token and is broadcast-sized for natural-"
        "language vocabularies."
    ),
)
def text_unigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    cf = e.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    return (
        e.join(cf, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "mean_token_freq"
            ),
            F.min("c").alias("rarest_token_freq"),
        )
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
dfq AS (SELECT shingle, COUNT(*) AS c FROM d GROUP BY 1),
rare AS (SELECT shingle FROM dfq WHERE c BETWEEN 2 AND 8),
blocked AS (SELECT d.doc_id, d.shingle FROM d JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocked a JOIN blocked b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN d x ON x.doc_id = c.doc_a
  JOIN d y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS n_a, sb.n AS n_b,
       CAST(i.n_common AS DOUBLE) / sa.n AS containment_a,
       CAST(i.n_common AS DOUBLE) / sb.n AS containment_b
FROM inter i
JOIN sz sa ON sa.doc_id = i.doc_a
JOIN sz sb ON sb.doc_id = i.doc_b
WHERE greatest(CAST(i.n_common AS DOUBLE) / sa.n,
               CAST(i.n_common AS DOUBLE) / sb.n) >= 0.5
""",
    description=(
        "Asymmetric shingle-containment near-dup tier with rare-gram "
        "blocking: only shingles with df in [2,8] propose candidate "
        "pairs (bounded pair blowup per shingle — stopword-grade grams "
        "propose nothing), exact |A∩B| computed for candidates only, "
        "both containment directions as exact int64 divisions. Catches "
        "quote-inclusion pairs symmetric Jaccard dilutes."
    ),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, min_df=2, max_df=8, threshold=0.5)


@register(
    "pipeline_curate_v2",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
q AS (
  SELECT doc_id,
         len({SQL_TOKS}) AS n_tokens,
         len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
           * 1.0 / len({SQL_TOKS}) AS stop_ratio,
         CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS}) AS ttr
  FROM documents
),
qs AS (
  SELECT doc_id, n_tokens,
         (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
        + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
        + CASE WHEN ttr BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) / 3.0 AS quality_score
  FROM q
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
dfq AS (SELECT shingle, COUNT(*) AS c FROM d GROUP BY 1),
rare AS (SELECT shingle FROM dfq WHERE c BETWEEN 2 AND 8),
blocked AS (SELECT d.doc_id, d.shingle FROM d JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocked a JOIN blocked b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN d x ON x.doc_id = c.doc_a
  JOIN d y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
cpairs AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_common AS DOUBLE) / sa.n AS ca,
         CAST(i.n_common AS DOUBLE) / sb.n AS cb
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE greatest(CAST(i.n_common AS DOUBLE) / sa.n,
                 CAST(i.n_common AS DOUBLE) / sb.n) >= 0.5
),
cont_drop AS (
  SELECT DISTINCT CASE WHEN ca > cb THEN doc_a
                       WHEN cb > ca THEN doc_b
                       ELSE greatest(doc_a, doc_b) END AS doc_id
  FROM cpairs
),
g4 AS (
  SELECT doc_id, unnest(list_distinct({_sql_grams(4)})) AS gram FROM tok
),
b4 AS (SELECT doc_id AS bench_id, gram FROM g4 WHERE doc_id % 20 = 0),
contam AS (
  SELECT DISTINCT g4.doc_id
  FROM g4 JOIN b4 ON g4.gram = b4.gram AND g4.doc_id <> b4.bench_id
)
SELECT qs.doc_id, qs.n_tokens, qs.quality_score
FROM qs
WHERE qs.quality_score >= 0.66
  AND qs.doc_id % 20 <> 0
  AND qs.doc_id NOT IN (SELECT doc_id FROM cont_drop)
  AND qs.doc_id NOT IN (SELECT doc_id FROM contam)
""",
    description=(
        "[EXT] second-generation curation pipeline composing the r5 "
        "operators: quality gates -> containment near-dup removal "
        "(drop the CONTAINED doc — higher containment loses, id "
        "tie-break) -> benchmark decontamination (exact 4-gram overlap "
        "vs the held-out slice, the slice itself excluded as test "
        "data). Each stage is the independently-oracled operator; the "
        "composition is one staged anti-join chain, every stage "
        "blocked/bounded as in its standalone query."
    ),
)
def pipeline_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)

    toks = T.tokens("text")
    n = F.size(toks)
    stop_ratio = T.stopword_hits(toks, T.LANG_STOPWORDS["en"]) * F.lit(1.0) / n
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    score = (
        F.when(n.between(20, 2000), 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
        + F.when(ttr.between(0.1, 0.9), 1).otherwise(0)
    ) / 3.0
    qs = docs.select(
        "doc_id", n.alias("n_tokens"), score.alias("quality_score")
    ).filter(F.col("quality_score") >= 0.66)

    pairs = D.containment_pairs(docs, min_df=2, max_df=8, threshold=0.5)
    cont_drop = pairs.select(
        F.when(F.col("containment_a") > F.col("containment_b"), F.col("doc_a"))
        .when(F.col("containment_b") > F.col("containment_a"), F.col("doc_b"))
        .otherwise(F.greatest("doc_a", "doc_b"))
        .alias("doc_id")
    ).distinct()

    contam = (
        T.contamination_overlap(
            docs, bench, gram_n=CONTAM_GRAM_N, exclude_same_id=True,
            strategy="auto",
        )
        .select("doc_id")
        .distinct()
    )

    return (
        qs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        .join(cont_drop, "doc_id", "left_anti")
        .join(contam, "doc_id", "left_anti")
    )


@register(
    "text_char_diversity",
    oracle="""
WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(replace(text, ' ', ''), '')) AS c
  FROM documents
),
cc AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
  FROM ch WHERE c <> '' GROUP BY 1, 2
),
tot AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n * n) AS BIGINT) AS sum_sq,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM cc GROUP BY 1
)
SELECT doc_id, total AS n_chars_nospace, n_distinct,
       CAST(sum_sq AS DOUBLE) / CAST(total * total AS DOUBLE) AS collision_prob
FROM tot
""",
    description=(
        "[EXT] character-diversity quality signal: per-doc collision "
        "probability sum(c_i^2)/n^2 (the Simpson index — a Renyi-2 "
        "entropy proxy that needs NO log arithmetic, so it stays an "
        "exact int64 ratio). High collision probability flags "
        "degenerate/repetitive text the Gopher gates quantify at the "
        "n-gram level; this is the cheaper character-level screen. "
        "Narrow map + one map-side-combined aggregate."
    ),
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        spread_for_compute(docs)
        .select(
            "doc_id",
            F.explode(
                F.split(F.regexp_replace("text", " ", ""), "")
            ).alias("c"),
        )
        .filter(F.col("c") != "")
    )
    cc = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cc.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    return tot.select(
        "doc_id",
        F.col("total").alias("n_chars_nospace"),
        "n_distinct",
        (
            F.col("sum_sq").cast("double")
            / (F.col("total") * F.col("total")).cast("double")
        ).alias("collision_prob"),
    )


WSAMPLE_K = 50
_WS_MOD = 1_000_000  # hash-uniform grid: u = (h+1)/(MOD+1) in (0,1)


@register(
    "sample_weighted_docs",
    oracle=f"""
WITH k AS (
  SELECT doc_id, n_chars,
         ln(CAST((doc_id * 2654435761) % {_WS_MOD} + 1 AS DOUBLE)
            / {_WS_MOD + 1}) / n_chars AS key
  FROM documents
),
r AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS sample_rank
  FROM k
)
SELECT doc_id, n_chars, sample_rank FROM r
WHERE sample_rank <= {WSAMPLE_K}
""",
    description=(
        "[EXT] weighted sampling without replacement (Efraimidis-"
        "Spirakis 2006, public methodology): each doc draws a "
        "deterministic hash-uniform u and is ranked by ln(u)/w with "
        "w = n_chars, so inclusion probability is proportional to "
        "size — the quality/length-weighted subsample a mixture "
        "builder takes from a 100 TB corpus. rand()-free, so the "
        "sample is reproducible across engines, reruns and "
        "partitionings; ln only orders the top-k (keys are ~1e-3 "
        "apart, 13 orders above libm noise) and no float reaches "
        "the output. Executes as TakeOrderedAndProject over a "
        "narrow map — no full sort, no shuffle of the corpus."
    ),
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") * F.lit(2654435761)) % _WS_MOD + 1).cast("double")
        / F.lit(float(_WS_MOD + 1))
    )
    k = docs.select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("key")
    )
    # top-k first (TakeOrderedAndProject — per-partition heads merged
    # on the driver, no global sort / single-task window), THEN rank
    # the k-row result; a global row_number window over the corpus
    # would be one task holding every row.
    top = k.orderBy(F.col("key").desc(), "doc_id").limit(WSAMPLE_K)
    w = Window.orderBy(F.col("key").desc(), "doc_id")
    return (
        top.withColumn("sample_rank", F.row_number().over(w))
        .select("doc_id", "n_chars", "sample_rank")
    )


WRES_K = 20  # exact per-source sample size
WRES_TEMP = 2  # temperature: weights flattened to n_chars^(1/T) = sqrt


@register(
    "sample_weighted_reservoir",
    oracle=f"""
WITH k AS (
  SELECT source, doc_id, n_chars,
         ln(CAST((doc_id * 2654435761) % {_WS_MOD} + 1 AS DOUBLE)
            / {_WS_MOD + 1}) / sqrt(CAST(n_chars AS DOUBLE)) AS key
  FROM documents
)
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY source ORDER BY key DESC, doc_id) AS BIGINT)
         AS sample_rank
FROM k QUALIFY sample_rank <= {WRES_K}
ORDER BY source, sample_rank
""",
    description=(
        "[EXT] per-source exact-size weighted reservoir (r10 verdict "
        "next-round #7): an Efraimidis-Spirakis sample of EXACTLY "
        f"{WRES_K} docs from EACH source, weighted by temperature-"
        f"flattened length n_chars^(1/{WRES_TEMP}) = sqrt(n_chars) — "
        "the per-domain draw a mixture builder takes after setting "
        "temperature weights (sample_weighted_docs is the global, "
        "unflattened variant; the mixture shelf resamples by "
        "temperature but had no exact-size grouped draw). sqrt is "
        "IEEE-correctly-rounded in both engines, so the weight needs "
        "no grid; ln(u)/sqrt(w) keys only ORDER the per-group top-k "
        "(u-grid separation is orders above libm ULP noise) and no "
        "float reaches the output. rank<=k over a per-source window "
        "executes as WindowGroupLimit — per-group heads kept map-"
        "side, never a corpus sort."
    ),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") * F.lit(2654435761)) % _WS_MOD + 1).cast("double")
        / F.lit(float(_WS_MOD + 1))
    )
    k = docs.select(
        "source",
        "doc_id",
        "n_chars",
        (F.log(u) / F.sqrt(F.col("n_chars").cast("double"))).alias("key"),
    )
    w = Window.partitionBy("source").orderBy(F.col("key").desc(), "doc_id")
    return (
        k.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= WRES_K)
        .select("source", "doc_id", "n_chars", "sample_rank")
        .orderBy("source", "sample_rank")
    )


@register(
    "text_kl_domain_shift",
    oracle=f"""
WITH tok AS (
  SELECT source, UNNEST({SQL_TOKS}) AS token FROM documents
),
st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n_st
  FROM tok GROUP BY 1, 2
),
gtok AS (
  SELECT token, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1
),
vocab AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(n_t) AS BIGINT) AS t
  FROM gtok
),
ql AS (
  SELECT g.token, g.n_t,
         CAST(ROUND(ln(CAST(g.n_t + 1 AS DOUBLE)
                       / CAST(vocab.t + vocab.v AS DOUBLE))
                    * 1000000000) AS BIGINT) AS lq
  FROM gtok g CROSS JOIN vocab
),
sall AS (SELECT CAST(SUM(lq) AS BIGINT) AS s_all FROM ql),
stot AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS t_s FROM st GROUP BY 1),
pres AS (
  SELECT st.source, stot.t_s, vocab.v, vocab.t, st.n_st, q.n_t, q.lq
  FROM st JOIN ql q USING (token)
  JOIN stot USING (source) CROSS JOIN vocab
),
pa AS (
  SELECT source,
         CAST(MAX(t_s) AS BIGINT) AS t_s,
         CAST(MAX(v) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS v_s,
         CAST(SUM(CAST(ROUND(
           (CAST(n_st + 1 AS DOUBLE) / CAST(t_s + v AS DOUBLE))
           * ln((CAST(n_st + 1 AS DOUBLE) / CAST(t_s + v AS DOUBLE))
                / (CAST(n_t + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)))
           * 1000000000) AS BIGINT)) AS BIGINT) AS g_present,
         CAST(SUM(lq) AS BIGINT) AS s_s
  FROM pres GROUP BY source
)
SELECT source, t_s AS n_tokens,
       (g_present + CAST(ROUND(
          (CAST(1 AS DOUBLE) / CAST(t_s + v AS DOUBLE))
          * CAST((v - v_s)
                 * CAST(ROUND(ln(CAST(1 AS DOUBLE)
                                 / CAST(t_s + v AS DOUBLE))
                              * 1000000000) AS BIGINT)
                 - (s_all - s_s) AS DOUBLE)) AS BIGINT))
         / 1000000000.0 AS kl_bits_nat
FROM pa CROSS JOIN sall
""",
    description=(
        "[EXT] domain-shift ranking for data-mixture curation: per "
        "source, the KL divergence KL(P_source || P_corpus) of its "
        "Laplace-smoothed unigram distribution against the whole-"
        "corpus distribution. Tokens a source never uses contribute "
        "via a CLOSED FORM, not a dense spine (r10 verdict #4): where "
        "n_st = 0 the term is p0*(ln p0 - ln q_t) with p0 constant "
        "per source, so the absent-token mass is p0*((V - V_s)*ln p0 "
        "- (S_all - S_s)) from one global sum of grid-snapped ln q_t "
        "— the former |sources| x |vocab| crossJoin spine and its "
        "left join are gone. All counts are exact int64; per-token "
        "present terms and ln q_t land on a 1e-9 grid and sum as "
        "int64; the remainder is one deterministic IEEE multiply per "
        "source, so both engines agree bit-for-bit. Work is one "
        "tokenize scan plus nnz- and vocabulary-sized shuffles only."
    ),
)
def text_kl_domain_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(T.tokens("text")).alias("token"))
    # lazy pin: three branches (vocabulary counts, source totals, the
    # present-term join) read this nnz-sized frame; unpinned each
    # branch re-tokenizes the corpus.
    st = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("n_st")
    ).localCheckpoint(eager=False)
    glob = st.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    vocab = glob.agg(
        F.count(F.lit(1)).alias("v"), F.sum("n_t").alias("t")
    )
    # per-token grid-snapped ln q_t (vocabulary-sized; read by the
    # global sum and the present join, recomputed cheaply from the
    # pinned st)
    ql = glob.crossJoin(F.broadcast(vocab)).select(
        "token",
        "n_t",
        "v",
        "t",
        F.round(
            F.log(
                (F.col("n_t") + 1).cast("double")
                / (F.col("t") + F.col("v")).cast("double")
            )
            * F.lit(1_000_000_000)
        ).cast("long").alias("lq"),
    )
    sall = ql.agg(F.sum("lq").alias("s_all"))
    stot = st.groupBy("source").agg(F.sum("n_st").alias("t_s"))
    pres = st.join(ql, "token").join(F.broadcast(stot), "source")
    p = (F.col("n_st") + 1).cast("double") / (
        F.col("t_s") + F.col("v")
    ).cast("double")
    q = (F.col("n_t") + 1).cast("double") / (
        F.col("t") + F.col("v")
    ).cast("double")
    pa = pres.groupBy("source").agg(
        F.max("t_s").cast("long").alias("t_s"),
        F.max("v").cast("long").alias("v"),
        F.count(F.lit(1)).cast("long").alias("v_s"),
        F.sum(
            F.round(p * F.log(p / q) * F.lit(1_000_000_000)).cast("long")
        ).alias("g_present"),
        F.sum("lq").alias("s_s"),
    )
    p0 = F.lit(1.0) / (F.col("t_s") + F.col("v")).cast("double")
    lp0 = F.round(F.log(p0) * F.lit(1_000_000_000)).cast("long")
    g_rem = (F.col("v") - F.col("v_s")) * lp0 - (
        F.col("s_all") - F.col("s_s")
    )
    return pa.crossJoin(F.broadcast(sall)).select(
        "source",
        F.col("t_s").alias("n_tokens"),
        (
            (F.col("g_present") + F.round(p0 * g_rem.cast("double")).cast("long"))
            / F.lit(1_000_000_000.0)
        ).alias("kl_bits_nat"),
    )


ZIPF_TOP_R = 30  # fit over the head ranks present at every SF


@register(
    "text_zipf_slope",
    oracle=f"""
WITH tok AS (
  SELECT UNNEST({SQL_TOKS}) AS token FROM documents
),
cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1
),
ranked AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token) AS rank
  FROM cnt QUALIFY rank <= {ZIPF_TOP_R}
),
pts AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM ranked
),
a AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT)*x) AS sxx, SUM(CAST(x AS HUGEINT)*y) AS sxy,
         SUM(CAST(y AS HUGEINT)*y) AS syy
  FROM pts
),
d AS (
  SELECT CAST(k AS BIGINT) AS k, CAST(k AS DOUBLE) AS kd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy
  FROM a
),
f AS (
  SELECT k, kd, sx, sy, syy, sxx, sxy,
         (kd*sxy - sx*sy) / (kd*sxx - sx*sx) AS slope
  FROM d
)
SELECT k AS n_ranks, slope,
       (sy - slope*sx) / kd / 1000000.0 AS intercept,
       ((kd*sxy - sx*sy) * (kd*sxy - sx*sy))
         / ((kd*sxx - sx*sx) * (kd*syy - sy*sy)) AS r2
FROM f
""",
    description=(
        "[EXT] Zipf-law fit over the corpus vocabulary: OLS of "
        "ln(frequency) on ln(rank) for the head ranks — the classic "
        "corpus-health statistic (natural text sits near slope -1; "
        "generated/templated corpora drift off it). Log points are "
        "snapped to a 1e-6 integer grid so every OLS sufficient "
        "statistic is an exact integer sum (order-independent across "
        "engines), then slope/intercept/R^2 by the same term-for-term "
        "IEEE normal-equation formulas as ml_ols_closed_form. The "
        "rank table is vocabulary-sized; the only corpus-sized work "
        "is the token count."
    ),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-R via TakeOrderedAndProject (per-partition top-k + driver
    # merge), then the rank window runs over R rows — the full
    # vocabulary is never globally sorted or single-tasked.
    top = cnt.orderBy(F.col("n").desc(), "token").limit(ZIPF_TOP_R)
    rank_w = Window.orderBy(F.col("n").desc(), "token")
    ranked = top.withColumn("rank", F.row_number().over(rank_w))
    pts = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1_000_000)
        .cast("long").alias("x"),
        F.round(F.log(F.col("n").cast("double")) * 1_000_000)
        .cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec(F.col("y")) * F.col("y")).alias("syy"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    return a.select(
        F.col("k").cast("long").alias("n_ranks"),
        slope.alias("slope"),
        ((sy - slope * sx) / kd / F.lit(1_000_000.0)).alias("intercept"),
        (
            ((kd * sxy - sx * sy) * (kd * sxy - sx * sy))
            / ((kd * sxx - sx * sx) * (kd * syy - sy * sy))
        ).alias("r2"),
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
hashes AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
exact AS (
  SELECT DISTINCT b.doc_id FROM hashes b JOIN hashes c ON b.h = c.h
  WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
),
near AS (
  SELECT DISTINCT b.doc_id FROM bands b
  JOIN bands c ON b.band = c.band AND b.bucket = c.bucket
  WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
)
SELECT d0.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d0
LEFT JOIN exact e ON d0.doc_id = e.doc_id
LEFT JOIN near n ON d0.doc_id = n.doc_id
""",
    description=(
        "[EXT] incremental cross-shard dedup (operators/dedup."
        "incremental_dedup_status): a new ingest batch (doc_id%10==7 "
        "as the fixture delta) is classified against the EXISTING "
        "corpus's stored dedup index — 'exact_dup' if its content hash "
        "is already present, 'near_dup' if it shares a MinHash LSH "
        "band bucket with any corpus doc, else 'new'. This is the "
        "dedup mode a 100 TB pipeline actually runs day-to-day: the "
        "corpus is never re-deduplicated, only the delta is probed "
        "against byte-sized hash/band indexes (persisted between "
        "batches; derived inline here so the oracle can see them), "
        "and both probes are left-semi joins. Complements "
        "pipeline_clean_corpus (the full-corpus batch mode)."
    ),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 7
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)
    corpus_hashes = corpus.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("h")
    ).distinct()
    corpus_bands = D.minhash_bands(corpus).select("band", "bucket")
    return D.incremental_dedup_status(batch, corpus_hashes, corpus_bands)


DEDUP_INDEX_EPOCHS = 4  # arrival-order fixture: epoch = doc_id % 4


@register(
    "stream_dedup_index_twin",
    oracle=f"""
WITH {{shingle_cte}},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
ep AS (SELECT doc_id, doc_id % {DEDUP_INDEX_EPOCHS} AS epoch FROM documents),
hashes AS (
  SELECT doc_id, doc_id % {DEDUP_INDEX_EPOCHS} AS epoch,
         md5(lower(trim(text))) AS h
  FROM documents
),
exact AS (
  SELECT DISTINCT b.doc_id FROM hashes b
  JOIN hashes c ON b.h = c.h AND c.epoch < b.epoch
),
near AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN ep be ON be.doc_id = b.doc_id
  JOIN bands c ON b.band = c.band AND b.bucket = c.bucket
  JOIN ep ce ON ce.doc_id = c.doc_id
  WHERE ce.epoch < be.epoch
),
st AS (
  SELECT e.epoch,
         CASE WHEN x.doc_id IS NOT NULL THEN 'exact_dup'
              WHEN n.doc_id IS NOT NULL THEN 'near_dup'
              ELSE 'new' END AS status
  FROM ep e
  LEFT JOIN exact x ON e.doc_id = x.doc_id
  LEFT JOIN near n ON e.doc_id = n.doc_id
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       CAST(SUM(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_dup,
       CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new
FROM st GROUP BY 1 ORDER BY 1
""".format(shingle_cte=SQL_SHINGLE_CTE),
    description=(
        "[EXT] batch twin of STREAMING dedup-index maintenance "
        "(streaming/dedup_index.StreamingDedupIndex, r10 verdict "
        "next-round #5): documents arrive in epochs (doc_id % 4 as "
        "the arrival-order fixture); each epoch is classified against "
        "the content-hash + MinHash-band index built from STRICTLY "
        "EARLIER epochs, then its own entries join the index — the "
        "always-current dedup index a 100 TB ingest keeps, maintained "
        "by a foreachBatch sink with epoch-partitioned dynamic "
        "overwrites (replay-safe exactly-once; a doc never sees its "
        "own micro-batch). Epoch 0 is all 'new' by construction. The "
        "Spark side runs the shared replay_epochs twin (one "
        "declarative epoch-inequality plan); streaming-vs-batch "
        "equality incl. checkpoint restart is pinned by tests/"
        "test_streaming.py::test_stream_dedup_index_restart_matches_"
        "batch."
    ),
)
def stream_dedup_index_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_index import replay_epochs

    docs = load_table(spark, sf_dir, "documents")
    st = replay_epochs(docs, F.col("doc_id") % DEDUP_INDEX_EPOCHS)
    return (
        st.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("status") == "exact_dup").cast("long"))
            .cast("long")
            .alias("n_exact_dup"),
            F.sum((F.col("status") == "near_dup").cast("long"))
            .cast("long")
            .alias("n_near_dup"),
            F.sum((F.col("status") == "new").cast("long"))
            .cast("long")
            .alias("n_new"),
        )
        .orderBy("epoch")
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
firsts AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM d GROUP BY 1
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM d JOIN firsts f USING (shingle)
GROUP BY d.doc_id
""",
    description=(
        "[EXT] n-gram novelty scoring: per document, the fraction of "
        "its distinct word 3-grams whose FIRST corpus occurrence "
        "(minimum doc_id over an ingest-ordered corpus) is the "
        "document itself — the directional redundancy signal curation "
        "uses to keep originals and drop echoes (complementing "
        "symmetric Jaccard and asymmetric containment, which say THAT "
        "two docs overlap but not which came first). Exact integer "
        "counts, one ratio division; the gram->first-doc table is "
        "vocabulary-sized and the join is gram-keyed — nothing "
        "quadratic, nothing corpus x corpus."
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = (
        spread_for_compute(docs)
        .select(
            "doc_id",
            F.explode(D.shingles(T.tokens("text"), 3)).alias("shingle"),
        )
        .distinct()
        # lazy pin: the first-occurrence table and the per-doc join both
        # read the (doc, gram) frame; unpinned each re-shingles the corpus
        .localCheckpoint(eager=False)
    )
    firsts = d.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        d.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
            (
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY 1)
SELECT sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
FROM sizes GROUP BY 1
""",
    description=(
        "[EXT] dedup impact report: the near-dup cluster-SIZE "
        "histogram — for each cluster size, how many clusters, how "
        "many documents they hold, and how many would be REMOVED by "
        "keep-one-per-cluster dedup (size - 1 each). The number a "
        "curation pipeline needs before committing to a dedup pass: "
        "sum(n_removable)/corpus = the shrink factor. Same MinHash "
        "band candidates + large-star/small-star components as "
        "dedup_clusters (docs in no candidate pair are singletons "
        "outside the histogram, exactly as in the cluster query); the "
        "oracle recomputes the components declaratively with a "
        "recursive CTE and aggregates the same sizes."
    ),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # lazy pin: dup_clusters eager-pins BOTH its node set and its edge
    # set from this frame (two jobs) — unpinned, the minhash banding
    # derivation runs twice before the first contraction round (r11
    # verdict #5: this query's artifact spread was the repo's widest)
    pairs = D.minhash_candidates(
        docs, num_hashes=4, rows_per_band=2
    ).localCheckpoint(eager=False)
    labels = D.dup_clusters(pairs, "doc_a", "doc_b")
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).cast("long").alias("n_removable"),
    )


# -- cross-document line-level boilerplate dedup (r9) --------------------
#
# Shared DuckDB fragment: the exact twin of operators/text.py
# doc_line_segments(line_tokens=3) — fixed 3-token "lines" (this
# synthetic corpus has no newlines; a real corpus swaps the chunker for
# split(text, '\n') and everything downstream is unchanged).
SQL_LINE_SEG_CTE = f"""
tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
seg AS (
  SELECT doc_id, i AS line_no,
         array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS line
  FROM tok, unnest(generate_series(
         0, greatest(CAST(ceil(len(toks)/3.0) AS BIGINT), 1) - 1)) AS t(i)
)
"""

BOILER_MIN_DF = 5  # a line in >= 5 distinct docs is boilerplate


@register(
    "text_boilerplate_lines",
    oracle=f"""
WITH {SQL_LINE_SEG_CTE},
per AS (SELECT line, doc_id, COUNT(*) AS n FROM seg GROUP BY 1, 2)
SELECT line, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(n) AS BIGINT) AS n_total
FROM per GROUP BY line HAVING COUNT(*) >= {BOILER_MIN_DF}
""",
    description=(
        "[EXT] cross-document boilerplate line table: normalized lines "
        "(fixed 3-token segments here; newline-split in a real corpus) "
        "with document frequency >= 5 — the headers/nav/license-block "
        "detector of CCNet-style line dedup. Two-level aggregation: "
        "(line, doc) first so in-document repetition combines map-side, "
        "then per line; shuffles carry compact line keys only. The df "
        "table is the REUSABLE artifact: text_strip_boilerplate joins "
        "against its high-df slice."
    ),
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lines = T.doc_line_segments(docs, line_tokens=3)
    return T.line_document_frequency(lines).filter(
        F.col("df") >= BOILER_MIN_DF
    )


@register(
    "text_strip_boilerplate",
    oracle=f"""
WITH {SQL_LINE_SEG_CTE},
df AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY 1),
boiler AS (SELECT line FROM df WHERE df >= {BOILER_MIN_DF})
SELECT s.doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_lines,
       length(COALESCE(string_agg(CASE WHEN b.line IS NULL THEN s.line END,
                                  ' ' ORDER BY s.line_no), ''))
         AS retained_chars,
       md5(COALESCE(string_agg(CASE WHEN b.line IS NULL THEN s.line END,
                               ' ' ORDER BY s.line_no), ''))
         AS retained_md5,
       CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS removed_frac
FROM seg s LEFT JOIN boiler b USING (line)
GROUP BY s.doc_id
""",
    description=(
        "[EXT] boilerplate stripping: drop every line occurring in "
        ">= 5 distinct documents and report per-doc line counts, "
        "removed fraction (one exact int division), and the length + "
        "md5 of the retained text reassembled in original line order — "
        "the reassembly itself is hash-pinned, not just the counts. "
        "Scale shape: the join's boilerplate side is the high-df SLICE "
        "of the line-df table (repeated lines only — tiny vs the "
        "corpus; AQE broadcasts it when it fits, no forced hint so a "
        "mostly-boilerplate corpus degrades to a shuffle join, not an "
        "OOM); reassembly sorts each doc's surviving lines inside one "
        "groupBy, state bounded by the longest document."
    ),
)
def text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = T.strip_boilerplate(docs, line_tokens=3, min_df=BOILER_MIN_DF)
    return out.select(
        "doc_id",
        "n_lines",
        "n_boiler_lines",
        "retained_chars",
        "retained_md5",
        "removed_frac",
    )


# -- dedup-threshold sensitivity curve (r9) ------------------------------

SWEEP_THRESHOLDS = (0.85, 0.90, 0.95, 0.99)


def _sweep_oracle(thresholds: tuple[float, ...]) -> str:
    """DuckDB twin of operators/dedup.threshold_sweep: shared band
    candidates + exact candidate Jaccard once, then one recursive-CTE
    component contraction per threshold, UNION ALL of the curve rows."""
    head = f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
i AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM cand c
  JOIN d da ON da.doc_id = c.doc_a
  JOIN d db ON db.doc_id = c.doc_b AND db.shingle = da.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT c.doc_a, c.doc_b,
         COALESCE(i.i, 0) * 1.0 / (sa.n + sb.n - COALESCE(i.i, 0)) AS j
  FROM cand c
  LEFT JOIN i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sz sa ON sa.doc_id = c.doc_a
  JOIN sz sb ON sb.doc_id = c.doc_b
)"""
    blocks = []
    for idx, t in enumerate(thresholds):
        head += f""",
und{idx} AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac WHERE j >= {t}
  UNION
  SELECT doc_b, doc_a FROM jac WHERE j >= {t}
),
reach{idx}(node, label) AS (
  SELECT src, src FROM und{idx}
  UNION
  SELECT u.dst, r.label FROM reach{idx} r JOIN und{idx} u ON u.src = r.node
),
cc{idx} AS (SELECT node, MIN(label) AS label FROM reach{idx} GROUP BY node)"""
        blocks.append(
            f"""
SELECT CAST({t} AS DOUBLE) AS threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM jac WHERE j >= {t}) AS n_pairs,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) - COUNT(DISTINCT label) AS BIGINT) AS n_removable
FROM cc{idx}"""
        )
    return head + "\nSELECT * FROM (" + "\nUNION ALL".join(blocks) + ")"


@register(
    "dedup_threshold_sweep",
    oracle=_sweep_oracle(SWEEP_THRESHOLDS),
    description=(
        "[EXT] dedup-threshold sensitivity curve: verified pairs, "
        "cluster count, clustered docs and keep-one-per-cluster "
        "removals at four Jaccard thresholds — the report that decides "
        "a dedup pass before committing it (dedup_cluster_size_"
        "histogram breaks out sizes at one threshold; this sweeps the "
        "threshold). The band candidates and their EXACT verify "
        "Jaccard are computed once and pinned; each threshold filters "
        "that small pair table and contracts components (large-star/"
        "small-star, O(log² n) rounds), so the sweep costs one "
        "candidate pass plus four contractions over nested edge sets "
        "— never four corpus scans. Removable counts are monotone "
        "non-increasing in the threshold (nested edges), pinned by a "
        "regression test; exact division makes the curve bit-stable."
    ),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.threshold_sweep(docs, thresholds=SWEEP_THRESHOLDS)


@register(
    "dedup_loss_weights",
    oracle=f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY 1)
SELECT d0.doc_id,
       COALESCE(cc.label, d0.doc_id) AS cluster_label,
       COALESCE(sizes.sz, 1) AS cluster_size,
       CAST(1 AS DOUBLE) / COALESCE(sizes.sz, 1) AS weight
FROM documents d0
LEFT JOIN cc ON cc.node = d0.doc_id
LEFT JOIN sizes ON sizes.label = cc.label
""",
    description=(
        "[EXT] duplicate-aware loss/sampling weights — SOFT dedup: "
        "instead of dropping near-dups, weight every document by "
        "1/cluster_size (singletons weight 1), so a cluster of n "
        "near-identical documents contributes one document's worth of "
        "gradient mass (the D4/SemDeDup-style soft alternative to "
        "keep-one-per-cluster; same MinHash band candidates + "
        "large-star/small-star components as dedup_clusters). One "
        "left join of the corpus against the cluster labels and the "
        "label-sized size table; weight is one exact int division."
    ),
)
def dedup_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)
    labels = D.dup_clusters(pairs, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .join(sizes, "label", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_label"),
            F.coalesce("sz", F.lit(1)).cast("long").alias("cluster_size"),
            (
                F.lit(1).cast("double")
                / F.coalesce("sz", F.lit(1)).cast("long")
            ).alias("weight"),
        )
    )


@register(
    "text_repeated_spans",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
wins AS (
  SELECT doc_id, len(toks) AS n_tokens, i - 1 AS start,
         array_to_string(toks[i:i+3], ' ') AS gram
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS t(i)
),
rep AS (SELECT gram FROM wins GROUP BY 1 HAVING COUNT(*) >= 2),
r AS (
  SELECT w.doc_id, w.start,
         least(w.start + 3, w.n_tokens - 1) AS e
  FROM wins w JOIN rep USING (gram)
),
m AS (
  SELECT doc_id, start, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM r
),
isl AS (
  SELECT doc_id, start, e,
         SUM(CASE WHEN pe IS NULL OR start > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS g
  FROM m
),
cov AS (
  SELECT doc_id, g, MAX(e) - MIN(start) + 1 AS c, COUNT(*) AS nw
  FROM isl GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS covered,
         CAST(SUM(nw) AS BIGINT) AS n_rep
  FROM cov GROUP BY 1
),
base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(greatest(len(toks) - 3, 1) AS BIGINT) AS n_windows
  FROM tok
)
SELECT base.doc_id, base.n_tokens, base.n_windows,
       COALESCE(n_rep, 0) AS n_repeated_windows,
       COALESCE(covered, 0) AS covered_tokens,
       CAST(COALESCE(covered, 0) AS DOUBLE) / base.n_tokens AS covered_frac
FROM base LEFT JOIN per_doc USING (doc_id)
""",
    description=(
        "[EXT] substring-level repeated-span coverage (the exact-"
        "substring dedup signal of Lee et al. 2021): OVERLAPPING "
        "4-token windows at every alignment — unlike the fixed chunks "
        "of the boilerplate tier — flagged when the gram occurs >= 2 "
        "times corpus-wide (within-doc repeats included), then each "
        "document's repeated windows are UNION-merged (gaps-and-"
        "islands: running max of interval ends inside the per-doc "
        "window partition) so overlapping spans never double count. "
        "Per doc: window/repeated-window counts, covered tokens, and "
        "the covered fraction (one exact int division) — the "
        "memorization-risk ranking a corpus cut uses. Windows explode "
        "map-side; the gram count is one partial-agg shuffle on "
        "compact keys; island state is bounded by the longest doc."
    ),
)
def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.repeated_span_coverage(docs, gram_tokens=4, min_count=2)


@register(
    "pipeline_curate_v3",
    oracle=f"""
WITH RECURSIVE
tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
seg AS (
  SELECT doc_id, i AS line_no,
         array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS line
  FROM tok, unnest(generate_series(
         0, greatest(CAST(ceil(len(toks)/3.0) AS BIGINT), 1) - 1)) AS t(i)
),
bdf AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY 1),
strip AS (
  SELECT s.doc_id,
         CAST(SUM(CASE WHEN b.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS removed_frac,
         length(COALESCE(string_agg(
           CASE WHEN b.df >= {BOILER_MIN_DF} THEN NULL ELSE s.line END,
           ' ' ORDER BY s.line_no), '')) AS retained_chars
  FROM seg s LEFT JOIN bdf b ON b.line = s.line
  GROUP BY 1
),
wins AS (
  SELECT doc_id, len(toks) AS n_tokens, i - 1 AS start,
         array_to_string(toks[i:i+3], ' ') AS gram
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS t(i)
),
rep AS (SELECT gram FROM wins GROUP BY 1 HAVING COUNT(*) >= 2),
rw AS (
  SELECT w.doc_id, w.start, least(w.start + 3, w.n_tokens - 1) AS e
  FROM wins w JOIN rep USING (gram)
),
mrk AS (
  SELECT doc_id, start, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM rw
),
isl AS (
  SELECT doc_id, start, e,
         SUM(CASE WHEN pe IS NULL OR start > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS g
  FROM mrk
),
cov AS (SELECT doc_id, g, MAX(e) - MIN(start) + 1 AS c FROM isl GROUP BY 1, 2),
spans AS (
  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(c), 0) AS DOUBLE) / len(t.toks) AS covered_frac
  FROM tok t LEFT JOIN cov ON cov.doc_id = t.doc_id
  GROUP BY t.doc_id, len(t.toks)
),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks)-2),
                             i -> array_to_string(toks[i:i+2], ' '))
         ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM tok
),
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY 1)
SELECT strip.doc_id, spans.n_tokens, strip.retained_chars,
       strip.removed_frac, spans.covered_frac,
       COALESCE(sizes.sz, 1) AS cluster_size,
       CAST(1 AS DOUBLE) / COALESCE(sizes.sz, 1) AS weight
FROM strip
JOIN spans ON spans.doc_id = strip.doc_id
LEFT JOIN cc ON cc.node = strip.doc_id
LEFT JOIN sizes ON sizes.label = cc.label
WHERE strip.removed_frac < 0.5 AND spans.covered_frac <= 0.5
""",
    description=(
        "[EXT] third-generation curation pipeline composing the r9 "
        "tiers into the corpus MANIFEST an LLM training run consumes: "
        "cross-document boilerplate stripping (drop docs that are "
        "mostly shared lines, removed_frac >= 0.5), repeated-span "
        "memorization gate (drop docs whose union-merged repeated "
        "4-gram coverage exceeds half the tokens), and per-survivor "
        "SOFT-dedup sampling weight 1/cluster_size from the MinHash "
        "band components — dedup as a weight, not a drop, so near-dup "
        "clusters contribute one document of gradient mass. Every "
        "stage is the independently-oracled operator "
        "(text_strip_boilerplate / text_repeated_spans / "
        "dedup_loss_weights); the composition is three doc_id-keyed "
        "joins over per-doc aggregates, each stage bounded exactly as "
        "in its standalone query. Both gates measurably bite at every "
        "SF (survivors 455/450/411 of 500/500/5000)."
    ),
)
def pipeline_curate_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    strip = T.strip_boilerplate(docs, line_tokens=3, min_df=BOILER_MIN_DF).select(
        "doc_id", "retained_chars", "removed_frac"
    )
    spans = T.repeated_span_coverage(docs, gram_tokens=4, min_count=2).select(
        "doc_id", "n_tokens", "covered_frac"
    )
    pairs = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)
    labels = D.dup_clusters(pairs, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    weights = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .join(sizes, "label", "left")
        .select(
            "doc_id",
            F.coalesce("sz", F.lit(1)).cast("long").alias("cluster_size"),
            (
                F.lit(1).cast("double")
                / F.coalesce("sz", F.lit(1)).cast("long")
            ).alias("weight"),
        )
    )
    return (
        strip.join(spans, "doc_id")
        .join(weights, "doc_id")
        .filter(
            (F.col("removed_frac") < 0.5) & (F.col("covered_frac") <= 0.5)
        )
        .select(
            "doc_id",
            "n_tokens",
            "retained_chars",
            "removed_frac",
            "covered_frac",
            "cluster_size",
            "weight",
        )
    )


DEDUP_EVAL_THRESHOLD = 0.8


@register(
    "dedup_candidate_quality",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
allp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT p.doc_a, p.doc_b
  FROM allp p
  JOIN sz sa ON sa.doc_id = p.doc_a
  JOIN sz sb ON sb.doc_id = p.doc_b
  WHERE CAST(p.i AS DOUBLE) / (sa.n + sb.n - p.i) >= {DEDUP_EVAL_THRESHOLD}
),
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
hits AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
       CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
         / (SELECT COUNT(*) FROM cand) AS precision,
       CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) AS recall
FROM (SELECT 1)
""",
    description=(
        "[EXT] dedup-pipeline EVALUATION: precision and recall of the "
        "MinHash band candidate generator against exact ground truth "
        "(word-3-gram Jaccard >= 0.8 over all shingle-sharing pairs) — "
        "the report that validates an LSH configuration before it "
        "gates a 100 TB dedup pass. The exact truth set is the "
        "expensive side (all sharing pairs); in production this "
        "harness runs on a SAMPLE — here the fixture corpus is the "
        "sample, and the deterministic md5 signatures make both "
        "numbers hash-pinnable rather than probabilistic claims. "
        "Pairs with the threshold sweep (which assumes the candidates) "
        "by measuring the candidates themselves."
    ),
)
def dedup_candidate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    truth = D.jaccard_pairs(docs, threshold=DEDUP_EVAL_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    cand = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2).select(
        "doc_a", "doc_b"
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_candidates")).alias(
                "precision"
            ),
            (F.col("n_hits").cast("double") / F.col("n_true_pairs")).alias(
                "recall"
            ),
        )
    )


# -- BPE merge training (the tokenizer-learning rung) --------------------

BPE_ROUNDS = 12


def _bpe_cte(rounds: int) -> str:
    """Unrolled per-round CTE twin of operators/bpe.train_merges (the
    graph_pagerank_parts pattern): each round re-states pair counting,
    the deterministic argmax, the gaps-and-islands greedy selection,
    and the merge application in DuckDB SQL."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents) WHERE word <> '' GROUP BY 1),
s0 AS MATERIALIZED (
  SELECT word, cnt, CAST(generate_subscripts(syms, 1) AS BIGINT) AS pos,
         unnest(syms) AS sym
  FROM (SELECT word, cnt, list_append(string_split(word, ''), '</w>') AS syms
        FROM words))"""
    ]
    for i in range(rounds):
        ctes.append(f"""p{i} AS MATERIALIZED (
  SELECT word, cnt, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s{i}),
b{i} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, CAST(SUM(cnt) AS BIGINT) AS pc
  FROM p{i} WHERE nxt IS NOT NULL GROUP BY 1, 2
  ORDER BY pc DESC, a ASC, b ASC LIMIT 1),
m{i} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS k
    FROM (SELECT p.word, p.pos,
                 p.pos - ROW_NUMBER() OVER (PARTITION BY p.word ORDER BY p.pos) AS grp
          FROM p{i} p, b{i} b WHERE p.sym = b.a AND p.nxt = b.b))
  WHERE k % 2 = 1),
s{i + 1} AS MATERIALIZED (
  SELECT word, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         CASE WHEN hit THEN sym || nxt ELSE sym END AS sym
  FROM (SELECT p.word, p.cnt, p.pos, p.sym, p.nxt, m.pos IS NOT NULL AS hit
        FROM p{i} p LEFT JOIN m{i} m USING (word, pos)
        WHERE NOT EXISTS (SELECT 1 FROM m{i} mm
                          WHERE mm.word = p.word AND mm.pos = p.pos - 1)))""")
    return "WITH " + ",\n".join(ctes)


def _bpe_oracle(rounds: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_round, a AS lhs, b AS rhs,"
        f" a || b AS merged, pc AS pair_count FROM b{i}"
        for i in range(rounds)
    )
    return (
        _bpe_cte(rounds)
        + f"\nSELECT * FROM ({union}) ORDER BY merge_round"
    )


@register(
    "text_bpe_merges",
    oracle=_bpe_oracle(BPE_ROUNDS),
    description=(
        "[EXT] distributed BPE merge training (Sennrich 2016) over the "
        "documents corpus: collapse the corpus to exact word counts "
        "(the only corpus-sized shuffle), symbolize to characters + "
        "'</w>', then 12 rounds of (pair count -> deterministic argmax "
        "-> greedy left-to-right merge via gaps-and-islands odd-rank "
        "selection). Every round is vocabulary-sized relational "
        "algebra — windows + one aggregate — so training cost is "
        "independent of corpus size at 100 TB; the plan stays linear "
        "via one lazy localCheckpoint per round (the Bellman-Ford "
        "rule), one action end-to-end. Counts are exact int64; the "
        "unit suite pins the trainer against a pure-Python greedy "
        "reference on the classic low/lower/newest corpus including "
        "the overlapping-run (a,a) case."
    ),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    syms = B.initial_symbols(B.word_counts(docs))
    return B.train_merges(syms, rounds=BPE_ROUNDS).orderBy("merge_round")


SHARED_SPAN_GRAM = 4
SHARED_SPAN_MAX_OCC = 16
SHARED_SPAN_TOP_K = 20


@register(
    "text_shared_spans",
    oracle=f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
wins AS MATERIALIZED (
  SELECT doc_id,
         CAST(generate_subscripts(grams, 1) - 1 AS BIGINT) AS start,
         unnest(grams) AS gram
  FROM (SELECT doc_id,
               list_transform(
                 generate_series(1, greatest(len(toks) - {SHARED_SPAN_GRAM - 1}, 1)),
                 i -> array_to_string(toks[i:i+{SHARED_SPAN_GRAM - 1}], ' ')) AS grams
        FROM tok)
),
bounded AS MATERIALIZED (
  SELECT gram FROM wins GROUP BY gram
  HAVING COUNT(*) BETWEEN 2 AND {SHARED_SPAN_MAX_OCC}
),
occ AS MATERIALIZED (
  SELECT w.doc_id, w.start, w.gram FROM wins w JOIN bounded USING (gram)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.start AS sa,
         a.start - b.start AS diag
  FROM occ a JOIN occ b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, diag, grp, COUNT(*) AS len FROM (
    SELECT doc_a, doc_b, diag, sa,
           sa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                   ORDER BY sa) AS grp
    FROM pairs)
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(MAX(len) + {SHARED_SPAN_GRAM - 1} AS BIGINT)
         AS longest_shared_tokens,
       CAST(SUM(len) AS BIGINT) AS n_shared_windows
FROM runs GROUP BY 1, 2
ORDER BY longest_shared_tokens DESC, n_shared_windows DESC, doc_a, doc_b
LIMIT {SHARED_SPAN_TOP_K}
""",
    description=(
        "[EXT] cross-document LONGEST-SHARED-SPAN report (the "
        "actionable companion to text_repeated_spans' per-doc "
        "coverage, r9 verdict next-round #7): top-20 doc pairs by the "
        "longest verbatim token run they share, found via gram-chain "
        "islands — aligned 4-token windows of the same gram lie on a "
        "(doc_a, doc_b, start_a - start_b) diagonal, and maximal "
        "consecutive runs on a diagonal ARE the shared spans (Lee et "
        "al. 2021's suffix-array signal re-expressed as relational "
        "algebra). Grams joining the pair stage are occurrence-bounded "
        "to [2, 16], so the self-join is max_occ²-bounded per gram, "
        "never all-pairs; ubiquitous grams are the line-dedup tier's "
        "job. Deterministic total order (longest, windows, pair ids)."
    ),
)
def text_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.shared_span_pairs(
        docs,
        gram_tokens=SHARED_SPAN_GRAM,
        max_occ=SHARED_SPAN_MAX_OCC,
        top_k=SHARED_SPAN_TOP_K,
    )


def _bpe_fertility_oracle(rounds: int) -> str:
    """Fertility tail over the shared BPE training CTE chain: the
    final symbol state s{rounds} gives tokens-per-word; per-language
    word occurrences re-weight it to corpus-level fertility."""
    return (
        _bpe_cte(rounds)
        + f""",
wl AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents) WHERE word <> '' GROUP BY 1, 2),
tpw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS tpw
        FROM s{rounds} GROUP BY 1)
SELECT wl.lang,
       CAST(SUM(wl.cnt) AS BIGINT) AS n_words,
       CAST(SUM(wl.cnt * tpw.tpw) AS BIGINT) AS n_tokens,
       CAST(SUM(wl.cnt * length(wl.word)) AS BIGINT) AS n_chars,
       CAST(SUM(wl.cnt * tpw.tpw) AS DOUBLE) / SUM(wl.cnt) AS fertility,
       CAST(SUM(wl.cnt * length(wl.word)) AS DOUBLE)
         / SUM(wl.cnt * tpw.tpw) AS chars_per_token
FROM wl JOIN tpw USING (word)
GROUP BY 1 ORDER BY 1"""
    )


@register(
    "text_bpe_fertility",
    oracle=_bpe_fertility_oracle(BPE_ROUNDS),
    description=(
        "[EXT] tokenizer fertility report by language: train the "
        "12-round BPE merges once on the global vocabulary, then "
        "re-weight the final tokens-per-word state by each language's "
        "word occurrences — n_words / n_tokens / n_chars exact int64, "
        "fertility (tokens per word, end-of-word marker included, the "
        "Sennrich convention) and chars-per-token one division each. "
        "The multilingual-tokenizer health check (high fertility = "
        "the vocabulary underserves that language) — reads the "
        "trained state directly (operators/bpe.train), no merge "
        "replay, so it costs one aggregate more than training itself. "
        "The oracle re-derives the same numbers through the shared "
        "unrolled training CTE."
    ),
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    _, final_syms = B.train(
        B.initial_symbols(B.word_counts(docs)), rounds=BPE_ROUNDS
    )
    tpw = final_syms.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("tpw")
    )
    wl = (
        docs.select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias(
                "word"
            ),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        wl.join(tpw, "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("tpw")).cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.length("word"))
            .cast("long")
            .alias("n_chars"),
            (
                F.sum(F.col("cnt") * F.col("tpw")).cast("double")
                / F.sum("cnt")
            ).alias("fertility"),
            (
                F.sum(F.col("cnt") * F.length("word")).cast("double")
                / F.sum(F.col("cnt") * F.col("tpw"))
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


BPE_ENCODE_TOP = 50  # vocabulary head reported by the encode surface


@register(
    "text_bpe_encode",
    oracle=(
        _bpe_cte(BPE_ROUNDS)
        + f"""
SELECT sym AS token,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
       CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM s{BPE_ROUNDS} GROUP BY 1
ORDER BY n_occurrences DESC, token LIMIT {BPE_ENCODE_TOP}"""
    ),
    description=(
        "[EXT] BPE ENCODE surface (r10 verdict next-round #6): train "
        "the 12-round merge table, then tokenize the corpus vocabulary "
        "through operators/bpe.apply_merges — the priority-ordered "
        "replay path every downstream caller uses on NEW text — and "
        "report the top-50 vocabulary units by exact corpus occurrence "
        "(occurrences = sum of word counts containing the unit, plus "
        "distinct-word spread). Because encode replays the learned "
        "merges in training order, its tokenization provably equals "
        "the training-final state, which is exactly what the oracle's "
        "unrolled CTE chain computes — the green row IS the "
        "train/encode-equivalence proof at corpus scale. Encode cost "
        "mirrors training cost: per merge, vocabulary-sized windows "
        "only; nothing rescans the corpus (one word-count shuffle "
        "shared with training via a lazy pin)."
    ),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    # lazy pin: the initial symbol state feeds BOTH the trainer and
    # the encode replay; unpinned each would redo the corpus scan.
    syms = B.initial_symbols(B.word_counts(docs)).localCheckpoint(
        eager=False
    )
    merges = B.train_merges(syms, rounds=BPE_ROUNDS)
    # single-pass encode (r12): one grouped-pandas job instead of one
    # Spark round per merge — bit-identical to the round replay
    # (tests/test_bpe.py::test_apply_merges_fast_equals_replay);
    # measured encode stage 3.8s -> 0.9s warm at sf0.1 for 12 merges,
    # 99s -> 2.2s for 24 (replay cost grows superlinearly in rounds,
    # the single pass is flat) — training now dominates the query
    enc = B.apply_merges_fast(syms, merges)
    return (
        enc.groupBy(F.col("sym").alias("token"))
        .agg(
            F.countDistinct("word").cast("long").alias("n_words"),
            F.sum("cnt").cast("long").alias("n_occurrences"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(BPE_ENCODE_TOP)
    )


# word 5-gram shingles for the prefix-filter join (k=5 so the shingle
# universe is near-unique — the regime where prefix filtering prunes);
# short docs yield one whole-text shingle, mirroring operators/text.shingles
SQL_SHINGLE5_CTE = f"""
tok5 AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh5 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 5
         THEN list_transform(generate_series(1, len(toks)-4),
                             i -> array_to_string(toks[i:i+4], ' '))
         ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM tok5
),
d5 AS (SELECT DISTINCT doc_id, shingle FROM sh5)
"""


@register(
    "dedup_allpairs_prefix",
    oracle=f"""
WITH {SQL_SHINGLE5_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM d5 GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM d5 a JOIN d5 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
""",
    description=(
        "EXACT all-pairs Jaccard >= 0.5 on word 5-gram shingles via "
        "lossless prefix filtering (Bayardo WWW'07): candidates come "
        "only from each set's rarest-first prefix posting lists, never "
        "from frequent shingles — the exact join that survives 100 TB. "
        "The oracle computes the naive all-pairs join; equality IS the "
        "losslessness proof."
    ),
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.allpairs_prefix_join(docs, k=5, threshold=0.5)


@register(
    "pipeline_dataset_card",
    oracle=f"""
WITH per_doc AS (
  SELECT doc_id, source, lang, n_chars,
         md5(lower(trim(text))) AS content_hash,
         len({SQL_TOKS}) AS n_tokens,
         len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
           * 1.0 / len({SQL_TOKS}) AS stop_ratio,
         CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS}) AS ttr
  FROM documents
),
base AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT content_hash) AS BIGINT) AS n_unique,
         CAST(SUM(CASE WHEN (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
                           + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
                           + CASE WHEN ttr BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) >= 2
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
  FROM per_doc GROUP BY 1
),
lc AS (
  SELECT source, lang, COUNT(*) AS c,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
  FROM per_doc GROUP BY 1, 2
)
SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, b.n_langs,
       lc.lang AS top_lang,
       CAST(b.n_docs - b.n_unique AS DOUBLE) / b.n_docs AS dup_frac,
       CAST(b.n_quality_pass AS DOUBLE) / b.n_docs AS quality_pass_frac,
       CAST(b.n_tokens AS DOUBLE) / b.n_docs AS mean_doc_tokens
FROM base b JOIN lc ON lc.source = b.source AND lc.rn = 1
""",
    description=(
        "[EXT] dataset-card manifest per source: the one-page summary a "
        "curated 100 TB release ships with (Gebru et al., Datasheets "
        "for Datasets) — doc/token/char counts, language spread with "
        "the modal language, exact-dup fraction from content hashes, "
        "and the 3-gate quality pass rate, composed from the repo's "
        "independently-oracled primitives. Two compact groupBys "
        "(source, and source x lang) over derived columns; output is "
        "|sources| rows at any corpus size."
    ),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n = F.size(toks)
    stop_ratio = T.stopword_hits(toks, T.LANG_STOPWORDS["en"]) * F.lit(1.0) / n
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    gates = (
        F.when(n.between(20, 2000), 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
        + F.when(ttr.between(0.1, 0.9), 1).otherwise(0)
    )
    per_doc = docs.select(
        "source",
        "lang",
        "n_chars",
        T.content_fingerprint("text").alias("content_hash"),
        n.alias("n_tokens"),
        F.when(gates >= 2, 1).otherwise(0).alias("quality_pass"),
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("content_hash").cast("long").alias("n_unique"),
        F.sum("quality_pass").cast("long").alias("n_quality_pass"),
    )
    lc = (
        per_doc.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("c"), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return base.join(lc, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "top_lang",
        ((F.col("n_docs") - F.col("n_unique")).cast("double") / F.col("n_docs")).alias(
            "dup_frac"
        ),
        (F.col("n_quality_pass").cast("double") / F.col("n_docs")).alias(
            "quality_pass_frac"
        ),
        (F.col("n_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_doc_tokens"
        ),
    )


CURRICULUM_BIN_TOKENS = 1000
_CURR_SHARD = 4096  # curriculum-key range per shard (two-phase prefix)


@register(
    "pipeline_curriculum_pack",
    oracle=f"""
WITH q AS (
  SELECT doc_id,
         len({SQL_TOKS}) AS n_tokens,
         (CASE WHEN len({SQL_TOKS}) BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
        + CASE WHEN len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
                    * 1.0 / len({SQL_TOKS}) BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
        + CASE WHEN CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS})
                    BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) AS gates
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, gates,
         SUM(n_tokens) OVER (ORDER BY gates DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM q
)
SELECT CAST(FLOOR((cum - n_tokens) / {CURRICULUM_BIN_TOKENS}.0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(MIN(gates) AS BIGINT) AS min_gates,
       CAST(MAX(gates) AS BIGINT) AS max_gates
FROM c GROUP BY 1
""",
    description=(
        "[EXT] curriculum packing: documents stream into ~1000-token "
        "training bins in QUALITY order (3-gate score descending, "
        "doc_id tie-break) — easy/clean data first, the curriculum-"
        "learning data layout (Bengio et al. 2009) composed with "
        "sequential first-fit packing. The global running sum uses the "
        "same two-phase sharded prefix as text_pack_bins, but over the "
        "composite curriculum key (3-gates)*2^40 + doc_id, so no task "
        "ever owns the whole ordering; bins are contiguous in the "
        "curriculum by construction (max_gates non-increasing across "
        "bin_id — pinned by test)."
    ),
)
def pipeline_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n = F.size(toks)
    stop_ratio = T.stopword_hits(toks, T.LANG_STOPWORDS["en"]) * F.lit(1.0) / n
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    gates = (
        F.when(n.between(20, 2000), 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
        + F.when(ttr.between(0.1, 0.9), 1).otherwise(0)
    )
    q = docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        gates.cast("long").alias("gates"),
        # curriculum key: gates DESC then doc_id ASC, as one monotone long
        ((F.lit(3) - gates.cast("long")) * F.lit(1 << 40) + F.col("doc_id")).alias(
            "__key"
        ),
    ).withColumn("__shard", F.expr(f"__key div {_CURR_SHARD}"))
    shard_tot = q.groupBy("__shard").agg(F.sum("n_tokens").alias("__st"))
    w_sh = (
        Window.orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = shard_tot.select(
        "__shard", (F.sum("__st").over(w_sh) - F.col("__st")).alias("__off")
    )
    w_in = (
        Window.partitionBy("__shard")
        .orderBy("__key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        q.withColumn("__cin", F.sum("n_tokens").over(w_in))
        .join(offsets, "__shard")
        .withColumn("cum", F.col("__cin") + F.col("__off"))
    )
    return (
        c.groupBy(
            F.floor(
                (F.col("cum") - F.col("n_tokens")) / float(CURRICULUM_BIN_TOKENS)
            )
            .cast("long")
            .alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            F.min("gates").cast("long").alias("min_gates"),
            F.max("gates").cast("long").alias("max_gates"),
        )
    )


@register(
    "text_vocab_growth",
    oracle=f"""
WITH {SQL_SHINGLE_CTE},
fr AS (SELECT f.num, f.den FROM (VALUES (1, 10), (1, 4), (1, 2), (1, 1)) AS f(num, den)),
g AS (
  SELECT fr.num, fr.den,
         COUNT(DISTINCT d.doc_id) AS n_docs,
         COUNT(DISTINCT d.shingle) AS n_distinct,
         COUNT(*) AS n_total
  FROM d JOIN fr ON (d.doc_id * 2654435761) % 4294967296 * fr.den < 4294967296 * fr.num
  GROUP BY 1, 2
)
SELECT CAST(num AS DOUBLE) / den AS frac,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_distinct AS BIGINT) AS distinct_shingles,
       CAST(n_total AS BIGINT) AS total_shingles,
       CAST(n_distinct AS DOUBLE) / n_total AS novelty_rate
FROM g
""",
    description=(
        "[EXT] vocabulary-growth (Heaps'-law) curve over NESTED "
        "deterministic doc subsamples: distinct word-3-gram count at "
        "10/25/50/100% of the corpus, selected by the pure-integer "
        "hash predicate (each smaller sample is a subset of every "
        "larger one, so the curve measures VOLUME, not sample luck — "
        "the learning-curve pattern applied to data diversity). A "
        "flattening curve says new data is repeating itself — the "
        "crawl-more-or-stop signal that pairs with ml_learning_curve's "
        "accuracy view. One explode + a 4-row lattice join; distinct "
        "counts shuffle compact (shingle, fraction) keys."
    ),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sets_ = D.shingle_sets(docs, k=3)
    fr = docs.sparkSession.createDataFrame(
        [(1, 10), (1, 4), (1, 2), (1, 1)], "num long, den long"
    )
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    g = (
        sets_.withColumn("__h", h)
        .join(
            F.broadcast(fr),
            F.col("__h") * F.col("den") < F.lit(4294967296) * F.col("num"),
        )
        .groupBy("num", "den")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("shingle").alias("n_distinct"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    return g.select(
        (F.col("num").cast("double") / F.col("den")).alias("frac"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_distinct").cast("long").alias("distinct_shingles"),
        F.col("n_total").cast("long").alias("total_shingles"),
        (F.col("n_distinct").cast("double") / F.col("n_total")).alias("novelty_rate"),
    )


@register(
    "pipeline_curate_v4",
    oracle=f"""
WITH mix AS (
  SELECT source, doc_id, n_chars, text
  FROM documents
  WHERE (doc_id * 2654435761) % 1000 <
        CASE WHEN source IN ('src0', 'src1') THEN 1000
             WHEN source IN ('src2', 'src3') THEN 500
             ELSE 250 END
),
sel AS (
  SELECT source, doc_id, text,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ln(CAST((doc_id * 2654435761) % {_WS_MOD} + 1 AS DOUBLE)
                       / {_WS_MOD + 1}) / sqrt(CAST(n_chars AS DOUBLE)) DESC,
                    doc_id) AS rn
  FROM mix QUALIFY rn <= {WRES_K}
),
q AS (
  SELECT source, doc_id,
         len({SQL_TOKS}) AS n_tokens,
         (CASE WHEN len({SQL_TOKS}) BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
        + CASE WHEN len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
                    * 1.0 / len({SQL_TOKS}) BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
        + CASE WHEN CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS})
                    BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) AS gates
  FROM sel
),
c AS (
  SELECT source, n_tokens, gates,
         SUM(n_tokens) OVER (ORDER BY gates DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM q
)
SELECT CAST(FLOOR((cum - n_tokens) / {CURRICULUM_BIN_TOKENS}.0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(MIN(gates) AS BIGINT) AS min_gates,
       CAST(MAX(gates) AS BIGINT) AS max_gates,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM c GROUP BY 1 ORDER BY 1
""",
    description=(
        "[EXT] end-to-end data-mixture builder (r11 verdict next-round "
        "#7): the three independently-oracled tiers composed into one "
        "recipe — (1) per-source mixture rates keep 100%/50%/25% "
        "tiers via the scan-pushed multiplicative-hash predicate "
        "(text_mixture_resample), (2) from the survivors an exact-"
        f"size Efraimidis-Spirakis draw of {WRES_K} docs per source "
        "weighted by temperature-flattened length sqrt(n_chars) "
        "(sample_weighted_reservoir; WindowGroupLimit, no corpus "
        "sort), (3) the selected docs packed into ~1000-token "
        "curriculum bins in quality-gate order "
        "(pipeline_curriculum_pack) — the DoReMi-shaped domain-"
        "reweighting surface (Xie et al. 2023, public methodology): "
        "set mixture weights, draw exact per-domain samples, lay out "
        "the curriculum. Scale shape: tiers 1-2 are one scan + one "
        "per-source WindowGroupLimit over the corpus; tier 3's global "
        "running sum runs over the SAMPLE (<= sources x k rows, "
        "bounded by construction), so the single-partition window "
        "that would be a bottleneck corpus-side never sees corpus "
        "cardinality."
    ),
)
def pipeline_curate_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _curate_v4_bins(load_table(spark, sf_dir, "documents"))


def _curate_v4_bins(docs: DataFrame) -> DataFrame:
    """The curate_v4 recipe (mixture rates -> exact per-source
    weighted reservoir -> quality-gate curriculum packing) over an
    arbitrary documents frame — factored (r13) so pipeline_curate_v4
    (full corpus) and pipeline_curate_stream_twin (corpus minus the
    dup-label store's duplicates) run literally the same tail."""
    permille = (
        F.when(F.col("source").isin("src0", "src1"), 1000)
        .when(F.col("source").isin("src2", "src3"), 500)
        .otherwise(250)
    )
    mix = docs.filter((F.col("doc_id") * F.lit(2654435761)) % 1000 < permille)
    u = (
        ((F.col("doc_id") * F.lit(2654435761)) % _WS_MOD + 1).cast("double")
        / F.lit(float(_WS_MOD + 1))
    )
    key = F.log(u) / F.sqrt(F.col("n_chars").cast("double"))
    w = Window.partitionBy("source").orderBy(key.desc(), "doc_id")
    sel = (
        mix.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WRES_K)
        .select("source", "doc_id", "text")
    )
    toks = T.tokens("text")
    n = F.size(toks)
    stop_ratio = T.stopword_hits(toks, T.LANG_STOPWORDS["en"]) * F.lit(1.0) / n
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    gates = (
        F.when(n.between(20, 2000), 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
        + F.when(ttr.between(0.1, 0.9), 1).otherwise(0)
    )
    q = sel.select(
        "source",
        "doc_id",
        n.cast("long").alias("n_tokens"),
        gates.cast("long").alias("gates"),
    )
    # sample-sized frame (<= sources x WRES_K rows): the global window
    # is bounded by construction, not a corpus-scale single partition
    cum = F.sum("n_tokens").over(
        Window.orderBy(F.desc("gates"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        q.withColumn("cum", cum)
        .groupBy(
            F.floor(
                (F.col("cum") - F.col("n_tokens")) / float(CURRICULUM_BIN_TOKENS)
            )
            .cast("long")
            .alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            F.min("gates").cast("long").alias("min_gates"),
            F.max("gates").cast("long").alias("max_gates"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("bin_id")
    )


DSIR_K = 25  # selected sample size
DSIR_TARGET = "src0"  # the high-quality target domain


@register(
    "sample_dsir_importance",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, UNNEST({SQL_TOKS}) AS t FROM documents
),
dt AS (
  SELECT doc_id, MIN(source) AS source, t, CAST(COUNT(*) AS BIGINT) AS n_dt
  FROM tok GROUP BY doc_id, t
),
raw AS (SELECT t, CAST(SUM(n_dt) AS BIGINT) AS n_raw FROM dt GROUP BY 1),
tgt AS (
  SELECT t, CAST(SUM(n_dt) AS BIGINT) AS n_tgt
  FROM dt WHERE source = '{DSIR_TARGET}' GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(n_raw) AS BIGINT) AS t_raw
  FROM raw
),
ttgt AS (SELECT CAST(COALESCE(SUM(n_tgt), 0) AS BIGINT) AS t_tgt FROM tgt),
term AS (
  SELECT raw.t,
         CAST(ROUND(ln(CAST(COALESCE(tgt.n_tgt, 0) + 1 AS DOUBLE)) * 1000000000) AS BIGINT)
       - CAST(ROUND(ln(CAST(ttgt.t_tgt + tot.v AS DOUBLE)) * 1000000000) AS BIGINT)
       - CAST(ROUND(ln(CAST(raw.n_raw + 1 AS DOUBLE)) * 1000000000) AS BIGINT)
       + CAST(ROUND(ln(CAST(tot.t_raw + tot.v AS DOUBLE)) * 1000000000) AS BIGINT)
         AS dl
  FROM raw LEFT JOIN tgt USING (t) CROSS JOIN tot CROSS JOIN ttgt
)
SELECT dt.doc_id, MIN(dt.source) AS source,
       CAST(SUM(dt.n_dt * term.dl) AS BIGINT) AS logw_grid,
       CAST(SUM(dt.n_dt * term.dl) AS DOUBLE) / 1000000000 AS logw
FROM dt JOIN term USING (t)
GROUP BY dt.doc_id
ORDER BY logw_grid DESC, dt.doc_id
LIMIT {DSIR_K}
""",
    description=(
        "[EXT] DSIR-shaped data selection (Xie et al. 2023, 'Data "
        "Selection for Language Models via Importance Resampling' — "
        "public methodology): per-document importance weight "
        "log w_d = sum_t n_dt * [ln p_target(t) - ln p_raw(t)] "
        f"between an add-1-smoothed unigram LM of the target domain "
        f"('{DSIR_TARGET}') and of the full corpus, top-{DSIR_K} docs "
        "selected by weight (deterministic variant of the paper's "
        "Gumbel resampling — same ranking statistic, no noise, so the "
        "draw is reproducible and oracle-exact). Every ln is snapped "
        "to the 1e-9 grid BEFORE combining (int64 per-term "
        "arithmetic, the KL/WOE discipline), so the per-doc sum and "
        "the ordering are exact cross-engine; the double logw is one "
        "mirrored division. Scale shape: two vocabulary-sized "
        "aggregates, one gram-keyed join of per-(doc, token) counts "
        "against the vocabulary table, one grouped sum per doc, "
        "TakeOrdered k — the inverted-index shape of BM25/"
        "query-likelihood, nothing corpus x corpus."
    ),
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id", "source", F.explode(T.tokens("text")).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(
            F.min("source").alias("source"),
            F.count(F.lit(1)).cast("long").alias("n_dt"),
        )
        # gram-keyed frame feeds the raw LM, the target LM, and the
        # per-doc scoring join (3 jobs' worth of branches in one plan:
        # vocabulary-sized -> lazy pin, the measured rule)
        .localCheckpoint(eager=False)
    )
    raw = dt.groupBy("t").agg(F.sum("n_dt").cast("long").alias("n_raw"))
    tgt = (
        dt.filter(F.col("source") == DSIR_TARGET)
        .groupBy("t")
        .agg(F.sum("n_dt").cast("long").alias("n_tgt"))
    )
    tot = raw.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("n_raw").cast("long").alias("t_raw"),
    )
    ttgt = tgt.agg(F.coalesce(F.sum("n_tgt"), F.lit(0)).cast("long").alias("t_tgt"))

    def r9(col):
        return F.round(F.log(col) * F.lit(1_000_000_000)).cast("long")

    term = (
        raw.join(tgt, "t", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttgt))
        .select(
            "t",
            (
                r9((F.coalesce(F.col("n_tgt"), F.lit(0)) + 1).cast("double"))
                - r9((F.col("t_tgt") + F.col("v")).cast("double"))
                - r9((F.col("n_raw") + 1).cast("double"))
                + r9((F.col("t_raw") + F.col("v")).cast("double"))
            ).alias("dl"),
        )
    )
    return (
        dt.join(term, "t")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.sum(F.col("n_dt") * F.col("dl")).cast("long").alias("logw_grid"),
        )
        .select(
            "doc_id",
            "source",
            "logw_grid",
            (F.col("logw_grid").cast("double") / 1e9).alias("logw"),
        )
        .orderBy(F.desc("logw_grid"), "doc_id")
        .limit(DSIR_K)
    )


@register(
    "dedup_incremental_components",
    oracle=f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
SELECT node AS doc_id, label AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS cluster_size
FROM cc
""",
    description=(
        "[EXT] INCREMENTAL connected-component maintenance "
        "(operators/dedup.incremental_components): the corpus's dup "
        "clusters are built from the 75% 'historical' shard's "
        "candidate pairs, then the remaining pairs (every pair "
        "touching a doc_id % 4 == 3 'new' doc) arrive as an "
        "incremental batch — endpoints map through the stored label "
        "table, the DISTINCT differing label pairs form a "
        "COMPONENT-sized merge graph, star contraction runs over "
        "THAT, and one broadcast remap updates the store. The oracle "
        "is the FULL recompute over all pairs (same recursive CTE as "
        "dedup_clusters), so hash equality IS the proof that "
        "incremental maintenance equals recomputation — the min-id "
        "label invariant makes merged labels reproduce exactly. At "
        "100 TB this is the difference between touching the new "
        "shard's pairs + affected components and re-contracting a "
        "corpus-sized graph every ingest."
    ),
)
def dedup_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one candidate generation, split into historical/new by epoch
    # (feeds both branches -> lazy pin)
    pairs = D.minhash_candidates(
        docs, num_hashes=4, rows_per_band=2
    ).localCheckpoint(eager=False)
    is_new = (F.col("doc_a") % 4 == 3) | (F.col("doc_b") % 4 == 3)
    base_labels = D.dup_clusters(
        pairs.filter(~is_new), "doc_a", "doc_b"
    )
    updated = D.incremental_components(
        base_labels, pairs.filter(is_new), "doc_a", "doc_b"
    )
    w = Window.partitionBy("label")
    return updated.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


@register(
    "pipeline_curate_stream_twin",
    oracle=f"""
WITH RECURSIVE {SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle), 9, 8)) AS mh1,
         MIN(substr(md5(shingle), 17, 8)) AS mh2,
         MIN(substr(md5(shingle), 25, 8)) AS mh3
  FROM d GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig
),
pedges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM pedges
  UNION
  SELECT doc_b, doc_a FROM pedges
),
reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
kept AS (
  SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> label)
),
mix AS (
  SELECT source, doc_id, n_chars, text
  FROM kept
  WHERE (doc_id * 2654435761) % 1000 <
        CASE WHEN source IN ('src0', 'src1') THEN 1000
             WHEN source IN ('src2', 'src3') THEN 500
             ELSE 250 END
),
sel AS (
  SELECT source, doc_id, text,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ln(CAST((doc_id * 2654435761) % {_WS_MOD} + 1 AS DOUBLE)
                       / {_WS_MOD + 1}) / sqrt(CAST(n_chars AS DOUBLE)) DESC,
                    doc_id) AS rn
  FROM mix QUALIFY rn <= {WRES_K}
),
q AS (
  SELECT source, doc_id,
         len({SQL_TOKS}) AS n_tokens,
         (CASE WHEN len({SQL_TOKS}) BETWEEN 20 AND 2000 THEN 1 ELSE 0 END
        + CASE WHEN len(list_filter({SQL_TOKS}, x -> list_contains(['the','a','of','and','to','in','is'], x)))
                    * 1.0 / len({SQL_TOKS}) BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
        + CASE WHEN CAST(len(list_distinct({SQL_TOKS})) AS DOUBLE) / len({SQL_TOKS})
                    BETWEEN 0.1 AND 0.9 THEN 1 ELSE 0 END) AS gates
  FROM sel
),
c AS (
  SELECT source, n_tokens, gates,
         SUM(n_tokens) OVER (ORDER BY gates DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM q
)
SELECT CAST(FLOOR((cum - n_tokens) / {CURRICULUM_BIN_TOKENS}.0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(MIN(gates) AS BIGINT) AS min_gates,
       CAST(MAX(gates) AS BIGINT) AS max_gates,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM c GROUP BY 1 ORDER BY 1
""",
    description=(
        "[EXT] end-to-end STREAMING curation twin (r12 verdict "
        "next-round #5): the served output of the three streaming "
        "maintainers composed — banded dedup index (who collides) -> "
        "component label store (who merges) -> curate_v4 over the "
        "corpus MINUS every doc whose stored label says duplicate "
        "(label != node; the cluster's min-id canonical survives, "
        "isolated docs never enter the store and survive untouched). "
        "This batch twin states the same contract declaratively: "
        "MinHash band candidates (dedup_minhash_candidates' exact "
        "tier), large-star/small-star components (dedup_clusters), "
        "anti-join, then literally the same _curate_v4_bins tail as "
        "pipeline_curate_v4 — four independently-oracled tiers, one "
        "recipe. The operational stream path (StreamingDedupIndex + "
        "StreamingComponentStore maintained per-batch, curate served "
        "from the stored labels) equals this twin bit-for-bit by "
        "tests/test_streaming.py::test_curate_stream_twin_matches_batch. "
        "Scale: pairs/components as their tiers document; the dup "
        "drop is one anti join (dup set is corpus-scale at 100 TB — "
        "no broadcast hint); curation unchanged."
    ),
)
def pipeline_curate_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2)
    labels = D.dup_clusters(pairs, "doc_a", "doc_b")
    dups = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(dups, "doc_id", "anti")
    return _curate_v4_bins(kept)


def _sql_seg_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return (
        "len(list_filter(string_split(line, ' '), "
        f"x -> list_contains([{words}], x)))"
    )


@register(
    "text_code_switching",
    oracle=f"""
WITH {SQL_LINE_SEG_CTE},
ls AS (
  SELECT doc_id, line_no,
         {_sql_seg_hits('en')} AS h_en,
         {_sql_seg_hits('de')} AS h_de,
         {_sql_seg_hits('es')} AS h_es,
         {_sql_seg_hits('fr')} AS h_fr,
         {_sql_seg_hits('zh')} AS h_zh
  FROM seg
),
p AS (
  SELECT doc_id, line_no,
         CASE
           WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
           WHEN h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
           WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
           WHEN h_fr >= h_zh THEN 'fr'
           ELSE 'zh'
         END AS seg_lang
  FROM ls
),
c AS (
  SELECT doc_id, seg_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM p GROUP BY 1, 2
),
r AS (
  SELECT doc_id, seg_lang, n,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, seg_lang) AS rn,
         CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_segments,
         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs
  FROM c
)
SELECT doc_id, n_segments, n_langs,
       seg_lang AS majority_lang,
       n AS n_majority,
       1.0 - CAST(n AS DOUBLE) / n_segments AS minority_frac
FROM r WHERE rn = 1
ORDER BY doc_id
""",
    description=(
        "[EXT] intra-document code-switching audit: every 3-token "
        "segment (the boilerplate tier's line unit) language-ID'd by "
        "the same stopword-profile argmax as text_langid, then per "
        "document the segment-language mixture — segment count, "
        "distinct languages, majority language (count tie -> "
        "lexicographic), minority fraction (ONE division). The "
        "multilingual-curation signal document-level langid cannot "
        "see: a doc that is 70% English / 30% German classifies 'en' "
        "whole-doc while a third of its tokens pollute an "
        "English-only training mix. Narrow per-row segmentation + "
        "two grouped aggregates; the per-language hit counting is a "
        "flat expression, not a join."
    ),
)
def text_code_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    segs = T.doc_line_segments(docs, line_tokens=3)
    seg_toks = T.tokens("line")
    h = {
        lang: T.stopword_hits(seg_toks, T.LANG_STOPWORDS[lang]).alias(f"h_{lang}")
        for lang in ("en", "de", "es", "fr", "zh")
    }
    ls = segs.select("doc_id", "line_no", *h.values())
    hc = {lang: F.col(f"h_{lang}") for lang in ("en", "de", "es", "fr", "zh")}
    pred = (
        F.when(
            (hc["en"] >= hc["de"]) & (hc["en"] >= hc["es"])
            & (hc["en"] >= hc["fr"]) & (hc["en"] >= hc["zh"]),
            "en",
        )
        .when((hc["de"] >= hc["es"]) & (hc["de"] >= hc["fr"]) & (hc["de"] >= hc["zh"]), "de")
        .when((hc["es"] >= hc["fr"]) & (hc["es"] >= hc["zh"]), "es")
        .when(hc["fr"] >= hc["zh"], "fr")
        .otherwise("zh")
    )
    c = (
        ls.select("doc_id", pred.alias("seg_lang"))
        .groupBy("doc_id", "seg_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wd = Window.partitionBy("doc_id")
    r = c.select(
        "doc_id",
        "seg_lang",
        "n",
        F.row_number()
        .over(wd.orderBy(F.desc("n"), "seg_lang"))
        .alias("rn"),
        F.sum("n").over(wd).cast("long").alias("n_segments"),
        F.count(F.lit(1)).over(wd).cast("long").alias("n_langs"),
    )
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_segments",
            "n_langs",
            F.col("seg_lang").alias("majority_lang"),
            F.col("n").alias("n_majority"),
            (1.0 - F.col("n").cast("double") / F.col("n_segments")).alias(
                "minority_frac"
            ),
        )
        .orderBy("doc_id")
    )


# independent hash-uniform for the Gumbel draw: a different LCG
# multiplier than the weight hash, so the noise is not a function of
# the importance key's residue pattern
_DSIR_G_MOD = 1_000_000


@register(
    "sample_dsir_resample",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, UNNEST({SQL_TOKS}) AS t FROM documents
),
dt AS (
  SELECT doc_id, MIN(source) AS source, t, CAST(COUNT(*) AS BIGINT) AS n_dt
  FROM tok GROUP BY doc_id, t
),
raw AS (SELECT t, CAST(SUM(n_dt) AS BIGINT) AS n_raw FROM dt GROUP BY 1),
tgt AS (
  SELECT t, CAST(SUM(n_dt) AS BIGINT) AS n_tgt
  FROM dt WHERE source = '{DSIR_TARGET}' GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(n_raw) AS BIGINT) AS t_raw
  FROM raw
),
ttgt AS (SELECT CAST(COALESCE(SUM(n_tgt), 0) AS BIGINT) AS t_tgt FROM tgt),
term AS (
  SELECT raw.t,
         CAST(ROUND(ln(CAST(COALESCE(tgt.n_tgt, 0) + 1 AS DOUBLE)) * 1000000000) AS BIGINT)
       - CAST(ROUND(ln(CAST(ttgt.t_tgt + tot.v AS DOUBLE)) * 1000000000) AS BIGINT)
       - CAST(ROUND(ln(CAST(raw.n_raw + 1 AS DOUBLE)) * 1000000000) AS BIGINT)
       + CAST(ROUND(ln(CAST(tot.t_raw + tot.v AS DOUBLE)) * 1000000000) AS BIGINT)
         AS dl
  FROM raw LEFT JOIN tgt USING (t) CROSS JOIN tot CROSS JOIN ttgt
),
w AS (
  SELECT dt.doc_id, MIN(dt.source) AS source,
         CAST(SUM(dt.n_dt * term.dl) AS BIGINT) AS logw_grid
  FROM dt JOIN term USING (t)
  GROUP BY dt.doc_id
),
g AS (
  SELECT doc_id, source, logw_grid,
         logw_grid + CAST(ROUND(
           -ln(-ln(CAST((doc_id * 1103515245 + 12345) % {_DSIR_G_MOD} + 1 AS DOUBLE)
                   / {_DSIR_G_MOD + 1}))
           * 1000000000) AS BIGINT) AS key_grid
  FROM w
)
SELECT doc_id, source, logw_grid, key_grid
FROM g ORDER BY key_grid DESC, doc_id LIMIT {DSIR_K}
""",
    description=(
        "[EXT] DSIR's actual sampler (Xie et al. 2023 §3, public): "
        "Gumbel-top-k over the importance log-weights — key = log w_d "
        "+ Gumbel noise, top-k by key, which draws WITHOUT "
        "replacement from the softmax of the weights; here the Gumbel "
        "-ln(-ln(u)) uses a deterministic hash-uniform u (independent "
        "LCG from the weight hash), so the stochastic resample is "
        "reproducible across engines and reruns. Noise snapped to the "
        "1e-9 grid and ADDED to the int64 weight grid, so ordering is "
        "exact; completes sample_dsir_importance (the noise-free "
        "deterministic variant) into the paper's sampling semantics. "
        "Same inverted-index scale shape plus one per-doc expression."
    ),
)
def sample_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id", "source", F.explode(T.tokens("text")).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(
            F.min("source").alias("source"),
            F.count(F.lit(1)).cast("long").alias("n_dt"),
        )
        .localCheckpoint(eager=False)
    )
    raw = dt.groupBy("t").agg(F.sum("n_dt").cast("long").alias("n_raw"))
    tgt = (
        dt.filter(F.col("source") == DSIR_TARGET)
        .groupBy("t")
        .agg(F.sum("n_dt").cast("long").alias("n_tgt"))
    )
    tot = raw.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("n_raw").cast("long").alias("t_raw"),
    )
    ttgt = tgt.agg(F.coalesce(F.sum("n_tgt"), F.lit(0)).cast("long").alias("t_tgt"))

    def r9(col):
        return F.round(F.log(col) * F.lit(1_000_000_000)).cast("long")

    term = (
        raw.join(tgt, "t", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttgt))
        .select(
            "t",
            (
                r9((F.coalesce(F.col("n_tgt"), F.lit(0)) + 1).cast("double"))
                - r9((F.col("t_tgt") + F.col("v")).cast("double"))
                - r9((F.col("n_raw") + 1).cast("double"))
                + r9((F.col("t_raw") + F.col("v")).cast("double"))
            ).alias("dl"),
        )
    )
    w = (
        dt.join(term, "t")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.sum(F.col("n_dt") * F.col("dl")).cast("long").alias("logw_grid"),
        )
    )
    u = (
        ((F.col("doc_id") * F.lit(1103515245) + 12345) % _DSIR_G_MOD + 1).cast(
            "double"
        )
        / F.lit(float(_DSIR_G_MOD + 1))
    )
    gumbel = F.round(-F.log(-F.log(u)) * F.lit(1_000_000_000)).cast("long")
    return (
        w.select(
            "doc_id",
            "source",
            "logw_grid",
            (F.col("logw_grid") + gumbel).alias("key_grid"),
        )
        .orderBy(F.desc("key_grid"), "doc_id")
        .limit(DSIR_K)
    )


KN_TOP_K = 100
KN_GRID = 1_000_000_000  # probabilities on the 1e-9 grid, exact

_KN_SQL = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
bi AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM tok WHERE len(toks) >= 2
  )
  GROUP BY 1, 2
),
lft AS (
  SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_left,
         CAST(COUNT(*) AS BIGINT) AS n1_left
  FROM bi GROUP BY w1
),
rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_right FROM bi GROUP BY w2),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bi)
SELECT b.w1, b.w2, b.c_xy, l.c_left, l.n1_left, r.n1_right,
       CAST(CAST({KN_GRID} AS HUGEINT)
            * ((4 * b.c_xy - 3) * d.n_types + 3 * l.n1_left * r.n1_right)
            // (4 * l.c_left * d.n_types) AS BIGINT) AS p_kn_grid
FROM bi b JOIN lft l ON l.w1 = b.w1 JOIN rgt r ON r.w2 = b.w2 CROSS JOIN d
ORDER BY b.c_xy DESC, b.w1, b.w2
LIMIT {KN_TOP_K}
"""


@register(
    "text_kneser_ney",
    oracle=_KN_SQL,
    description=(
        "[EXT] interpolated Kneser-Ney bigram probabilities (Kneser & "
        "Ney 1995; Chen & Goodman 1999), the LM-smoothing gold "
        "standard next to text_bigram_lm's Laplace rung: P(w|v) = "
        "(c(vw)-d)/c(v) + d*N1+(v.)/c(v) * N1+(.w)/N1+(..) with the "
        "canonical d = 3/4 — the continuation-count backoff that "
        "scores 'Francisco' low after anything but 'San'. The whole "
        "formula folds into ONE exact rational [(4c_vw - 3)*D + "
        "3*N1v*N1w] / (4*c_v*D), floored onto the 1e-9 grid in "
        "decimal(38,0) `div` == HUGEINT `//` (exact integral "
        "quotient), so every probability is bit-identical "
        "cross-engine — no logs, no float accumulation. All stats are "
        "bigram-TYPE-sized aggregates of one tokenize pass (map-side "
        "combined); the three joins are type-table-sized, left to AQE "
        "(vocabulary is power-law unbounded at corpus scale, same "
        "policy as text_bigram_lm). Top-100 bigrams by count with "
        "the full sufficient statistics alongside the probability."
    ),
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread_for_compute(docs).select(
        "doc_id", T.tokens("text").alias("toks")
    )
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
        # three downstream stats read this type table; unpinned each
        # re-tokenizes the corpus (the text_bigram_lm lazy-pin idiom)
        .localCheckpoint(eager=False)
    )
    lft = bi.groupBy("w1").agg(
        F.sum("c_xy").cast("long").alias("c_left"),
        F.count("*").cast("long").alias("n1_left"),
    )
    rgt = bi.groupBy("w2").agg(F.count("*").cast("long").alias("n1_right"))
    d = bi.agg(F.count("*").cast("long").alias("n_types"))
    p = F.expr(
        f"CAST(CAST({KN_GRID} AS DECIMAL(38,0))"
        " * ((4 * c_xy - 3) * n_types + 3 * n1_left * n1_right)"
        " div (4 * c_left * n_types) AS BIGINT)"
    )
    return (
        bi.join(lft, "w1")
        .join(rgt, "w2")
        .crossJoin(F.broadcast(d))
        .select(
            "w1", "w2", "c_xy", "c_left", "n1_left", "n1_right",
            p.alias("p_kn_grid"),
        )
        .orderBy(F.desc("c_xy"), "w1", "w2")
        .limit(KN_TOP_K)
    )


GT_MAX_R = 10
GT_GRID = 1_000_000_000


@register(
    "text_good_turing",
    oracle=f"""
WITH tok AS (SELECT unnest({SQL_TOKS}) AS t FROM documents),
uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
cofc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM uni GROUP BY 1),
p0 AS (
  SELECT CAST({GT_GRID} AS HUGEINT) * c.n_r // t.n AS p0_grid
  FROM cofc c, tot t WHERE c.r = 1
)
SELECT c.r, c.n_r, COALESCE(c2.n_r, 0) AS n_r_next,
       CAST(CASE WHEN c2.n_r IS NULL THEN NULL
            ELSE CAST({GT_GRID} AS HUGEINT) * (c.r + 1) * c2.n_r // c.n_r
            END AS BIGINT) AS r_star_grid,
       CAST(CASE WHEN c2.n_r IS NULL THEN NULL
            ELSE CAST({GT_GRID} AS HUGEINT) * (c.r + 1) * c2.n_r
                 // (c.n_r * t.n)
            END AS BIGINT) AS p_item_grid,
       CAST(p0.p0_grid AS BIGINT) AS p0_grid
FROM cofc c LEFT JOIN cofc c2 ON c2.r = c.r + 1, tot t, p0
WHERE c.r <= {GT_MAX_R}
ORDER BY c.r
""",
    description=(
        "[EXT] simple Good-Turing frequency re-estimation (Good 1953) "
        "over the token unigram distribution — the third smoothing "
        "rung next to Laplace (text_bigram_lm) and Kneser-Ney: "
        "adjusted count r* = (r+1) N_{{r+1}}/N_r from the "
        "counts-of-counts table, per-item probability r*/N, and the "
        "unseen-event mass P0 = N_1/N that a corpus LM must reserve "
        "for out-of-vocabulary tokens (the quantity contamination / "
        "novelty audits implicitly lean on). Everything is an exact "
        "rational on the 1e-9 grid via HUGEINT/decimal(38,0) integral "
        "division — counts-of-counts is two grouped aggregations of "
        "one tokenize pass, vocabulary-sized then O(max count) — and "
        "rows where N_{{r+1}} = 0 surface as NULL r* (the regime "
        "where full SGT switches to its log-log regression, "
        "documented honestly rather than smoothed over)."
    ),
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread_for_compute(docs).select(
        F.explode(T.tokens("text")).alias("t")
    )
    tok = tok.localCheckpoint(eager=False)  # uni + tot both read it
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("r"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cofc = uni.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    ).localCheckpoint(eager=False)  # self-join + p0 read it
    c2 = cofc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    p0 = cofc.filter(F.col("r") == 1).crossJoin(F.broadcast(tot)).select(
        F.expr(
            f"CAST(CAST({GT_GRID} AS DECIMAL(38,0)) * n_r div n AS BIGINT)"
        ).alias("p0_grid")
    )
    g = f"CAST({GT_GRID} AS DECIMAL(38,0))"
    return (
        cofc.filter(F.col("r") <= GT_MAX_R)
        .join(c2, "r", "left")
        .na.fill({"n_r_next": 0})
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(p0))
        .select(
            "r",
            "n_r",
            "n_r_next",
            F.expr(
                f"CAST(CASE WHEN n_r_next = 0 THEN NULL"
                f" ELSE {g} * (r + 1) * n_r_next div n_r END AS BIGINT)"
            ).alias("r_star_grid"),
            F.expr(
                f"CAST(CASE WHEN n_r_next = 0 THEN NULL"
                f" ELSE {g} * (r + 1) * n_r_next div (n_r * n) END"
                f" AS BIGINT)"
            ).alias("p_item_grid"),
            "p0_grid",
        )
        .orderBy("r")
    )


ESS_GRID = 1_000_000
ESS_CLIP = 10_000  # chars; the heavy-tail cap for the clipped variant


@register(
    "sample_importance_ess",
    oracle=f"""
WITH w AS (
  SELECT source, CAST(n_chars AS BIGINT) AS w,
         CAST(LEAST(n_chars, {ESS_CLIP}) AS BIGINT) AS wc
  FROM documents
),
s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(w) AS HUGEINT) AS sw,
         SUM(CAST(w AS HUGEINT) * w) AS sww,
         CAST(SUM(wc) AS HUGEINT) AS swc,
         SUM(CAST(wc AS HUGEINT) * wc) AS swcwc
  FROM w GROUP BY 1
)
SELECT source, n,
       CAST({ESS_GRID} * sw * sw // (sww * n) AS BIGINT) AS ess_frac_grid,
       CAST({ESS_GRID} * swc * swc // (swcwc * n) AS BIGINT)
         AS ess_clipped_frac_grid,
       CAST({ESS_GRID} * swc * swc // (swcwc * n) AS BIGINT)
         >= CAST({ESS_GRID} * sw * sw // (sww * n) AS BIGINT)
         AS clipping_helped
FROM s ORDER BY source
""",
    description=(
        "[EXT] effective-sample-size diagnostic for importance-"
        "weighted draws (Kong 1992): per source, ESS/n = "
        "(sum w)^2 / (n sum w^2) with document length as the weight — "
        "the standard 'how many equivalent unweighted samples is this "
        "weighted set worth' check a DSIR-style pipeline "
        "(sample_dsir_resample) runs before trusting its draw — plus "
        f"the clipped variant (weights capped at {ESS_CLIP}), the "
        "textbook heavy-tail mitigation. Pure integer rationals on "
        "the 1e-6 grid (HUGEINT/decimal(38,0) integral division), "
        "hash-exact. clipping_helped pins a THEOREM: capping weights "
        "can only reduce the squared coefficient of variation, so "
        "clipped ESS/n >= raw ESS/n always — on the exact rationals; "
        "on the 1e-6 grid both sides truncate through the SAME "
        "division so the comparison survives snapping. One grouped "
        "pass, source-count-sized output."
    ),
)
def sample_importance_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    D = "DECIMAL(38,0)"
    w = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("w"),
        F.least(F.col("n_chars"), F.lit(ESS_CLIP)).cast("long").alias("wc"),
    )
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast(D).alias("sw"),
        F.sum(F.col("w").cast(D) * F.col("w")).alias("sww"),
        F.sum("wc").cast(D).alias("swc"),
        F.sum(F.col("wc").cast(D) * F.col("wc")).alias("swcwc"),
    )
    raw = f"CAST({ESS_GRID} * sw * sw div (sww * n) AS BIGINT)"
    cl = f"CAST({ESS_GRID} * swc * swc div (swcwc * n) AS BIGINT)"
    return s.select(
        "source",
        "n",
        F.expr(raw).alias("ess_frac_grid"),
        F.expr(cl).alias("ess_clipped_frac_grid"),
        (F.expr(cl) >= F.expr(raw)).alias("clipping_helped"),
    ).orderBy("source")
