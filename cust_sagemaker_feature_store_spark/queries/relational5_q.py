"""Surface fill-ins: explicit GROUPING SETS, regex predicates and
extraction, and Levenshtein exact verification of dedup candidates
(SURVEY.md §2.4, §2.8, §2.10 [EXT]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as D
from ..operators.spread import spread_for_compute
from .registry import register, sql_dsum


@register(
    "agg_grouping_sets",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    description=(
        "Explicit GROUPING SETS — an arbitrary subset of grouping "
        "combinations (by status, by priority, grand total) in one "
        "pass, unlike rollup/cube's fixed lattices."
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import dsum

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


@register(
    "window_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    description=(
        "Top-3 orders by price per priority: the rank<=k filter "
        "compiles to WindowGroupLimit, which keeps k rows per group per "
        "partition BEFORE the shuffle — at 100 TB the exchange carries "
        "k*groups rows, not the table."
    ),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "fn_regex_surface",
    oracle="""
SELECT p_partkey, p_brand,
       regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
       regexp_matches(p_type, '^(PRO|STA)') AS is_pro_or_sta,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels
FROM part
WHERE regexp_matches(p_name, '[0-9]$')
""",
    description=(
        "Regex surface: rlike predicate (name ends in a digit), group "
        "extraction, global replace — all JVM-side, codegen'd."
    ),
)
def fn_regex_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_name").rlike("[0-9]$")).select(
        "p_partkey",
        "p_brand",
        F.regexp_extract("p_brand", "#([0-9]+)", 1).alias("brand_num"),
        F.col("p_type").rlike("^(PRO|STA)").alias("is_pro_or_sta"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
    )


@register(
    "dedup_levenshtein_verify",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
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
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200)) AS lev_200,
       (levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200))
          <= 0.2 * greatest(length(substr(da.text, 1, 200)), length(substr(db.text, 1, 200)))) AS verified
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
""",
    description=(
        "Exact edit-distance verification of LSH candidates: the final "
        "tier of the dedup ladder. Levenshtein is O(n*m) so it runs "
        "ONLY on the candidate pairs (never all pairs) and on a 200-"
        "char prefix — the standard verify-cheap-candidates pattern."
    ),
)
def dedup_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    cand = D.minhash_candidates(docs, num_hashes=4, rows_per_band=2).select(
        "doc_a", "doc_b"
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, 200).alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, 200).alias("tb"))
    lev = F.levenshtein("ta", "tb")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev_200"),
            (lev <= 0.2 * F.greatest(F.length("ta"), F.length("tb"))).alias("verified"),
        )
    )
