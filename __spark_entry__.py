"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps one entry per implemented operator family from
SURVEY.md §2 to a DataFrame program over the driver-provided synthetic
tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL. Column names
and float rounding are aligned on both sides so the driver's
order-insensitive value-hash matches.

Operator keys reference SURVEY.md §2 ids (J=joins, A=aggregations,
T=top-k/windows, U=set ops, P=projections, F=filters) which in turn
cite the reference implementation (file:line into /root/reference/).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from meilisearchcrawler_spark.operators import dedup as D
from meilisearchcrawler_spark.operators import similarity as S
from meilisearchcrawler_spark.operators import textstats as TS
from meilisearchcrawler_spark.session import ship_package

SF001 = "/root/testdata/sf0.001"

_ANN_NBITS = 6
_ANN_SEED = 42
_ANN_DIM = 64
_IVF_NC = 16       # coarse-quantizer lists
_IVF_NPROBE = 4    # probed lists per query
_IVF_ITERS = 1     # Lloyd refinements over the training sample


# Lazy READER-HANDLE cache (round-6, guide §6): every query call paid
# a fresh ``spark.read.parquet`` — driver-side file listing + footer
# schema inference, ~0.1-0.2 s — for source paths that are read-only
# and immutable. The cached object is a lazy plan handle (file list +
# schema), NOT data: every action over it still scans the parquet
# files in full, so nothing is precomputed or replayed across runs —
# this is the session-level analog of Spark's own FileIndex caching.
# Keyed per Spark application id so a fresh session never reuses stale
# JVM handles (an ``id()`` of a stopped context can be reused by the
# next context object; an application id never is).
_T_CACHE: dict[tuple[str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, path)
    df = _T_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _T_CACHE[key] = df
    return df


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact clones (doc_id%10==0, +100000) ∪ near clones
    (doc_id%7==0, +200000, ' zz' suffix) — deterministic dup fixture for
    the dedup family (the raw synthetic corpus has no duplicates).
    Cached like :func:`_t`: a plan handle that q16, q18 and q19 share,
    so each query skips re-analyzing the union and the dedup operators'
    partition-count check of it is planned once."""
    key = (spark.sparkContext.applicationId, os.path.join(sf_dir, "documents+dups"))
    df = _T_CACHE.get(key)
    if df is None:
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        exact = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
        near = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz")).alias("text"))
        df = _T_CACHE[key] = docs.unionByName(exact).unionByName(near)
    return df


_DOCS_DUPS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0 "
    "UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id % 7 = 0"
)

_CANON_TEXT_SPARK = lambda c: F.lower(F.regexp_replace(c, r"\s+", " "))  # noqa: E731
_CANON_TEXT_SQL = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Relational / crawl-analog queries
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-analog flagship aggregation (CrawlStats rollup shape,
    crawler.py:764-827): filtered scan → groupBy → partial-agg sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q02_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (merger sort+limit, merger.py:85-88) → TakeOrderedAndProject."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def q03_seen_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (candidates ⟕ url_seen, cache_db.py:49-57): equi-join with a
    broadcast-able dimension, then rollup by segment."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


def q04_unseen_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/F1 (left-anti vs url_seen, crawler.py:1164): customers with no
    orders, counted per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_unseen"))
    )


def q05_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (merge-side priority dedup, merger.py:57-82): keep the
    highest-priority row per key via row_number()=1."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


def q06_frontier_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 (the frontier priority pop, crawler.py:1157-1178): per-host
    budget window (≤3 per user) then global priority cutoff — the exact
    shape of one engine admission round."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy(F.desc("value"), F.asc("event_id"))
        .select("event_id", "user_id", "value", "rn")
        .limit(50)
    )


def q07_crawl_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (CrawlStats counters, crawler.py:764-827)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"),
             F.round(F.avg("value"), 4).alias("avg_value"))
    )


def q08_daily_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (throughput telemetry, crawler.py:819-820) as per-day rates."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("event_type"), F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )


def q09_top_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/T6 (top queries, stats_db.py:357-386)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


def q10_site_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (cache stats per site, cache_db.py:95-120)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"),
             F.countDistinct("lang").alias("n_langs"))
    )


def q11_pagetree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (page-tree hierarchy rollup, Page_Tree.py:194-226)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                "n")
    )


def q12_freshness_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16+A9 (freshness bucketing + histogram, Page_Tree.py:118-137,254-257)."""
    age = F.datediff(F.lit("2001-08-01").cast("date"), F.to_date("o_orderdate"))
    bucket = (
        F.when(age <= 7, "week")
        .when(age <= 30, "month")
        .when(age <= 90, "quarter")
        .otherwise("older")
    )
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(bucket.alias("freshness"))
        .agg(F.count("*").alias("n"))
    )


def q13_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+J5 (multi-source union then priority dedup, search.py:152)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("wiki").alias("source"))
    b = ev.filter(F.col("value") > 90).select(
        "event_id", F.lit("cse").alias("source"))
    return (
        a.unionByName(b)
        .groupBy("event_id")
        .agg(F.min("source").alias("source"))
    )


def q14_missing_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/S13 (embedding backfill scan, meilisearch_gemini.py:119-148):
    documents without a vector row."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    emb = _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("doc_id"))
    return docs.join(emb, "doc_id", "left_anti")


def q15_weighted_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (recrawl priority score 0.7a+0.3b top-10, Page_Tree.py:265-284)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    score = F.round(0.7 * F.col("o_totalprice") / 1000.0
                    + 0.3 * F.col("c_acctbal") / 100.0, 6)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", score.alias("priority_score"))
        .orderBy(F.desc("priority_score"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------


def q16_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_docs_with_dups(spark, sf_dir))


def q17_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets_ = D.shingle_sets(_t(spark, sf_dir, "documents"), shingle_n=3)
    return D.minhash_signatures(sets_, num_hashes=4)


def q18_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets_ = D.shingle_sets(_docs_with_dups(spark, sf_dir), shingle_n=3)
    return D.lsh_candidate_pairs(D.minhash_signatures(sets_, num_hashes=4), bands=2)


def q19_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets_ = D.shingle_sets(_docs_with_dups(spark, sf_dir), shingle_n=3)
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(sets_, num_hashes=4), bands=2)
    return D.ngram_jaccard_pairs(sets_, pairs)


def q20_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents"), bits=16)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
           .select("embedding").first())
    return [float(x) for x in row["embedding"]]


def q21_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (cosine rerank top-k, reranker.py:44-88); query = vec_id 0."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


def q22_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: hyperplane-LSH bucket pruning + multiprobe."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_lsh(emb, _query_vec(spark, sf_dir), k=10,
                          nbits=_ANN_NBITS, seed=_ANN_SEED)


def q34_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2, Faiss-style IVF (vs q22's hyperplane LSH):
    deterministic coarse-quantizer training (seed = 16 smallest ids +
    one Lloyd-IP refinement, 6-dp-rounded plan constants), map-only
    assignment, probe the 4 best inverted lists, exact cosine top-k
    within them. Oracle replays training + probe + rerank in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, _query_vec(spark, sf_dir), k=10,
                      n_centroids=_IVF_NC, nprobe=_IVF_NPROBE,
                      iters=_IVF_ITERS)


def q23_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.quality_features(_t(spark, sf_dir, "documents"))


def q24_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.language_id(_t(spark, sf_dir, "documents"))


def q25_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB; tables pre-registered as views)
# ---------------------------------------------------------------------------


def _minhash_sql(num_hashes: int, source_sql: str = "documents") -> str:
    width = 32 // num_hashes
    mins = ", ".join(
        f"min(substr(md5(shingle), {1 + i * width}, {width})) AS min_h{i}"
        for i in range(num_hashes))
    return f"""
WITH src AS (SELECT doc_id, text FROM {source_sql}),
w AS (SELECT doc_id, string_split({_CANON_TEXT_SQL}, ' ') AS ws FROM src),
g AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, LATERAL unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
)
SELECT doc_id, {mins} FROM g GROUP BY doc_id"""


def _lsh_pairs_sql() -> str:
    sig = _minhash_sql(4, f"({_DOCS_DUPS_SQL})")
    return f"""
WITH sig AS ({sig}),
banded AS (
  SELECT doc_id, 0 AS band_id, md5(min_h0 || '|' || min_h1) AS band_sig FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(min_h2 || '|' || min_h3) AS band_sig FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id"""


def _jaccard_sql() -> str:
    pairs = _lsh_pairs_sql()
    return f"""
WITH src AS ({_DOCS_DUPS_SQL}),
w AS (SELECT doc_id, string_split({_CANON_TEXT_SQL}, ' ') AS ws FROM src),
sets_ AS (
  SELECT doc_id, list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 2, 0)),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
  FROM w
),
pairs AS ({pairs})
SELECT p.id_a, p.id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             greatest(len(list_distinct(a.sh || b.sh)), 1), 6) AS jaccard
FROM pairs p
JOIN sets_ a ON a.doc_id = p.id_a
JOIN sets_ b ON b.doc_id = p.id_b"""


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split({_CANON_TEXT_SQL}, ' ')) AS word
  FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM w),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, ({fp})::BIGINT AS simhash FROM v"""


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(f"{x!r}" for x in plane) + "]::DOUBLE[]"


def _ann_sql() -> str:
    planes = S.make_hyperplanes(_ANN_DIM, _ANN_NBITS, _ANN_SEED)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_literal(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    qbucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(q.qv, {_plane_literal(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({qbucket_expr}) AS qbucket FROM q),
b AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v, ({bucket_expr}) AS bucket
      FROM embeddings e),
probe AS (
  SELECT b.* FROM b, qb
  WHERE bit_count(xor(b.bucket::BIGINT, qb.qbucket::BIGINT)) <= 1
)
SELECT p.vec_id, p.bucket,
       round(list_dot_product(p.v, q.qv) /
             (CASE WHEN sqrt(list_dot_product(p.v, p.v)) = 0 THEN 1.0
                   ELSE sqrt(list_dot_product(p.v, p.v)) END
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM probe p, q
ORDER BY score DESC, p.vec_id LIMIT 10"""


def _ivf_sql() -> str:
    """SQL replay of :func:`operators.similarity.ivf_topk` including
    the training: seeds = 16 smallest ids (6-dp rounded), one Lloyd
    iteration under inner-product assignment (ties -> lowest cid; 6-dp
    rounded means; empty clusters keep their seed), probe = top-4
    centroids by dot(query, c), exact cosine top-k over probed lists."""
    nc, nprobe, dim = _IVF_NC, _IVF_NPROBE, _ANN_DIM
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS c
  FROM embeddings ORDER BY vec_id LIMIT {nc}),
a0 AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], s.c) DESC,
                      s.cid) AS rn
    FROM embeddings e, seeds s) WHERE rn = 1),
cent1 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT a.cid, t.i AS pos, round(avg(a.v[t.i]), 6) AS m
    FROM a0 a, LATERAL unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY a.cid, t.i)
  GROUP BY cid),
cent AS (
  SELECT s.cid, coalesce(c1.c, s.c) AS c
  FROM seeds s LEFT JOIN cent1 c1 USING (cid)),
probe AS (
  SELECT cent.cid FROM cent, q
  ORDER BY list_dot_product(q.qv, cent.c) DESC, cent.cid LIMIT {nprobe}),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], cent.c) DESC,
                      cent.cid) AS rn
    FROM embeddings e, cent) WHERE rn = 1)
SELECT a.vec_id, a.cid::INT AS cid,
       round(list_dot_product(a.v, q.qv) /
             (CASE WHEN sqrt(list_dot_product(a.v, a.v)) = 0 THEN 1.0
                   ELSE sqrt(list_dot_product(a.v, a.v)) END
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM assign a, q
WHERE a.cid IN (SELECT cid FROM probe)
ORDER BY score DESC, a.vec_id LIMIT 10"""


def _quality_sql() -> str:
    sw_hits = ", ".join(
        "len(list_intersect(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '), "
        f"{[w for w in TS.STOPWORDS[lang]]!r}::VARCHAR[])) AS hits_{lang}"
        for lang in TS.STOPWORDS)
    greatest_hits = "greatest(" + ", ".join(f"hits_{lang}" for lang in TS.STOPWORDS) + ")"
    return f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
         {sw_hits}
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       round(n_chars::DOUBLE / greatest(n_tokens, 1), 6) AS mean_word_len,
       round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
       round(n_upper::DOUBLE / greatest(n_chars, 1), 6) AS upper_ratio,
       round({greatest_hits}::DOUBLE / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.4
             + round({greatest_hits}::DOUBLE / greatest(n_tokens, 1), 6) * 2.0 * 0.3
             + (1.0 - least(round(n_punct::DOUBLE / greatest(n_chars, 1), 6) * 5.0, 1.0)) * 0.3, 6)
         AS quality_score
FROM base"""


def _langid_sql() -> str:
    langs = list(TS.STOPWORDS)
    hits = ", ".join(
        "len(list_intersect(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '), "
        f"{[w for w in TS.STOPWORDS[lang]]!r}::VARCHAR[])) AS hits_{lang}"
        for lang in langs)
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    # first lang in dict order with max hits; 0 hits → 'und'
    case = "CASE WHEN " + f"{best} <= 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs) + " ELSE 'und' END"
    return f"""
WITH base AS (SELECT doc_id, {hits} FROM documents)
SELECT doc_id, {case} AS lang_guess, {best} AS stopword_hits FROM base"""


def q26_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (embedding coverage, check_indexing_status.py:72-87): docs
    with/without a vector row, per source, with completion ratio."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec"))
    joined = docs.join(emb, "doc_id", "left")
    return (joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce("has_vec", F.lit(0))).alias("n_with_vectors"),
        F.round(F.sum(F.coalesce("has_vec", F.lit(0)))
                / F.count("*"), 6).alias("coverage")))


def q28_search_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (search stats, stats_db.py:225-412): per-source averages,
    cache-hit ratio, last-hour volume — over the events stream as the
    query-log analog (value ≈ processing_time_ms)."""
    ev = _t(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    last_hour = F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
    return (ev.groupBy("event_type").agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg("value"), 4).alias("avg_ms"),
        F.round(F.sum(F.when(F.col("value") > 50, 1).otherwise(0))
                / F.count("*"), 6).alias("cache_hit_rate"),
        F.sum(last_hour.cast("int")).alias("n_last_hour"),
        F.sum(F.when(F.col("value") <= 0, 1).otherwise(0)).alias("n_zero")))


_HYBRID_TERMS = ["spark", "window", "vector", "merge"]


def q29_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword+semantic search — the reference's flagship search
    mode (Hybrid(semantic_ratio=0.5), meilisearch_client.py:110-125):
    BM25 over the text corpus blended 0.5/0.5 with cosine vs the query
    embedding (vec_id 0)."""
    from meilisearchcrawler_spark.search.hybrid import hybrid_topk

    return hybrid_topk(_t(spark, sf_dir, "documents"),
                       _t(spark, sf_dir, "embeddings"),
                       _HYBRID_TERMS, _query_vec(spark, sf_dir), k=20)


def _hybrid_sql(k: int = 20, ratio: float = 0.5) -> str:
    from meilisearchcrawler_spark.search.hybrid import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in _HYBRID_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl, t FROM toks),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
terms AS (SELECT doc_id, dl, unnest(t) AS term FROM dl),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM terms
       WHERE term IN ({terms}) GROUP BY 1, 2, 3),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
kw AS (
  SELECT doc_id,
         sum(ln(1 + (n - df + 0.5) / (df + 0.5))
             * tf * {BM25_K1 + 1.0}
             / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)))
           AS kw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats GROUP BY doc_id
),
kmax AS (SELECT max(kw) AS kmax FROM kw),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT d.doc_id, coalesce(k.kw, 0) AS kw, e.embedding::DOUBLE[] AS ev
  FROM documents d LEFT JOIN kw k USING (doc_id)
  LEFT JOIN embeddings e ON e.vec_id = d.doc_id
),
scored AS (
  SELECT b.doc_id,
         CASE WHEN kmax IS NULL OR kmax = 0 THEN 0.0
              ELSE b.kw / kmax END AS kwn,
         CASE WHEN b.ev IS NULL THEN 0.0 ELSE
           list_dot_product(b.ev, q.v) /
           ((CASE WHEN sqrt(list_dot_product(b.ev, b.ev)) = 0 THEN 1.0
                  ELSE sqrt(list_dot_product(b.ev, b.ev)) END)
            * sqrt(list_dot_product(q.v, q.v)))
         END AS sem
  FROM base b CROSS JOIN kmax CROSS JOIN qv q
)
SELECT doc_id, round(kwn, 6) AS keyword_score,
       round(sem, 6) AS semantic_score,
       round({1.0 - ratio} * kwn + {ratio} * sem, 6) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT {k}"""


def _embeddings_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    return emb.unionByName(twins)


def q27_cosine_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline; the LSH scale
    path is tests/test_similarity_pairs.py). Twin vectors guarantee
    true positives at cosine 1.0."""
    from meilisearchcrawler_spark.operators.similarity import cosine_near_pairs_exact

    return cosine_near_pairs_exact(_embeddings_with_twins(spark, sf_dir),
                                   threshold=0.35)


def q30_cosine_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup (hyperplane-LSH blocking,
    no n² join) certified against the exact-form oracle: at threshold
    0.9 the only qualifying pairs are the injected twins (cosine 1.0),
    whose identical unit vectors share every bucket bit — so LSH recall
    is exactly 1.0 by construction, and the bucketed plan must
    hash-match the brute-force SQL."""
    from meilisearchcrawler_spark.operators.similarity import cosine_near_pairs_lsh

    return cosine_near_pairs_lsh(_embeddings_with_twins(spark, sf_dir),
                                 threshold=0.9, dim=64)


def q90_crawl_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl engine end-to-end, surfaced as its ORDERING ARTIFACT:
    the crawl_log rows (admission decisions with round / position /
    counter). The driver hashes these against an oracle built by
    replaying the sequential reference algorithm in pure Python
    (oracle/refcrawler.py) and serializing its log as SQL VALUES — so
    the reference-equivalence gate itself runs inside the driver's
    correctness check (round-2 verdict next-step #8). Ignores sf_dir
    (the crawl input is the deterministic fixture web). visited_dup
    rows are excluded: the reference pops those silently
    (refcrawler.py:119-120), so they have no oracle-side row."""
    import tempfile

    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine
    from meilisearchcrawler_spark.fixtures.webgen import generate_web, write_parquet

    fx = generate_web(seed=5, n_sites=2, pages_per_site=30)
    tmp = tempfile.mkdtemp(prefix="mcspark_q90_")
    paths = write_parquet(fx, os.path.join(tmp, "web"))
    eng = CrawlEngine(spark, os.path.join(tmp, "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=8, shuffle_partitions=8),
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=60)
    log = eng.catalog.read("crawl_log")
    return (log.filter(F.col("action").isin(
        "admitted", "excluded", "ext_skipped", "robots_denied"))
        .select("site", "round", "pos_in_round", "url", "counter", "action"))


def _q90_oracle_sql() -> str:
    """Sequential-reference replay (pure Python, no Spark) serialized
    as VALUES — DuckDB returns the exact crawl_log the engine must
    reproduce."""
    from meilisearchcrawler_spark.fixtures.webgen import generate_web
    from meilisearchcrawler_spark.oracle.refcrawler import crawl_site

    fx = generate_web(seed=5, n_sites=2, pages_per_site=30)
    rows = []
    for s in fx.seeds:
        orc = crawl_site(fx, s, batch_size=8)
        for r in orc.crawl_log:
            url = r["url"].replace("'", "''")
            rows.append(f"('{s['site']}', {r['round']}, {r['pos_in_round']}, "
                        f"'{url}', {r['counter']}, '{r['action']}')")
    vals = ",\n".join(rows)
    return f"""
SELECT site, round::INT AS round, pos_in_round::INT AS pos_in_round,
       url, counter::BIGINT AS counter, action
FROM (VALUES {vals}) AS t(site, round, pos_in_round, url, counter, action)"""


# ---------------------------------------------------------------------------
# Stateful-source operators (S11 CSE cache/quota, A4 search-log sink,
# A10 TEI metrics) — deterministic literal fixtures on both sides, so
# the driver's DuckDB replay certifies the full decision algebra
# (round-2 verdict next-step #5).
# ---------------------------------------------------------------------------

_CSE_NOW = 1_700_000_000.0
_CSE_DAY = "2024-01-15"
_CSE_USED = 98          # prior quota_log sum for the day
_CSE_DAILY_QUOTA = 100  # cse_client.py:36
_CSE_QUERIES = [
    (0, "alpha", "fr"), (1, "beta", "fr"), (2, "gamma", "fr"),
    (3, "beta", "fr"), (4, "delta", "fr"), (5, "eps", "fr"),
    (6, "alpha", "fr"), (7, "eps", "fr"), (8, "zeta", "fr"),
    (9, "gamma", "fr"),
]
# (query, lang, results, expires_at offset from now, batch)
_CSE_CACHE = [
    ("alpha", "fr", '["a-cached"]', 1000.0, 0),   # valid → prior hit
    ("beta", "fr", '["b-old"]', -5.0, 0),         # expired → refetch
]
# (query, lang, results, fails)
_CSE_API = [
    ("beta", "fr", '["b1"]', False),
    ("gamma", "fr", '[]', True),                  # API error path
    ("delta", "fr", '["d1"]', False),
    ("eps", "fr", '["e1"]', False),
]


def q31_cse_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — one CSE micro-batch through the stateful cache→quota→API
    decision path (sources/cse.py:69-166; ref cse_client.py:98-140):
    prior cache hits, expired entries, intra-batch repeats riding an
    earlier fetch, an API-error head, and quota exhaustion mid-batch
    (2 slots left for 4 fetchable heads). Ignores sf_dir — the fixture
    is the literal request stream above, same on the oracle side."""
    from meilisearchcrawler_spark.sources.cse import process_batch, query_hash_col

    queries = spark.createDataFrame(
        _CSE_QUERIES, "qid long, query string, lang string")
    cache_log = spark.createDataFrame(
        [(q, lg, r, _CSE_NOW + off, b) for q, lg, r, off, b in _CSE_CACHE],
        "query string, lang string, results string, expires_at double, batch int"
    ).withColumn("query_hash", query_hash_col(F.col("query"), F.col("lang")))
    quota_log = spark.createDataFrame(
        [(_CSE_DAY, 50, 0), (_CSE_DAY, _CSE_USED - 50, 1)],
        "date string, n_calls int, batch int")
    api = spark.createDataFrame(
        _CSE_API, "query string, lang string, results string, fails boolean")
    out = process_batch(queries, cache_log, quota_log, api,
                        now=_CSE_NOW, day=_CSE_DAY, batch_no=2,
                        daily_quota=_CSE_DAILY_QUOTA)
    return out["responses"]


def _q31_oracle_sql() -> str:
    qv = ", ".join(f"({i}, '{q}', '{lg}')" for i, q, lg in _CSE_QUERIES)
    cv = ", ".join(f"('{q}', '{lg}', '{r}', {_CSE_NOW + off!r}, {b})"
                   for q, lg, r, off, b in _CSE_CACHE)
    av = ", ".join(f"('{q}', '{lg}', '{r}', {str(f).lower()})"
                   for q, lg, r, f in _CSE_API)
    remaining = max(_CSE_DAILY_QUOTA - _CSE_USED, 0)
    return f"""
WITH queries(qid, query, lang) AS (VALUES {qv}),
cache_log(query, lang, results, expires_at, batch) AS (VALUES {cv}),
api(query, lang, results, fails) AS (VALUES {av}),
valid AS (
  SELECT md5(query || '|' || lang) AS qh, results FROM (
    SELECT *, row_number() OVER (PARTITION BY query, lang
                                 ORDER BY batch DESC) AS rn
    FROM cache_log)
  WHERE rn = 1 AND expires_at > {_CSE_NOW!r}),
q1 AS (SELECT q.qid, q.query, q.lang,
              md5(q.query || '|' || q.lang) AS qh FROM queries q),
q2 AS (SELECT q1.*, v.results AS cached
       FROM q1 LEFT JOIN valid v ON v.qh = q1.qh),
q3 AS (SELECT q2.*, coalesce(a.fails, false) AS api_fails,
              coalesce(a.results, '[]') AS api_res
       FROM q2 LEFT JOIN api a ON a.query = q2.query AND a.lang = q2.lang),
q4 AS (SELECT *, row_number() OVER (PARTITION BY qh ORDER BY qid) AS occ
       FROM q3),
q5 AS (SELECT *, (cached IS NULL AND occ = 1) AS is_head FROM q4),
q6 AS (SELECT *, coalesce(sum(CASE WHEN is_head AND NOT api_fails
                                   THEN 1 ELSE 0 END)
         OVER (ORDER BY qid ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS fb FROM q5),
q7 AS (SELECT *, (least(fb, {remaining}) + {_CSE_USED})
                 >= {_CSE_DAILY_QUOTA} AS blocked_now FROM q6),
q8 AS (SELECT *, (is_head AND NOT api_fails AND NOT blocked_now) AS allowed
       FROM q7),
q9 AS (SELECT *,
  max(CASE WHEN allowed THEN 1 ELSE 0 END) OVER (PARTITION BY qh) = 1
    AS head_cached,
  min(CASE WHEN is_head THEN qid END) OVER (PARTITION BY qh) AS head_qid
  FROM q8),
q10 AS (SELECT *, (cached IS NULL AND head_cached AND qid > head_qid)
                  AS hit_intra FROM q9)
SELECT qid::BIGINT AS qid, query, lang,
  CASE WHEN cached IS NOT NULL THEN cached
       WHEN allowed OR hit_intra THEN api_res ELSE '[]' END AS results,
  (cached IS NOT NULL OR hit_intra) AS cache_hit,
  (cached IS NULL AND NOT hit_intra AND blocked_now) AS quota_blocked
FROM q10"""


_SLOG_NOW = 1_700_000_000.0
# (query_id, query, lang, limit_requested, use_cse, use_reranking,
#  use_hybrid, processing_time_ms, cache_hit, batch_ts)
_SLOG_PARAMS = [
    (1, "spark window", "fr", 10, True, False, True, 12.5, False),
    (2, "vector merge", "fr", 20, False, True, True, 48.25, True),
    (3, "robots budget", "en", 10, True, False, False, 7.0, False),
    (11, "spark window", "fr", 10, True, True, True, 9.75, True),
    (12, "bloom filter", "en", 5, False, False, False, 30.5, False),
    (13, "frontier pop", "en", 10, True, False, True, 15.0, False),
    (14, "iceberg commit", "fr", 10, False, False, False, 22.25, True),
]
_SLOG_OLD_IDS = {1, 2, 3}  # logged one batch earlier (now - 7200)
# (query_id, source)
_SLOG_RESULTS = [
    (1, "meilisearch"), (1, "meilisearch"), (1, "cse"),
    (2, "meilisearch"), (2, "wiki"), (2, "wiki"), (2, "wiki"),
    (3, "cse"),
    (11, "meilisearch"), (11, "wiki"),
    (12, "meilisearch"), (12, "meilisearch"), (12, "cse"), (12, "wiki"),
    (14, "meilisearch"),
]  # query_id 13: zero hits → left-join zeros


def q32_search_log_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 write path + read rollup — two search micro-batches through
    the search_queries log sink (search/statslog.py:22-70; ref
    stats_db.py:127-185, 225-412), then the per-lang stats rollup with
    a last-hour window that only the second batch satisfies."""
    from meilisearchcrawler_spark.search.statslog import (
        build_search_log, search_stats)

    pschema = ("query_id long, query string, lang string, "
               "limit_requested int, use_cse boolean, use_reranking boolean, "
               "use_hybrid boolean, processing_time_ms double, cache_hit boolean")
    rschema = "query_id long, source string"
    logs = []
    for old in (True, False):
        ids = _SLOG_OLD_IDS if old else \
            {p[0] for p in _SLOG_PARAMS} - _SLOG_OLD_IDS
        params = spark.createDataFrame(
            [p for p in _SLOG_PARAMS if p[0] in ids], pschema)
        results = spark.createDataFrame(
            [r for r in _SLOG_RESULTS if r[0] in ids], rschema)
        logs.append(build_search_log(
            params, results, _SLOG_NOW - 7200 if old else _SLOG_NOW))
    return search_stats(logs[0].unionByName(logs[1]), _SLOG_NOW)


def _q32_oracle_sql() -> str:
    pv = ", ".join(
        f"({qid}, '{q}', '{lg}', {lim}, {str(c).lower()}, {str(rr).lower()}, "
        f"{str(h).lower()}, {ms!r}, {str(ch).lower()}, "
        f"{int(_SLOG_NOW - 7200) if qid in _SLOG_OLD_IDS else int(_SLOG_NOW)})"
        for qid, q, lg, lim, c, rr, h, ms, ch in _SLOG_PARAMS)
    rv = ", ".join(f"({qid}, '{s}')" for qid, s in _SLOG_RESULTS)
    return f"""
WITH params(query_id, query, lang, limit_requested, use_cse, use_reranking,
            use_hybrid, processing_time_ms, cache_hit, ts) AS (VALUES {pv}),
results(query_id, source) AS (VALUES {rv}),
counts AS (
  SELECT query_id,
         sum(CASE WHEN source = 'meilisearch' THEN 1 ELSE 0 END) AS m,
         sum(CASE WHEN source = 'cse' THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN source = 'wiki' THEN 1 ELSE 0 END) AS w
  FROM results GROUP BY query_id),
log AS (
  SELECT p.*, coalesce(c.m, 0) AS m, coalesce(c.c, 0) AS c,
         coalesce(c.w, 0) AS w
  FROM params p LEFT JOIN counts c USING (query_id))
SELECT lang, count(*)::BIGINT AS n_queries,
  round(avg(processing_time_ms), 4) AS avg_ms,
  round(avg(CASE WHEN cache_hit THEN 1.0 ELSE 0.0 END), 6) AS cache_hit_rate,
  sum(CASE WHEN ts >= {int(_SLOG_NOW) - 3600} THEN 1 ELSE 0 END)::BIGINT
    AS n_last_hour,
  round(avg(m + c + w), 4) AS avg_results,
  round(avg(m), 4) AS avg_meili,
  round(avg(c), 4) AS avg_cse,
  round(avg(w), 4) AS avg_wiki,
  sum(CASE WHEN use_hybrid THEN 1 ELSE 0 END)::BIGINT AS n_hybrid
FROM log GROUP BY lang"""


# (scrape_ts, replica, metric, value) — r1 lacks the duration pairs,
# r0@2000 has a zero count (both must yield NULL averages,
# crawler.py:199-239 semantics)
_TEI_SAMPLES = [
    (1000, "r0", "te_queue_size", 5.0),
    (1000, "r0", "te_request_count_batch", 120.0),
    (1000, "r0", "te_request_success_batch", 118.0),
    (1000, "r0", "te_request_inference_duration_sum", 3.5),
    (1000, "r0", "te_request_inference_duration_count", 100.0),
    (1000, "r0", "te_request_queue_duration_sum", 1.25),
    (1000, "r0", "te_request_queue_duration_count", 100.0),
    (1000, "r0", "te_batch_next_size_sum", 640.0),
    (1000, "r0", "te_batch_next_size_count", 80.0),
    (1000, "r1", "te_queue_size", 0.0),
    (1000, "r1", "te_request_count_batch", 10.0),
    (1000, "r1", "te_request_success_batch", 10.0),
    (2000, "r0", "te_queue_size", 7.0),
    (2000, "r0", "te_request_count_batch", 150.0),
    (2000, "r0", "te_request_success_batch", 149.0),
    (2000, "r0", "te_request_inference_duration_sum", 4.0),
    (2000, "r0", "te_request_inference_duration_count", 0.0),
]


def q33_tei_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — TEI Prometheus counter samples → per-(scrape, replica)
    derived metrics (operators/tei_metrics.py:64-92; ref
    crawler.py:194-239): pivot + sum/count averages with the count>0
    guard (missing or zero-count pairs stay NULL)."""
    from meilisearchcrawler_spark.operators.tei_metrics import derive_tei_metrics

    samples = spark.createDataFrame(
        _TEI_SAMPLES,
        "scrape_ts long, replica string, metric string, value double")
    return derive_tei_metrics(samples)


def _q33_oracle_sql() -> str:
    sv = ", ".join(f"({ts}, '{r}', '{m}', {v!r})"
                   for ts, r, m, v in _TEI_SAMPLES)
    return f"""
WITH samples(scrape_ts, replica, metric, value) AS (VALUES {sv}),
wide AS (
  SELECT scrape_ts, replica,
    max(CASE WHEN metric = 'te_queue_size' THEN value END) AS qs,
    max(CASE WHEN metric = 'te_request_count_batch' THEN value END) AS rc,
    max(CASE WHEN metric = 'te_request_success_batch' THEN value END) AS rs,
    max(CASE WHEN metric = 'te_request_inference_duration_sum' THEN value END) AS isum,
    max(CASE WHEN metric = 'te_request_inference_duration_count' THEN value END) AS ic,
    max(CASE WHEN metric = 'te_request_queue_duration_sum' THEN value END) AS qsum,
    max(CASE WHEN metric = 'te_request_queue_duration_count' THEN value END) AS qc,
    max(CASE WHEN metric = 'te_batch_next_size_sum' THEN value END) AS bsum,
    max(CASE WHEN metric = 'te_batch_next_size_count' THEN value END) AS bc
  FROM samples GROUP BY scrape_ts, replica)
SELECT scrape_ts::BIGINT AS scrape_ts, replica,
  qs::BIGINT AS queue_size, rc::BIGINT AS total_requests,
  rs::BIGINT AS successful_requests,
  CASE WHEN coalesce(ic, 0) > 0
       THEN round(isum / ic * 1000.0, 4) END AS avg_inference_time_ms,
  CASE WHEN coalesce(qc, 0) > 0
       THEN round(qsum / qc * 1000.0, 4) END AS avg_queue_time_ms,
  CASE WHEN coalesce(bc, 0) > 0
       THEN round(bsum / bc * 1.0, 4) END AS avg_batch_size
FROM wide"""


def q91_image_decode_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image payload decode invariants per format (value-hashed vs the
    pure-Python codec replay, _q91_oracle_sql; also asserted exactly in
    tests/test_images.py): decode_ok everywhere, pixels exact for
    lossless, PSNR ≥ 40 dB for jpeg."""
    import tempfile

    from meilisearchcrawler_spark.fixtures import imagegen as I
    from meilisearchcrawler_spark.fixtures.webgen import generate_web
    from meilisearchcrawler_spark.operators.images import decode_and_verify

    fx = generate_web(seed=5, n_sites=2, pages_per_site=30)
    rows = I.generate_images(fx.page_images, seed=5)
    path = os.path.join(tempfile.mkdtemp(prefix="mcspark_q91_"), "images.parquet")
    I.write_images_parquet(rows, path)
    # truth_fn injected HERE (harness side): the operator kernel runs
    # the engine-owned decoder (operators/imagecodec.py) and never
    # imports the fixture codec — encode (oracle side) and decode
    # (Spark side) are independent implementations of the format spec
    verified = decode_and_verify(spark.read.parquet(path),
                                 truth_fn=I.pixels_for)
    return (verified.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.col("decode_ok").cast("int")).alias("n_decode_ok"),
        F.sum(F.col("pixels_exact").cast("int")).alias("n_pixels_exact"),
        F.round(F.min("psnr_db"), 1).alias("min_psnr_db"),
        F.max("phash_hamming").alias("max_phash_hamming")))


def q92_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque binary columns
    (value-hashed vs the independent numpy/stdlib-wave replay,
    _q92_oracle_sql; exact per-row asserts in tests/test_multimodal.py).
    Ignores sf_dir — input is the deterministic media fixture."""
    from meilisearchcrawler_spark.fixtures.mediagen import generate_media
    from meilisearchcrawler_spark.operators.multimodal import audio_features

    audio, _ = generate_media(n_audio=40, n_video=0)
    df = spark.createDataFrame(
        audio, schema=("media_id string, bytes binary, fmt string, "
                       "sample_rate int, n_channels int, duration_ms int"))
    return audio_features(df)


def q93_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over opaque binary columns (value-hashed
    vs the independent numpy replay, _q93_oracle_sql; exact per-row
    asserts in tests/test_multimodal.py)."""
    from meilisearchcrawler_spark.fixtures.mediagen import generate_media
    from meilisearchcrawler_spark.operators.multimodal import frame_sample

    _, video = generate_media(n_audio=0, n_video=20)
    df = spark.createDataFrame(
        video, schema=("media_id string, bytes binary, fmt string, "
                       "w int, h int, fps double, n_frames int"))
    return frame_sample(df, every_n=3)


def _sql_lit(v) -> str:
    """One VALUES literal: None → NULL, bools → true/false, floats via
    repr (exact round-trip), strings quoted."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _values_sql(rows: list[dict], types: dict[str, str]) -> str:
    """Serialize replayed oracle rows as a typed DuckDB VALUES relation
    (the q90 pattern): every column cast so schema comparison matches
    the Spark side."""
    cols = list(types)
    vals = ",\n".join(
        "(" + ", ".join(_sql_lit(r[c]) for c in cols) + ")" for r in rows)
    sel = ", ".join(f"{c}::{t} AS {c}" for c, t in types.items())
    return (f"SELECT {sel}\nFROM (VALUES {vals}) "
            f"AS t({', '.join(cols)})")


def _q91_oracle_sql() -> str:
    """Pure-Python replay of the image decode+verify invariants over
    the deterministic fixture (numpy codec, no Spark), aggregated per
    format exactly like q91 — the driver now value-hashes the image
    path instead of a rows-only check (round-3 verdict next-step #3).
    ``min_psnr_raw`` is emitted unrounded and rounded in SQL so the
    1-decimal rounding semantics match Spark's HALF_UP."""
    import numpy as np

    from meilisearchcrawler_spark.fixtures import imagegen as I
    from meilisearchcrawler_spark.fixtures.webgen import generate_web

    fx = generate_web(seed=5, n_sites=2, pages_per_site=30)
    agg: dict[str, dict] = {}
    for row in I.generate_images(fx.page_images, seed=5):
        fmt, px = I.decode(row["bytes"])
        truth = I.pixels_for(row["image_id"], row["w"], row["h"])
        p = I.psnr(px, truth)
        p = round(p, 3) if np.isfinite(p) else 999.0
        ph = I.phash64(px)
        ham = I.hamming64(np.uint64(ph).item(),
                          np.uint64(np.int64(row["phash"])).item())
        a = agg.setdefault(row["fmt"], {
            "fmt": row["fmt"], "n": 0, "n_decode_ok": 0,
            "n_pixels_exact": 0, "min_psnr_raw": float("inf"),
            "max_phash_hamming": 0})
        a["n"] += 1
        a["n_decode_ok"] += int(fmt == row["fmt"] and px.shape == truth.shape)
        a["n_pixels_exact"] += int(bool(np.array_equal(px, truth)))
        a["min_psnr_raw"] = min(a["min_psnr_raw"], p)
        a["max_phash_hamming"] = max(a["max_phash_hamming"], ham)
    inner = _values_sql(list(agg.values()), {
        "fmt": "VARCHAR", "n": "BIGINT", "n_decode_ok": "BIGINT",
        "n_pixels_exact": "BIGINT", "min_psnr_raw": "DOUBLE",
        "max_phash_hamming": "INT"})
    return (f"SELECT fmt, n, n_decode_ok, n_pixels_exact, "
            f"round(min_psnr_raw, 1) AS min_psnr_db, max_phash_hamming "
            f"FROM ({inner})")


def _q92_oracle_sql() -> str:
    """Independent numpy/stdlib-wave replay of the audio features
    (the tests/test_multimodal.py oracle, serialized as VALUES): raw
    ``np.frombuffer`` for pcm16, a stdlib ``wave`` read for wav rows,
    decode_ok=false for the declared opaque-codec stubs."""
    import numpy as np

    from meilisearchcrawler_spark.fixtures.mediagen import generate_media

    audio, _ = generate_media(n_audio=40, n_video=0)
    rows = []
    for a in audio:
        rec = {"media_id": a["media_id"], "fmt": a["fmt"],
               "decode_ok": False, "n_samples": 0, "duration_ms": None,
               "rms": None, "peak": None, "zero_cross_rate": None}
        if a["fmt"] == "pcm16":
            x = np.frombuffer(a["bytes"], dtype="<i2").astype(np.float64)
        elif a["fmt"] == "wav":
            import io
            import wave

            # mirror the engine kernel's full wav semantics (round-4
            # advisor item): non-16-bit sampwidth rejects as
            # decode_ok=false; multi-channel downmixes by rounded
            # per-frame mean — the replay must not silently diverge if
            # the fixture ever emits non-mono / non-16-bit rows
            with wave.open(io.BytesIO(a["bytes"]), "rb") as w:
                if w.getsampwidth() != 2:
                    rows.append(rec)
                    continue
                x = np.frombuffer(w.readframes(w.getnframes()),
                                  dtype="<i2")
                nch = w.getnchannels()
                if nch > 1:
                    x = np.rint(
                        x.reshape(-1, nch).mean(axis=1)).astype("<i2")
                x = x.astype(np.float64)
        else:
            rows.append(rec)
            continue
        n = len(x)
        rec.update(
            decode_ok=True, n_samples=n,
            duration_ms=round(n * 1000.0 / a["sample_rate"], 4),
            rms=round(float(np.sqrt(np.mean(x ** 2))), 4) if n else 0.0,
            peak=round(float(np.max(np.abs(x))), 4) if n else 0.0,
            zero_cross_rate=round(
                float(np.mean(np.abs(np.diff(np.sign(x))) > 0)), 6)
            if n > 1 else 0.0)
        rows.append(rec)
    return _values_sql(rows, {
        "media_id": "VARCHAR", "fmt": "VARCHAR", "decode_ok": "BOOLEAN",
        "n_samples": "BIGINT", "duration_ms": "DOUBLE", "rms": "DOUBLE",
        "peak": "DOUBLE", "zero_cross_rate": "DOUBLE"})


def _q93_oracle_sql() -> str:
    """Independent numpy replay of the frame-sampling explode
    (tests/test_multimodal.py oracle as VALUES): reshape the grayraw
    payload, take every 3rd frame, md5 + mean luma per frame; opaque
    codecs yield exactly one decode_ok=false row."""
    import hashlib

    import numpy as np

    from meilisearchcrawler_spark.fixtures.mediagen import generate_media

    _, video = generate_media(n_audio=0, n_video=20)
    rows = []
    for v in video:
        base = {"media_id": v["media_id"], "fmt": v["fmt"],
                "decode_ok": False, "frame_idx": -1, "ts_ms": None,
                "frame_hash": None, "mean_lum": None}
        if v["fmt"] != "grayraw":
            rows.append(base)
            continue
        frames = np.frombuffer(v["bytes"], dtype=np.uint8).reshape(
            v["n_frames"], v["h"], v["w"])
        for idx in range(0, v["n_frames"], 3):
            f = frames[idx]
            rows.append({**base, "decode_ok": True, "frame_idx": idx,
                         "ts_ms": round(idx * 1000.0 / v["fps"], 4),
                         "frame_hash": hashlib.md5(f.tobytes()).hexdigest(),
                         "mean_lum": round(float(f.mean()), 4)})
    return _values_sql(rows, {
        "media_id": "VARCHAR", "fmt": "VARCHAR", "decode_ok": "BOOLEAN",
        "frame_idx": "INT", "ts_ms": "DOUBLE", "frame_hash": "VARCHAR",
        "mean_lum": "DOUBLE"})


_BACKFILL_DOC_SCHEMA = (
    "id string, site string, url string, title string, excerpt string, "
    "content string, content_source string, "
    "images array<struct<url:string,alt:string,description:string>>, "
    "lang string, content_hash string")


def _backfill_fixture() -> tuple[list[dict], list[dict]]:
    """Deterministic (docs, pages) pair for q94: documents synthesized
    by the SAME parse/clean kernels the crawl path runs — so
    content_source carries the real selector/candidate/fallback mix —
    plus the raw page HTML the backfill job re-extracts from."""
    from meilisearchcrawler_spark.fixtures.webgen import generate_web
    from meilisearchcrawler_spark.functions.html import parse_page
    from meilisearchcrawler_spark.functions.text import (
        clean_text, create_excerpt, get_content_hash, sniff_lang)
    from meilisearchcrawler_spark.functions.urls import generate_doc_id

    # 3 sites so a per-site selector is present (site2 uses
    # "#content") and the never-consulted selector branch is live
    fx = generate_web(seed=9, n_sites=3, pages_per_site=40)
    selectors = {s["site"]: s.get("selector") for s in fx.seeds}
    docs, pages = [], []
    for p in fx.pages:
        seed_url = f"http://{p['host']}/"
        parsed = parse_page(p["html"], p["url"], seed_url,
                            selectors.get(p["site"]))
        content = clean_text(parsed.content_raw)
        excerpt = create_excerpt(content)
        docs.append({
            "id": generate_doc_id(p["url"]), "site": p["site"], "url": p["url"],
            "title": parsed.title, "excerpt": excerpt, "content": content,
            "content_source": parsed.content_source,
            "images": parsed.images,
            "lang": sniff_lang(parsed.lang_attr),
            "content_hash": get_content_hash(content, parsed.title,
                                             parsed.images, excerpt)})
        pages.append({"url": p["url"], "html": p["html"]})
    return docs, pages


def q94_backfill_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trafilatura backfill job (operators/backfill.py, the deployment
    hook for the reference's selector → trafilatura → heuristic order,
    crawler.py:520-561): re-extract exactly the candidate/fallback
    rows with a pluggable extractor under the len>250 accept gate.
    Value-hashed vs the pure-Python replay of the same job
    (_q94_oracle_sql). Ignores sf_dir — input is the deterministic
    webgen fixture."""
    from meilisearchcrawler_spark.operators.backfill import backfill_content

    docs_rows, page_rows = _backfill_fixture()
    docs = spark.createDataFrame(docs_rows, schema=_BACKFILL_DOC_SCHEMA)
    pages = spark.createDataFrame(page_rows,
                                  schema="url string, html string")

    def stub_extractor(html, url):
        # deterministic stand-in for trafilatura.extract: whole-page
        # text — long pages clear the gate, short ones decline
        from meilisearchcrawler_spark.functions.html import get_text
        return "TRAFILATURA:: " + get_text(html)

    out = backfill_content(docs, pages, stub_extractor)
    return out.select("url", "content_source", "content_hash",
                      F.length("content").alias("content_len"))


def _q94_oracle_sql() -> str:
    """Pure-Python replay of the backfill job over the same fixture,
    serialized as typed VALUES (the q90 pattern)."""
    from meilisearchcrawler_spark.functions.html import get_text
    from meilisearchcrawler_spark.functions.text import (
        clean_text, create_excerpt, get_content_hash)

    docs_rows, page_rows = _backfill_fixture()
    html_by_url = {p["url"]: p["html"] for p in page_rows}
    rows = []
    for d in docs_rows:
        content, source, chash = (d["content"], d["content_source"],
                                  d["content_hash"])
        if source in ("candidate", "fallback"):
            extracted = "TRAFILATURA:: " + get_text(html_by_url[d["url"]])
            if extracted and len(extracted) > 250:
                content = clean_text(extracted)
                excerpt = create_excerpt(content)
                chash = get_content_hash(content, d["title"],
                                         d["images"], excerpt)
                source = "backfill"
        rows.append({"url": d["url"], "content_source": source,
                     "content_hash": chash, "content_len": len(content)})
    return _values_sql(rows, {
        "url": "VARCHAR", "content_source": "VARCHAR",
        "content_hash": "VARCHAR", "content_len": "INT"})


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check)."""
    ship_package(spark)
    return q01_pricing_summary(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_orders": q02_top_orders,
        "q03_seen_join": q03_seen_join,
        "q04_unseen_anti": q04_unseen_anti,
        "q05_priority_dedup": q05_priority_dedup,
        "q06_frontier_pop": q06_frontier_pop,
        "q07_crawl_counters": q07_crawl_counters,
        "q08_daily_rate": q08_daily_rate,
        "q09_top_talkers": q09_top_talkers,
        "q10_site_stats": q10_site_stats,
        "q11_pagetree_rollup": q11_pagetree_rollup,
        "q12_freshness_hist": q12_freshness_hist,
        "q13_union_sources": q13_union_sources,
        "q14_missing_embeddings": q14_missing_embeddings,
        "q15_weighted_recrawl": q15_weighted_recrawl,
        "q16_dedup_exact": q16_dedup_exact,
        "q17_minhash_signatures": q17_minhash_signatures,
        "q18_lsh_pairs": q18_lsh_pairs,
        "q19_jaccard_pairs": q19_jaccard_pairs,
        "q20_simhash": q20_simhash,
        "q21_cosine_topk": q21_cosine_topk,
        "q22_ann_lsh": q22_ann_lsh,
        "q34_ann_ivf": q34_ann_ivf,
        "q23_text_quality": q23_text_quality,
        "q24_language_id": q24_language_id,
        "q25_fingerprint": q25_fingerprint,
        "q26_embedding_coverage": q26_embedding_coverage,
        "q27_cosine_near_pairs": q27_cosine_near_pairs,
        "q28_search_stats": q28_search_stats,
        "q29_hybrid_search": q29_hybrid_search,
        "q30_cosine_near_pairs_lsh": q30_cosine_near_pairs_lsh,
        "q31_cse_decisions": q31_cse_decisions,
        "q32_search_log_stats": q32_search_log_stats,
        "q33_tei_metrics": q33_tei_metrics,
        # q90: engine end-to-end — its oracle is the sequential
        # reference replay serialized as VALUES (see _q90_oracle_sql);
        # q91-q93: the numpy/stdlib-wave replays serialized the same way
        "q90_crawl_end_to_end": q90_crawl_end_to_end,
        "q91_image_decode_invariants": q91_image_decode_invariants,
        "q92_multimodal_audio": q92_multimodal_audio,
        "q93_multimodal_frames": q93_multimodal_frames,
        # q94: the trafilatura backfill job vs its pure-Python replay
        "q94_backfill_content": q94_backfill_content,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus""",
        "q02_top_orders": """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
        "q03_seen_join": """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > 5000 GROUP BY c_mktsegment""",
        "q04_unseen_anti": """
SELECT c_nationkey, count(*) AS n_unseen FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_nationkey""",
        "q05_priority_dedup": """
SELECT user_id, event_id, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY value DESC, ts, event_id) = 1""",
        "q06_frontier_pop": """
WITH ranked AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events
)
SELECT event_id, user_id, value, rn FROM ranked WHERE rn <= 3
ORDER BY value DESC, event_id LIMIT 50""",
        "q07_crawl_counters": """
SELECT event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type""",
        "q08_daily_rate": """
SELECT event_type, ts::DATE AS day, count(*) AS n
FROM events GROUP BY event_type, ts::DATE""",
        "q09_top_talkers": """
SELECT user_id, count(*) AS n FROM events GROUP BY user_id
ORDER BY n DESC, user_id LIMIT 10""",
        "q10_site_stats": """
SELECT source, count(*) AS n_docs, min(n_chars) AS min_chars,
       max(n_chars) AS max_chars, round(avg(n_chars), 4) AS avg_chars,
       count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source""",
        "q11_pagetree_rollup": """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
        "q12_freshness_hist": """
SELECT CASE WHEN date_diff('day', o_orderdate::DATE, DATE '2001-08-01') <= 7 THEN 'week'
            WHEN date_diff('day', o_orderdate::DATE, DATE '2001-08-01') <= 30 THEN 'month'
            WHEN date_diff('day', o_orderdate::DATE, DATE '2001-08-01') <= 90 THEN 'quarter'
            ELSE 'older' END AS freshness,
       count(*) AS n
FROM orders GROUP BY 1""",
        "q13_union_sources": """
SELECT event_id, min(source) AS source FROM (
  SELECT event_id, 'wiki' AS source FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT event_id, 'cse' AS source FROM events WHERE value > 90
) GROUP BY event_id""",
        "q14_missing_embeddings": """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT vec_id FROM embeddings)""",
        "q15_weighted_recrawl": """
SELECT o_orderkey,
       round(0.7 * o_totalprice / 1000.0 + 0.3 * c_acctbal / 100.0, 6) AS priority_score
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY priority_score DESC, o_orderkey LIMIT 10""",
        "q16_dedup_exact": f"""
SELECT md5({_CANON_TEXT_SQL}) AS content_key, count(*) AS n_dups,
       min(doc_id) AS keeper_id
FROM ({_DOCS_DUPS_SQL})
GROUP BY 1 HAVING count(*) > 1""",
        "q17_minhash_signatures": _minhash_sql(4),
        "q18_lsh_pairs": _lsh_pairs_sql(),
        "q19_jaccard_pairs": _jaccard_sql(),
        "q20_simhash": _simhash_sql(16),
        "q21_cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
             (CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) = 0
                   THEN 1.0
                   ELSE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) END
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM embeddings e, q
ORDER BY score DESC, e.vec_id LIMIT 10""",
        "q22_ann_lsh": _ann_sql(),
        "q34_ann_ivf": _ivf_sql(),
        "q28_search_stats": """
SELECT event_type, count(*) AS n_queries,
       round(avg(value), 4) AS avg_ms,
       round(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS cache_hit_rate,
       sum(CASE WHEN ts >= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
                THEN 1 ELSE 0 END)::BIGINT AS n_last_hour,
       sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
FROM events GROUP BY event_type""",
        "q30_cosine_near_pairs_lsh": """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 = 0
),
unit AS (
  SELECT vec_id,
         list_transform(v, x -> x /
           (CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                 ELSE sqrt(list_dot_product(v, v)) END)) AS u
  FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.u, b.u), 6) AS cosine
FROM unit a JOIN unit b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.u, b.u), 6) >= 0.9""",
        "q27_cosine_near_pairs": """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 = 0
),
unit AS (
  SELECT vec_id,
         list_transform(v, x -> x /
           (CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                 ELSE sqrt(list_dot_product(v, v)) END)) AS u
  FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.u, b.u), 6) AS cosine
FROM unit a JOIN unit b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.u, b.u), 6) >= 0.35""",
        "q26_embedding_coverage": """
SELECT source, count(*) AS n_docs,
       sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_vectors,
       round(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS coverage
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY source""",
        "q29_hybrid_search": _hybrid_sql(),
        "q31_cse_decisions": _q31_oracle_sql(),
        "q32_search_log_stats": _q32_oracle_sql(),
        "q33_tei_metrics": _q33_oracle_sql(),
        "q90_crawl_end_to_end": _q90_oracle_sql(),
        "q91_image_decode_invariants": _q91_oracle_sql(),
        "q92_multimodal_audio": _q92_oracle_sql(),
        "q93_multimodal_frames": _q93_oracle_sql(),
        "q94_backfill_content": _q94_oracle_sql(),
        "q23_text_quality": _quality_sql(),
        "q24_language_id": _langid_sql(),
        "q25_fingerprint": f"""
SELECT doc_id, md5({_CANON_TEXT_SQL}) AS fingerprint,
       ('0x' || substr(md5({_CANON_TEXT_SQL}), 1, 15))::BIGINT AS fingerprint60
FROM documents""",
    }
