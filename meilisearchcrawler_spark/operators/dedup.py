"""Document deduplication operators.

The reference dedups exactly twice — per-crawl duplicate ``content_hash``
suppression (crawler.py:944,1034-1039, F10) and merge-side URL dedup
(merger.py:57-82, J5). A 100 TB training-data pipeline needs the full
ladder, so this module adds the standard near-dup family on top:

* :func:`exact_dedup_groups` / :func:`exact_dedup` — hash-groupBy (F10 at scale)
* :func:`shingle_sets` → :func:`minhash_signatures` →
  :func:`lsh_candidate_pairs` → :func:`ngram_jaccard_pairs` — MinHash,
  banded LSH and exact Jaccard verification, all from one shingle frame
* :func:`simhash` — bitwise majority fingerprint

Scale notes (100 TB / 1000 executors):

* every op hash-shuffles on a high-cardinality key (``content_hash``,
  doc id, ``(band, band_sig)``); only duplicated content skews it, and
  map-side partial ``min``/``count`` absorbs that.
* a narrow input (fewer partitions than cores, e.g. one small file) is
  spread by doc id first (:func:`spread_by_id`) so per-document kernels
  use every core, and ``groupBy(id)`` reuses that exchange; a wide
  input keeps its plan, so raw text is not reshuffled at scale.
* no UDF: shingles via ``F.transform``, md5 in the JVM, partial ``min``.
* LSH groups each ``(band_id, band_sig)`` bucket on one exchange (no
  self-join); ``max_bucket_size`` drops boilerplate buckets first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# Exact dedup (F10 generalized)
# ---------------------------------------------------------------------------


def content_key(text: Column) -> Column:
    """Canonical content hash: md5 over whitespace-collapsed, lowercased
    text. (The crawl engine itself uses the reference's composite hash
    P4, crawler.py:393-396; this is the generic corpus form.)"""
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups: one row per content hash with >1 member.
    One shuffle (groupBy hash); partial counts map-side."""
    return (
        df.select(content_key(F.col(text_col)).alias("content_key"), F.col(id_col))
        .groupBy("content_key")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each content group —
    the distributed form of the reference's first-wins
    ``processed_hashes`` set (crawler.py:1034-1039)."""
    w = Window.partitionBy(content_key(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def words_of(text: Column) -> Column:
    return F.split(F.lower(F.regexp_replace(text, r"\s+", " ")), " ")


def spread_by_id(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``df`` hash-partitioned by ``id_col`` at the session's core width
    when its plan has fewer partitions, else ``df`` itself. The explicit
    count keeps AQE from coalescing the exchange back to one partition.
    A plan with an exchange (adaptive) knows its width only once it
    runs, so it is left as it is. The check plans ``df`` and builds its
    RDD without running a job; a reused ``df`` pays that once."""
    width = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if (plan.nodeName() == "AdaptiveSparkPlan"
            or plan.execute().getNumPartitions() >= width):
        return df
    return df.repartition(width, F.col(id_col))


def shingles_from_words(words: str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct, order-free) of the word-array
    column named ``words``, which MUST be a materialized attribute
    (projected in a prior select): inside a higher-order-function lambda
    Catalyst does not CSE the split, so passing the raw split expression
    re-tokenizes the document once per element access (measured 30× on
    the shingle explode).

    Explode a projected shingle column with ``explode_outer`` + an
    ``isNotNull`` filter: for ``explode(attribute)`` Catalyst infers a
    ``size(sh) > 0`` filter and pushes it below the projection with this
    expression, split included, inlined (measured ~11× slower on q19)."""
    # one SQL string: built from Column calls, the same expression costs
    # dozens of driver round trips per query
    gram = ", ".join(f"element_at({words}, i + {off + 1})" for off in range(n))
    num = f"size({words}) - {n - 1}"
    # sequence(0, -1) would *descend*; short docs get an empty set
    return F.expr(f"CASE WHEN {num} <= 0 THEN CAST(array() AS array<string>) "
                  f"ELSE array_distinct(transform(sequence(0, {num} - 1), "
                  f"i -> concat_ws(' ', {gram}))) END")


def shingle_sets(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """``(id, sh)``: each document's distinct word ``shingle_n``-gram
    set, spread by id. A query tokenizes once: signatures, banding and
    Jaccard verification all derive from this frame."""
    return (spread_by_id(df, id_col)
            .select(F.col(id_col), words_of(F.col(text_col)).alias("_w"))
            .select(id_col, shingles_from_words("_w", shingle_n).alias("sh")))


def minhash_signatures(sets_: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 8) -> DataFrame:
    """MinHash signature per :func:`shingle_sets` row with a non-empty
    set: ONE md5 per shingle, sliced into ``num_hashes`` disjoint hex
    windows, min per window.

    One hash invocation instead of ``num_hashes`` salted ones (measured
    ~2× on the LSH bench); slices of a single md5 are independent
    enough for banding. md5 (not xxhash64) so a DuckDB oracle
    reproduces values exactly; the 100 TB path swaps in
    ``F.xxhash64(shingle, salt)`` per hash without changing the plan
    shape. One explode + one groupBy(id) on the sets' partitioning; all
    ``min_h*`` are partial aggregates. (A per-row
    ``array_min(transform(sh, md5))`` runs interpreted: ~26× slower.)"""
    width = 32 // num_hashes
    if width < 4:
        raise ValueError("num_hashes > 8 needs the salted-hash variant")
    ex = (sets_.select(F.col(id_col), F.explode_outer("sh").alias("shingle"))
          .filter("shingle IS NOT NULL")
          .selectExpr(id_col, "md5(shingle) AS h"))
    # measured negative result: min over the NUMERIC hex window
    # (conv → min(long) → hex, a hash instead of a sort aggregate) is
    # ~15% slower at sf0.1; the per-shingle conv costs more than the sort
    return ex.groupBy(id_col).agg(*[
        F.expr(f"min(substring(h, {1 + i * width}, {width})) AS min_h{i}")
        for i in range(num_hashes)])


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                        bands: int = 4,
                        max_bucket_size: int = 1000) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over a
    :func:`minhash_signatures` frame: band signature = md5(concat of
    the band's mins); docs sharing any band signature become a
    candidate pair ``(id_a, id_b)``, ``id_a < id_b``, emitted once.

    Plan: band explode → one exchange on ``(band_id, band_sig)`` that
    the bucket-size window and the bucket ``groupBy`` share → each
    bucket's sorted ids → their ``a < b`` pairs → distinct. No
    self-join, so the signatures are computed once. The window drops
    buckets above ``max_bucket_size`` rows before any id list is
    collected, so a boilerplate bucket never reaches one reducer."""
    mins = [c for c in sig.columns if c.startswith("min_h")]
    rows = len(mins) // bands
    band_sigs = F.expr("array(" + ", ".join(
        f"md5(concat_ws('|', {', '.join(mins[b * rows:(b + 1) * rows])}))"
        for b in range(bands)) + ")")
    wb = Window.partitionBy("band_id", "band_sig")
    buckets = (sig.select(id_col, F.posexplode(band_sigs).alias("band_id", "band_sig"))
               .withColumn("_bs", F.count("*").over(wb))
               .filter(F.col("_bs") <= max_bucket_size)
               .groupBy("band_id", "band_sig")
               .agg(F.expr(f"array_sort(collect_set({id_col})) AS ids")))
    # a two-argument lambda gets (element, 0-based index): the ids after
    # position i start at 1-based slice index i + 2
    pairs = F.expr("flatten(transform(ids, (a, i) -> transform("
                   "slice(ids, i + 2, size(ids) - i - 1), "
                   "b -> named_struct('id_a', a, 'id_b', b))))")
    return buckets.select(F.explode(pairs).alias("p")).select("p.*").distinct()


def ngram_jaccard_pairs(sets_: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard of candidate pairs over the :func:`shingle_sets`
    frame the signatures came from (LSH verification): |∩| / |∪| with
    ``array_intersect``/``array_union`` — fine while per-doc shingle
    sets fit a row (web pages: ≤3k chars ⇒ ≤600 shingles)."""
    union = "size(array_union(sh_a, sh_b))"
    return (
        pairs
        .join(sets_.selectExpr(f"{id_col} AS id_a", "sh AS sh_a"), "id_a")
        .join(sets_.selectExpr(f"{id_col} AS id_b", "sh AS sh_b"), "id_b")
        .selectExpr("id_a", "id_b",
                    "round(CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
                    f"CASE WHEN {union} = 0 THEN 1 ELSE {union} END, 6) AS jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """Bit-majority SimHash over word hashes.

    Each word hashes to ``bits`` bits (md5-derived so the oracle can
    match); bit *i* of the fingerprint is 1 iff more words set it than
    clear it. Pure column algebra: explode words → per-(doc) sums of
    ±1 per bit → bit assembly. One shuffle."""
    # 60-bit int from the md5 hex prefix; DuckDB: ('0x'||substr(md5(w),1,15))::BIGINT
    ex = (spread_by_id(df, id_col)
          .select(F.col(id_col), F.explode(words_of(F.col(text_col))).alias("w"))
          .selectExpr(id_col, "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) AS h"))
    votes = [F.expr(f"sum(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}")
             for i in range(bits)]
    fp = " + ".join(f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return (ex.groupBy(id_col).agg(*votes)
            .selectExpr(id_col, f"CAST({fp} AS BIGINT) AS simhash"))

