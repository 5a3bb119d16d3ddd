"""MinHash/LSH pair generation and Jaccard verification against a
plain-Python reference, plus the plan shape of the near-dup queries.

The reference below re-derives words, shingles, md5 signature windows,
band signatures, the bucket-size guard and the ``a < b`` pairs with
``hashlib`` and the standard library only; it imports nothing from the
operators it checks."""

from __future__ import annotations

import hashlib
import random
import re
from itertools import combinations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from meilisearchcrawler_spark.operators import dedup as D

NUM_HASHES = 4
BANDS = 2
MAX_BUCKET = 3

# ---------------------------------------------------------------------------
# plain-Python reference
# ---------------------------------------------------------------------------


def ref_shingles(text: str, n: int = 3) -> set[str]:
    words = re.sub(r"\s+", " ", text).lower().split(" ")
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def ref_signature(sh: set[str]) -> list[str]:
    width = 32 // NUM_HASHES
    hexes = [hashlib.md5(s.encode()).hexdigest() for s in sh]
    return [min(h[i * width:(i + 1) * width] for h in hexes)
            for i in range(NUM_HASHES)]


def ref_bands(sig: list[str]) -> list[str]:
    rows = NUM_HASHES // BANDS
    return [hashlib.md5("|".join(sig[b * rows:(b + 1) * rows]).encode()).hexdigest()
            for b in range(BANDS)]


def ref_pairs(docs: dict[int, str]) -> set[tuple[int, int]]:
    buckets: dict[tuple[int, str], list[int]] = {}
    for doc_id, text in docs.items():
        sh = ref_shingles(text)
        if not sh:
            continue
        for b, band_sig in enumerate(ref_bands(ref_signature(sh))):
            buckets.setdefault((b, band_sig), []).append(doc_id)
    out = set()
    for ids in buckets.values():
        if len(ids) <= MAX_BUCKET:
            out.update(combinations(sorted(set(ids)), 2))
    return out


def ref_jaccard(a: str, b: str) -> float:
    sa, sb = ref_shingles(a), ref_shingles(b)
    return round(len(sa & sb) / max(len(sa | sb), 1), 6)


# ---------------------------------------------------------------------------
# fixture corpus
# ---------------------------------------------------------------------------


def _corpus() -> tuple[dict[int, str], dict[str, object]]:
    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(400)]

    def doc(k: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(k))

    docs = {i: doc(rng.randint(8, 30)) for i in range(40)}
    # exact clones: one pair
    docs[100] = docs[101] = doc(20)
    # a bucket of exactly MAX_BUCKET identical docs: kept
    kept = doc(20)
    for i in (200, 201, 202):
        docs[i] = kept
    # a bucket of MAX_BUCKET + 1 docs, equal once whitespace and case are
    # canonicalized: dropped in every band
    dropped = doc(20)
    for i in (300, 301, 302):
        docs[i] = dropped
    docs[303] = dropped.upper().replace(" ", " \t ")
    # under three words: no shingle, no signature row
    docs[400], docs[401], docs[402] = "", "one", "two words"
    # a near clone that shares band 0 and differs in band 1
    base = docs[0]
    bands0 = ref_bands(ref_signature(ref_shingles(base)))
    for w in vocab:
        bands1 = ref_bands(ref_signature(ref_shingles(base + " " + w)))
        if bands1[0] == bands0[0] and bands1[1] != bands0[1]:
            docs[500] = base + " " + w
            break
    return docs, {"dropped": (300, 301, 302, 303), "kept": (200, 201, 202),
                  "short": (400, 401, 402)}


CORPUS, PLANTED = _corpus()


@pytest.fixture(scope="module", params=["narrow", "wide"])
def docs_df(spark, request):
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in sorted(CORPUS.items())])
    # one partition takes spread_by_id's repartition path; the local
    # relation's own defaultParallelism-wide split keeps the input plan
    return df.coalesce(1) if request.param == "narrow" else df


def test_fixture_plants_every_case():
    pairs = ref_pairs(CORPUS)
    assert (100, 101) in pairs
    assert set(combinations(PLANTED["kept"], 2)) <= pairs
    assert not any(a in PLANTED["dropped"] for a, _ in pairs)
    assert (0, 500) in pairs, "no one-band near clone found"


def test_signatures_match_reference(docs_df):
    sig = D.minhash_signatures(D.shingle_sets(docs_df), num_hashes=NUM_HASHES)
    got = {r["doc_id"]: [r[f"min_h{i}"] for i in range(NUM_HASHES)]
           for r in sig.collect()}
    want = {k: ref_signature(ref_shingles(v))
            for k, v in CORPUS.items() if ref_shingles(v)}
    assert got == want
    assert not set(PLANTED["short"]) & set(got)


def test_lsh_pairs_match_reference(docs_df):
    sig = D.minhash_signatures(D.shingle_sets(docs_df), num_hashes=NUM_HASHES)
    rows = [(r["id_a"], r["id_b"]) for r in
            D.lsh_candidate_pairs(sig, bands=BANDS,
                                  max_bucket_size=MAX_BUCKET).collect()]
    # the exact clones share both bands: still one row per pair
    assert len(rows) == len(set(rows))
    assert set(rows) == ref_pairs(CORPUS)


def test_jaccard_matches_reference(docs_df):
    sets_ = D.shingle_sets(docs_df)
    pairs = D.lsh_candidate_pairs(
        D.minhash_signatures(sets_, num_hashes=NUM_HASHES), bands=BANDS,
        max_bucket_size=MAX_BUCKET)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(sets_, pairs).collect()}
    assert got == {(a, b): ref_jaccard(CORPUS[a], CORPUS[b])
                   for a, b in ref_pairs(CORPUS)}
    assert got[(100, 101)] == 1.0 and got[(0, 500)] < 1.0


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_plan_computes_minhash_once(spark, sf01_dir):
    """q18's executed plan: one minhash aggregate, no join on
    ``band_sig`` and no Filter carrying the shingle ``transform`` (the
    inferred ``size(sh) > 0`` filter of a plain ``explode``)."""
    df = entrymod.queries()["q18_lsh_pairs"](spark, sf01_dir)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert sum("functions=[min(substring(" in ln for ln in lines) == 1, final
    assert not [ln for ln in lines if "Join" in ln and "band_sig" in ln], final
    assert not [ln for ln in lines if "Filter" in ln and "transform(" in ln], final


def _texts(spark, parts: int):
    return spark.range(0, 64, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a"), F.col("id").cast("string"), F.lit("b c d"))
        .alias("text"))


def test_spread_only_narrow_inputs(spark):
    width = spark.sparkContext.defaultParallelism

    def sig_plan(df):
        return _plan(D.minhash_signatures(D.shingle_sets(df), num_hashes=4))

    assert "REPARTITION_BY_NUM" not in sig_plan(_texts(spark, width))
    narrow = sig_plan(_texts(spark, 1))
    assert "hashpartitioning(doc_id#" in narrow and "REPARTITION_BY_NUM" in narrow
    # the signature groupBy reuses the spread: one exchange in all
    assert narrow.count("Exchange") == 1, narrow
    # an input whose plan already has an exchange is left as it is
    shuffled = _texts(spark, 1).repartition(1)
    assert D.spread_by_id(shuffled) is shuffled
