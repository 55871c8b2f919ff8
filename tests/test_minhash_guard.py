"""MinHash hot-bucket guard (VERDICT r4 "what's wrong" #3).

An adversarial boilerplate corpus — thousands of docs with IDENTICAL
text, the worst case for LSH banding since every doc lands in the same
(band, bsig) bucket in every band — must complete with candidate
volume linear in the bucket size (star expansion to the min-doc_id
representative), not quadratic. Below the cap the guarded query must
be byte-identical to the unguarded one.
"""
from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from areacity_query_geometry_spark.pipeline import minhash

N_IDENTICAL = 10_000


@pytest.fixture(scope="module")
def corpora(spark):
    # 10k identical docs + 3 small genuine near-dup clusters so the
    # guard demonstrably leaves sub-cap buckets untouched
    spark.range(N_IDENTICAL).selectExpr(
        "id AS doc_id",
        "'the same boilerplate template text repeated verbatim"
        " across every single document' AS text",
    ).createOrReplaceTempView("mh_hot")
    spark.range(24).selectExpr(
        "id AS doc_id",
        """concat('cluster ', CAST(id DIV 8 AS STRING),
                  ' shared body of words one two three four five six ',
                  'tail', CAST(id AS STRING)) AS text""",
    ).createOrReplaceTempView("mh_small")
    return "mh_hot", "mh_small"


def test_hot_bucket_star_expansion_bounds_candidates(spark, corpora):
    hot, _ = corpora
    out = spark.sql(minhash.near_dup_sql(hot)).collect()
    # star expansion: every doc pairs with the representative (doc 0)
    # exactly once — (N-1) pairs, not N*(N-1)/2 ≈ 50M
    assert len(out) == N_IDENTICAL - 1
    assert {r["d1"] for r in out} == {0}
    assert {r["d2"] for r in out} == set(range(1, N_IDENTICAL))
    assert all(r["jaccard"] == 1.0 for r in out)


def test_capped_buckets_reported(spark, corpora):
    hot, small = corpora
    capped = spark.sql(minhash.capped_buckets_sql(hot)).collect()
    # all 4 bands collapse to one oversized bucket each
    assert len(capped) == 4
    assert all(r["n"] == N_IDENTICAL for r in capped)
    assert spark.sql(minhash.capped_buckets_sql(small)).count() == 0


def test_sub_cap_output_identical_to_unguarded(spark, corpora):
    _, small = corpora
    guarded = sorted(map(tuple, spark.sql(
        minhash.near_dup_sql(small)).collect()))
    unguarded = sorted(map(tuple, spark.sql(
        minhash.near_dup_sql(small, max_bucket=None)).collect()))
    assert guarded == unguarded
    # sanity: the comparison is over real full-pairwise output, not two
    # empty sets — LSH recall is probabilistic so the exact pair count
    # is banding-dependent, but well over half the 84 within-cluster
    # pairs must land (measured: 78)
    assert len([t for t in guarded if t[0] // 8 == t[1] // 8]) > 42


def _py_buckets(texts: dict[int, str], n_hashes=16, band_rows=4) -> Counter:
    """(band, bsig) → bucket size, recomputed in Python from the
    documented arithmetic: distinct word 3-gram shingles, md5-prefix
    hash mod P, ((2i+3)*h0 + 7i + 11) mod P minima, lexically sorted
    "i:mh" band strings."""
    P = minhash.MH_P
    out = Counter()
    for text in texts.values():
        w = text.split(" ")
        if len(w) < 3:
            continue
        h0 = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % P
              for g in {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}]
        mh = [min(((2 * i + 3) * h + 7 * i + 11) % P for h in h0)
              for i in range(n_hashes)]
        for b in range(n_hashes // band_rows):
            out[(b, "-".join(sorted(f"{i}:{mh[i]}" for i in range(
                b * band_rows, (b + 1) * band_rows))))] += 1
    return out


def test_capped_bucket_rows_on_small_table(spark):
    """One oversized bucket per band (120 identical docs, cap 50) among
    small ones: exactly those buckets are reported, with their bsig
    text and size."""
    texts = {i: "one boilerplate line shared by many docs" for i in range(120)}
    texts.update({120 + i: f"distinct doc number {i} with its own words"
                  for i in range(30)})
    spark.createDataFrame(sorted(texts.items()), "doc_id long, text string") \
        .createOrReplaceTempView("mh_one_hot")
    got = {(r["band"], r["bsig"], r["n"]) for r in spark.sql(
        minhash.capped_buckets_sql("mh_one_hot", max_bucket=50)).collect()}
    want = {(b, sig, n) for (b, sig), n in _py_buckets(texts).items()
            if n > 50}
    assert len(want) == 4 and {n for _, _, n in want} == {120}
    assert got == want
