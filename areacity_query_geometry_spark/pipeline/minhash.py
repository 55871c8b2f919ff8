"""MinHash + LSH near-duplicate detection — the shared SQL builder.

One source of truth for the pipeline shape both the oracle gate
(`__spark_entry__.minhash_lsh_near_dup`) and the N-vs-4N scaling bench
(`tools/submit_job.py dedup`) run: word 3-gram shingles → md5-prefix
integer hash → K min-aggregates computed in ONE group-by pass (map-side
combine collapses each doc's shingles inside its scan partition — the
shuffle carries K numbers per doc, never the shingle stream, and never
a K× explode) → band signatures → bucket equi-self-join (candidates
only meet inside a (band, signature) bucket — no all-pairs anywhere) →
exact Jaccard verification of the candidates.

Scale shape at 10^12 docs: the only wide shuffles are keyed by doc_id
(signature build) and by (band, bsig) (bucket join); a bucket is an
exact K/bands-row signature match, so only true near-duplicates
collide — but a boilerplate-heavy corpus (millions of near-identical
templated docs surviving exact dedup) can still make one bucket huge,
and an unguarded self-join is quadratic in it. Since r5 (VERDICT r4
"what's wrong" #3) buckets past `max_bucket` rows fall back to a STAR
expansion: every member pairs with the bucket's min-doc_id
representative only, bounding per-bucket candidates at n-1. The star
keeps a member connected (through the rep) for the downstream
connected-components clustering only when its pair with the rep
passes Jaccard verification: a member below `min_jaccard` against the
rep loses its pairs from that bucket, even a pair with another member
that would verify. Below the cap the output is byte-identical to the
unguarded query. Per the
no-silent-caps rule, `capped_buckets_sql` reports exactly which
buckets degraded; the dedup op of tools/submit_job.py logs the count per run.
Everything is deterministic integer arithmetic (md5-prefix mod P),
identical across engines and parallelism levels.
"""
from __future__ import annotations

MH_P = 1_000_000_007
MAX_BUCKET = 256


def _bucket_ctes(view: str, n_hashes: int, band_rows: int) -> str:
    """The CTEs both queries share: shingles → signatures → band
    signatures (`bands`) → bucket sizes and min-doc_id reps (`bsz`)."""
    assert n_hashes % band_rows == 0
    mins = ", ".join(
        f"min(({2 * i + 3} * h0 + {7 * i + 11}) % {MH_P}) AS mh{i}"
        for i in range(n_hashes))
    stacked = ", ".join(f"{i}, mh{i}" for i in range(n_hashes))
    return f"""
        WITH words AS (SELECT doc_id, split(text, ' ') AS w FROM {view}),
        shingles AS (
            SELECT doc_id, explode(array_distinct(transform(
                sequence(0, size(w) - 3),
                i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS g
            FROM words WHERE size(w) >= 3
        ),
        h AS (
            SELECT doc_id,
                   CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % {MH_P} AS h0
            FROM shingles
        ),
        sig0 AS (
            -- {n_hashes} min-aggregates in ONE pass (map-side combine)
            -- instead of exploding every shingle {n_hashes}x through
            -- the shuffle; identical values to min over i of
            -- ((2i+3)*h0 + 7i + 11) %% P
            SELECT doc_id, {mins}
            FROM h GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
                   stack({n_hashes}, {stacked}) AS (i, mh)
            FROM sig0
        ),
        bands AS (
            SELECT doc_id, CAST(floor(i / {band_rows}) AS INT) AS band,
                   array_join(array_sort(collect_list(
                       concat(CAST(i AS STRING), ':', CAST(mh AS STRING)))), '-') AS bsig
            FROM sig GROUP BY doc_id, CAST(floor(i / {band_rows}) AS INT)
        ),
        bsz AS (
            SELECT band, bsig, count(*) AS n, min(doc_id) AS rep
            FROM bands GROUP BY band, bsig
        )"""


def near_dup_sql(view: str, n_hashes: int = 16, band_rows: int = 4,
                 min_jaccard: float = 0.05,
                 max_bucket: int = MAX_BUCKET) -> str:
    """The full near-dup query over `view`(doc_id, text). Returns
    (d1, d2, jaccard) for every verified candidate pair ≥ min_jaccard.
    n_hashes must be a multiple of band_rows. Buckets larger than
    max_bucket emit star pairs (rep, other) instead of all pairs —
    see the module docstring; pass max_bucket=None to disable."""
    return f"""{_bucket_ctes(view, n_hashes, band_rows)},
        -- hot-bucket guard: restrict the LEFT side of the self-join
        -- BEFORE the join (so Catalyst never materializes n^2 rows for
        -- an oversized bucket) — small buckets keep every member on the
        -- left (full pairwise), capped buckets keep only the rep (star)
        lhs AS (
            SELECT a.doc_id, a.band, a.bsig
            FROM bands a JOIN bsz z
              ON a.band = z.band AND a.bsig = z.bsig
            WHERE z.n <= {int(max_bucket) if max_bucket is not None else 'z.n'}
               OR a.doc_id = z.rep
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM lhs a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        ),
        counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        verified AS (
            SELECT c.d1, c.d2, count(*) AS shared
            FROM cand c
            JOIN shingles s1 ON s1.doc_id = c.d1
            JOIN shingles s2 ON s2.doc_id = c.d2 AND s2.g = s1.g
            GROUP BY c.d1, c.d2
        )
        SELECT CAST(v.d1 AS BIGINT) AS d1, CAST(v.d2 AS BIGINT) AS d2,
               round(CAST(v.shared AS DOUBLE) / (c1.n + c2.n - v.shared), 4) AS jaccard
        FROM verified v
        JOIN counts c1 ON v.d1 = c1.doc_id
        JOIN counts c2 ON v.d2 = c2.doc_id
        WHERE CAST(v.shared AS DOUBLE) / (c1.n + c2.n - v.shared) >= {min_jaccard}
    """


def capped_buckets_sql(view: str, n_hashes: int = 16, band_rows: int = 4,
                       max_bucket: int = MAX_BUCKET) -> str:
    """No-silent-caps companion to near_dup_sql: one row per (band,
    bsig) bucket that exceeded max_bucket and therefore degraded to the
    star expansion, with its size. Built from the same CTEs as
    near_dup_sql (same plan prefix)."""
    return f"""{_bucket_ctes(view, n_hashes, band_rows)}
        SELECT band, bsig, n FROM bsz WHERE n > {int(max_bucket)}
    """
