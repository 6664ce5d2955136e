"""Native MinHash + LSH banding (shingle → minhash → band → bucket-join).

Engine-owned alternative to ``pyspark.ml.feature.MinHashLSH`` (used by the
``sim_ann_lsh`` operator): fully deterministic (one fixed hash family — no
fitted model, no RNG — that a DuckDB oracle rebuilds value for value),
entirely JVM-side expressions, and the banding is explicit so the candidate
join is a plain shuffle on (band, slice-values) — the textbook bucket-join
that replaces the O(n²) pair space at corpus scale.

Theory (Broder '97 / standard LSH banding, public): P[min-hash collision] =
Jaccard(A,B); with b bands of r rows, P[candidate] = 1 − (1 − s^r)^b. The
defaults b=32, r=3 give ≈0.9996 recall at s=0.6 and ≈0.03 at s=0.1 — steep
enough to prune the far pairs that dominate a corpus.

At 100 TB: signatures are one aggregation pass over the token explosion
(b·r longs per doc); candidates shuffle on band hash; only surviving pairs
pay the exact verification join.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit hash width: the widest md5 hex prefix that always fits a signed
# bigint. The ONE canonical definition of the cross-engine idiom — both
# sides below must stay derived from this constant.
MD5_PREFIX_HEX = 15


def md5_family(seed: int, col: Column) -> Column:
    """Seeded md5-prefix 60-bit hash — the only 64-bit-ish hash family both
    Spark and DuckDB can evaluate identically (Spark parses the hex prefix
    with ``conv``, DuckDB with a ``'0x'||…`` cast — ``md5_family_duck``).

    NULL tokens hash to NULL: ``F.concat`` propagates NULL exactly like
    DuckDB's ``||`` in ``md5_family_duck`` (a ``concat_ws`` spelling would
    silently skip the NULL and hash ``'{seed}'``, silently diverging from
    the oracle — the cross-engine byte-identity claim covers ALL inputs)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), col)), 1, MD5_PREFIX_HEX
        ),
        16,
        10,
    ).cast("bigint")


def md5_family_duck(seed: int, token_sql: str = "w") -> str:
    """DuckDB-SQL spelling of ``md5_family`` over the expression
    ``token_sql`` — byte-identical values to the Spark side by construction."""
    return (
        f"CAST('0x' || substr(md5('{seed}|' || {token_sql}), 1, "
        f"{MD5_PREFIX_HEX}) AS BIGINT)"
    )


# MinHash family (Broder's min-wise permutations): each token is hashed ONCE
# to a base value x = md5_family(0, w) mod 2^28, and signature slot i is
# min over the doc's tokens of (a_i·x + b_i) mod (2^31 − 1). With a_i, b_i
# below the Mersenne prime and x below 2^28, a_i·x + b_i < 2^59 + 2^31 —
# exact BIGINT arithmetic in both engines, far from overflow (and from the
# ANSI overflow error). Tokens whose base values collide (≈ V²/2^29 pairs
# for a vocabulary of V) act as one token for banding only; verification
# stays exact over the token strings.
MINHASH_PRIME = (1 << 31) - 1
MINHASH_X_MOD = 1 << 28


def minhash_perm(i: int) -> tuple[int, int]:
    """``(a_i, b_i)`` of signature slot ``i``: fixed constants derived from
    md5 of the slot index, with ``1 <= a_i < p`` and ``0 <= b_i < p``."""
    d = hashlib.md5(f"minhash|{i}".encode()).digest()
    a = 1 + int.from_bytes(d[:8], "big") % (MINHASH_PRIME - 1)
    b = int.from_bytes(d[8:], "big") % MINHASH_PRIME
    return a, b


def minhash_signatures(
    tokens: DataFrame,
    id_col: str = "id",
    token_col: str = "w",
    n_hashes: int = 96,
) -> DataFrame:
    """One row per document: ``(id, sig array<bigint>)`` of n_hashes minhash
    values, computed as a single grouped aggregation (no per-hash shuffle).
    The base hash is evaluated once per row in a projection below the
    aggregate; each slot then costs one multiply-add and one modulo.

    Token CONTRACT: tokens must be NON-NULL. A NULL
    token hashes to NULL and is skipped by min(); every registered caller
    tokenizes via split/explode, which cannot produce NULLs, and
    ``token_bitsets``' vocabulary join imposes the same contract on the
    verification side."""
    based = tokens.select(
        F.col(id_col).alias("id"),
        F.pmod(md5_family(0, F.col(token_col)), F.lit(MINHASH_X_MOD)).alias("__x"),
    )
    aggs = []
    for i in range(n_hashes):
        a, b = minhash_perm(i)
        aggs.append(
            F.min((F.lit(a) * F.col("__x") + F.lit(b)) % F.lit(MINHASH_PRIME))
            .alias(f"__h{i}")
        )
    return based.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"__h{i}" for i in range(n_hashes)]).alias("sig")
    )


def minhash_sig_duck(n_hashes: int, from_sql: str) -> str:
    """DuckDB-SQL spelling of ``minhash_signatures``: a SELECT over
    ``FROM {from_sql}`` (a relation with columns ``doc_id`` and ``w``,
    optionally with a WHERE clause) yielding ``doc_id, h0 … h{n_hashes-1}``
    — the same values as the Spark signature array, slot for slot. The base
    hash is computed once per row in a subquery, exactly like the Spark
    projection."""
    hs = ",\n               ".join(
        f"min(({a} * x + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(map(minhash_perm, range(n_hashes)))
    )
    return (
        f"SELECT doc_id,\n               {hs}\n"
        f"        FROM (SELECT doc_id, "
        f"{md5_family_duck(0, 'w')} % {MINHASH_X_MOD} AS x "
        f"FROM {from_sql})\n"
        f"        GROUP BY doc_id"
    )


def minhash_band_eq_duck(bands: int, rows_per_band: int) -> str:
    """DuckDB-SQL spelling of the banded candidacy test over two
    ``minhash_sig_duck`` rows aliased ``a`` and ``b``: true iff some band's
    whole slice of ``rows_per_band`` values is equal — exactly the
    struct-key equality of ``band_buckets``/``lsh_candidate_pairs``."""
    return "\n           OR ".join(
        "("
        + " AND ".join(
            f"a.h{k * rows_per_band + j} = b.h{k * rows_per_band + j}"
            for j in range(rows_per_band)
        )
        + ")"
        for k in range(bands)
    )


def band_buckets(
    signatures: DataFrame,
    bands: int = 32,
    rows_per_band: int = 3,
) -> DataFrame:
    """(id, band, key): each signature exploded into its ``bands`` band
    buckets, the key being the STRUCT of the slice's values (rows_per_band
    × 8 bytes), not a hash of them — the candidate set downstream is then
    exactly "≥1 equal band" with zero bucket-collision false candidates,
    which is what makes a banded join reproducible in a value-level SQL
    oracle. (At extreme scale the key can be hashed back to 8 bytes — the
    2⁻⁶⁴ false candidates it admits are removed by the exact verification
    join anyway.)"""
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.struct(
                    *[
                        F.element_at("sig", b * rows_per_band + j + 1).alias(f"v{j}")
                        for j in range(rows_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select("id", F.explode(band_entries).alias("e")).select(
        "id", F.col("e.band").alias("band"), F.col("e.key").alias("key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 32, rows_per_band: int = 3
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one band bucket.

    Each signature splits into ``bands`` slices of ``rows_per_band`` values;
    docs collide iff some slice matches exactly — the probability
    amplification that makes LSH work (see ``band_buckets`` for the
    bucket-key exactness contract).

    Cross-band dedup stays the ``.distinct()``: its map-side partial
    aggregation already collapses most of the (pairs × colliding-bands)
    stream before the exchange. (A first-collision-band predicate — the
    spatial join's reference-point move — was prototyped in r15 and
    measured ≥5× SLOWER: it must carry both full signature arrays through
    the bucket join, materializing ~2 × bands × rows_per_band longs per
    joined row, which dwarfs the distinct it saves.)"""
    buckets = band_buckets(signatures, bands, rows_per_band)
    b1 = buckets.alias("b1")
    b2 = buckets.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.key") == F.col("b2.key"))
            & (F.col("b1.id") < F.col("b2.id")),
        )
        .select(F.col("b1.id").alias("a"), F.col("b2.id").alias("b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    tokens: DataFrame,
    id_col: str = "id",
    token_col: str = "w",
    threshold: tuple[int, int] = (6, 10),
    bands: int = 32,
    rows_per_band: int = 3,
) -> DataFrame:
    """LSH-accelerated near-dup join: band candidates, then exact-verify each
    candidate's true Jaccard with integer cross-multiplication. Output
    ``(a, b, inter, uni)`` — a subset of the exact join's pairs missing only
    banding false-negatives (≈0.04% at the default b, r and s=0.6).

    ``tokens`` must carry one row per (document, DISTINCT token) — the same
    contract Jaccard itself imposes. Two r15 physical rewrites, both
    output-identical:

    1. SIGNATURE-GROUP banding: banding candidacy is a function of the
       signature alone, so docs with equal signatures (identical token
       sets, plus any base-hash-coincident ones) collapse to one
       representative before the quadratic bucket join and expand back
       afterwards — every intra-group pair is a candidate by construction
       (all bands equal), every cross-group member pair inherits its
       group pair's candidacy. On the duplicate-dense fixture this cuts the bucket
       join's pre-distinct pair stream 3× (60.0M → 19.9M at sf0.1); on a
       duplicate-free corpus it degenerates to singleton groups at the
       cost of one doc-count-sized aggregation. (Grouping by the token
       set itself and verifying at group level was A/B'd and REJECTED:
       the set-key grouping lineage re-shuffles the raw tokens once per
       plan branch — 27.1 s vs 14.8 s paired medians at sf0.1.)
    2. BITSET verification (similarity.token_bitsets): each expanded
       candidate pair attaches two ~|vocab|/64-long masks and counts the
       intersection map-side with popcount, instead of the
       token-explosion count-join that shuffled every (pair, token) match
       row — identical (inter, uni) values, exact per DOCUMENT, so the
       sig-grouping needs no set-equality assumption. (The r14-rejected
       array_intersect variant shipped full token STRING arrays per pair;
       this ships fixed-width longs.)"""
    from eviction_lab_etl_spark.functions.pins import pin_to
    from eviction_lab_etl_spark.functions.similarity import (
        token_bitsets,
        verify_pairs_bitset,
    )

    tok = tokens.select(F.col(id_col).alias("id"), F.col(token_col).alias("w"))
    sig = minhash_signatures(tok, "id", "w", bands * rows_per_band)
    groups = sig.groupBy("sig").agg(
        F.min("id").alias("id"), F.collect_list("id").alias("ms")
    )
    gcand = lsh_candidate_pairs(groups.select("id", "sig"), bands, rows_per_band)
    mem = groups.select(F.col("id").alias("gid"), "ms")
    inter_group = (
        gcand.join(
            mem.select(F.col("gid").alias("a"), F.col("ms").alias("_msa")), "a"
        )
        .join(mem.select(F.col("gid").alias("b"), F.col("ms").alias("_msb")), "b")
        .select(F.explode("_msa").alias("x"), F.col("_msb"))
        .select("x", F.explode("_msb").alias("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
    )
    intra_group = (
        mem.filter(F.size("ms") >= 2)
        .select(F.explode("ms").alias("x"), F.col("ms"))
        .select("x", F.explode("ms").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(F.col("x").alias("a"), F.col("y").alias("b"))
    )
    cand = inter_group.unionByName(intra_group)
    masks = token_bitsets(tok)
    out = verify_pairs_bitset(cand, masks, threshold)
    # `groups` feeds 5 plan branches (both bucket-join legs via its band
    # explode, both member-expansion legs, intra-group pairs) and `masks`
    # both verifier legs; their collect_list/map aggregations never
    # canonicalize across branches, so each branch re-derived the whole
    # doc-sized lineage (exchange count 4 → 24 at r15). Pin both for the
    # result handle's lifetime (guide §5; functions/pins.py — callers
    # deriving over the result adopt_pins). Cache-independent values: the
    # signature family and the bitset dictionary ids are pure functions of
    # the token strings.
    return pin_to(out, groups, masks)


def corpus_minhash_index(
    corpus_tokens: DataFrame,
    bands: int = 32,
    rows_per_band: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The COMMIT-TIME LSH index for `minhash_batch_matches`: the corpus's
    band buckets ``(a, band, key)`` and per-doc token sizes ``(a, cn)`` —
    the two corpus-sized artifacts the per-batch probe needs. A production
    snapshot table materializes both when a version commits (one pass over
    the new files, the same append-only discipline as the data), so that
    ingest-time admission pays O(batch + candidates), never O(corpus);
    `tools/scale_stress.py --incremental` measures exactly that split."""
    csig = minhash_signatures(corpus_tokens, "id", "w", bands * rows_per_band)
    cb = band_buckets(csig, bands, rows_per_band).select(
        F.col("id").alias("a"), "band", "key"
    )
    csz = corpus_tokens.groupBy(F.col("id").alias("a")).agg(
        F.count(F.lit(1)).alias("cn")
    )
    return cb, csz


def minhash_batch_matches(
    batch_tokens: DataFrame,
    corpus_tokens: DataFrame,
    threshold: tuple[int, int] = (6, 10),
    bands: int = 32,
    rows_per_band: int = 3,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup matching — a small new batch against the big
    committed corpus: every banded candidate pair with its exact
    verification, as ``(b, a, inter, uni, near)`` where ``b`` is the batch
    id, ``a`` the corpus id, and ``near`` = cross-multiplied Jaccard ≥
    ``threshold``. Emitting candidates WITH the verdict (instead of only
    survivors) lets the caller report both the banding's candidate mass and
    the admission decision from one frame.

    Both token frames carry (id, w) with ids drawn from disjoint spaces.
    Scale shape (the incremental-ingest contract): the batch side is small
    by construction, so its band buckets AND its token set ride broadcasts —
    candidate generation is a map-side broadcast-hash probe over the corpus
    buckets, and only candidate-scoped corpus tokens join for verification.
    The one corpus-sized pass is the signature build (the LSH index); a
    production table stores it at commit time, so per-batch cost is
    O(batch + candidates), not O(corpus)."""
    num, den = threshold
    n_hashes = bands * rows_per_band
    btok = batch_tokens.select(F.col("id").alias("bid"), "w")
    ctok = corpus_tokens.select(F.col("id").alias("cid"), "w")
    bsig = minhash_signatures(batch_tokens, "id", "w", n_hashes)
    bb = band_buckets(bsig, bands, rows_per_band).select(
        F.col("id").alias("b"), "band", "key"
    )
    if corpus_index is None:
        cb, csz = corpus_minhash_index(corpus_tokens, bands, rows_per_band)
    else:
        cb, csz = corpus_index
    cand = (
        cb.join(F.broadcast(bb), ["band", "key"]).select("b", "a").distinct()
    )
    # Candidate pairs and everything derived from them are batch-
    # proportional: broadcast them onto the corpus-sized frames (tokens,
    # sizes) so the corpus side never sort-merge-exchanges for the
    # verification either.
    inter = (
        F.broadcast(cand)
        .join(ctok.alias("ct"), F.col("a") == F.col("ct.cid"))
        .join(
            F.broadcast(btok.alias("bt")),
            (F.col("b") == F.col("bt.bid")) & (F.col("ct.w") == F.col("bt.w")),
        )
        .groupBy("b", "a")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    bsz = btok.groupBy(F.col("bid").alias("b")).agg(F.count(F.lit(1)).alias("bn"))
    pairs = (
        cand.join(F.broadcast(inter), ["b", "a"], "left")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
        .join(F.broadcast(bsz), "b")
    )
    return (
        F.broadcast(pairs)
        .join(csz, "a")
        .withColumn("uni", F.col("bn") + F.col("cn") - F.col("inter"))
        .withColumn(
            "near",
            (F.lit(den) * F.col("inter") >= F.lit(num) * F.col("uni")).cast(
                "int"
            ),
        )
        .select("b", "a", "inter", "uni", "near")
    )
