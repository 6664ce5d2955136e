"""LLM-pipeline extension operators beyond the SURVEY §2 inventory.

BASELINE.json mandates first-class training-data-pipeline operations; §2.J
covers exact dedup, Jaccard, MinHash-LSH and cosine kNN — this module adds the
rest of the standard toolbox:

- SimHash signatures + Hamming near-dup pairs (dedup family)
- embedding-cosine near-dup pairs (dedup via vector similarity)
- IVF-bucketed approximate nearest neighbors (the ANN scale path)
- language-ID heuristic, quality scoring, BPE-ish token counting, and
  winnowing-style document fingerprinting (text-analysis family)

Every deterministic operator is hash-checked against a DuckDB oracle; the two
approximate ones (IVF ANN) are rows-only with recall tests in tests/.

Cross-engine token hashing: both engines parse the first 15 hex chars of
md5(token) as a 60-bit integer (Spark ``conv(...,16,10)``, DuckDB
``CAST('0x'||… AS BIGINT)``) — the only portable 64-bit-ish hash the two
engines share.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eviction_lab_etl_spark import fixtures
from eviction_lab_etl_spark.functions.determinism import big
from eviction_lab_etl_spark.functions.minhash import (
    minhash_band_eq_duck,
    minhash_sig_duck,
)
from eviction_lab_etl_spark.operators.dedup_text import cosine
from eviction_lab_etl_spark.registry import query
from eviction_lab_etl_spark.sources.loader import load, spread

_NBITS = 60  # md5-prefix token hash width (15 hex chars)

# --- SimHash -----------------------------------------------------------------

# Spark-side 60-bit token hash; DuckDB equivalent below.
_TOKEN_HASH = "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)"
_TOKEN_HASH_DUCK = "CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)"


def _simhash_agg_exprs(hash_expr: str) -> str:
    """SUM(±1 per bit) → reassembled signature, as engine-neutral SQL.

    For each bit b: vote_b = Σ_tokens (bit set ? +1 : -1); signature bit b is
    set iff vote_b > 0. Generated as 60 aggregate expressions — one hash-agg
    pass, no per-bit explosion (at 100 TB this is a single shuffle on doc_id
    with 60 long accumulators per group).
    """
    votes = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (({hash_expr}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(_NBITS)
    )
    return votes


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {_simhash_agg_exprs(_TOKEN_HASH_DUCK)} AS simhash
    FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
          FROM documents)
    GROUP BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash signature per document (Charikar similarity hashing):
    near-identical token sets differ in few bits. One aggregation pass."""
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    return tok.groupBy("doc_id").agg(
        F.expr(_simhash_agg_exprs(_TOKEN_HASH)).alias("simhash")
    )


_SIMHASH_BANDS = 10  # 10 bands × 6 bits over the 60-bit signature
_SIMHASH_BAND_BITS = _NBITS // _SIMHASH_BANDS
_SIMHASH_MAX_HD = 8


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, {_simhash_agg_exprs(_TOKEN_HASH_DUCK)} AS simhash
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
              FROM documents WHERE doc_id < 200)
        GROUP BY doc_id
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           bit_count(xor(a.simhash, b.simhash)) AS hd
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HD}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-duplicate pairs within Hamming distance 8, via banded
    bucket join (Manku et al. WWW'07 block-permutation idea): the 60-bit
    signature splits into 10 bands of 6 bits; candidates share ≥1 whole band,
    then Hamming-verify. hd ≤ 8 can dirty at most 8 of the 10 bands, so by
    pigeonhole every qualifying pair keeps ≥2 clean bands — the banded result
    EQUALS the exact quadratic join (the oracle), with the plan shuffling on
    (band, key) instead of the O(n²) pair space. At corpus scale, widen the
    signature and bands together (e.g. 128 bits → 16×8) to keep buckets
    sparse; the pigeonhole guarantee needs bands > max_hd."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    sig = tok.groupBy("doc_id").agg(
        F.expr(_simhash_agg_exprs(_TOKEN_HASH)).alias("simhash")
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * _SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << _SIMHASH_BAND_BITS) - 1))
                .alias("key"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    buckets = sig.select(
        "doc_id", "simhash", F.explode(band_entries).alias("e")
    ).select("doc_id", "simhash", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    hd = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            big(hd).alias("hd"),
        )
        .filter(F.col("hd") <= _SIMHASH_MAX_HD)
        .distinct()
    )


@query(
    "sim_ngram_jaccard",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               unnest(list_distinct(
                   list_transform(range(1, length(text) - 1),
                                  i -> substr(text, i, 3)))) AS s
        FROM documents WHERE doc_id < 100
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    pr AS (
        SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS inter
        FROM g g1 JOIN g g2 ON g1.s = g2.s AND g1.doc_id < g2.doc_id
        GROUP BY 1, 2
    )
    SELECT a, b, inter, (sa.n + sb.n - inter) AS uni
    FROM pr
    JOIN sz sa ON sa.doc_id = a
    JOIN sz sb ON sb.doc_id = b
    WHERE 2 * inter >= (sa.n + sb.n - inter)
    """,
)
def sim_ngram_jaccard(spark, sf_dir):
    """Character-3-gram Jaccard near-dup pairs (≥0.5, integer-crossmultiplied —
    no floats, §2.0 rule 1) via the same inverted-index self-join as the token
    variant: shuffle on shingle, never on the O(n²) pair space. Char n-grams
    catch near-dups that word tokenization misses (whitespace/punctuation
    edits). Bounded to doc_id<100 — common trigrams make the index join dense
    on the fixture's shared vocabulary. The ≥0.5 threshold keeps the checked
    result non-empty at sf0.01 (1 550 pairs): the fixture's max trigram
    Jaccard is ~0.69, so the previous ≥0.75 gate hash-matched on 0 rows —
    verifying nothing."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, char_length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            )
        ).alias("s"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    g1 = grams.alias("g1")
    g2 = grams.alias("g2")
    pairs = (
        g1.join(
            g2,
            (F.col("g1.s") == F.col("g2.s")) & (F.col("g1.doc_id") < F.col("g2.doc_id")),
        )
        .groupBy(F.col("g1.doc_id").alias("a"), F.col("g2.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(F.broadcast(sa), F.col("a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("b") == F.col("sb.doc_id"))
        .withColumn("uni", F.col("sa.n") + F.col("sb.n") - F.col("inter"))
        .filter(2 * F.col("inter") >= F.col("uni"))
        .select("a", "b", "inter", "uni")
    )


# --- Embedding near-dup + IVF ANN -------------------------------------------

from eviction_lab_etl_spark.functions.srp import (  # noqa: E402
    QUANT,
    srp_candidate_pairs,
    srp_oracle_cte,
    srp_planes,
)

_SRP_BANDS, _SRP_ROWS, _EMB_DIM = 8, 8, 64
_SRP_PLANES = srp_planes(_SRP_BANDS * _SRP_ROWS, _EMB_DIM)
_NEARDUP_COS = 0.9

_SRP_DOTS, _SRP_KEYS, _SRP_BAND_CASE = srp_oracle_cte(
    _SRP_PLANES, _SRP_BANDS, _SRP_ROWS, _EMB_DIM
)


def cosine_neardup_pairs(corpus) -> "DataFrame":
    """Embedding-cosine near-duplicate pairs (cos >= 0.9) over any
    (vec_id, v: array<double>) corpus — the semantic-dedup step of an LLM
    data pipeline, as a pure operator: SRP-LSH banding (functions/srp.py)
    instead of an all-pairs join; candidates shuffle on (band, key), then
    only candidates pay the exact cosine verification."""
    cand = srp_candidate_pairs(
        corpus, _SRP_PLANES, _SRP_BANDS, _SRP_ROWS, id_col="vec_id", vec_col="v"
    )
    return (
        cand.filter(cosine(F.col("va"), F.col("vb")) >= _NEARDUP_COS)
        .select("a", "b")
    )


@query(
    "sim_cosine_neardup",
    oracle=f"""
    WITH corpus AS ({fixtures.embeddings_with_twins_sql(_EMB_DIM)}),
    e AS (SELECT vec_id, v,
                 list_transform(v, x -> CAST(floor(x * {QUANT}) AS BIGINT)) AS q
          FROM corpus),
    d AS (SELECT vec_id, v, {_SRP_DOTS} FROM e),
    k AS (SELECT vec_id, v, {_SRP_KEYS} FROM d),
    bk AS (
        SELECT vec_id, v, band, {_SRP_BAND_CASE} AS key
        FROM k, (SELECT unnest(range({_SRP_BANDS})) AS band)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a, b.vec_id AS b, a.v AS va, b.v AS vb
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT a, b FROM cand
    WHERE list_cosine_similarity(va, vb) >= {_NEARDUP_COS}
    """,
)
def sim_cosine_neardup(spark, sf_dir):
    """Correctness binding for ``cosine_neardup_pairs``. The ORACLE computes
    the identical banded candidate set (same ±1 planes inlined as literals,
    same integer-quantized sign bits), so the hash check pins both the verify
    arithmetic AND the banding — at any recall, at any scale. Measured on the
    fixture: recall 1.0 vs the exact join, 26× fewer pairs scored. Floats are
    banded only after exact power-of-two quantization (see srp.py for why raw
    float dots are not portable).

    Fixture embeddings are near-random (max pairwise cos ≈ 0.46 — no organic
    near-dups), so the input is the FIXTURE-LAYER planted corpus
    (fixtures.embeddings_with_twins: vec_id<50 re-keyed twins at cos ≈ 0.97).
    The planting lives in fixtures.py; the operator keeps production
    semantics."""
    return cosine_neardup_pairs(fixtures.embeddings_with_twins(spark, sf_dir))


def ivf_topk(
    emb: "DataFrame",
    n_probes: int = 10,
    k: int = 3,
    nprobe: int = 2,
    n_centroids: int = 8,
    seed: int = 7,
) -> "DataFrame":
    """IVF-style approximate nearest neighbors over a (vec_id, embedding)
    corpus: coarse-quantize every vector to its nearest centroid bucket,
    then search only the probe's top-``nprobe`` centroid buckets
    (multi-probe — nprobe=1 caps recall at bucket boundaries, where a
    query's true neighbors sit in the runner-up bucket).

    Codebook = seeded ``pyspark.ml`` k-means centroids, trained distributed
    on L2-NORMALIZED vectors (spherical k-means: Euclidean centroids on the
    unit sphere quantize by angle, matching the cosine metric the search
    uses — unnormalized training optimizes the wrong distance), then
    collected to the driver and inlined as literals, exactly how a real IVF
    deploys (codebooks are KBs; training data is TBs; production trains on
    a sample and persists the codebook, re-fitting only when drift moves
    the quantization error). The inlining keeps bucket assignment a pure
    map over the scan: zero shuffles until the candidate join. Ties resolve
    to the lowest centroid id (struct sort falls through to idx). Plan:
    fit → scan → map(assign) → broadcast probe join → one window shuffle.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    unit = F.transform("embedding", lambda x: x.cast("double") / norm)
    model = KMeans(k=n_centroids, seed=seed, maxIter=20, featuresCol="f").fit(
        emb.select(array_to_vector(unit).alias("f"))
    )
    codebook = [[float(x) for x in c] for c in model.clusterCenters()]
    sims = F.array(
        *[
            cosine(F.col("embedding"), F.array(*[F.lit(x) for x in center]))
            for center in codebook
        ]
    )
    # Rank centroids per vector: sort (sim, idx) structs descending by sim
    # (idx breaks exact ties deterministically), keep the ordered idx list.
    ranked = F.transform(
        F.reverse(
            F.array_sort(
                F.transform(
                    sims,
                    lambda s, i: F.struct(s.alias("sim"), (-i).alias("negidx")),
                )
            )
        ),
        lambda e: -e["negidx"],
    )
    assigned = emb.select(
        "vec_id",
        "embedding",
        F.element_at(ranked, 1).alias("bucket"),
        F.slice(ranked, 1, nprobe).alias("probe_buckets"),
    )
    probes = F.broadcast(
        assigned.filter(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("pvec"),
            F.explode("probe_buckets").alias("pbucket"),
        )
    )
    cands = probes.join(
        assigned,
        (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("vid")),
    )
    w_rank = Window.partitionBy("vid").orderBy(F.col("sim").desc(), F.col("nbr"))
    return (
        cands.select(
            "vid",
            F.col("vec_id").alias("nbr"),
            cosine(F.col("pvec"), F.col("embedding")).alias("sim"),
        )
        .withColumn("rk", big(F.row_number().over(w_rank)))
        .filter(F.col("rk") <= k)
        .select("vid", "nbr", "rk")
    )


@query("ann_ivf")  # rows-only: recall measured in tests, not oracle-checked
def ann_ivf(spark, sf_dir, nprobe: int = 2):
    """``ivf_topk`` (trained spherical k-means codebook, k=8, nprobe=2) over
    the fixture-layer clustered corpus (fixtures.embeddings_clustered: 50
    planted clusters x 10 members at within-cluster cos ~0.92). The raw
    embeddings table is isotropic noise — its top-3 neighbors are arbitrary
    points no codebook can systematically co-bucket, so recall against it
    measures luck, not the quantizer (the sim_cosine_neardup precedent:
    planting lives in fixtures.py, the operator keeps production
    semantics). On real structure the trained codebook's recall vs the
    exact kNN is asserted >= 0.95 in tests/test_library.py."""
    return ivf_topk(
        fixtures.embeddings_clustered(spark, sf_dir).select("vec_id", "embedding"),
        nprobe=nprobe,
    )


@query(
    "ann_ivf_recall",
    oracle=f"""
    WITH corpus AS ({fixtures.EMBEDDINGS_CLUSTERED_SQL}),
    cb AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) - 1 AS cidx, embedding AS cvec
        FROM corpus
        QUALIFY row_number() OVER (
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                ) <= 8
    ),
    assign AS (
        SELECT c.vec_id, c.embedding, b.cidx,
               row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.embedding, b.cvec) DESC,
                            b.cidx
               ) AS crk
        FROM corpus c, cb b
    ),
    probes AS (
        SELECT vec_id AS vid, embedding AS pvec, cidx AS pbucket
        FROM assign WHERE vec_id < 10 AND crk <= 3
    ),
    prim AS (
        SELECT vec_id, embedding, cidx AS bucket FROM assign WHERE crk = 1
    ),
    ivf AS (
        SELECT vid, nbr FROM (
            SELECT p.vid, c.vec_id AS nbr,
                   row_number() OVER (
                       PARTITION BY p.vid
                       ORDER BY list_cosine_similarity(p.pvec, c.embedding)
                                DESC, c.vec_id
                   ) AS rk
            FROM probes p
            JOIN prim c ON c.bucket = p.pbucket AND c.vec_id <> p.vid
        ) WHERE rk <= 3
    ),
    exact AS (
        SELECT vid, nbr FROM (
            SELECT p.vec_id AS vid, c.vec_id AS nbr,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY list_cosine_similarity(p.embedding, c.embedding)
                                DESC, c.vec_id
                   ) AS rk
            FROM corpus p JOIN corpus c ON c.vec_id <> p.vec_id
            WHERE p.vec_id < 10
        ) WHERE rk <= 3
    )
    SELECT e.vid,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(i.nbr) AS BIGINT) AS n_hits
    FROM exact e LEFT JOIN ivf i ON i.vid = e.vid AND i.nbr = e.nbr
    GROUP BY e.vid
    """,
)
def ann_ivf_recall(spark, sf_dir):
    """DRIVER-VERIFIED ANN recall (round-4 advice item 3): recall@3 of an
    IVF search against the exact kNN, computed inside Spark as an integer
    (vid, n_exact, n_hits) table — and fully hash-checked, because this IVF
    variant uses a DETERMINISTIC SAMPLED codebook (the 8 corpus vectors with
    the smallest md5(vec_id) — random-point coarse quantizers are the
    standard cheap IVF initialization) instead of ann_ivf's trained KMeans,
    so the ENTIRE pipeline — quantization, nprobe=3 multi-probe bucket
    search, exact baseline, per-probe hit counting — has a closed SQL form
    the oracle derives independently. Measured recall on the clustered
    fixture: 29/30 (0.967).

    Scale shape: codebook is broadcast (8 rows); bucket assignment is a
    map-side cross with the broadcast codebook (zero shuffle); the candidate
    join is bucket-keyed (never all-pairs); only the exact-kNN baseline is a
    deliberate linear scan — it is the yardstick, not the scale path, and at
    100 TB it runs over a fixed probe panel exactly as here."""
    corpus = fixtures.embeddings_clustered(spark, sf_dir).select(
        "vec_id", "embedding"
    )
    w_cb = Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    cb = (
        corpus.withColumn("rn", F.row_number().over(w_cb))
        .filter(F.col("rn") <= 8)
        .select((F.col("rn") - 1).alias("cidx"), F.col("embedding").alias("cvec"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cidx")
    assign = (
        corpus.crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "embedding",
            "cidx",
            cosine(F.col("embedding"), F.col("cvec")).alias("csim"),
        )
        .withColumn("crk", F.row_number().over(w_assign))
    )
    probes = F.broadcast(
        assign.filter((F.col("vec_id") < 10) & (F.col("crk") <= 3)).select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("pvec"),
            F.col("cidx").alias("pbucket"),
        )
    )
    prim = assign.filter(F.col("crk") == 1).select(
        "vec_id", "embedding", F.col("cidx").alias("bucket")
    )
    w_rk = Window.partitionBy("vid").orderBy(F.col("sim").desc(), "nbr")
    ivf = (
        probes.join(
            prim,
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("vid")),
        )
        .select(
            "vid",
            F.col("vec_id").alias("nbr"),
            cosine(F.col("pvec"), F.col("embedding")).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 3)
        .select("vid", "nbr", F.lit(1).alias("hit"))
    )
    exact_probes = F.broadcast(
        corpus.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("vid"), F.col("embedding").alias("pvec")
        )
    )
    exact = (
        exact_probes.join(corpus, F.col("vec_id") != F.col("vid"))
        .select(
            "vid",
            F.col("vec_id").alias("nbr"),
            cosine(F.col("pvec"), F.col("embedding")).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 3)
        .select("vid", "nbr")
    )
    return (
        exact.join(ivf, ["vid", "nbr"], "left")
        .groupBy("vid")
        .agg(
            big(F.count(F.lit(1))).alias("n_exact"),
            big(F.count("hit")).alias("n_hits"),
        )
    )


# --- Text analysis -----------------------------------------------------------

_LANGS = ["de", "en", "es", "fr", "zh"]


@query(
    "text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    score AS (
        SELECT doc_id, length(w) % 5 AS bucket, count(*) AS cnt
        FROM t GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, bucket,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, bucket) AS rn
        FROM score
    )
    SELECT doc_id,
           (['{"','".join(_LANGS)}'])[bucket + 1] AS pred_lang
    FROM best WHERE rn = 1
    """,
)
def text_langid(spark, sf_dir):
    """Deterministic language-ID heuristic: score token-feature buckets per
    document and argmax (with tiebreak). A production langid replaces the
    feature (token-length % 5) with char-n-gram profile scores — the
    aggregate/argmax plan is identical. (The fixture's five langs share one
    vocabulary, so the *label mapping* here is synthetic by construction;
    the operator contract — deterministic per-doc argmax — is the point.)"""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    score = tok.groupBy(
        "doc_id", (F.length("w") % 5).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("bucket"))
    langs = F.array(*[F.lit(lang) for lang in _LANGS])
    return (
        score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", F.element_at(langs, F.col("bucket") + 1).alias("pred_lang")
        )
    )


_STOPWORDS = ["a", "the", "of", "and", "in", "to"]


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           len(w) AS n_tok,
           len(list_distinct(w)) AS n_uniq,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_tok_len,
           len(list_filter(w, x -> list_contains({_STOPWORDS}, x))) AS n_stop,
           (len(w) >= 20 AND 10 * len(list_distinct(w)) >= 3 * len(w)) AS is_quality
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    """,
)
def text_quality(spark, sf_dir):
    """Document quality scoring: token counts, type/token ratio, stopword
    count, and a boolean quality gate — all integer-exact (the float ratios a
    consumer derives are left to them, §2.0 rule 1)."""
    docs = load(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tok = F.size("w")
    n_uniq = F.size(F.array_distinct("w"))
    return docs.select(
        "doc_id",
        big(n_tok).alias("n_tok"),
        big(n_uniq).alias("n_uniq"),
        big(
            F.aggregate(
                F.transform("w", F.length), F.lit(0), lambda acc, x: acc + x
            )
        ).alias("sum_tok_len"),
        big(F.size(F.filter("w", lambda x: F.array_contains(stop, x)))).alias("n_stop"),
        ((n_tok >= 20) & (10 * n_uniq >= 3 * n_tok)).alias("is_quality"),
    )


_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_re
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting two ways: whitespace and a BPE-ish regex segmentation
    (letters / digits / single punctuation) — the pre-tokenizer count an LLM
    pipeline budgets by."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        big(F.size(F.split("text", " "))).alias("n_ws"),
        big(F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))).alias("n_re"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_aggregate(
               list_transform(range(1, len(w) - 1),
                              i -> md5(w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])),
               'min') AS fp
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    """,
)
def text_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprint: minimum digest over 3-token
    shingles (one MinHash function). Docs sharing long runs of text collide
    on fp — a rolling-hash dedup key computable in one map pass.

    The scan is spread to full parallelism first: ~300 shingle digests per
    row are CPU-bound, and the fixture parquet arrives as one row group
    (5.4x at sf0.1). The token array is materialized in its own projection
    before the lambda: referencing the raw ``split()`` re-inlines it per
    shingle position (three ``element_at`` = three splits per position —
    quadratic in doc length)."""
    docs = spread(load(spark, sf_dir, "documents"))
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks"))
    w = F.col("toks")
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                F.element_at(w, i),
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
            )
        ),
    )
    return tokenized.select("doc_id", F.array_min(shingle_hashes).alias("fp"))


# --- MinHash + LSH banding (shingle → minhash → band → bucket-join) ----------
#
# The §2.J contract covers MinHash-LSH via `sim_ann_lsh` (pyspark.ml
# MinHashLSH — rows-only, its fitted permutations are engine-private). The
# two queries below make the MinHash dedup family hash-checked like SimHash
# and Jaccard: the engine-owned banding in functions/minhash.py runs one
# fixed family (an md5-prefix base hash per token, then exact integer
# permutations) that DuckDB evaluates value for value (`minhash_sig_duck`),
# so the oracle reproduces the SAME signatures, the SAME band buckets, and
# therefore the SAME candidate set — banding false negatives and all.
# The approximation itself becomes deterministic, cross-engine-checkable
# behavior instead of an unverifiable black box.

_MH_BANDS = 16
_MH_ROWS = 3
_MH_NUM, _MH_DEN = 3, 5  # Jaccard ≥ 0.6, integer cross-multiplied (§2.0 rule 1)

_MH_BAND_EQ = minhash_band_eq_duck(_MH_BANDS, _MH_ROWS)


# Shared oracle CTEs: signatures → banded candidates → exact-verified pairs.
_MH_ORACLE_CTES = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    sig AS ({minhash_sig_duck(_MH_BANDS * _MH_ROWS, "tok")}),
    cand AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE {_MH_BAND_EQ}
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    iv AS (
        SELECT c.a, c.b, count(*) AS inter
        FROM cand c
        JOIN tok t1 ON t1.doc_id = c.a
        JOIN tok t2 ON t2.doc_id = c.b AND t1.w = t2.w
        GROUP BY c.a, c.b
    ),
    lsh AS (
        SELECT iv.a, iv.b, iv.inter, (sa.n + sb.n - iv.inter) AS uni
        FROM iv
        JOIN sz sa ON sa.doc_id = iv.a
        JOIN sz sb ON sb.doc_id = iv.b
        WHERE {_MH_DEN} * iv.inter >= {_MH_NUM} * (sa.n + sb.n - iv.inter)
    )"""


@query(
    "dedup_minhash_pairs",
    oracle=_MH_ORACLE_CTES + "\n    SELECT a, b, inter, uni FROM lsh",
)
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-duplicate pairs (Broder '97 banding) over the FULL
    documents table, hash-checked end to end: 48 min-hash values per doc in
    ONE grouped aggregation, 16 bands × 3 rows, candidates = docs sharing at
    least one whole band (struct-equality bucket join — zero hash-collision
    false candidates), then exact Jaccard ≥ 0.6 verification by integer
    cross-multiplication (functions/minhash.py). The oracle rebuilds the
    identical signatures from the shared hash family, so the oracle's
    value hash pins the banding itself — misses included — not just the
    verified survivors. At 100 TB the plan is: one shuffle on doc_id for
    signatures (48 longs per doc), one shuffle on (band, slice-values) for
    candidates, and the verification join only on surviving pairs; the O(n²)
    pair space never materializes. P[candidate | s=0.6] ≈ 0.979 at b=16,r=3
    (recall is itself driver-measured — `dedup_minhash_recall`)."""
    from eviction_lab_etl_spark.functions.minhash import minhash_near_dup_pairs
    from eviction_lab_etl_spark.functions.pins import adopt_pins

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    pairs = minhash_near_dup_pairs(
        tok,
        "doc_id",
        "w",
        threshold=(_MH_NUM, _MH_DEN),
        bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )
    out = pairs.select(
        F.col("a"), F.col("b"), big(F.col("inter")).alias("inter"),
        big(F.col("uni")).alias("uni"),
    )
    # adopt_pins: the library pins its group/mask diamonds to `pairs`;
    # deriving drops that handle, so the pins move to the returned frame.
    return adopt_pins(out, pairs)


@query(
    "dedup_minhash_recall",
    oracle=_MH_ORACLE_CTES
    + f""",
    ex AS (
        SELECT t1.doc_id AS a, t2.doc_id AS b, count(*) AS inter
        FROM tok t1 JOIN tok t2 ON t1.w = t2.w AND t1.doc_id < t2.doc_id
        GROUP BY 1, 2
    ),
    exq AS (
        SELECT e.a, e.b
        FROM ex e
        JOIN sz sa ON sa.doc_id = e.a
        JOIN sz sb ON sb.doc_id = e.b
        WHERE {_MH_DEN} * e.inter >= {_MH_NUM} * (sa.n + sb.n - e.inter)
    )
    SELECT (SELECT count(*) FROM exq) AS n_exact,
           (SELECT count(*) FROM lsh) AS n_lsh,
           CASE WHEN (SELECT count(*) FROM exq) = 0 THEN NULL
                ELSE (1000 * (SELECT count(*) FROM lsh))
                     // (SELECT count(*) FROM exq)
           END AS recall_pm""",
)
def dedup_minhash_recall(spark, sf_dir):
    """Banding recall as a driver-recorded number (the ann_ivf_recall pattern
    applied to MinHash): n_exact = prefix-filtered PPJoin pair count at the
    same ≥0.6 threshold (functions/similarity.py — itself driver-verified by
    `sim_jaccard_prefix`), n_lsh = the banded join's pair count, recall_pm =
    floor(1000·n_lsh/n_exact). LSH output is a subset of the exact join by
    construction, so this IS the banding miss rate on real data; both engines
    reproduce the identical miss set from the shared hash family. Two 1-row
    aggregates cross-joined — nothing wide crosses the driver. Empty-corpus
    contract: n_exact = 0 yields recall_pm NULL in BOTH engines (made
    explicit because ANSI Spark would otherwise throw on div-by-zero where
    DuckDB's // returns NULL)."""
    from eviction_lab_etl_spark.functions.minhash import minhash_near_dup_pairs
    from eviction_lab_etl_spark.functions.similarity import jaccard_pairs_prefix

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    lsh = minhash_near_dup_pairs(
        tok,
        "doc_id",
        "w",
        threshold=(_MH_NUM, _MH_DEN),
        bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )
    exact = jaccard_pairs_prefix(tok, "doc_id", "w", (_MH_NUM, _MH_DEN))
    out = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .select(
            "n_exact",
            "n_lsh",
            F.when(F.col("n_exact") == 0, F.lit(None).cast("bigint"))
            .otherwise(F.expr("(1000 * n_lsh) div n_exact"))
            .alias("recall_pm"),
        )
    )
    # Both legs carry bounded-lifetime pins (groups/masks on the LSH side,
    # groups/prefix on the exact side) — move them onto the returned frame.
    from eviction_lab_etl_spark.functions.pins import adopt_pins

    return adopt_pins(out, lsh, exact)


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok WHERE term <> ''
      GROUP BY term
    ),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, CAST(df.df AS BIGINT) AS df,
             tf.tf * CAST(floor(ln((n.n + 1.0) / (df.df + 1.0)) * 1000000)
                          AS BIGINT) AS score_micro
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, score_micro, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score_micro DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    """TF-IDF keyword extraction: the top-3 terms of every document by
    tf x ln((N+1)/(df+1)), the smoothed idf of scikit-learn/Lucene lineage.
    The score is made hash-checkable across engines by quantizing the idf
    to integer MICRO-units (floor x1e6) before the tf multiply: ln of a
    rational whose micro-scaled value sits >=0.02 away from every integer
    on all fixtures (verified at build time; a 1-ulp libm divergence moves
    it ~1e-9), so both engines floor to the same integer and all ranking
    is integer arithmetic with a term-name tiebreak.

    Scale shape (100 TB): tf is one shuffle on (doc_id, term) with map-side
    combine; df aggregates the SAME exploded tokens (ReuseExchange-eligible
    projection); the vocabulary (term, df) table is orders of magnitude
    smaller than the token stream, so it BROADCASTS onto tf — the per-doc
    top-k window then shuffles rows ∝ distinct (doc, term), never raw
    tokens. One N-row scalar crossed in as a broadcast literal."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(big(F.count(F.lit(1))).alias("tf"))
    df = tok.groupBy("term").agg(
        big(F.count_distinct("doc_id")).alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * F.floor(
                    F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    * F.lit(1_000_000)
                ).cast("long")
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )
