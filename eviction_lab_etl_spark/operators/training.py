"""Training-set assembly operators (LLM-pipeline extension, X).

Five operations that sit between a cleaned corpus and a training run — the
stage after dedup/quality (operators/{dedup_text,extensions,cleaning}.py) and
before sharded export. Each is expressed so the sf0.01 plan IS the 100 TB
plan:

- **Benchmark contamination** (`contam_ngram_overlap`): n-gram overlap between
  the training corpus and an eval set. The eval side is always tiny relative
  to the corpus, so its distinct-n-gram set broadcasts and the check is a
  map-side semi-probe per training n-gram — no shuffle of the corpus.
- **Sequence packing** (`pack_concat_chunks`): concat-then-chunk packing of
  documents into fixed token-budget training sequences via a windowed
  cumulative sum. Partitioned by `lang` on purpose: a GLOBAL packing order
  would serialize into one window partition at 100 TB; per-shard packing
  (shard = lang here; content-hash shard in production) keeps every partition
  independent, which is also what training wants (shards are shuffled anyway).
- **Sliding-window chunking** (`chunk_sliding`): overlapping token windows per
  document (size 32, stride 16) built JVM-side from `sequence`/`slice` — one
  narrow map stage, no Python, no shuffle.
- **Mixture resampling** (`resample_by_lang`): integer temperature-style
  upsampling of under-represented languages (repeat factor = capped ceil of
  max_count/count). The factor table is |langs| rows → broadcast; the
  replication is a map-side `explode(sequence(...))`. Integer factors keep it
  hash-checkable (float temperature weights are engine-divergent, §2.0 rule 1).
- **Repetition removal** (`text_dedup_repeats`): drop repeated tokens within a
  document keeping first occurrence — the token-level analog of the
  paragraph/line dedup every crawl pipeline runs. Map-only
  (`array_distinct`), order-preserving on both engines (oracle pins it via
  min-position + ordered string_agg).

Reference analog: R7/R12 export QA; the training-assembly ops are the X
extension mandated by BASELINE.json (reference mount empty — SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eviction_lab_etl_spark import fixtures
from eviction_lab_etl_spark.functions.determinism import big
from eviction_lab_etl_spark.registry import query
from eviction_lab_etl_spark.sources.loader import load

# Contamination n-gram order. 5 on a ~40-word vocabulary gives a discriminative
# gram space (40^5) the way 13-grams do on real text; 3-grams would saturate.
_N = 5
# Packing token budget / chunk window / chunk stride.
_BUDGET = 256
_W = 32
_S = 16


# The exact string-gram contamination SPEC — shared verbatim by
# `contam_ngram_overlap` (which implements it literally) and
# `contam_ngram_hashed` (whose collision-free-equality contract is exactly
# "equals this spec"): one constant so the two can never silently diverge.
_CONTAM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(l[i : i + {_N - 1}], ' ') AS gram
        FROM (SELECT doc_id, l,
                     unnest(range(1, greatest(len(l) - {_N - 1}, 0) + 1)) AS i
              FROM toks)
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
    FROM grams g LEFT JOIN bench b ON g.gram = b.gram
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
    """


@query("contam_ngram_overlap", oracle=_CONTAM_ORACLE)
def contam_ngram_overlap(spark, sf_dir):
    """Per-training-document eval contamination: how many of its distinct
    5-grams appear anywhere in the eval set (docs with doc_id % 97 == 0 — a
    deterministic stand-in for a held-out benchmark). The eval gram set is
    ~1% of the corpus and broadcasts; the per-doc distinct runs MAP-SIDE
    (``array_distinct`` inside the row, not a corpus-wide (doc_id, gram)
    DISTINCT exchange), so the only corpus shuffle is the final per-doc
    aggregation.

    The token array is materialized in its OWN projection before the gram
    lambda references it — a lambda body that references the raw ``split()``
    expression gets it re-inlined once per gram position (no cross-lambda
    CSE), turning per-gram work quadratic in document length (r4 profiling:
    91% of this query's cost; the r9 ``text_lm_nll`` fix measured 9x at
    10x data)."""
    docs = load(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks"))
    w = F.col("toks")
    grams = tokenized.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.array_join(F.slice(w, i, _N), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            big(F.sum(F.coalesce(F.col("hit"), F.lit(0)))).alias("n_hit"),
        )
    )


@query("contam_ngram_hashed", oracle=_CONTAM_ORACLE)
def contam_ngram_hashed(spark, sf_dir):
    """Production knob for ``contam_ngram_overlap``: identical query shape,
    but each 5-gram is represented by ``xxhash64`` of its token slice (one
    64-bit long) instead of the joined gram STRING — r4/r5 profiling put 91%
    of the exact query's cost in map-side gram-string materialization, and
    this removes it (the slice hashes directly; no concatenation, no string
    shuffle — the broadcast eval set is longs, the probe compares longs).
    SCALE.md records the measured delta (advantage widens with scale).

    The oracle is the EXACT string-gram contamination spec: hashed counts
    equal it whenever no 64-bit collision exists among the corpus grams —
    deterministically true of this fixture (asserted independently by
    tests/test_library.py's equality with the string form) and
    ~n²/2⁶⁵-improbable at any corpus size that fits a cluster, so the
    driver hash pins the collision-free contract rather than settling for
    rows-only. Caveat stands: on adversarial inputs engineered to collide,
    the knob under-reports by design — use the exact form for audits.

    Token array materialized in its own projection before the lambda (same
    re-inline trap as ``contam_ngram_overlap`` — see that docstring)."""
    docs = load(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks"))
    w = F.col("toks")
    grams = tokenized.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.xxhash64(F.slice(w, i, _N)),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            big(F.sum(F.coalesce(F.col("hit"), F.lit(0)))).alias("n_hit"),
        )
    )


# Bloom gate sizing: 8192 bits over the fixture's ~600 bench grams keeps the
# false-positive rate low enough that the exact semi-join's input is hits-
# dominated, while staying 1/16th the size of the hashed gram set it stands
# in for (the broadcast-size argument the operator exists to make).
_CONTAM_BLOOM_BITS = 8192


@query("contam_bloom_gate", oracle=_CONTAM_ORACLE)
def contam_bloom_gate(spark, sf_dir):
    """The 100 TB-SHAPED contamination gate: same answer as
    ``contam_ngram_overlap`` / ``contam_ngram_hashed`` (identical oracle —
    the exact string-gram spec, under the hashed form's collision-free
    contract), but the eval set reaches the corpus as a BLOOM FILTER
    instead of a broadcast hash set. The two siblings broadcast the bench
    gram set itself, which works while one benchmark's distinct grams fit
    an executor; a decontamination run against EVERY eval suite (the
    production posture — hundreds of millions of grams) cannot broadcast
    the set, and the fallback is shuffling the full corpus gram stream.
    This operator is that regime's standard fix, the same semi-join
    reduction as ``join_bloom_pruned``: fold the bench gram hashes into an
    m=8192-bit Bloom (functions/bloom.py — ~100-1000x smaller than the
    hash set at a chosen FP rate, always broadcastable), prune the corpus
    gram stream MAP-SIDE with the bit test (no Python, no shuffle), and
    exact-join only the survivors — true hits plus a bounded trickle of
    false positives, which the exact join then removes, so the result is
    hash-identical to the un-bloomed spec (the optimization must change
    I/O, never answers). Per-doc ``n_grams`` comes from a separate
    pre-prune map-side aggregate (the bloom must not undercount the
    denominator), and docs whose every gram was pruned re-enter with
    n_hit=0 via the left join.

    Scale shape: corpus grams flow through ONE doc-keyed aggregation plus
    ONE survivor-sized exchange; the only broadcasts are the 1-row bloom
    and the (deliberately un-broadcast-hinted) survivor join's small side
    at fixture scale. The survivor join is left as a plain equi-join on
    purpose: at production scale both sides are real and it becomes the
    shuffle join the plan declares — survivors, not the corpus, pay it."""
    from eviction_lab_etl_spark.functions.bloom import bloom_build, bloom_prune

    docs = load(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks"))
    w = F.col("toks")
    grams = tokenized.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.xxhash64(F.slice(w, i, _N)),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    bloom = bloom_build(bench, "gram", m_bits=_CONTAM_BLOOM_BITS)
    train = grams.filter(F.col("doc_id") % 97 != 0)
    denom = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    survivors = bloom_prune(train, bloom, "gram", m_bits=_CONTAM_BLOOM_BITS)
    hits = (
        survivors.join(bench.withColumn("hit", F.lit(1)), "gram")
        .groupBy("doc_id")
        .agg(big(F.sum("hit")).alias("n_hit"))
    )
    return denom.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_hit"), F.lit(0).cast("bigint")).alias("n_hit"),
    )


# DuckDB side of the shared gram stream: distinct 5-grams per doc from a
# token-list column `l` (the _CONTAM_ORACLE pattern, parametrized).
_CN_GRAMS = f"""
        SELECT DISTINCT doc_id,
               array_to_string(l[i : i + {_N - 1}], ' ') AS gram
        FROM (SELECT doc_id, l,
                     unnest(range(1, greatest(len(l) - {_N - 1}, 0) + 1)) AS i
              FROM {{src}})
"""

# The repo's normalize chain — IMPORTED from operators/cleaning (the SQL
# template is composed at import time from the same fold tables the Spark
# side uses, so the oracle string is still self-contained for the driver
# and can never drift from normalize_text when the fold map widens).
from eviction_lab_etl_spark.operators.cleaning import _NORM_SQL as _CN_NORM


@query(
    "contam_normalized",
    oracle=f"""
    WITH messy AS ({fixtures.DOCUMENTS_MESSY_SQL}),
    train AS (
        SELECT doc_id, raw FROM messy WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, raw
        FROM messy WHERE doc_id % 97 = 0
    ),
    btoks AS (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE doc_id % 97 = 0
    ),
    bench AS (
        SELECT DISTINCT gram FROM ({_CN_GRAMS.format(src="btoks")})
    ),
    ntoks AS (
        SELECT doc_id, string_split({_CN_NORM.format(col="raw")}, ' ') AS l
        FROM train
    ),
    ngrams AS ({_CN_GRAMS.format(src="ntoks")}),
    rtoks AS (
        SELECT doc_id, string_split(raw, ' ') AS l FROM train
    ),
    rgrams AS ({_CN_GRAMS.format(src="rtoks")}),
    nled AS (
        SELECT g.doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit_norm
        FROM ngrams g LEFT JOIN bench b ON g.gram = b.gram
        GROUP BY g.doc_id
    ),
    rled AS (
        SELECT g.doc_id,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit_raw
        FROM rgrams g LEFT JOIN bench b ON g.gram = b.gram
        GROUP BY g.doc_id
    )
    SELECT n.doc_id, n.n_grams, n.n_hit_norm,
           CAST(coalesce(r.n_hit_raw, 0) AS BIGINT) AS n_hit_raw
    FROM nled n LEFT JOIN rled r ON r.doc_id = n.doc_id
    """,
)
def contam_normalized(spark, sf_dir):
    """Contamination screening THROUGH the normalize chain — the
    integration `text_normalize_unicode` exists for: the benchmark is the
    clean eval slice (doc_id % 97 == 0, `contam_ngram_overlap`'s split),
    the training corpus is the MESSY CRAWL (fixtures.documents_messy:
    case/diacritic/punctuation/whitespace noise on every doc) PLUS the
    planted contamination every real gate exists to catch — the bench
    docs' own messy re-crawls under fresh ids (+300000): a benchmark
    document that re-entered the crawl with formatting noise. The ledger
    carries BOTH overlap counts per training doc: raw-gram hits
    (byte-exact matching on the crawl — structurally zero, every gram
    differs by case or an injected comma token, so the planted
    contamination SAILS THROUGH an unnormalized gate) and normalized-gram
    hits (norm(mess(x)) == x, so every planted doc scores n_hit_norm ==
    n_grams and is caught). The column pair IS the case for normalizing
    before decontamination, hash-checked end to end.

    Scale shape: `contam_ngram_overlap`'s plan twice over — bench grams
    broadcast, per-doc distinct runs map-side inside the row, the only
    corpus shuffles are the two per-doc ledger aggregations. Measured
    (SCALE.md round-12 rows): sublinear 20.5× wall at 30× data, at
    2.1×→3.9× the single-leg gate's wall — the raw leg tokenizes the
    MESSY byte stream (~2.7× the characters, split(' ') keeps the
    empty/comma tokens) so its gram volume is ~4× the normalized leg's.
    On a real pipeline the raw leg exists only to measure what
    normalization buys; deployments run the normalized leg alone, whose
    cost is the single-leg gate + the scan-speed normalize map. Token
    arrays materialize in their own projection before the gram lambda
    (the no-cross-lambda-CSE rule)."""
    from eviction_lab_etl_spark.operators.cleaning import normalize_text

    docs = load(spark, sf_dir, "documents")

    def gram_stream(tok_df):
        w = F.col("toks")
        return tok_df.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.when(
                        F.size(w) >= _N,
                        F.transform(
                            F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                            lambda i: F.array_join(F.slice(w, i, _N), " "),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                )
            ).alias("gram"),
        )

    bench = (
        gram_stream(
            docs.filter(F.col("doc_id") % 97 == 0).select(
                "doc_id", F.split("text", " ").alias("toks")
            )
        )
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    messy = fixtures.documents_messy(spark, sf_dir)
    train = messy.filter(F.col("doc_id") % 97 != 0).unionByName(
        messy.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"), "raw"
        )
    )
    ngrams = gram_stream(
        train.select("doc_id", F.split(normalize_text("raw"), " ").alias("toks"))
    )
    rgrams = gram_stream(
        train.select("doc_id", F.split("raw", " ").alias("toks"))
    )
    nled = (
        ngrams.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            big(F.sum(F.coalesce(F.col("hit"), F.lit(0)))).alias("n_hit_norm"),
        )
    )
    rled = (
        rgrams.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(big(F.sum(F.coalesce(F.col("hit"), F.lit(0)))).alias("n_hit_raw"))
    )
    return nled.join(rled, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_hit_norm",
        F.coalesce(F.col("n_hit_raw"), F.lit(0).cast("bigint")).alias(
            "n_hit_raw"
        ),
    )


@query(
    "pack_concat_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    cum AS (
        SELECT lang, doc_id, n_tok,
               COALESCE(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before
        FROM toks
    )
    SELECT lang,
           CAST(before // {_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM cum
    GROUP BY lang, before // {_BUDGET}
    """,
)
def pack_concat_chunks(spark, sf_dir):
    """Concat-then-chunk sequence packing: within each lang shard, documents
    in doc_id order are laid end to end and cut into 256-token training
    sequences; each document is assigned to the sequence its first token
    falls in. One partitioned window cumsum + one hash agg — the per-shard
    independence is what makes the same plan hold at 100 TB (a global packing
    order would funnel the window into a single partition)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    win = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = toks.withColumn(
        "before", F.coalesce(F.sum("n_tok").over(win), F.lit(0))
    )
    return (
        cum.groupBy(
            # Integer division matches the oracle's // for ANY budget; the
            # float (before / N).cast(long) form is exact only for
            # power-of-two budgets below 2^53.
            "lang", F.expr(f"before div {_BUDGET}").alias("seq_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            big(F.sum("n_tok")).alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "chunk_sliding",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           k AS chunk_id,
           array_to_string(l[k * {_S} + 1 : k * {_S} + {_W}], ' ') AS chunk,
           least({_W}, n - k * {_S}) AS n_tok
    FROM (SELECT doc_id, l, n,
                 unnest(range(0, (greatest(n - {_W}, 0) + {_S} - 1) // {_S} + 1))
                     AS k
          FROM toks)
    """,
)
def chunk_sliding(spark, sf_dir):
    """Overlapping token windows per document (size 32, stride 16) — the
    context-window chunking step before embedding or tokenization. Chunk k
    starts at token k*16+1; the last chunk is the first one whose window
    reaches the end of the document (so every token is covered and no chunk
    is pure padding). Narrow map stage: sequence/slice/array_join all inside
    whole-stage codegen, no shuffle at any scale."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    docs2 = docs.select("doc_id", w.alias("l"), n.alias("n"))
    # Integer floor-div mirrors the oracle's // maths: last chunk index is
    # ceil(max(n - W, 0) / S) = (max(n - W, 0) + S - 1) div S.
    kmax = F.expr(f"(greatest(n - {_W}, 0) + {_S - 1}) div {_S}")
    return (
        docs2.select(
            "doc_id",
            "l",
            "n",
            F.explode(F.sequence(F.lit(0), kmax)).alias("k"),
        )
        .select(
            "doc_id",
            big("k").alias("chunk_id"),
            F.array_join(
                F.slice("l", F.col("k").cast("int") * _S + 1, _W), " "
            ).alias("chunk"),
            big(F.least(F.lit(_W), F.col("n") - F.col("k") * _S)).alias("n_tok"),
        )
    )


@query(
    "resample_by_lang",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    factors AS (
        SELECT lang, n,
               least(4, (SELECT max(n) FROM counts) // n +
                        CASE WHEN (SELECT max(n) FROM counts) % n = 0
                             THEN 0 ELSE 1 END) AS f
        FROM counts
    )
    SELECT d.doc_id, d.lang, CAST(c AS BIGINT) AS copy_idx
    FROM documents d
    JOIN factors USING (lang),
         unnest(range(1, f + 1)) AS r(c)
    """,
)
def resample_by_lang(spark, sf_dir):
    """Mixture rebalancing: upsample under-represented languages by an
    integer repeat factor ceil(max_lang_count / lang_count), capped at 4 —
    the integer form of temperature sampling (float weights would violate
    §2.0 rule 1). The factor table is |langs| rows and broadcasts; the
    replication itself is a map-side explode, so the corpus never shuffles."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    max_n = counts.agg(F.max("n").alias("m"))
    factors = counts.crossJoin(F.broadcast(max_n)).select(
        "lang",
        # Integer ceil-div (m div n rounded up), capped — exact on both sides.
        F.expr(
            "least(4, (m div n) + CASE WHEN m % n = 0 THEN 0 ELSE 1 END)"
        ).alias("f"),
    )
    return (
        docs.join(F.broadcast(factors), "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("f"))).alias("copy_idx"),
        )
        .withColumn("copy_idx", big("copy_idx"))
    )


@query(
    "text_dedup_repeats",
    oracle="""
    WITH pos AS (
        SELECT doc_id, w, min(p) AS p
        FROM (SELECT doc_id,
                     unnest(string_split(text, ' ')) AS w,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS p
              FROM documents)
        GROUP BY doc_id, w
    )
    SELECT doc_id,
           string_agg(w, ' ' ORDER BY p) AS clean,
           count(*) AS n_unique
    FROM pos
    GROUP BY doc_id
    """,
)
def text_dedup_repeats(spark, sf_dir):
    """Intra-document repetition removal: keep each token's first occurrence,
    preserving order — the token-scale analog of the line/paragraph dedup a
    crawl pipeline runs per page. `array_distinct` preserves first-occurrence
    order and runs map-only; the oracle pins the order-preservation contract
    via min-position + ordered string_agg."""
    docs = load(spark, sf_dir, "documents")
    uniq = F.array_distinct(F.split("text", " "))
    return docs.select(
        "doc_id",
        F.array_join(uniq, " ").alias("clean"),
        big(F.size(uniq)).alias("n_unique"),
    )


@query(
    "pipeline_training_set",
    oracle=f"""
    WITH dirty AS ({{dirty}}),
    clean AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                                   ' +', ' ', 'g')) AS clean
        FROM dirty
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(clean)),
    surv AS (
        SELECT c.doc_id, string_split(c.clean, ' ') AS w
        FROM clean c JOIN keep USING (doc_id)
    ),
    qual AS (
        SELECT doc_id, len(w) AS n_tok FROM surv
        WHERE len(w) >= 20 AND 10 * len(list_distinct(w)) >= 3 * len(w)
    ),
    langed AS (
        SELECT q.doc_id, d.lang, q.n_tok
        FROM qual q JOIN documents d USING (doc_id)
    ),
    counts AS (SELECT lang, count(*) AS n FROM langed GROUP BY lang),
    factors AS (
        SELECT lang, least(3, (SELECT max(n) FROM counts) // n +
                              CASE WHEN (SELECT max(n) FROM counts) % n = 0
                                   THEN 0 ELSE 1 END) AS f
        FROM counts
    ),
    rep AS (
        SELECT l.doc_id, l.lang, l.n_tok, c AS copy_idx
        FROM langed l JOIN factors USING (lang), unnest(range(1, f + 1)) AS r(c)
    ),
    cum AS (
        SELECT lang, doc_id, copy_idx, n_tok,
               COALESCE(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id, copy_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before
        FROM rep
    )
    SELECT lang,
           CAST(before // 512 AS BIGINT) AS seq_id,
           count(*) AS n_items,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM cum
    GROUP BY lang, before // 512
    """.format(dirty=fixtures.DOCUMENTS_DIRTY_SQL),
)
def pipeline_training_set(spark, sf_dir):
    """The training-data assembly flow END TO END as one declarative plan:
    HTML strip → exact dedup (md5 keep-first: the 25 planted dup copies are
    dropped, originals survive) → quality gate (length + type/token ratio,
    integer arithmetic) → per-lang mixture resampling (capped integer ceil
    factors) → concat-then-chunk packing into 512-token sequences. Output is
    the packing manifest per (lang, seq_id) — what a curation run hands the
    trainer.

    Every stage keeps the scale shape of its standalone operator: the clean
    and gate stages are map-only, the factor table broadcasts, and the pack
    window is per-lang partitioned. Zero sort-merge joins, no O(n²) stage,
    nothing materialized between stages — the only data-scale shuffles are
    the digest agg, the per-lang stats, and the pack window (the rest are
    broadcast-side exchanges over tiny aggs).

    Dedup form (r13 rewrite, measured in BASELINE.md): the keep-first
    winner is carried THROUGH the digest aggregation as
    ``min(struct(doc_id, clean))`` instead of aggregating ids and joining
    the corpus back — the regex-heavy clean projection is computed once
    (the old two-branch DAG ran strip_html twice), the corpus text crosses
    exactly one exchange (digest-keyed, map-side partials collapse dup
    groups before the wire), and the survivor-side join disappears. Same
    oracle, same rows."""
    from eviction_lab_etl_spark.operators.cleaning import strip_html

    docs = load(spark, sf_dir, "documents")
    cleaned = strip_html(fixtures.documents_dirty(spark, sf_dir))
    keep = (
        cleaned.select(
            F.md5("clean").alias("h"), F.struct("doc_id", "clean").alias("s")
        )
        .groupBy("h")
        .agg(F.min("s").alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.clean").alias("clean"))
    )
    w = F.split("clean", " ")
    qual = (
        keep.withColumn("n_tok", F.size(w))
        .withColumn("n_uniq", F.size(F.array_distinct(w)))
        .filter((F.col("n_tok") >= 20) & (10 * F.col("n_uniq") >= 3 * F.col("n_tok")))
        .select("doc_id", "n_tok")
    )
    langed = qual.join(docs.select("doc_id", "lang"), "doc_id")
    counts = langed.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    max_n = counts.agg(F.max("n").alias("m"))
    factors = counts.crossJoin(F.broadcast(max_n)).select(
        "lang",
        F.expr(
            "least(3, (m div n) + CASE WHEN m % n = 0 THEN 0 ELSE 1 END)"
        ).alias("f"),
    )
    rep = langed.join(F.broadcast(factors), "lang").select(
        "doc_id",
        "lang",
        "n_tok",
        F.explode(F.sequence(F.lit(1), F.col("f"))).alias("copy_idx"),
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "copy_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = rep.withColumn("before", F.coalesce(F.sum("n_tok").over(win), F.lit(0)))
    return (
        cum.groupBy("lang", F.expr("before div 512").alias("seq_id"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            big(F.sum("n_tok")).alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "resample_sqrt_temperature",
    oracle="""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tgt AS (
        SELECT lang, n,
               CAST(floor(sqrt(CAST(n * (SELECT max(n) FROM counts) AS DOUBLE)))
                   AS BIGINT) AS target
        FROM counts
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
        FROM documents
    ),
    plan AS (
        SELECT r.doc_id, r.lang,
               t.target // t.n
                 + CASE WHEN r.rk <= t.target % t.n THEN 1 ELSE 0 END AS copies
        FROM ranked r JOIN tgt t USING (lang)
    )
    SELECT doc_id, lang, CAST(c AS BIGINT) AS copy_idx
    FROM plan, unnest(range(0, copies)) AS r(c)
    """,
)
def resample_sqrt_temperature(spark, sf_dir):
    """Square-root temperature resampling (the mBERT/XLM exponent-0.5
    smoothing of the language distribution): each language's target row
    count is the geometric mean floor(sqrt(n_lang * n_max)) — low-resource
    languages are boosted sublinearly toward the head language instead of
    resample_by_lang's hard ceil-ratio cap. All arithmetic is integer-exact
    on both engines (n*n_max <= n_max^2 is far inside double-exact range, so
    floor(sqrt(..)) agrees bit-for-bit; copies and remainders are pure
    integer ops per §2.0 rule 1).

    The remainder (target mod n) extra copies go to the first `remainder`
    docs in doc_id order via a per-lang row_number — per-lang windows are
    the same shard-independence shape as pack_concat_chunks (a GLOBAL order
    would serialize; per-lang parallelizes across languages). Under extreme
    single-language skew the scale path is remainder assignment per
    (lang, subshard) with per-subshard quotas — same result set, bounded
    window partitions. The |langs|-row target table broadcasts; replication
    is a map-side explode, so the corpus never shuffles for the copy step."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.agg(F.max("n").alias("nmax"))
    tgt = counts.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n",
        F.floor(F.sqrt((F.col("n") * F.col("nmax")).cast("double"))).alias(
            "target"
        ),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    ranked = docs.select("doc_id", "lang").withColumn(
        "rk", F.row_number().over(w)
    )
    plan = ranked.join(F.broadcast(tgt), "lang").select(
        "doc_id",
        "lang",
        (
            F.expr("target div n")
            + F.when(F.col("rk") <= F.col("target") % F.col("n"), 1).otherwise(0)
        ).alias("copies"),
    )
    return plan.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.col("copies") - 1)).alias("copy_idx"),
    ).withColumn("copy_idx", big("copy_idx"))


@query(
    "text_rarity_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, count(*) AS cf FROM tok GROUP BY w),
    ranked AS (
        SELECT cf, row_number() OVER (ORDER BY cf, w) AS rn FROM freq
    ),
    thr AS (
        SELECT cf AS t FROM ranked
        WHERE rn = (SELECT (count(*) + 1) // 2 FROM freq)
    )
    SELECT t.doc_id, count(*) AS n_tok,
           count(*) FILTER (WHERE f.cf < thr.t) AS n_rare
    FROM tok t JOIN freq f ON f.w = t.w CROSS JOIN thr
    GROUP BY t.doc_id
    """,
)
def text_rarity_score(spark, sf_dir):
    """Corpus-relative rarity scoring — the integer-exact proxy for the
    unigram-LM 'perplexity filter' every corpus pipeline runs (docs made of
    corpus-frequent tokens are boilerplate-like; docs heavy in
    corpus-rare tokens are either informative or garbage — both tails get
    routed to different gates). Per doc: total tokens and tokens whose
    CORPUS frequency is strictly below the vocabulary's median frequency
    (median = the middle element of the (cf, w)-sorted vocabulary, a
    deterministic integer — no float log-probs, §2.0 rule 1).

    Scale shape: the vocabulary table (token, corpus_freq) is the small
    side — even web-scale corpora hold vocabularies orders of magnitude
    below the token stream — so it BROADCASTS onto the map-side token
    explosion; the only corpus-wide shuffles are the vocab count and the
    final per-doc aggregate. The threshold is a broadcast 1-row cross."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    ranked = freq.withColumn(
        "rn", F.row_number().over(Window.orderBy("cf", "w"))
    )
    n_vocab = freq.agg(F.count(F.lit(1)).alias("nv"))
    thr = (
        ranked.crossJoin(F.broadcast(n_vocab))
        .filter(F.col("rn") == F.expr("(nv + 1) div 2"))
        .select(F.col("cf").alias("t"))
    )
    return (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(thr))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(F.col("cf") < F.col("t"), 1)).alias("n_rare"),
        )
    )


@query(
    "resample_downweight_dups",
    oracle="""
    SELECT doc_id,
           1 AS w_num,
           count(*) OVER (PARTITION BY md5(text)) AS w_den
    FROM documents
    """,
)
def resample_downweight_dups(spark, sf_dir):
    """Soft dedup by downweighting: instead of dropping exact duplicates,
    assign every document the exact sampling weight 1/cluster_size (emitted
    as a num/den rational — integers hash identically; the sampler divides).
    Summing w over a duplicate cluster yields exactly 1, so the corpus
    'effective size' equals its unique-text count while retaining every
    provenance row — the soft-dedup alternative to dedup_keep_first's hard
    drop. One window over the digest: at 100 TB the shuffle carries
    (doc_id, 16-byte digest) pairs only, partitioned by digest — same scale
    profile as exact dedup, no document bodies move."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    return docs.select(
        "doc_id",
        F.lit(1).cast("int").alias("w_num"),
        F.count(F.lit(1)).over(w).alias("w_den"),
    )


# --- capacity-respecting sequence packing (next-fit-decreasing per shard) ----

_PACK_CAP = 128     # token capacity per packed training sequence
_PACK_SHARDS = 8    # independent packing shards (the parallelism unit)


def nextfit_pack(docs, capacity: int = _PACK_CAP, shards: int = _PACK_SHARDS):
    """Capacity-RESPECTING sequence packing: within each shard, documents in
    (n_tok DESC, doc_id) order fill 128-token bins next-fit — a doc that
    would overflow the open bin closes it and starts the next; a doc longer
    than the capacity sits alone in its own (overflowing) bin. The
    complement of `pack_concat_chunks`: concat-then-chunk maximizes density
    by letting documents straddle sequence boundaries, next-fit keeps every
    document intact (the SFT/instruction-tuning constraint, where an
    example split across sequences is corrupted) at the cost of padding —
    next-fit-DECREASING ordering is the classic bound (≤2× optimal bins;
    big docs first so small ones backfill).

    The bin recurrence (fill resets when it would exceed capacity) is a
    running-reset fold — NOT window-expressible (each reset depends on the
    previous reset, unlike a plain cumsum), so the greedy runs as a
    per-shard Arrow-batched applyInPandas. Scale shape at 100 TB: only
    (doc_id, n_tok) METADATA crosses into Python — 16 bytes/doc, never
    text — one shuffle on the shard key, and `shards` scales with the
    cluster so each group's metadata fits an executor (skewless by
    construction: round-robin doc_id % shards)."""
    return nextfit_pack_counts(
        docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tok")
        ),
        capacity=capacity,
        shards=shards,
    )


def nextfit_pack_counts(
    tok_counts, capacity: int = _PACK_CAP, shards: int = _PACK_SHARDS
):
    """``nextfit_pack`` over a PRE-COMPUTED (doc_id, n_tok) frame — the seam
    that lets packing consume any tokenizer's counts (whitespace in
    `pack_bins_nextfit`, the trained BPE vocabulary in `pack_bins_bpe`)
    without changing the greedy or its scale shape."""
    toks = tok_counts.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )

    def pack(pdf):
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bin_idx, pos, fill = [], [], 0
        cur_bin = 0
        for n in pdf["n_tok"]:
            n = int(n)
            if not bin_idx:                 # first doc opens bin 0
                fill, p = n, 0
            elif fill + n <= capacity:      # fits the open bin
                fill, p = fill + n, pos[-1] + 1
            else:                           # close bin, open next
                cur_bin, fill, p = cur_bin + 1, n, 0
            bin_idx.append(cur_bin)
            pos.append(p)
        pdf["bin_idx"] = bin_idx
        pdf["pos_in_bin"] = pos
        return pdf[["doc_id", "shard", "bin_idx", "pos_in_bin", "n_tok"]]

    return toks.groupBy("shard").applyInPandas(
        pack,
        schema="doc_id long, shard long, bin_idx long, pos_in_bin long, "
               "n_tok long",
    )


@query(
    "pack_bins_nextfit",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    ord AS (
        SELECT doc_id, shard, n_tok,
               row_number() OVER (
                   PARTITION BY shard ORDER BY n_tok DESC, doc_id) AS rn
        FROM toks
    ),
    pack AS (
        SELECT shard, rn, doc_id, n_tok,
               CAST(0 AS BIGINT) AS bin_idx,
               n_tok AS fill,
               CAST(0 AS BIGINT) AS pos_in_bin
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.n_tok,
               CASE WHEN p.fill + o.n_tok <= {_PACK_CAP}
                    THEN p.bin_idx ELSE p.bin_idx + 1 END,
               CASE WHEN p.fill + o.n_tok <= {_PACK_CAP}
                    THEN p.fill + o.n_tok ELSE o.n_tok END,
               CASE WHEN p.fill + o.n_tok <= {_PACK_CAP}
                    THEN p.pos_in_bin + 1 ELSE 0 END
        FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(bin_idx AS BIGINT) AS bin_idx,
           CAST(pos_in_bin AS BIGINT) AS pos_in_bin,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM pack
    """,
)
def pack_bins_nextfit(spark, sf_dir):
    """Correctness binding for ``nextfit_pack`` over the documents table.
    The oracle replays the IDENTICAL greedy as a recursive CTE stepping one
    rank per shard per iteration, so the driver hash pins the ordering, the
    reset rule, every bin boundary, and every within-bin position — the
    strongest possible check on a sequential algorithm (the same
    unrolled-greedy discipline as the MMR and entity-resolution oracles).
    Ties in (n_tok, doc_id) cannot occur (doc_id is unique), so the
    sort order is total on both engines."""
    return nextfit_pack(load(spark, sf_dir, "documents"))




# --- BPE merge-table training (Sennrich et al. '16, K unrolled merges) -------

_BPE_MERGES = 3

# One oracle iteration: given vocab state {st} (word, toks, cnt), emit
# best{k} (the argmax pair) and state{k} (the merge applied). The walk is a
# per-word recursive scan carrying (out list, pend token) — pend goes NULL
# right after a merge, so 'aaa' under (a,a) yields [aa, a], never overlap.
_BPE_STEP_SQL = """
    pairs{k} AS (
        SELECT toks[i.i] AS lhs, toks[i.i + 1] AS rhs, sum(cnt) AS pc
        FROM {st}, LATERAL (SELECT unnest(range(1, len(toks))) AS i) i
        GROUP BY lhs, rhs
    ),
    best{k} AS (
        SELECT lhs, rhs, lhs || rhs AS merged, CAST(pc AS BIGINT) AS pc
        FROM pairs{k} ORDER BY pc DESC, lhs, rhs LIMIT 1
    ),
    walk{k} AS (
        SELECT word, cnt, toks, 1 AS pos,
               CAST([] AS VARCHAR[]) AS out, toks[1] AS pend
        FROM {st}
        UNION ALL
        SELECT w.word, w.cnt, w.toks, w.pos + 1,
               CASE WHEN w.pend IS NULL THEN w.out
                    WHEN w.pend = b.lhs AND w.toks[w.pos + 1] = b.rhs
                         THEN list_append(w.out, b.merged)
                    ELSE list_append(w.out, w.pend) END,
               CASE WHEN w.pend IS NULL THEN w.toks[w.pos + 1]
                    WHEN w.pend = b.lhs AND w.toks[w.pos + 1] = b.rhs
                         THEN NULL
                    ELSE w.toks[w.pos + 1] END
        FROM walk{k} w, best{k} b WHERE w.pos < len(w.toks)
    ),
    state{k} AS (
        SELECT word, cnt,
               CASE WHEN pend IS NULL THEN out
                    ELSE list_append(out, pend) END AS toks
        FROM walk{k} WHERE pos = len(toks)
    )
"""

# Shared CTE chain: words → char-split state0 → (pairs/best/walk/state)×K.
# `state{_BPE_MERGES}` is the trained vocabulary (word, cnt, toks) — the
# train oracle reads the best{k} rows, the encode/pack oracles read the
# final state. One definition, three driver-hash-checked consumers.
_BPE_CTES = (
    """
    WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    state0 AS (
        SELECT word, cnt,
               list_transform(range(1, length(word) + 1),
                              i -> word[i]) AS toks
        FROM words
    ),
"""
    + ",".join(
        _BPE_STEP_SQL.format(k=k, st=f"state{k - 1}")
        for k in range(1, _BPE_MERGES + 1)
    )
)

_BPE_ORACLE = _BPE_CTES + "".join(
    f"""
    {"SELECT" if k == 1 else "UNION ALL SELECT"} CAST({k} AS BIGINT) AS step,
           lhs, rhs, merged, pc FROM best{k}"""
    for k in range(1, _BPE_MERGES + 1)
)

_BPE_ENCODE_ORACLE = _BPE_CTES + f"""
    , dw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.toks)) AS BIGINT) AS n_bpe_tok
    FROM dw d JOIN state{_BPE_MERGES} v ON d.word = v.word
    GROUP BY d.doc_id
"""

# dtok/ordb are MATERIALIZED: the packb recursion joins ordb once per rank
# step, and without the hint DuckDB re-evaluates the entire BPE CTE chain
# (three recursive merge walks) on every step — measured 349 s vs 5.3 s at
# sf0.01.
_PACK_BPE_ORACLE = _BPE_CTES + f"""
    , dtok AS MATERIALIZED (
        SELECT d.doc_id,
               CAST(d.doc_id % {_PACK_SHARDS} AS BIGINT) AS shard,
               CAST(sum(len(v.toks)) AS BIGINT) AS n_tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents) d
        JOIN state{_BPE_MERGES} v ON d.word = v.word
        GROUP BY d.doc_id
    ),
    ordb AS MATERIALIZED (
        SELECT doc_id, shard, n_tok,
               row_number() OVER (
                   PARTITION BY shard ORDER BY n_tok DESC, doc_id) AS rn
        FROM dtok
    ),
    packb AS (
        SELECT shard, rn, doc_id, n_tok,
               CAST(0 AS BIGINT) AS bin_idx,
               n_tok AS fill,
               CAST(0 AS BIGINT) AS pos_in_bin
        FROM ordb WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.n_tok,
               CASE WHEN p.fill + o.n_tok <= {_PACK_CAP}
                    THEN p.bin_idx ELSE p.bin_idx + 1 END,
               CASE WHEN p.fill + o.n_tok <= {_PACK_CAP}
                    THEN p.fill + o.n_tok ELSE o.n_tok END,
               CASE WHEN p.fill + o.n_tok <= {_PACK_CAP}
                    THEN p.pos_in_bin + 1 ELSE 0 END
        FROM packb p JOIN ordb o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(bin_idx AS BIGINT) AS bin_idx,
           CAST(pos_in_bin AS BIGINT) AS pos_in_bin,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM packb
"""


def _bpe_merge_fold(toks_col, lhs_col, rhs_col):
    """Left-to-right NON-OVERLAPPING replacement of adjacent (lhs, rhs)
    with lhs||rhs — the BPE merge application as a pure JVM fold.
    Accumulator struct(out: array<string>, pend: string); pend carries the
    one-token lookbehind and goes NULL immediately after a merge, so
    'aaa' under (a,a) yields [aa, a], never an overlapped [aa, aa]."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        merged_here = (
            acc["pend"].isNotNull()
            & (acc["pend"] == lhs_col)
            & (x == rhs_col)
        )
        out = (
            F.when(acc["pend"].isNull(), acc["out"])
            .when(
                merged_here,
                F.array_append(acc["out"], F.concat(lhs_col, rhs_col)),
            )
            .otherwise(F.array_append(acc["out"], acc["pend"]))
        )
        pend = F.when(merged_here, F.lit(None).cast("string")).otherwise(x)
        return F.struct(out.alias("out"), pend.alias("pend"))

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.array_append(acc["out"], acc["pend"])
        )

    return F.aggregate(toks_col, init, step, finish)


def _bpe_pairs(state):
    """(lhs, rhs, pc): corpus-weighted adjacent-pair counts over the vocab
    state — ALL adjacent positions count (the naive Sennrich statistic;
    the non-overlap discipline lives in the APPLICATION fold, not the
    count)."""
    t = F.col("toks")
    return (
        state.select(
            "cnt",
            F.explode(
                F.when(
                    F.size(t) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - 1),
                        lambda i: F.struct(
                            F.element_at(t, i).alias("lhs"),
                            F.element_at(t, i + 1).alias("rhs"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<lhs:string,rhs:string>>")
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("pc"))
    )


@query("text_bpe_train", oracle=_BPE_ORACLE)
def text_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING (Sennrich et al. '16): learn the first 3
    merge rules of a byte-pair-encoding vocabulary from the corpus — the
    step every LLM data pipeline runs before token counting means
    anything. Classic shape: one corpus-sized pass collapses text to
    (word, count) — BPE statistics live on the word VOCABULARY, which is
    what makes training tractable at 100 TB — then each merge iteration
    runs on the vocab frame alone: corpus-weighted adjacent-pair counts,
    argmax (ties → lexicographically smallest (lhs, rhs) — deterministic),
    and the merge applied to every word as a JVM fold (struct accumulator
    with a one-token lookbehind; left-to-right non-overlapping, so 'aaa'
    under (a,a) becomes [aa, a]). Surface: the 3-row merge table
    (step, lhs, rhs, merged, pair_count) — exactly what a tokenizer
    artifact ships.

    The oracle replays every iteration in SQL: the same pair counts, the
    same tie-broken argmax, and the merge application as a per-word
    recursive-CTE walk carrying (out, pend) — the pack_bins_nextfit
    sequential-replay discipline applied to an iterative algorithm, so
    the driver hash pins all three merge decisions AND their application.

    Plan: one explode + word-count shuffle (corpus-proportional floor);
    per iteration one tiny pair aggregate + a 1-row argmax crossJoin
    (BroadcastNestedLoopJoin by construction) over the vocab frame.
    Char splitting is substr(word, i, 1) — split-on-empty-pattern edge
    semantics differ across engines; this cannot."""
    _, bests = _bpe_trained_state(load(spark, sf_dir, "documents"))
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def _bpe_trained_state(docs):
    """Run the `_BPE_MERGES`-step BPE training loop over `docs`; return
    (final vocab state (word, cnt, toks), [per-step merge-table frames]).
    Shared by `text_bpe_train` (reads the merge table), `text_bpe_encode`
    and `pack_bins_bpe` (read the trained vocabulary)."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Guard the char split: sequence(1, 0) DESCENDS to [1, 0], so an
    # unguarded split turns a zero-length word (consecutive/leading/
    # trailing spaces) into ['',''] and mints phantom ('','') pairs the
    # oracle's range(1, length+1) = [] never sees.
    state = words.select(
        "word",
        "cnt",
        F.when(
            F.length("word") >= 1,
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("toks"),
    )
    bests = []
    for k in range(1, _BPE_MERGES + 1):
        best = (
            _bpe_pairs(state)
            .orderBy(F.desc("pc"), "lhs", "rhs")
            .limit(1)
            .select(
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                big("pc").alias("pc"),
            )
        )
        bests.append(best.select(F.lit(k).cast("long").alias("step"), "*"))
        state = state.crossJoin(F.broadcast(best)).select(
            "word",
            "cnt",
            _bpe_merge_fold(
                F.col("toks"), F.col("lhs"), F.col("rhs")
            ).alias("toks"),
        )
    return state, bests


def _bpe_vocab_lengths(docs):
    """(word, n_bpe): per-vocabulary-word BPE token count under the trained
    merge table. The vocab frame is a groupBy aggregate Catalyst cannot
    size (landmine: it would sort-merge the corpus stream without the
    hint), and is vocabulary-bounded by construction → explicit
    F.broadcast at every consumer."""
    state, _ = _bpe_trained_state(docs)
    return state.select("word", F.size("toks").alias("n_bpe"))


@query("text_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def text_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLICATION — the other half of the train→apply
    lifecycle `text_bpe_train` opens: encode the corpus with the learned
    3-merge vocabulary and emit the per-document BPE token count next to
    the whitespace word count (the number every token-budgeted pipeline
    stage — packing, pricing, context-length filtering — actually needs;
    whitespace counts are a proxy that drifts with morphology).

    BPE's production shape: tokenization is a pure function of the WORD,
    so the corpus never re-runs the merge walk — the trained vocabulary
    (word → token list, bounded by |vocab|, not corpus size) broadcasts,
    and encoding is a map-side hash join of exploded corpus words against
    it, followed by one per-doc aggregation shuffle. The inner join is
    total by construction (the vocabulary was trained on this corpus).

    Oracle: the shared `_BPE_CTES` chain replays training (pair counts,
    tie-broken argmax, recursive-CTE merge walks) to the same trained
    state, then joins and aggregates identically — the driver hash pins
    the merges AND their corpus-wide application."""
    docs = load(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        dw.join(F.broadcast(_bpe_vocab_lengths(docs)), "word")
        .groupBy("doc_id")
        .agg(
            big(F.count(F.lit(1))).alias("n_words"),
            big(F.sum("n_bpe")).alias("n_bpe_tok"),
        )
    )


@query("pack_bins_bpe", oracle=_PACK_BPE_ORACLE)
def pack_bins_bpe(spark, sf_dir):
    """`pack_bins_nextfit` with REAL token counts: the next-fit-decreasing
    packing greedy consuming the trained BPE vocabulary's per-doc token
    counts (`text_bpe_encode`) instead of the whitespace proxy — the
    composition a training pipeline actually runs, since bins are sized in
    model tokens, not words. Same greedy, same per-shard Arrow metadata
    shape (`nextfit_pack_counts`); the count change re-orders the
    decreasing sort and moves every bin boundary, all of which the
    recursive-CTE replay oracle re-derives from the trained state."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .join(F.broadcast(_bpe_vocab_lengths(docs)), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_bpe").alias("n_tok"))
    )
    return nextfit_pack_counts(counts)


# --- near-duplicate decontamination (the GPT-3 "dirty document" pass) --------
#
# The gram-overlap gates above count CONTAMINATED GRAMS per training doc; the
# production companion decision (GPT-3 App. C, The Pile, FineWeb) is
# WHOLE-DOCUMENT: a training doc that is a near-duplicate of any benchmark
# doc is removed outright, catching light paraphrases/re-crawls whose
# per-gram overlap might dodge a threshold. Implemented as the asymmetric
# MinHash-banding match (functions/minhash.py `minhash_batch_matches`) with
# the benchmark side as the broadcast-sized batch, over 5-gram shingle sets,
# with the md5-prefix hash family so the DuckDB oracle reproduces the
# banding itself (the dedup_minhash_pairs contract).

_CND_PLANT_BASE = 200000  # planted near-copies: distinct from +100000 (dups)
#                           and +300000 (messy re-crawls) id spaces


def _cnd_oracle() -> str:
    """Oracle composed at import time from the SAME banding constants the
    Spark side uses (minhash_sig_duck/_MH_BAND_EQ at extensions' 16×3
    banding, over the shared MinHash family) — oracle and operator cannot
    drift (the cleaning._NORM_SQL rule). The gram token column is aliased
    `w` because the shared sig SQL hashes the column `w`."""
    from eviction_lab_etl_spark.functions.minhash import minhash_sig_duck
    from eviction_lab_etl_spark.operators.extensions import (
        _MH_BAND_EQ,
        _MH_BANDS,
        _MH_DEN,
        _MH_NUM,
        _MH_ROWS,
    )

    n = _MH_BANDS * _MH_ROWS

    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_CND_PLANT_BASE} AS doc_id,
               text || ' zq zq zq' AS text
        FROM documents WHERE doc_id % 97 = 0
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(l[i : i + {_N - 1}], ' ') AS w
        FROM (SELECT doc_id, l,
                     unnest(range(1, greatest(len(l) - {_N - 1}, 0) + 1)) AS i
              FROM toks)
    ),
    bsig AS ({minhash_sig_duck(n, "grams WHERE doc_id % 97 = 0")}),
    csig AS ({minhash_sig_duck(n, "grams WHERE doc_id % 97 <> 0")}),
    cand AS (
        SELECT b.doc_id AS bench_id, a.doc_id AS train_id
        FROM csig a JOIN bsig b ON
           {_MH_BAND_EQ}
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    iv AS (
        SELECT c.bench_id, c.train_id, count(t2.w) AS inter
        FROM cand c
        JOIN grams t1 ON t1.doc_id = c.bench_id
        LEFT JOIN grams t2 ON t2.doc_id = c.train_id AND t2.w = t1.w
        GROUP BY c.bench_id, c.train_id
    )
    SELECT iv.bench_id, iv.train_id,
           CAST(iv.inter AS BIGINT) AS inter,
           CAST(sb.n + st.n - iv.inter AS BIGINT) AS uni,
           CAST(CASE WHEN {_MH_DEN} * iv.inter
                          >= {_MH_NUM} * (sb.n + st.n - iv.inter)
                THEN 1 ELSE 0 END AS BIGINT) AS near
    FROM iv
    JOIN sz sb ON sb.doc_id = iv.bench_id
    JOIN sz st ON st.doc_id = iv.train_id
    """


@query("contam_neardup", oracle=_cnd_oracle())
def contam_neardup(spark, sf_dir):
    """WHOLE-DOCUMENT near-dup decontamination: every (benchmark doc,
    training doc) banding candidate with its exact 5-gram-Jaccard verdict
    (`near` = J >= 0.6, integer cross-multiplied). The fixture plants a
    near-copy of every benchmark doc on the training side (original text +
    3 junk tokens, id + 200000): exact-hash dedup misses all of them (the
    text differs), this gate flags every one (J ~ 0.98), pinned by
    tests/test_library.py. Emitting candidates WITH the verdict keeps both
    the banding mass and the removal decision in one auditable frame.

    Scale shape (the minhash_batch_matches contract): the benchmark side is
    tiny by construction, so its band buckets AND gram sets ride
    broadcasts; the training corpus pays one signature build (48 min-hash
    longs per doc in a single grouped aggregation — the commit-time LSH
    index a snapshot table materializes once), a map-side broadcast probe
    for candidates, and verification scoped to candidate gram sets. The
    corpus never joins the corpus. Determinism: the shared MinHash family
    (functions/minhash.py — one md5-prefix base hash per gram, then exact
    integer permutations), so the oracle rebuilds the identical signatures,
    bands, candidate set, and verdicts — banding false negatives included."""
    from eviction_lab_etl_spark.functions.minhash import minhash_batch_matches
    from eviction_lab_etl_spark.operators.extensions import (
        _MH_BANDS,
        _MH_DEN,
        _MH_NUM,
        _MH_ROWS,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + _CND_PLANT_BASE).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zq zq zq")).alias("text"),
        )
    )
    tokenized = corpus.select("doc_id", F.split("text", " ").alias("toks"))
    w = F.col("toks")
    grams = tokenized.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.array_join(F.slice(w, i, _N), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("w"),
    )
    bench_tok = grams.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("id"), "w"
    )
    train_tok = grams.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("id"), "w"
    )
    res = minhash_batch_matches(
        bench_tok,
        train_tok,
        threshold=(_MH_NUM, _MH_DEN),
        bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )
    return res.select(
        F.col("b").alias("bench_id"),
        F.col("a").alias("train_id"),
        big("inter").alias("inter"),
        big("uni").alias("uni"),
        big("near").alias("near"),
    )


# --- trained quality classifier (the fastText/CCNet filter's role) -----------

# Per-token log-odds quantum: floor(11767*ln(x/y)). Whole-bit integer
# quantization (the text_lm_nll trick) was measured DEGENERATE here: the
# class distributions differ by ~0.008 bits/token, so flooring each token to
# whole bits collapses every weight to 0/-1 and every doc to pred=0. The
# micro-floor discipline (text_mix_entropy) applies instead: one float
# surface `11767.0 * ln(x/y)` floored per TOKEN WEIGHT (vocabulary-sized,
# not corpus-sized), with the multiplier 11767 searched so every reachable
# (x, y) pair on every shipped fixture sits >= 0.0447 from its floor
# boundary (tests/test_determinism.py pins >= 0.02) -- a 1-ulp libm
# divergence cannot cross. Per-doc scores are integer SUMS of the floored
# weights, so aggregation order cannot move them.
_NBQ_SCALE = "11767.0"


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    c AS (
        SELECT w,
               count(*) FILTER (WHERE lang = 'en') AS cp,
               count(*) FILTER (WHERE lang <> 'en') AS cn
        FROM tok WHERE doc_id % 10 < 3 GROUP BY w
    ),
    tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM c),
    wt AS (
        SELECT w,
               CAST((cp + 1) * (tn + v) AS BIGINT) AS x,
               CAST((cn + 1) * (tp + v) AS BIGINT) AS y
        FROM c, tot
    ),
    wb AS (
        SELECT w,
               CAST(floor({_NBQ_SCALE} * ln(CAST(x AS DOUBLE) / y))
                    AS BIGINT) AS wq
        FROM wt
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(wb.wq) AS BIGINT) AS score_q,
           CAST(CASE WHEN sum(wb.wq) >= 0 THEN 1 ELSE 0 END AS BIGINT)
               AS pred_en
    FROM tok t JOIN wb ON wb.w = t.w
    GROUP BY t.doc_id
    """,
)
def text_quality_classifier(spark, sf_dir):
    """TRAINED quality/domain classifier (the fastText filter's role in
    CCNet/FineWeb: score every crawl doc by a linear model trained
    "target domain vs rest", gate on the score): Naive Bayes over token
    counts, trained on the 30% labeled split (doc_id % 10 < 3; positive
    class = lang 'en'), applied to the FULL corpus. Per-token weight =
    floor(11767*ln(P(w|pos)/P(w|neg))) Laplace-smoothed, quantum 1/11767
    nat -- the text_mix_entropy micro-floor discipline (see _NBQ_SCALE: the
    only float surface is one vocabulary-sized weight table whose floor
    margins are pinned per fixture; per-doc scores are integer sums). Per
    doc: token count, summed log-odds quanta, and the NB decision
    (score >= 0). Unseen-at-train tokens are out of spec by construction
    here (one shared vocabulary); a production apply left-joins and
    coalesces to the smoothing-only weight.

    Scale shape: the MODEL IS A TABLE — class-conditional counts collapse
    to one vocabulary-bounded frame (one shuffle over the labeled
    subset's tokens with map-side partial agg), the totals are a 1-row
    broadcast, and scoring is a broadcast-hash join riding the corpus
    token stream into one per-doc aggregate. Exactly how a shipped
    fastText/NB model deploys on a cluster: broadcast the weights, never
    shuffle the corpus against them."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    c = (
        tok.filter(F.col("doc_id") % 10 < 3)
        .groupBy("w")
        .agg(
            F.count_if(F.col("lang") == "en").alias("cp"),
            F.count_if(F.col("lang") != "en").alias("cn"),
        )
    )
    tot = c.agg(
        F.sum("cp").alias("tp"),
        F.sum("cn").alias("tn"),
        F.count(F.lit(1)).alias("v"),
    )
    wt = c.join(F.broadcast(tot)).select(
        "w",
        ((F.col("cp") + 1) * (F.col("tn") + F.col("v")))
        .cast("long")
        .alias("x"),
        ((F.col("cn") + 1) * (F.col("tp") + F.col("v")))
        .cast("long")
        .alias("y"),
    )
    wb = wt.select(
        "w",
        F.expr(
            f"CAST(floor({_NBQ_SCALE} * ln(CAST(x AS DOUBLE) / y)) AS BIGINT)"
        ).alias("wq"),
    )
    return (
        tok.join(F.broadcast(wb), "w")
        .groupBy("doc_id")
        .agg(
            big(F.count(F.lit(1))).alias("n_toks"),
            big(F.sum("wq")).alias("score_q"),
            F.when(F.sum("wq") >= 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("pred_en"),
        )
    )


# --- surgical span-level decontamination --------------------------------------


@query(
    "contam_span_remove",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    g AS (
        SELECT doc_id, i.i AS i,
               array_to_string(
                   list_slice(toks, i.i, i.i + {_N - 1}), ' ') AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, greatest(n - {_N - 1}, 0) + 1)) AS i
        ) i
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    cov AS (
        SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + {_N})) AS p
        FROM g JOIN bench USING (gram) WHERE g.doc_id % 97 <> 0
    ),
    ptok AS (
        SELECT doc_id, p.p AS p, toks[p.p] AS tok
        FROM t, LATERAL (SELECT unnest(range(1, n + 1)) AS p) p
        WHERE doc_id % 97 <> 0
    ),
    kept AS (
        SELECT ptok.doc_id, ptok.p, ptok.tok
        FROM ptok ANTI JOIN cov ON ptok.doc_id = cov.doc_id AND ptok.p = cov.p
    ),
    cl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(tok, ' ' ORDER BY p) AS clean
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_toks,
           CAST(t.n - coalesce(cl.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(cl.clean, '') AS clean_text
    FROM t LEFT JOIN cl USING (doc_id)
    WHERE t.doc_id % 97 <> 0
    """,
)
def contam_span_remove(spark, sf_dir):
    """SURGICAL decontamination: instead of dropping a contaminated
    training document (`contam_neardup`) or merely counting its
    contaminated grams (`contam_ngram_overlap`), delete exactly the token
    positions covered by a 5-gram that occurs anywhere in the eval set
    (doc_id % 97 == 0), and re-emit the document from its surviving tokens
    — the span-granular removal some pipelines prefer when a doc is mostly
    clean (the Lee et al. machinery of `text_dup_span_remove`, re-aimed
    from intra-corpus dups to the train/eval boundary; same `_N` spec as
    the contam family, so ledger and removal can never disagree about what
    counts as contaminated).

    Scale shape — BETTER than the dup-span sibling because the span source
    is the tiny side: the bench gram set BROADCASTS (no gram-keyed corpus
    exchange at all; the dup form needs two), the hit test rides map-side
    over the training gram stream, the covered-position expand is ×5 of
    FLAGGED positions only (output-proportional), and the anti join +
    rebuild shuffle the token stream on the doc key. No Python, no
    window, no pair space."""
    docs = load(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    base = tokenized.select("doc_id", "toks", F.size(toks).alias("n"))
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.col("n") >= _N,
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - (_N - 1)),
                    lambda i: F.array_join(F.slice(toks, i, _N), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("i0", "gram"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "gram")
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    )
    covered = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (_N - 1))).alias(
                "p"
            ),
        )
        .distinct()
    )
    train_base = base.filter(F.col("doc_id") % 97 != 0)
    ptok = train_base.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = ptok.join(covered, ["doc_id", "p"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        big(F.count(F.lit(1))).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean"),
    )
    return train_base.join(cleaned, "doc_id", "left").select(
        "doc_id",
        big(F.col("n")).alias("n_toks"),
        big(F.col("n") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean"), F.lit("")).alias("clean_text"),
    )


# --- token-budget apportionment across mixture groups -------------------------

_MIX_BUDGET = 1_000_000  # tokens to apportion across (lang, source) groups


def apportion_budget(groups, budget: int):
    """Largest-remainder apportionment core: given a (lang, source, w) group
    frame, return (lang, source, w, rnk, alloc) with Σ alloc == budget.
    floor(B·w/N) per group, then the B − Σfloor leftover units go to the
    largest fractional remainders, tie-broken on the group key — a total
    order. Products in DECIMAL(38,0) (the PMI overflow discipline): B·w
    exceeds the int64 envelope once a group holds ~10^13 chars, which a
    100 TB corpus does. All windows run on the |langs|·|sources| group
    frame — nothing corpus-sized."""
    from pyspark.sql import Window

    wall = Window.partitionBy()
    t = groups.select("lang", "source", "w", F.sum("w").over(wall).alias("n"))
    f = t.select(
        "lang",
        "source",
        "w",
        F.expr(
            f"CAST((CAST({budget} AS DECIMAL(38,0)) * w) div n AS BIGINT)"
        ).alias("base"),
        F.expr(
            f"CAST((CAST({budget} AS DECIMAL(38,0)) * w) % n AS BIGINT)"
        ).alias("frac"),
    )
    wr = Window.orderBy(F.col("frac").desc(), "lang", "source")
    r = f.select(
        "lang",
        "source",
        "w",
        "base",
        (F.lit(budget) - F.sum("base").over(wall)).cast("long").alias("rem"),
        F.row_number().over(wr).cast("long").alias("rnk"),
    )
    return r.select(
        "lang",
        "source",
        "w",
        "rnk",
        (F.col("base") + F.when(F.col("rnk") <= F.col("rem"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    )


@query(
    "mix_budget_alloc",
    oracle=f"""
    WITH g AS (
        SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS w
        FROM documents GROUP BY lang, source
    ),
    t AS (
        SELECT lang, source, w, CAST(sum(w) OVER () AS BIGINT) AS n FROM g
    ),
    f AS (
        SELECT lang, source, w,
               CAST((CAST({_MIX_BUDGET} AS HUGEINT) * w) // n AS BIGINT)
                 AS base,
               CAST((CAST({_MIX_BUDGET} AS HUGEINT) * w) % n AS BIGINT)
                 AS frac
        FROM t
    ),
    r AS (
        SELECT lang, source, w, base,
               CAST({_MIX_BUDGET} - sum(base) OVER () AS BIGINT) AS rem,
               CAST(row_number() OVER (ORDER BY frac DESC, lang, source)
                    AS BIGINT) AS rnk
        FROM f
    )
    SELECT lang, source, w, rnk,
           CAST(base + (CASE WHEN rnk <= rem THEN 1 ELSE 0 END) AS BIGINT)
             AS alloc
    FROM r
    """,
)
def mix_budget_alloc(spark, sf_dir):
    """Largest-remainder apportionment of a fixed token budget across the
    (lang, source) mixture groups, proportional to group weight — the exact
    integer form of a training-mixture table (each group's final row count /
    token draw must be an INTEGER, and the draws must sum to the budget
    EXACTLY; naive rounding breaks both). Core in ``apportion_budget``
    (property-tested under hypothesis: Σ alloc == B, per-group alloc ∈
    {floor, floor+1}, python-replica rank agreement); the driver hash pins
    the whole apportionment including the tie policy.

    Scale shape: one (lang, source)-keyed aggregate over the corpus with
    map-side collapse (the agg_sum_groupby floor); everything after runs on
    the group frame — window keys and products included."""
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").cast("long").alias("w"))
    )
    return apportion_budget(g, _MIX_BUDGET)


# --- deterministic round-robin interleave across sources ----------------------

_ILV_BUCKET = 256  # doc_id range per rank bucket (two-phase sequence assign)


@query(
    "pack_interleave_sources",
    oracle="""
    WITH s AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx
        FROM (SELECT DISTINCT source FROM documents)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM s),
    r AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                    AS BIGINT) AS rank_in_src
        FROM documents
    )
    SELECT r.doc_id, r.source, r.rank_in_src,
           CAST((r.rank_in_src - 1) * n.n_src + s.src_idx AS BIGINT) AS pos
    FROM r JOIN s USING (source) CROSS JOIN n
    """,
)
def pack_interleave_sources(spark, sf_dir):
    """Deterministic round-robin interleave of the corpus across sources —
    the training-order shuffle that guarantees every window of the stream
    sees every source at its mixture rate (a source-sorted corpus gives the
    optimizer hours of one domain; an RNG shuffle is irreproducible).
    pos = (rank_in_source − 1)·S + source_index: a total, gap-free-per-round
    order the driver hash pins end to end.

    The interesting part at 100 TB is rank_in_source: the textbook
    row_number() window partitions on source — a HANDFUL of hot keys, each
    funneling its whole slice through one reducer. This implementation uses
    the two-phase distributed sequence assignment instead: (1) doc_ids are
    range-bucketed (div {bucket}); per-(source, bucket) counts — a tiny
    frame — cumulate into per-bucket START OFFSETS broadcast back; (2) each
    row takes offset + its rank WITHIN its (source, bucket) cell, a window
    over fine-grained keys with no hot reducer. The oracle states the
    logical spec (plain per-source row_number), so the driver hash pins the
    two-phase plan's equivalence to it; src_idx/S ride 1-row / |sources|-row
    broadcasts."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(f"doc_id div {_ILV_BUCKET}").alias("bkt")
    )
    counts = docs.groupBy("source", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
    wo = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "source", "bkt", F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("off")
    )
    srcs = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.row_number()
            .over(Window.orderBy("source"))
            .cast("long")
            .alias("src_idx"),
        )
    )
    n_src = srcs.agg(F.count(F.lit(1)).cast("long").alias("n_src"))
    wl = Window.partitionBy("source", "bkt").orderBy("doc_id")
    ranked = (
        docs.withColumn("local_rk", F.row_number().over(wl))
        .join(F.broadcast(offsets), ["source", "bkt"])
        .join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(n_src))
    )
    return ranked.select(
        "doc_id",
        "source",
        (F.col("off") + F.col("local_rk")).cast("long").alias("rank_in_src"),
        (
            (F.col("off") + F.col("local_rk") - 1) * F.col("n_src")
            + F.col("src_idx")
        )
        .cast("long")
        .alias("pos"),
    )


@query(
    "mix_epoch_plan",
    oracle=f"""
    WITH g AS (
        SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS w
        FROM documents GROUP BY lang, source
    ),
    t AS (
        SELECT lang, source, w, CAST(sum(w) OVER () AS BIGINT) AS n FROM g
    ),
    f AS (
        SELECT lang, source, w,
               CAST((CAST({_MIX_BUDGET} AS HUGEINT) * w) // n AS BIGINT)
                 AS base,
               CAST((CAST({_MIX_BUDGET} AS HUGEINT) * w) % n AS BIGINT)
                 AS frac
        FROM t
    ),
    r AS (
        SELECT lang, source, w, base,
               CAST({_MIX_BUDGET} - sum(base) OVER () AS BIGINT) AS rem,
               CAST(row_number() OVER (ORDER BY frac DESC, lang, source)
                    AS BIGINT) AS rnk
        FROM f
    ),
    alloc AS (
        SELECT lang, source, w,
               CAST(base + (CASE WHEN rnk <= rem THEN 1 ELSE 0 END) AS BIGINT)
                 AS alloc
        FROM r
    )
    SELECT lang, source, w, alloc,
           CAST(alloc // w AS BIGINT) AS epochs,
           CAST(alloc % w AS BIGINT) AS partial_draw
    FROM alloc
    """,
)
def mix_epoch_plan(spark, sf_dir):
    """The executable form of the mixture table: each group's exact token
    allocation (``apportion_budget``) decomposed into FULL EPOCHS over the
    group plus a partial remainder draw — how a data loader actually
    realizes an upsampled mixture (repeat the shard `epochs` times, then
    take a deterministic `partial_draw`-token prefix of one more pass).
    epochs·w + partial_draw == alloc by construction, and Σ alloc == B
    carries over from the apportionment — both pinned in tests. Same group
    frame, one more map-side division; no new exchange."""
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").cast("long").alias("w"))
    )
    a = apportion_budget(g, _MIX_BUDGET)
    return a.select(
        "lang",
        "source",
        "w",
        "alloc",
        F.expr("alloc div w").cast("long").alias("epochs"),
        (F.col("alloc") % F.col("w")).cast("long").alias("partial_draw"),
    )


@query(
    "resample_epoch_realize",
    oracle=f"""
    WITH g AS (
        SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS w
        FROM documents GROUP BY lang, source
    ),
    t AS (
        SELECT lang, source, w, CAST(sum(w) OVER () AS BIGINT) AS n FROM g
    ),
    f AS (
        SELECT lang, source, w,
               CAST((CAST({_MIX_BUDGET} AS HUGEINT) * w) // n AS BIGINT)
                 AS base,
               CAST((CAST({_MIX_BUDGET} AS HUGEINT) * w) % n AS BIGINT)
                 AS frac
        FROM t
    ),
    r AS (
        SELECT lang, source, w, base,
               CAST({_MIX_BUDGET} - sum(base) OVER () AS BIGINT) AS rem,
               CAST(row_number() OVER (ORDER BY frac DESC, lang, source)
                    AS BIGINT) AS rnk
        FROM f
    ),
    plan AS (
        SELECT lang, source, w,
               CAST(base + (CASE WHEN rnk <= rem THEN 1 ELSE 0 END) AS BIGINT)
                 AS alloc
        FROM r
    ),
    shuffled AS (
        SELECT lang, source, doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS shuf
        FROM documents
    ),
    cum AS (
        SELECT lang, source, n_chars,
               CAST(coalesce(sum(n_chars) OVER (
                    PARTITION BY lang, source ORDER BY shuf, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
        FROM shuffled
    )
    SELECT p.lang, p.source, p.w, p.alloc,
           CAST(p.alloc // p.w AS BIGINT) AS epochs,
           CAST(p.alloc % p.w AS BIGINT) AS partial_draw,
           CAST(count(*) FILTER (WHERE c.cum_before < p.alloc % p.w)
                AS BIGINT) AS n_partial_docs,
           CAST(coalesce(sum(c.n_chars)
                FILTER (WHERE c.cum_before < p.alloc % p.w), 0) AS BIGINT)
             AS chars_partial,
           CAST((p.alloc // p.w) * p.w
                + coalesce(sum(c.n_chars)
                    FILTER (WHERE c.cum_before < p.alloc % p.w), 0)
                AS BIGINT) AS realized_chars
    FROM plan p JOIN cum c ON c.lang = p.lang AND c.source = p.source
    GROUP BY p.lang, p.source, p.w, p.alloc
    """,
)
def resample_epoch_realize(spark, sf_dir):
    """Materialize the mixture plan: for each (lang, source) group, the
    epoch decomposition of its exact allocation is REALIZED against the
    actual documents — full epochs replay the whole group, and the partial
    epoch takes a deterministic-shuffle prefix (order by an md5-derived
    key, the split_content_hash family) until the cumulative character
    count covers the partial draw (the top-p inclusion rule: take while
    mass BEFORE the doc is under the target, so coverage is guaranteed and
    the overshoot is bounded by one document). This is the step that turns
    the planner's integers into an executable training list; the ledger
    (docs taken, chars realized, overshoot-bearing realized total) is what
    a run manifest records. Invariants pinned in tests:
    realized ≥ alloc − 1 (exact when partial_draw lands on a doc boundary;
    ≥ alloc whenever partial_draw > 0), overshoot < the group's max doc.

    Scale shape: one (lang, source)-keyed aggregate for weights (the
    agg_sum_groupby floor), the planner windows on the tiny group frame,
    then ONE more corpus exchange for the per-group shuffle-order running
    sum — the pack_concat_chunks window class (fine under per-group keys) —
    and a broadcast of the |groups|-row plan back onto it. The corpus is
    scanned twice (weights, prefix) — a deployment caches the group frame
    or derives weights from table stats."""
    from pyspark.sql import Window

    g = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").cast("long").alias("w"))
    )
    plan = apportion_budget(g, _MIX_BUDGET).select(
        "lang",
        "source",
        "w",
        "alloc",
        F.expr("alloc div w").cast("long").alias("epochs"),
        (F.col("alloc") % F.col("w")).cast("long").alias("partial_draw"),
    )
    # hex→int: Spark `conv`, DuckDB `'0x'||` cast — the row_digest pairing.
    shuf = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    wc = (
        Window.partitionBy("lang", "source")
        .orderBy("shuf", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        load(spark, sf_dir, "documents")
        .select(
            "lang", "source", F.col("n_chars").cast("long").alias("n_chars"),
            shuf.alias("shuf"), "doc_id",
        )
        .withColumn("cum_before", F.coalesce(F.sum("n_chars").over(wc), F.lit(0)))
    )
    joined = cum.join(F.broadcast(plan), ["lang", "source"])
    taken = F.col("cum_before") < F.col("partial_draw")
    return joined.groupBy(
        "lang", "source", "w", "alloc", "epochs", "partial_draw"
    ).agg(
        F.sum(F.when(taken, 1).otherwise(0)).cast("long").alias("n_partial_docs"),
        F.coalesce(F.sum(F.when(taken, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("chars_partial"),
        (
            F.first("epochs") * F.first("w")
            + F.coalesce(F.sum(F.when(taken, F.col("n_chars"))), F.lit(0))
        )
        .cast("long")
        .alias("realized_chars"),
    )


# --- composed decontamination pipeline (normalize -> exact -> gram ledger) ----

# The contam_* family provides the STAGES; production runs them as one
# FUNNEL (GPT-3 App. C / FineWeb decontamination): normalize everything,
# drop byte-equal (post-normalization) re-crawls of benchmark docs, then
# drop surviving docs whose distinct-5-gram contamination fraction crosses a
# threshold, and report per-shard attrition so the removal is auditable.
# The universe plants one case per stage (the contam_normalized /
# contam_neardup convention):
#   - messy re-crawls of every benchmark doc (id + 300000): byte-exact dedup
#     misses them, the NORMALIZED exact gate must drop every one (stage A);
#   - span plants (id + 500000, doc_id % 89 == 1): a clean training doc with
#     a 30-token PREFIX of its nearest benchmark doc appended — they pass
#     the exact gate (text differs) but carry >= ~15 contaminated grams
#     (>= 120 permille of their gram set at the fixture's longest docs), so
#     the gram stage must drop every one (stage B). Naturals are NOT
#     guaranteed clean: the base corpus contains docs whose text naturally
#     coincides with a benchmark doc's (100% gram containment) — the gram
#     stage correctly drops those too, and the test attributes every drop
#     to its id space rather than pretending only plants exist.

_PDC_PERMILLE = 100   # drop when contaminated grams >= 10% of the doc's grams
_PDC_SPAN_TOKENS = 30
_PDC_SPAN_BASE = 500000


def _pdc_universe_sql() -> str:
    return f"""
    messy AS ({fixtures.DOCUMENTS_MESSY_SQL}),
    plants AS (
        SELECT d.doc_id + {_PDC_SPAN_BASE} AS doc_id,
               d.text || ' ' ||
               array_to_string(string_split(b.text, ' ')[1:{_PDC_SPAN_TOKENS}], ' ')
                   AS raw
        FROM documents d
        JOIN documents b ON b.doc_id = (d.doc_id // 97) * 97
        WHERE d.doc_id % 89 = 1 AND d.doc_id % 97 <> 0
    ),
    train AS (
        SELECT doc_id, raw FROM messy WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, raw FROM messy WHERE doc_id % 97 = 0
        UNION ALL
        SELECT doc_id, raw FROM plants
    )
"""


@query(
    "pipeline_decontaminate",
    oracle=f"""
    WITH {_pdc_universe_sql()},
    bench AS (
        SELECT doc_id, {_CN_NORM.format(col="text")} AS norm
        FROM documents WHERE doc_id % 97 = 0
    ),
    bench_md5 AS (SELECT DISTINCT md5(norm) AS h FROM bench),
    btoks AS (SELECT doc_id, string_split(norm, ' ') AS l FROM bench),
    bgrams AS (SELECT DISTINCT gram FROM ({_CN_GRAMS.format(src="btoks")})),
    normed AS (
        SELECT doc_id, doc_id % 5 AS shard,
               {_CN_NORM.format(col="raw")} AS norm
        FROM train
    ),
    flagged AS (
        SELECT n.doc_id, n.shard, n.norm,
               CAST(bm.h IS NOT NULL AS BIGINT) AS exact_drop
        FROM normed n LEFT JOIN bench_md5 bm ON md5(n.norm) = bm.h
    ),
    stoks AS (
        SELECT doc_id, string_split(norm, ' ') AS l
        FROM flagged WHERE exact_drop = 0
    ),
    sgrams AS ({_CN_GRAMS.format(src="stoks")}),
    gled AS (
        SELECT g.doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM sgrams g LEFT JOIN bgrams b ON g.gram = b.gram
        GROUP BY g.doc_id
    ),
    part1 AS (
        SELECT shard, CAST(count(*) AS BIGINT) AS n_in,
               CAST(sum(exact_drop) AS BIGINT) AS n_exact
        FROM flagged GROUP BY shard
    ),
    part2 AS (
        SELECT doc_id % 5 AS shard,
               CAST(sum(CASE WHEN 1000 * n_hit >= {_PDC_PERMILLE} * n_grams
                             AND n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gram,
               CAST(sum(n_grams) AS BIGINT) AS grams_total,
               CAST(sum(n_hit) AS BIGINT) AS grams_hit
        FROM gled GROUP BY doc_id % 5
    )
    SELECT p1.shard, p1.n_in, p1.n_exact,
           CAST(coalesce(p2.n_gram, 0) AS BIGINT) AS n_gram,
           CAST(p1.n_in - p1.n_exact - coalesce(p2.n_gram, 0) AS BIGINT)
               AS n_clean,
           CAST(coalesce(p2.grams_total, 0) AS BIGINT) AS grams_total,
           CAST(coalesce(p2.grams_hit, 0) AS BIGINT) AS grams_hit
    FROM part1 p1 LEFT JOIN part2 p2 ON p2.shard = p1.shard
    """,
)
def pipeline_decontaminate(spark, sf_dir):
    """The decontamination FUNNEL end to end as one declarative plan:
    normalize -> exact (normalized-md5) re-crawl gate -> distinct-5-gram
    contamination threshold -> per-shard attrition ledger (n_in, n_exact,
    n_gram, n_clean, gram mass inspected/hit). See the module comment for
    the planted case per stage.

    Scale shape: the benchmark side is tiny by construction, so BOTH its
    artifacts broadcast (the normalized-md5 set for stage A, the gram set
    for stage B); the training corpus is normalized in the scan projection,
    crosses one doc-keyed exchange for the per-doc gram ledger, and
    collapses map-side into the 5-row shard report. The corpus never joins
    the corpus; every stage constant is shared with the oracle string
    (fold tables, gram width, threshold), so they cannot drift."""
    from eviction_lab_etl_spark.operators.cleaning import normalize_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    messy = fixtures.documents_messy(spark, sf_dir)
    d = F.col("doc_id")
    recrawls = messy.filter(d % 97 == 0).select(
        (d + 300000).alias("doc_id"), "raw"
    )
    bench_docs = docs.filter(d % 97 == 0)
    plants = (
        docs.filter((d % 89 == 1) & (d % 97 != 0))
        .withColumn("b_id", F.expr("(doc_id div 97) * 97"))
        .join(
            F.broadcast(
                bench_docs.select(
                    F.col("doc_id").alias("b_id"), F.col("text").alias("btext")
                )
            ),
            "b_id",
        )
        .select(
            (d + _PDC_SPAN_BASE).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(
                    F.slice(F.split("btext", " "), 1, _PDC_SPAN_TOKENS), " "
                ),
            ).alias("raw"),
        )
    )
    train = (
        messy.filter(d % 97 != 0).select("doc_id", "raw")
        .unionByName(recrawls)
        .unionByName(plants)
    )

    bench_norm = bench_docs.select(normalize_text("text").alias("norm"))
    bench_md5 = bench_norm.select(F.md5("norm").alias("h")).distinct()
    btoks = bench_norm.select(F.split("norm", " ").alias("l"))
    w = F.col("l")
    bgrams = btoks.select(
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.array_join(F.slice(w, i, _N), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("gram")
    ).distinct()

    normed = train.select(
        "doc_id", (d % 5).alias("shard"), normalize_text("raw").alias("norm")
    )
    flagged = normed.join(
        F.broadcast(bench_md5.withColumn("bm", F.lit(1))),
        F.md5("norm") == F.col("h"),
        "left",
    ).select(
        "doc_id",
        "shard",
        "norm",
        F.coalesce(F.col("bm"), F.lit(0)).cast("long").alias("exact_drop"),
    )
    stoks = flagged.filter(F.col("exact_drop") == 0).select(
        "doc_id", F.split("norm", " ").alias("l")
    )
    sgrams = stoks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.array_join(F.slice(w, i, _N), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("gram"),
    )
    gled = (
        sgrams.join(
            F.broadcast(bgrams.withColumn("hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    part1 = flagged.groupBy("shard").agg(
        big(F.count(F.lit(1))).alias("n_in"),
        big(F.sum("exact_drop")).alias("n_exact"),
    )
    part2 = gled.groupBy((F.col("doc_id") % 5).alias("shard")).agg(
        big(
            F.sum(
                F.when(
                    (1000 * F.col("n_hit") >= _PDC_PERMILLE * F.col("n_grams"))
                    & (F.col("n_hit") > 0),
                    1,
                ).otherwise(0)
            )
        ).alias("n_gram"),
        big(F.sum("n_grams")).alias("grams_total"),
        big(F.sum("n_hit")).alias("grams_hit"),
    )
    zero = F.lit(0).cast("long")
    # part2 is <= 5 rows by construction (shard = doc_id % 5): pin the
    # broadcast so the static plan never shows a sort-merge on the report
    # join (AQE would convert it at runtime anyway; the pin makes the
    # PLANS.md row honest pre-execution too).
    return part1.join(F.broadcast(part2), "shard", "left").select(
        "shard",
        "n_in",
        "n_exact",
        F.coalesce(F.col("n_gram"), zero).alias("n_gram"),
        (
            F.col("n_in") - F.col("n_exact") - F.coalesce(F.col("n_gram"), zero)
        ).alias("n_clean"),
        F.coalesce(F.col("grams_total"), zero).alias("grams_total"),
        F.coalesce(F.col("grams_hit"), zero).alias("grams_hit"),
    )
