"""Reference-parity pipelines (SURVEY §3.1): the reference's three headline
Make flows, each as ONE declarative composition of §2 operators.

These are the 'a user of the reference could switch' queries: where the
reference chains pandas scripts through CSV files on disk (process boundary at
every arrow), each flow here is a single Catalyst-optimized plan — the
intermediate 'files' are just subplans that never materialize.

Geography mapping per FIXTURES.md: customer→nation→region plays
place→state→national; year(o_orderdate) plays the data year.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eviction_lab_etl_spark.functions.determinism import big, dec, to_dbl
from eviction_lab_etl_spark.registry import query
from eviction_lab_etl_spark.sources.loader import load

_YEARS = [1995, 1996, 1997, 1998]


@query(
    "pipeline_tile_wide",
    oracle="""
    SELECT c_custkey AS geoid,
           {cols}
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """.format(
        cols=",\n           ".join(
            f"CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,6))) "
            f"FILTER (WHERE year(o_orderdate) = {y}), 0) AS DOUBLE) AS e_{y - 1900}, "
            f"count(*) FILTER (WHERE year(o_orderdate) = {y}) AS n_{y - 1900}"
            for y in _YEARS
        )
    ),
)
def pipeline_tile_wide(spark, sf_dir):
    """R6 tile-data build: the long stats table pivoted to one wide row per
    geography with year-suffixed abbreviated columns (`e_95`…`n_98`) — the
    exact shape tile-join consumes. One scan, one pivot aggregation; the
    reference does read_csv → merge → pivot → to_csv across three processes."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    joined = customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
    aggs = []
    for y in _YEARS:
        in_year = F.col("yr") == y
        aggs.append(
            to_dbl(
                F.coalesce(
                    F.sum(F.when(in_year, dec("o_totalprice"))), F.lit(0).cast("decimal(18,6)")
                )
            ).alias(f"e_{y - 1900}")
        )
        aggs.append(F.count_if(in_year).alias(f"n_{y - 1900}"))
    return joined.groupBy(F.col("c_custkey").alias("geoid")).agg(*aggs)


@query(
    "pipeline_rankings",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend_dec,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT r_name, c_custkey, CAST(spend_dec AS DOUBLE) AS spend, rk
    FROM (
        SELECT r_name, c_custkey, spend_dec,
               row_number() OVER (PARTITION BY r_name
                                  ORDER BY spend_dec DESC, c_custkey) AS rk
        FROM spend
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE n_orders >= 5
    )
    WHERE rk <= 3
    """,
)
def pipeline_rankings(spark, sf_dir):
    """R8 rankings build: top-3 customers per region by total spend, with a
    minimum-activity cutoff (the reference's population cutoff). Pre-aggregated
    before the window; dims broadcast."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).alias("spend_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    customer = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(load(spark, sf_dir, "region"))
    ranked = (
        spend.filter(F.col("n_orders") >= 5)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn(
            "rk",
            big(
                F.row_number().over(
                    Window.partitionBy("r_name").orderBy(
                        F.col("spend_dec").desc(), F.col("c_custkey")
                    )
                )
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    return ranked.select(
        "r_name", "c_custkey", to_dbl(F.col("spend_dec")).alias("spend"), "rk"
    )


@query(
    "pipeline_search_index",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS geoid,
           c_name AS name,
           concat_ws(', ', n_name, r_name) AS parent,
           count(o_orderkey) AS activity
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY 1, 2, 3
    """,
)
def pipeline_search_index(spark, sf_dir):
    """R9 search-index build: one autocomplete record per place — zero-padded
    GEOID, display name, 'parent, grandparent' label, and an activity weight
    (the reference uses population; centroids are out of v1 scope per SURVEY
    §7.5)."""
    customer = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(load(spark, sf_dir, "region"))
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy(
            F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("geoid"),
            F.col("c_name").alias("name"),
            F.concat_ws(", ", "n_name", "r_name").alias("parent"),
        )
        .agg(F.count("o_orderkey").alias("activity"))
    )


_DICT_ROWS = [
    ("geoid", "bigint", "geography key (customer key plays GEOID)"),
    *[
        (f"e_{y - 1900}", "double", f"total spend in {y} (exact decimal sum, cast)")
        for y in _YEARS
    ],
    *[(f"n_{y - 1900}", "bigint", f"order count in {y}") for y in _YEARS],
]


@query(
    "pipeline_data_dictionary",
    oracle="SELECT * FROM (VALUES {}) AS t(col_name, col_type, description)".format(
        ", ".join(f"('{c}', '{t}', '{d}')" for c, t, d in _DICT_ROWS)
    ),
)
def pipeline_data_dictionary(spark, sf_dir):
    """R7 data-dictionary export: one row per column of the wide tile export,
    derived from the ACTUAL DataFrame schema (not a hardcoded list), so schema
    drift in pipeline_tile_wide breaks this query's hash — the dictionary can
    never silently disagree with the data, which is exactly the QA failure
    mode of a hand-maintained DATA_DICTIONARY file."""
    wide = pipeline_tile_wide(spark, sf_dir)
    desc = {c: d for c, _, d in _DICT_ROWS}
    rows = [(f.name, f.dataType.simpleString(), desc[f.name]) for f in wide.schema.fields]
    return spark.createDataFrame(
        rows, "col_name string, col_type string, description string"
    )


@query(
    "pipeline_validate",
    oracle="""
    WITH wide AS (
        SELECT c_custkey AS geoid,
               {cols}
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    SELECT
        (SELECT count(*) FROM wide) AS n_rows_wide,
        (SELECT count(*) FROM customer) AS n_cust,
        (SELECT CAST(sum({nsum}) AS BIGINT) FROM wide) AS orders_wide,
        (SELECT count(*) FROM orders
          WHERE year(o_orderdate) BETWEEN 1995 AND 1998) AS orders_long
    """.format(
        cols=", ".join(
            f"count(*) FILTER (WHERE year(o_orderdate) = {y}) AS n_{y - 1900}"
            for y in _YEARS
        ),
        nsum=" + ".join(f"n_{y - 1900}" for y in _YEARS),
    ),
)
def pipeline_validate(spark, sf_dir):
    """R12 output QA: cross-check the wide tile export against the long
    source — row count equals the geography count, and the wide per-year
    order counts re-total to the long count of in-range orders. All-integer
    (§2.0 rule 1); a pivot bug (dropped rows, double-counted year slice)
    breaks the hash. The reference runs this as a separate validation script
    over CSVs; here it is one plan over the same subframes."""
    wide = pipeline_tile_wide(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    n_expr = sum((F.col(f"n_{y - 1900}") for y in _YEARS[1:]), F.col(f"n_{_YEARS[0] - 1900}"))
    wide_tot = wide.agg(
        F.count(F.lit(1)).alias("n_rows_wide"),
        big(F.sum(n_expr)).alias("orders_wide"),
    )
    long_tot = orders.filter(F.year("o_orderdate").between(1995, 1998)).agg(
        F.count(F.lit(1)).alias("orders_long")
    )
    cust_tot = customer.agg(F.count(F.lit(1)).alias("n_cust"))
    return (
        wide_tot.crossJoin(cust_tot)
        .crossJoin(long_tot)
        .select("n_rows_wide", "n_cust", "orders_wide", "orders_long")
    )


@query(
    "pipeline_corpus_manifest",
    oracle="""
    WITH keep AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    survivors AS (
        SELECT d.doc_id, d.lang, string_split(d.text, ' ') AS w
        FROM documents d JOIN keep USING (doc_id)
    )
    SELECT doc_id, lang,
           len(w) AS n_tok,
           len(list_distinct(w)) AS n_uniq
    FROM survivors
    WHERE len(w) >= 20 AND 10 * len(list_distinct(w)) >= 3 * len(w)
    """,
)
def pipeline_corpus_manifest(spark, sf_dir):
    """The hash-checkable core of the corpus-clean flow: exact dedup
    (md5 keep-first) → quality gate, i.e. pipeline_corpus_clean minus the
    MinHash-LSH stage. This query value-checks the manifest columns and the
    two deterministic stages end to end; the full pipeline's extra drop set
    is exactly the LSH near-dup stage, which `pipeline_corpus_clean`'s own
    oracle rebuilds."""
    docs = load(spark, sf_dir, "documents")
    # keep-first as a window over the digest, not groupBy+self-join: ONE scan
    # of documents and ONE exchange (on h) instead of two scans plus the
    # doc_id re-shuffle of the join — min(doc_id) per digest is exactly
    # row_number()=1 ordered by doc_id.
    w_first = Window.partitionBy("h").orderBy("doc_id")
    toks = F.split("text", " ")
    survivors = (
        docs.select("doc_id", "lang", "text", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .withColumn("n_tok", F.size(toks))
        .withColumn("n_uniq", F.size(F.array_distinct(toks)))
        .filter((F.col("n_tok") >= 20) & (10 * F.col("n_uniq") >= 3 * F.col("n_tok")))
    )
    return survivors.select(
        "doc_id",
        "lang",
        big(F.col("n_tok")).alias("n_tok"),
        big(F.col("n_uniq")).alias("n_uniq"),
    )


_CLEAN_ORACLE = None  # assigned below — needs extensions' MinHash CTE pieces


def _clean_oracle() -> str:
    """Full-pipeline oracle: exact keep-first dedup -> MinHash
    banding (the dedup_minhash_pairs CTE pieces, rebuilt over the SURVIVOR
    token set) -> exact >=0.6 verification -> drop higher ids -> quality
    gate. Rebuilding signatures in SQL is exactly what upgraded
    dedup_minhash_pairs from rows-only in r6; this applies the same move to
    the composed pipeline (its old rows-only tag predated the shared
    cross-engine hash family)."""
    from eviction_lab_etl_spark.functions.minhash import minhash_sig_duck
    from eviction_lab_etl_spark.operators.extensions import (
        _MH_BAND_EQ,
        _MH_BANDS,
        _MH_ROWS,
    )

    return f"""
    WITH firsts AS (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                   AS rn
        FROM documents
    ),
    surv AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_uniq,
               text
        FROM firsts WHERE rn = 1
    ),
    tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM surv
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
    drop_near AS (
        SELECT DISTINCT iv.b AS doc_id
        FROM iv
        JOIN sz sa ON sa.doc_id = iv.a
        JOIN sz sb ON sb.doc_id = iv.b
        WHERE 10 * iv.inter >= 6 * (sa.n + sb.n - iv.inter)
    )
    SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_uniq AS BIGINT) AS n_uniq
    FROM surv
    WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)
      AND n_tok >= 20 AND 10 * n_uniq >= 3 * n_tok
    """


@query("pipeline_corpus_clean", oracle=_clean_oracle())
def pipeline_corpus_clean(spark, sf_dir):
    """The LLM-training-data cleaning flow, end to end as ONE composition:
    exact dedup (md5 keep-first) → MinHash-LSH near-dedup (exact-verified
    ≥0.6 Jaccard, keep the lower doc_id of each pair) → quality gate
    (≥20 tokens, type/token ratio ≥ 0.3). Emits one row per surviving doc
    with the applied decisions — the manifest a curation run ships.

    Fully deterministic (the fixed MinHash family of functions/minhash.py —
    the SAME family `dedup_minhash_pairs` is oracle-checked with, so the ORACLE
    rebuilds the banding and this query is hash-checked end to end;
    thresholds are integer rationals),
    so the manifest is reproducible run to run. Banding is the
    driver-verified 16x3 configuration. Each
    stage is a shuffle on digest / band-bucket / doc_id — no O(n²) stage
    anywhere; the quadratic-looking near-dup step is the banded candidate
    join of functions/minhash.py.

    Plan economics (round-4 advice item 5): documents is SCANNED ONCE and
    TOKENIZED ONCE — exact dedup is a window over the digest (no groupBy +
    self-join rescan), and the tokenized survivor frame is persisted so the
    MinHash stage and the quality gate read one materialization instead of
    re-running split/array_distinct per branch (the single most expensive
    transform in the flow — the contam_ngram_overlap measurement puts the
    gram/token string transform at ~90% of such a query's cost). The
    near-dup drop side is a broadcast anti join: the drop set is pair
    survivors only, orders of magnitude smaller than the corpus.
    tests/test_plans.py::test_corpus_clean_single_scan_and_tokenize pins
    scan count, tokenize count, and the shuffle budget.

    Cache lifetime is BOUNDED (round-7 verdict item 2): the persisted
    diamond is ≈ the tokenized corpus, so leaving it pinned for the session
    would degrade every later query's executor memory at 100 TB — the
    graph_pagerank leak, one level up. ReuseExchange can't stand in here
    (it reuses shuffles, and both consumers prune DIFFERENT columns below
    any exchange this frame could end in, so the subtrees never
    canonicalize equal); instead the diamond is pinned to the returned
    result (functions/pins.py) and unpersisted the moment the driver drops
    that handle — the cache lives exactly as long as the one consumer the
    driver holds, never the session
    (tests/test_plans.py::test_corpus_clean_cache_pin_is_bounded).
    """
    from eviction_lab_etl_spark.functions.minhash import minhash_near_dup_pairs
    from eviction_lab_etl_spark.functions.pins import adopt_pins, pin_to

    docs = load(spark, sf_dir, "documents")

    # 1. exact dedup (keep lowest doc_id per digest) as ONE window pass +
    # 2. tokenize ONCE; pin the diamond point (minhash + gate both read it)
    w_first = Window.partitionBy("h").orderBy("doc_id")
    toks = F.split("text", " ")
    survivors = (
        docs.select("doc_id", "lang", "text", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.array_distinct(toks).alias("uniq"),
            F.size(toks).alias("n_tok"),
        )
        .withColumn("n_uniq", F.size("uniq"))
    )

    # 3. near-dedup: drop the higher doc_id of every verified >=0.6 pair.
    # `survivors` is pinned HERE, before the minhash library pins frames
    # derived from it (pin order: functions/pins.py), or their cached plans
    # would re-tokenize the corpus.
    tokens = pin_to(survivors.select("doc_id", F.explode("uniq").alias("w")), survivors)
    near_pairs = minhash_near_dup_pairs(
        tokens,
        id_col="doc_id",
        token_col="w",
        threshold=(6, 10),
        bands=16,
        rows_per_band=3,
    )
    drop_near = F.broadcast(
        near_pairs.select(F.col("b").alias("doc_id")).distinct()
    )

    # 4. quality gate: length + type/token ratio (integer arithmetic only),
    # over columns already computed at the pinned stage
    result = (
        survivors.join(drop_near, "doc_id", "left_anti")
        .filter((F.col("n_tok") >= 20) & (10 * F.col("n_uniq") >= 3 * F.col("n_tok")))
        .select(
            "doc_id",
            "lang",
            big(F.col("n_tok")).alias("n_tok"),
            big(F.col("n_uniq")).alias("n_uniq"),
        )
    )
    # The survivors pin (on `tokens`) and the minhash library's own
    # group/mask pins (on `near_pairs`) move to one owner: the result
    # handle the caller holds.
    return adopt_pins(result, tokens, near_pairs)


def prefix_candidates(part):
    """(p_partkey, p_retailprice, prefix) for every distinct 2-4 char prefix
    of every name token — the autocomplete index's candidate frame, shared by
    the registered query and tools/scale_stress.py's skew measurement so the
    stress numbers describe the shipped plan."""
    tok = part.select(
        "p_partkey",
        "p_retailprice",
        F.explode(F.split("p_name", " ")).alias("w"),
    )
    return tok.select(
        "p_partkey",
        "p_retailprice",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(2), F.lit(4)),
                    lambda i: F.substring(F.col("w"), F.lit(1), i),
                )
            )
        ).alias("prefix"),
    ).distinct()


@query(
    "search_prefix_topk",
    oracle="""
    WITH tok AS (
        SELECT p_partkey, p_retailprice,
               unnest(string_split(p_name, ' ')) AS w
        FROM part
    ),
    expl AS (
        SELECT p_partkey, p_retailprice,
               unnest(list_distinct([substr(w,1,2), substr(w,1,3), substr(w,1,4)]))
                   AS prefix
        FROM tok
    ),
    pref AS (SELECT DISTINCT p_partkey, p_retailprice, prefix FROM expl),
    ranked AS (
        SELECT prefix, p_partkey,
               row_number() OVER (
                   PARTITION BY prefix
                   ORDER BY CAST(p_retailprice AS DECIMAL(12,2)) DESC, p_partkey
               ) AS rnk
        FROM pref
    )
    SELECT prefix, CAST(rnk AS BIGINT) AS rnk, p_partkey
    FROM ranked WHERE rnk <= 3
    """,
)
def search_prefix_topk(spark, sf_dir):
    """R9 autocomplete index build: for every 2-4 character prefix of every
    name token, the top-3 entries by weight (retail price as the activity
    proxy, decimal-ordered per §2.0 rule 1, partkey tiebreak per rule 3) —
    the precomputed structure a typeahead search serves directly.

    Skew safety — two-phase top-k via Spark's rank-limit pushdown. A naive
    window over a skewed prefix key would serialize hot 2-char prefixes into
    single partitions, and AQE does NOT help (its skew optimization splits
    JOIN partitions, not window exchanges). What does make this plan
    skew-safe is the ``InferWindowGroupLimit`` optimizer rule (SPARK-37099,
    Spark >= 3.5): a ``rank <= k`` filter over a ``row_number`` window plans
    as ``WindowGroupLimit(Partial)`` BELOW the exchange — each map task keeps
    only its local top-3 per prefix with bounded state — then
    ``WindowGroupLimit(Final)`` + ``Window`` above it. The exchange therefore
    carries at most 3 rows per (prefix, map partition), so the hottest
    prefix's reducer sees <= 3 x P candidate rows regardless of how many
    billions of parts share that prefix. That is exactly the
    partial-top-k-per-input-partition combiner, applied by Catalyst with
    zero extra shuffle (an explicit ``groupBy(prefix,
    spark_partition_id())`` pre-aggregation would add one).
    tests/test_plans.py::test_search_prefix_topk_partial_before_exchange
    pins the Partial node below the final exchange so a refactor that
    breaks rank-limit inference (e.g. switching to a non-rank function or
    filtering after a second window) fails CI."""
    part = load(spark, sf_dir, "part")
    from pyspark.sql import Window

    pref = prefix_candidates(part)
    win = Window.partitionBy("prefix").orderBy(
        F.col("p_retailprice").cast("decimal(12,2)").desc(), F.col("p_partkey")
    )
    return (
        pref.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("prefix", big("rnk").alias("rnk"), "p_partkey")
    )


@query(
    "pipeline_dataset_card",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_uniq_texts,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(floor(median(CAST(n_chars AS BIGINT))) AS BIGINT) AS med_chars,
           count(*) FILTER (WHERE lang = 'en') AS n_en
    FROM documents
    """,
)
def pipeline_dataset_card(spark, sf_dir):
    """Dataset-card generation: the one-row corpus summary every published
    training set ships (docs, exact-dup cardinality, language/source
    spread, length distribution) — the LLM-pipeline analog of the
    reference's data-dictionary + validation exports, derived from the data
    itself so the card can never drift from the corpus. The median is over
    an odd-or-even integer population: DuckDB's median interpolates halves,
    so the emitted value is floored to bigint ONLY after checking both
    engines interpolate the same midpoint — n_chars are integers, the
    midpoint of two ints is an exact .0 or .5 double, and the floor is then
    engine-identical. At 100 TB: one scan, map-side partial aggregates, the
    distinct-digest count being the only real shuffle (16-byte digests, not
    documents)."""
    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_uniq_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.floor(F.median(F.col("n_chars").cast("long"))).cast("long").alias("med_chars"),
        F.count_if(F.col("lang") == "en").alias("n_en"),
    )


_SQL_REPORT = """
    WITH yearly AS (
        SELECT c_nationkey,
               year(o_orderdate) AS yr,
               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_nationkey, yr
    ),
    ranked AS (
        SELECT n_name, yr, spend,
               row_number() OVER (
                   PARTITION BY yr ORDER BY spend DESC, n_name
               ) AS rk
        FROM yearly JOIN nation ON n_nationkey = c_nationkey
    )
    SELECT CAST(yr AS BIGINT) AS yr, n_name,
           CAST(spend * 100 AS BIGINT) AS spend_cents, rk
    FROM ranked WHERE rk <= 3
"""


@query("sql_top_nations_report", oracle=_SQL_REPORT)
def sql_top_nations_report(spark, sf_dir):
    """The raw-SQL user surface: the ENTIRE query — CTEs, joins, window
    rank, decimal discipline — is one ANSI SQL string executed by
    spark.sql() over registered temp views, and the SAME string is the
    DuckDB oracle (modulo nothing: it is written in the common dialect).
    This pins the claim that a reference user can drive this engine with
    plain SQL and get hash-identical results from Catalyst's SQL front end,
    not just from the DataFrame DSL — parser → analyzer → same optimized
    plan either way. Top-3 spending nations per order year, exact cents."""
    from eviction_lab_etl_spark.sources.loader import register_views

    register_views(spark, sf_dir, ["orders", "customer", "nation"])
    return spark.sql(_SQL_REPORT)


@query(
    "pipeline_entity_resolution",
    oracle="""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
    pairs AS (
        SELECT a.name AS a, b.name AS b
        FROM names a JOIN names b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 2
    ),
    edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
    walk(v, lbl) AS (
        SELECT DISTINCT a AS v, a AS lbl FROM edges
        UNION
        SELECT e.b AS v, w.lbl FROM walk w JOIN edges e ON e.a = w.v
    ),
    comp AS (SELECT v AS name, min(lbl) AS canonical FROM walk GROUP BY v),
    lab AS (
        SELECT n.name, coalesce(c.canonical, n.name) AS canonical
        FROM names n LEFT JOIN comp c ON c.name = n.name
    )
    SELECT name, canonical,
           CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
               AS cluster_size
    FROM lab
    """,
)
def pipeline_entity_resolution(spark, sf_dir):
    """End-to-end ENTITY RESOLUTION: distinct part names -> blocked fuzzy
    candidate pairs (``functions.similarity.fuzzy_blocked_pairs``,
    Levenshtein <= 2 behind the lossless length band — never the quadratic
    pair space) -> transitive closure via ``connected_components``
    (alternating min-label contraction, O(log n) rounds) -> every name
    labeled with its cluster's canonical form (lexicographic minimum) and
    the cluster size. Names with no fuzzy neighbor remain their own
    canonical singleton via the left join. This is the standard
    record-linkage composition (block -> match -> cluster -> canonicalize)
    as ONE declarative plan; the oracle recomputes it with a quadratic
    match and a recursive-CTE closure, so the driver hash pins blocking
    losslessness AND closure correctness together on real data.

    Scale shape: blocking bounds candidates (the only all-pairs-risk step);
    the closure shuffles the EDGE list (orders of magnitude below the
    corpus); canonical mapping is a broadcast of (name -> label) back onto
    the name universe — at 100 TB the heavy table flows through exactly one
    equi-join and one window."""
    from eviction_lab_etl_spark.functions.similarity import fuzzy_blocked_pairs
    from eviction_lab_etl_spark.operators.clustering import connected_components

    names = load(spark, sf_dir, "part").select(
        F.col("p_name").alias("name")
    ).distinct()
    pairs = fuzzy_blocked_pairs(names, "name", max_dist=2)
    comp = connected_components(pairs.select(F.col("name_a").alias("a"), F.col("name_b").alias("b")))
    lab = names.join(
        F.broadcast(comp.select(F.col("v").alias("name"), F.col("lbl").alias("canonical"))),
        "name",
        "left",
    ).select(
        "name", F.coalesce("canonical", "name").alias("canonical")
    )
    return lab.select(
        "name",
        "canonical",
        F.count(F.lit(1))
        .over(Window.partitionBy("canonical"))
        .cast("long")
        .alias("cluster_size"),
    )


@query(
    "search_bm25_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE term <> ''),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id
    ),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok2),
    qtf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok2
        WHERE term IN ('hash', 'join', 'spark') GROUP BY doc_id, term
    ),
    qdf AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok2
        WHERE term IN ('hash', 'join', 'spark') GROUP BY term
    ),
    idf AS (
        SELECT term,
               CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000)
                    AS BIGINT) AS idf_micro
        FROM qdf, scal
    ),
    avg_dl AS (SELECT (100 * t) // n AS a FROM tot, scal),
    sc AS (
        SELECT qtf.doc_id,
               (idf.idf_micro * 22 * avg_dl.a * qtf.tf)
               // (10 * avg_dl.a * qtf.tf + 3 * avg_dl.a + 900 * dl.dl)
                   AS contrib
        FROM qtf JOIN idf USING (term) JOIN dl USING (doc_id), avg_dl
    ),
    agg AS (
        SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
        FROM sc GROUP BY doc_id
    )
    SELECT doc_id, score_micro, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id)
                        AS rnk
          FROM agg)
    WHERE rnk <= 10
    """,
)
def search_bm25_topk(spark, sf_dir):
    """BM25 RETRIEVAL: the top-10 documents for the query {hash, join,
    spark} under Okapi BM25 (k1 = 1.2, b = 0.75, Lucene's positive smoothed
    idf ln(1 + (N - df + 0.5)/(df + 0.5))) — the default lexical ranker of
    every search stack and the lexical half of RAG hybrid retrieval. Made
    hash-checkable across engines the same way as `text_tfidf_topterms`:
    the ONLY float op is the idf, floored to integer micro-units with a
    verified margin from every floor boundary (tests/test_determinism.py);
    everything downstream is exact integer arithmetic — avgdl quantized to
    centi-tokens A = (100·T) div N, and the per-term contribution evaluated
    as (idf_micro · 22·A·tf) div (10·A·tf + 3·A + 900·dl), which is
    tf·(k1+1)/(tf + k1·(1-b+b·dl·100/A)) · idf with k1, b as exact rationals
    and ONE integer floor-division both engines share. These are the
    operator's declared semantics (BM25 with centi-quantized avgdl and
    micro-floored scores), not an approximation claim.

    Scale shape (100 TB): query-term tf filters the token stream to the
    query vocabulary BEFORE any shuffle (a 3-term IN over the exploded
    tokens — predicate on the generator output, no full tf table); dl
    aggregates the same exploded projection (ReuseExchange-eligible);
    (term, idf) is 3 rows broadcast; A and N are 1-row broadcast literals;
    the only data-sized shuffles are doc-keyed (tf ⋈ dl ⋈ final sum — one
    co-partitioned key), and the top-10 is TakeOrderedAndProject (per-
    partition heaps + driver merge of 10-row heads), never a global sort."""
    docs = load(spark, sf_dir, "documents")
    agg = bm25_scores(docs, ("hash", "join", "spark"))
    top = agg.orderBy(F.desc("score_micro"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def bm25_scores(docs, qterms):
    """(doc_id, score_micro) under the integer-quantized Okapi BM25 of
    `search_bm25_topk` over the given corpus frame (doc_id, text) — corpus
    statistics (N, total tokens, df) are computed over EXACTLY the frame
    passed in, so callers restrict the candidate universe first.
    `search_hybrid_rrf` reuses this for its lexical leg."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = tok.groupBy("doc_id").agg(big(F.count(F.lit(1))).alias("dl"))
    n = docs.agg(big(F.count(F.lit(1))).alias("n"))
    t = tok.agg(big(F.count(F.lit(1))).alias("t"))
    qtok = tok.filter(F.col("term").isin(*qterms))
    qtf = qtok.groupBy("doc_id", "term").agg(
        big(F.count(F.lit(1))).alias("tf")
    )
    qdf = qtok.groupBy("term").agg(
        big(F.count_distinct("doc_id")).alias("df")
    )
    idf = qdf.crossJoin(F.broadcast(n)).select(
        "term",
        F.floor(
            F.log(
                F.lit(1)
                + (F.col("n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(1_000_000)
        ).cast("bigint").alias("idf_micro"),
    )
    avg_dl = t.crossJoin(F.broadcast(n)).select(
        F.expr("(100 * t) div n").alias("a")
    )
    sc = (
        qtf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avg_dl))
        .select(
            "doc_id",
            F.expr(
                "(idf_micro * 22 * a * tf)"
                " div (10 * a * tf + 3 * a + 900 * dl)"
            ).alias("contrib"),
        )
    )
    return sc.groupBy("doc_id").agg(big(F.sum("contrib")).alias("score_micro"))


@query(
    "search_hybrid_rrf",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 500 AND doc_id <> 0
    ),
    tok2 AS (
        SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus
        ) WHERE term <> ''
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id
    ),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok2),
    qtf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok2
        WHERE term IN ('hash', 'join', 'spark') GROUP BY doc_id, term
    ),
    qdf AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok2
        WHERE term IN ('hash', 'join', 'spark') GROUP BY term
    ),
    idf AS (
        SELECT term,
               CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000)
                    AS BIGINT) AS idf_micro
        FROM qdf, scal
    ),
    avg_dl AS (SELECT (100 * t) // n AS a FROM tot, scal),
    lex AS (
        SELECT qtf.doc_id,
               CAST(sum((idf.idf_micro * 22 * avg_dl.a * qtf.tf)
                        // (10 * avg_dl.a * qtf.tf + 3 * avg_dl.a
                            + 900 * dl.dl)) AS BIGINT) AS score
        FROM qtf JOIN idf USING (term) JOIN dl USING (doc_id), avg_dl
        GROUP BY qtf.doc_id
    ),
    lexr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS rank_lex
        FROM lex QUALIFY rank_lex <= 20
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    semr AS (
        SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY sim DESC, vec_id)
                    AS BIGINT) AS rank_sem
        FROM (
            SELECT e.vec_id,
                   list_cosine_similarity(e.embedding, q.embedding) AS sim
            FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id < 500
        )
        QUALIFY rank_sem <= 20
    ),
    fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               coalesce(1000000 // (60 + l.rank_lex), 0)
               + coalesce(1000000 // (60 + s.rank_sem), 0) AS rrf_micro,
               l.rank_lex, s.rank_sem
        FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           rank_lex, rank_sem,
           CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS BIGINT) AS rnk
    FROM fused QUALIFY rnk <= 10
    """,
)
def search_hybrid_rrf(spark, sf_dir):
    """HYBRID RETRIEVAL with reciprocal-rank fusion — the standard RAG
    retrieval stack as one plan: a LEXICAL leg (the integer-quantized BM25
    of `search_bm25_topk` via the shared ``bm25_scores``, over the
    candidate corpus doc_id < 500 ∖ {0} — the ids that carry embeddings)
    and a SEMANTIC leg (exact cosine against the query document's vector,
    vec_id 0, the `sim_knn_cosine` fold, over the SAME id universe
    vec_id < 500 ∖ {0} — both legs rank one candidate corpus by
    construction at every fixture scale, not by fixture accident: sf0.1
    carries 2000 embeddings, so an unbounded semantic leg would admit ids
    the lexical leg can never score), each reduced to its top-20
    INTEGER rank list, fused by RRF(k=60): score = Σ_legs 10⁶ div
    (60 + rank), absent legs contributing 0. RRF is the fusion rule of
    choice precisely because it consumes only ranks — which makes the
    whole fusion integer-exact across engines; the floats (idf, cosine)
    never leave their leg; the cosine leg inherits `sim_knn_cosine`'s
    sequential-fold discipline, and the RESTRICTED-corpus (n, df) idf
    floor inputs the lexical leg introduces (n=|corpus|-1, df over the
    bounded ids — pairs the parent operator never reaches) are
    margin-pinned alongside the full-corpus ones in
    tests/test_determinism.py::test_idf_micro_floor_margins.

    Scale shape (100 TB): each leg ends in a top-k (TakeOrderedAndProject
    / per-partition heaps) so the fusion joins two 20-row frames — the
    corpus-sized work is exactly one BM25 pass and one brute-force (or,
    at scale, `ann_ivf`) cosine pass, both independently scale-profiled;
    fusion adds nothing data-proportional."""
    from eviction_lab_etl_spark.operators.dedup_text import _dot

    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 500) & (F.col("doc_id") != 0)
    )
    lex = bm25_scores(docs, ("hash", "join", "spark"))
    w_lex = Window.orderBy(F.desc("score_micro"), "doc_id")
    lexr = (
        lex.orderBy(F.desc("score_micro"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.row_number().over(w_lex).cast("bigint").alias("rank_lex"),
        )
    )
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "nrm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("pvec"), F.col("nrm").alias("pnrm")
        )
    )
    sem = (
        emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") < 500))
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                _dot(F.col("pvec"), F.col("embedding"))
                / (F.col("pnrm") * F.col("nrm"))
            ).alias("sim"),
        )
    )
    w_sem = Window.orderBy(F.desc("sim"), "doc_id")
    semr = (
        sem.orderBy(F.desc("sim"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.row_number().over(w_sem).cast("bigint").alias("rank_sem"),
        )
    )
    fused = lexr.join(semr, "doc_id", "full").select(
        "doc_id",
        (
            F.coalesce(F.expr("1000000 div (60 + rank_lex)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + rank_sem)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_micro"),
        "rank_lex",
        "rank_sem",
    )
    w_f = Window.orderBy(F.desc("rrf_micro"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(10)
        .withColumn("rnk", F.row_number().over(w_f).cast("bigint"))
    )


# Hard-negative mining query set: (query_id, terms). Terms are drawn from the
# fixture vocabulary with verified idf floor margins at every fixture scale
# (tests/test_determinism.py::test_idf_micro_floor_margins reads THIS constant
# — 'sort' is excluded there-for: frac 0.0042 at sf0.001).
HN_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("hash", "join")),
    (2, ("spark", "stream")),
    (3, ("scan", "column", "key")),
)

_HN_VALUES = ", ".join(
    f"({qid}, '{t}', {len(terms)})"
    for qid, terms in HN_QUERIES
    for t in terms
)


@query(
    "search_hard_negatives",
    oracle=f"""
    WITH q(query_id, term, n_terms) AS (VALUES {_HN_VALUES}),
    tok2 AS (
        SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ) WHERE term <> ''
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id
    ),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok2),
    qtf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok2
        WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
    ),
    qdf AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok2
        WHERE term IN (SELECT term FROM q) GROUP BY term
    ),
    idf AS (
        SELECT term,
               CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000)
                    AS BIGINT) AS idf_micro
        FROM qdf, scal
    ),
    avg_dl AS (SELECT (100 * t) // n AS a FROM tot, scal),
    sc AS (
        SELECT q.query_id, q.n_terms, qtf.doc_id, qtf.term,
               (idf.idf_micro * 22 * avg_dl.a * qtf.tf)
               // (10 * avg_dl.a * qtf.tf + 3 * avg_dl.a + 900 * dl.dl)
                   AS contrib
        FROM qtf JOIN idf USING (term) JOIN dl USING (doc_id)
                 JOIN q ON q.term = qtf.term, avg_dl
    ),
    agg AS (
        SELECT query_id, doc_id,
               CAST(sum(contrib) AS BIGINT) AS score_micro,
               CAST(count(DISTINCT term) AS BIGINT) AS matched_terms,
               max(n_terms) AS nt
        FROM sc GROUP BY query_id, doc_id
    ),
    neg AS (SELECT * FROM agg WHERE matched_terms < nt)
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_micro,
           matched_terms, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rnk
          FROM neg)
    WHERE rnk <= 5
    """,
)
def search_hard_negatives(spark, sf_dir):
    """HARD-NEGATIVE MINING for retrieval training (the DPR/contrastive
    recipe): for each query, the top-5 BM25-scored documents that are NOT
    positives — lexically close enough to outrank almost everything, yet
    missing at least one query term. Positive = contains ALL the query's
    terms (exact containment as the relevance stand-in); a document
    matching a strict subset is exactly the "looks relevant, isn't"
    training signal contrastive losses need. Runs ALL queries in one plan:
    the (query_id, term) table is a broadcast VALUES frame, BM25 integer
    semantics are `search_bm25_topk`'s verbatim (micro-floored idf —
    margins for THIS query vocabulary pinned in test_determinism —
    centi-quantized avgdl, one shared floor division), and the
    negative filter is matched_terms < n_terms computed in the same
    aggregate that sums the score.

    Scale shape (100 TB): the token stream is filtered to the query
    vocabulary BEFORE any shuffle (semi-probe against the broadcast term
    table); corpus-sized aggregations are doc-keyed (dl) or
    (doc, term)-keyed (tf); idf/avgdl/N are tiny broadcasts; per-query
    ranking is a window over the scored-docs frame partitioned by
    query_id — thousands of queries parallelize as partitions, and no
    query ever sees the corpus, only its own scored candidates."""
    docs = load(spark, sf_dir, "documents")
    qdf_rows = [
        (qid, t, len(terms)) for qid, terms in HN_QUERIES for t in terms
    ]
    q = spark.createDataFrame(
        qdf_rows, "query_id int, term string, n_terms int"
    )
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = tok.groupBy("doc_id").agg(big(F.count(F.lit(1))).alias("dl"))
    n = docs.agg(big(F.count(F.lit(1))).alias("n"))
    t = tok.agg(big(F.count(F.lit(1))).alias("t"))
    qtok = tok.join(
        F.broadcast(q.select("term").distinct()), "term", "semi"
    )
    qtf = qtok.groupBy("doc_id", "term").agg(
        big(F.count(F.lit(1))).alias("tf")
    )
    qdf = qtok.groupBy("term").agg(
        big(F.count_distinct("doc_id")).alias("df")
    )
    idf = qdf.crossJoin(F.broadcast(n)).select(
        "term",
        F.floor(
            F.log(
                F.lit(1)
                + (F.col("n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(1_000_000)
        ).cast("bigint").alias("idf_micro"),
    )
    avg_dl = t.crossJoin(F.broadcast(n)).select(
        F.expr("(100 * t) div n").alias("a")
    )
    sc = (
        qtf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(avg_dl))
        .select(
            "query_id",
            "n_terms",
            "doc_id",
            "term",
            F.expr(
                "(idf_micro * 22 * a * tf)"
                " div (10 * a * tf + 3 * a + 900 * dl)"
            ).alias("contrib"),
        )
    )
    agg = sc.groupBy("query_id", "doc_id").agg(
        big(F.sum("contrib")).alias("score_micro"),
        big(F.count_distinct("term")).alias("matched_terms"),
        F.max("n_terms").alias("nt"),
    )
    neg = agg.filter(F.col("matched_terms") < F.col("nt"))
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), "doc_id"
    )
    return (
        neg.withColumn("rnk", F.row_number().over(w_q).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            "doc_id",
            "score_micro",
            "matched_terms",
            "rnk",
        )
    )


@query(
    "search_mmr_diverse",
    oracle="""
    WITH u AS (
        SELECT vec_id AS doc_id, embedding
        FROM embeddings WHERE vec_id < 500 AND vec_id <> 0
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT doc_id, embedding,
               list_cosine_similarity(embedding, qvec) AS rel
        FROM u, q
    ),
    cand AS (
        SELECT doc_id, embedding, rel,
               CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
                    AS BIGINT) AS rel_rank
        FROM scored ORDER BY rel DESC, doc_id LIMIT 20
    ),
    p1 AS (SELECT doc_id, rel_rank FROM cand ORDER BY rel DESC, doc_id LIMIT 1),
    s1 AS (SELECT doc_id FROM p1),
    p2 AS (
        SELECT c.doc_id, c.rel_rank
        FROM cand c JOIN cand s ON s.doc_id IN (SELECT doc_id FROM s1)
        WHERE c.doc_id NOT IN (SELECT doc_id FROM s1)
        GROUP BY c.doc_id, c.rel_rank, c.rel
        ORDER BY c.rel - max(list_cosine_similarity(c.embedding, s.embedding))
                 DESC, c.doc_id
        LIMIT 1
    ),
    s2 AS (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM p2),
    p3 AS (
        SELECT c.doc_id, c.rel_rank
        FROM cand c JOIN cand s ON s.doc_id IN (SELECT doc_id FROM s2)
        WHERE c.doc_id NOT IN (SELECT doc_id FROM s2)
        GROUP BY c.doc_id, c.rel_rank, c.rel
        ORDER BY c.rel - max(list_cosine_similarity(c.embedding, s.embedding))
                 DESC, c.doc_id
        LIMIT 1
    ),
    s3 AS (SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM p3),
    p4 AS (
        SELECT c.doc_id, c.rel_rank
        FROM cand c JOIN cand s ON s.doc_id IN (SELECT doc_id FROM s3)
        WHERE c.doc_id NOT IN (SELECT doc_id FROM s3)
        GROUP BY c.doc_id, c.rel_rank, c.rel
        ORDER BY c.rel - max(list_cosine_similarity(c.embedding, s.embedding))
                 DESC, c.doc_id
        LIMIT 1
    ),
    s4 AS (SELECT doc_id FROM s3 UNION ALL SELECT doc_id FROM p4),
    p5 AS (
        SELECT c.doc_id, c.rel_rank
        FROM cand c JOIN cand s ON s.doc_id IN (SELECT doc_id FROM s4)
        WHERE c.doc_id NOT IN (SELECT doc_id FROM s4)
        GROUP BY c.doc_id, c.rel_rank, c.rel
        ORDER BY c.rel - max(list_cosine_similarity(c.embedding, s.embedding))
                 DESC, c.doc_id
        LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS rnk, doc_id, rel_rank FROM p1
    UNION ALL SELECT CAST(2 AS BIGINT), doc_id, rel_rank FROM p2
    UNION ALL SELECT CAST(3 AS BIGINT), doc_id, rel_rank FROM p3
    UNION ALL SELECT CAST(4 AS BIGINT), doc_id, rel_rank FROM p4
    UNION ALL SELECT CAST(5 AS BIGINT), doc_id, rel_rank FROM p5
    """,
)
def search_mmr_diverse(spark, sf_dir):
    """MAXIMAL MARGINAL RELEVANCE reranking — the diversification stage a
    retrieval stack runs AFTER `search_hybrid_rrf`/`sim_knn_cosine`: from
    the top-20 cosine candidates (universe vec_id < 500 ∖ {0}, the shared
    retrieval corpus), greedily pick 5 where each pick maximizes
    rel(d) − max_{s∈S} sim(d, s) — relevance minus redundancy against what
    is already selected (the λ=1/2 MMR objective up to a monotone factor;
    Carbonell & Goldstein '98, public algorithm). Output: pick order,
    doc id, and the candidate's pure-relevance rank — the (rel_rank ≠ rnk)
    rows ARE the diversification at work.

    Determinism follows the `sim_knn_cosine` discipline, not the floor
    discipline: scores stay FLOAT and only integer ranks/ids are emitted.
    Every greedy comparison is decided either by a gap ≥ 7e-4 (measured;
    engine divergence on the sequential fold vs DuckDB's
    list_cosine_similarity is ~1e-15) or by an EXACT within-engine tie
    (duplicate embeddings) broken by doc_id — tests/test_determinism.py::
    test_mmr_decision_gaps replays the greedy in Python at every fixture
    scale and pins every decision gap ≥ 1e-9 or exactly 0.

    Scale shape (100 TB): the corpus-sized work is ONE brute-force (or
    `ann_ivf`) scored pass ending in TakeOrderedAndProject; the greedy
    operates on the CONSTANT-size 20-row candidate frame — broadcast-tiny
    joins, never data-proportional — and since round 8 lives in
    `functions/rerank.py::mmr_rerank` with PARAMETRIC k (round-7 verdict
    item 6: top-10 diversification is a parameter change, not a
    copy-paste), the `pins.truncate` lineage discipline packaged inside
    (without it the unrolled plan references the candidate subtree ~2^k
    times and Catalyst analysis dominates the wall — measured 4.8 s at
    sf0.1 for ~KB of data). This query binds it at k = 5; a hypothesis
    property pins the library against a pure-Python greedy replica on
    adversarial candidate sets (tests/test_library.py)."""
    from eviction_lab_etl_spark.functions.pins import truncate
    from eviction_lab_etl_spark.functions.rerank import mmr_rerank
    from eviction_lab_etl_spark.operators.dedup_text import cosine

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec")
        )
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            "embedding",
            cosine(F.col("embedding"), F.col("qvec")).alias("rel"),
        )
    )
    w_rel = Window.orderBy(F.desc("rel"), "doc_id")
    cand = truncate(
        scored.orderBy(F.desc("rel"), "doc_id")
        .limit(20)
        .withColumn("rel_rank", F.row_number().over(w_rel).cast("bigint"))
    )
    sel = mmr_rerank(cand, k=5, truncate_input=False)
    return sel.join(
        F.broadcast(cand.select("doc_id", "rel_rank")), "doc_id"
    ).select("rnk", "doc_id", "rel_rank")


# --- end-to-end web-ingest funnel ---------------------------------------------


def _web_ingest_oracle() -> str:
    from eviction_lab_etl_spark.operators import cleaning, web

    return f"""
    WITH {web._CANON_CTE},
    uniq AS (
        SELECT canon_url, min(host) AS host, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM canon GROUP BY canon_url
    ),
    capped AS (
        SELECT host, keep_id, n_copies,
               row_number() OVER (PARTITION BY host ORDER BY keep_id) AS rk
        FROM uniq
    ),
    final AS (
        SELECT c.host, c.keep_id,
               length({cleaning._NORM_SQL.format(col="d.text")}) AS norm_len
        FROM capped c JOIN documents d ON d.doc_id = c.keep_id
        WHERE c.rk <= {web._DOMAIN_CAP}
    ),
    hostmass AS (
        SELECT host,
               CAST(sum(n_copies) AS BIGINT) AS n_urls,
               CAST(count(*) AS BIGINT) AS n_unique
        FROM uniq GROUP BY host
    )
    SELECT f.host, h.n_urls, h.n_unique,
           CAST(count(*) AS BIGINT) AS n_final,
           CAST(sum(f.norm_len) AS BIGINT) AS chars_final
    FROM final f JOIN hostmass h ON h.host = f.host
    GROUP BY f.host, h.n_urls, h.n_unique
    """


from eviction_lab_etl_spark.operators import cleaning as _cleaning  # noqa: E402
from eviction_lab_etl_spark.operators import web as _web  # noqa: E402


@query("pipeline_web_ingest", oracle=_web_ingest_oracle())
def pipeline_web_ingest(spark, sf_dir):
    """End-to-end web-ingest funnel — the composition a crawl pipeline runs
    BEFORE any quality gate, chaining this repo's URL stage into the
    normalize stage: canonicalize URLs → keep-first dedup on the canonical
    form → per-domain volume cap ({cap} pages/host, crawl order) → fetch
    the surviving documents' text → CCNet-normalize → per-host funnel
    report (raw crawl rows, unique pages, post-cap survivors, normalized
    character volume). The driver hash pins the whole composition, stage
    boundaries included: n_urls ≥ n_unique ≥ n_final holds row by row (the
    funnel can only shrink).

    Scale shape: the URL side collapses to unique canonical pages in ONE
    canonical-key exchange (map-side min/count); the cap window runs on the
    collapsed per-host page frame (not the raw crawl); the text join keys
    on doc_id (the fact table's own key — co-partitioned with any doc-keyed
    downstream stage); normalize rides the join projection. Caveat per
    web_domain_cap's docstring: sum(n_copies) counts every RAW crawl row,
    so the report conserves total crawl mass across the funnel.

    The final report join carries NO broadcast hint (r12 ADVICE): host
    cardinality is web-scale in the 100 TB scenario this docstring prices,
    and both sides arrive from host-keyed aggregations — already
    host-partitioned — so the shuffle-join reuses those exchanges, while
    AQE is free to downgrade to broadcast when the per-host frame measures
    small at runtime (it does at fixture scale)."""
    from pyspark.sql import Window

    canon = _web._canon_frame(spark, sf_dir)
    uniq = canon.groupBy("canon_url").agg(
        F.min("host").alias("host"),
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    w = Window.partitionBy("host").orderBy("keep_id")
    capped = uniq.withColumn("rk", F.row_number().over(w))
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    final = (
        capped.filter(F.col("rk") <= _web._DOMAIN_CAP)
        .join(docs, F.col("keep_id") == F.col("doc_id"))
        .select(
            "host",
            F.length(_cleaning.normalize_text("text")).alias("norm_len"),
        )
    )
    hostmass = uniq.groupBy("host").agg(
        big(F.sum("n_copies")).alias("n_urls"),
        big(F.count(F.lit(1))).alias("n_unique"),
    )
    report = final.groupBy("host").agg(
        big(F.count(F.lit(1))).alias("n_final"),
        big(F.sum("norm_len")).alias("chars_final"),
    )
    return report.join(hostmass, "host").select(
        "host", "n_urls", "n_unique", "n_final", "chars_final"
    )


# --- column-profiling audit: the deequ/dbt-test face of the QA stage ---------

_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "od_str", "priority_masked"]


@query(
    "profile_column_stats",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority,
               CAST(o_orderdate AS VARCHAR) AS od_str,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS priority_masked
        FROM orders
    )
    SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderstatus) AS n_nulls,
           count(DISTINCT o_orderstatus) AS n_distinct,
           min(o_orderstatus) AS vmin, max(o_orderstatus) AS vmax
    FROM src
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), min(o_orderpriority),
           max(o_orderpriority)
    FROM src
    UNION ALL
    SELECT 'od_str', count(*), count(*) - count(od_str),
           count(DISTINCT od_str), min(od_str), max(od_str)
    FROM src
    UNION ALL
    SELECT 'priority_masked', count(*), count(*) - count(priority_masked),
           count(DISTINCT priority_masked), min(priority_masked),
           max(priority_masked)
    FROM src
    """,
)
def profile_column_stats(spark, sf_dir):
    """Column-profiling audit (the deequ / dbt-test stage every managed
    pipeline runs before publishing): per profiled column — row count,
    null count, exact distinct count, lexicographic min/max — over the
    orders export, including a column with PLANTED nulls
    (priority_masked: every 7th order) so the null-rate surface is
    load-bearing, not vacuously zero. String-typed values throughout, so
    min/max are binary-collation lexicographic in both engines.

    Scale shape: ONE pass — the profiled columns unpivot to
    (col_name, value) inside the scan projection (JVM explode of a
    4-struct array, no Python), then a single grouped aggregation per
    column name; |output| = |profiled columns|. The exact distinct pays
    the standard two-phase expansion; at 100 TB the documented swap is
    approx_count_distinct per column in the SAME shape (the
    agg_approx_distinct error contract), keeping profiling one scan
    regardless of width."""
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("string").alias("od_str"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority_masked"),
    )
    long = src.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"), F.col(c).alias("value")
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("e")
    ).select("e.col_name", "e.value")
    return long.groupBy("col_name").agg(
        big(F.count(F.lit(1))).alias("n_rows"),
        big(F.count(F.lit(1)) - F.count("value")).alias("n_nulls"),
        big(F.count_distinct(F.col("value"))).alias("n_distinct"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
