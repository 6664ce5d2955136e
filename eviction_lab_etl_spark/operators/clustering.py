"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise near-dup detection (Jaccard / SimHash / cosine) emits EDGES; a real
dedup stage needs the transitive closure — every document labeled with its
duplicate GROUP so one canonical member per group survives. That closure is
graph connected components, computed here by alternating large-star /
small-star contraction (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14):

    large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    small-star(u): over smaller neighbors N = {v ∈ Γ(u): v < u}, m = min(N);
                   emit (u, m) and (v, m) for v ∈ N \\ {m}

Each phase is one shuffle aggregation + one shuffle join — no driver-side
graph. Unlike naive min-label propagation (O(diameter) rounds — fine for
short-diameter near-dup cliques, quadratic pain on adversarial chains), the
alternation contracts path length geometrically: a planted 100-vertex chain
converges in a handful of rounds (tests/test_clustering.py pins the bound).
At fixpoint every component is a star centered on its minimum vertex id, so
labels fall out of the final edge list without a separate propagation pass.

Durability at cluster scale: iterative jobs MUST truncate lineage (the plan
doubles per round otherwise), but ``localCheckpoint()`` stores blocks on
executors only — lose one executor mid-iteration on a 1000-node cluster and
the truncated lineage makes the job unrecoverable. ``pins.truncate``
therefore uses reliable ``checkpoint()`` whenever the session has a
checkpoint directory (``SparkContext.setCheckpointDir`` to HDFS/S3) and falls
back to ``localCheckpoint()`` only when none is set — the local-mode default
where executor loss means JVM death anyway.

The registered query's oracle expresses the same fixpoint as a DuckDB
recursive CTE — one of the few genuinely iterative computations ANSI SQL can
state — so the hash check covers the contraction end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eviction_lab_etl_spark.functions.determinism import big
from eviction_lab_etl_spark.functions.pins import pin_to, truncate
from eviction_lab_etl_spark.registry import query


# THE near-dup edge list on the oracle side — the SQL twin of
# ``neardup_edges`` (token-set Jaccard >= 0.9 over doc_id < 200, a < b),
# spelled once and interpolated into every graph oracle below. The
# recursive oracles name it ``edges0`` and symmetrize it as ``edges``.
_NEARDUP_EDGES_SQL = """tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents WHERE doc_id < 200
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    pr AS (
        SELECT t1.doc_id AS a, t2.doc_id AS b, count(*) AS inter
        FROM tok t1 JOIN tok t2 ON t1.w = t2.w AND t1.doc_id < t2.doc_id
        GROUP BY 1, 2
    ),
    {name} AS (
        SELECT a, b FROM pr
        JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        WHERE 10 * inter >= 9 * (sa.n + sb.n - inter)
    )"""
_NEARDUP_EDGES = _NEARDUP_EDGES_SQL.format(name="edges")
_NEARDUP_EDGES0 = _NEARDUP_EDGES_SQL.format(name="edges0")


def _signature(edges: DataFrame) -> tuple:
    """Order-insensitive fingerprint of an edge set, one tiny aggregate job:
    (count, wrapping hash-sum, hash-xor). Used only as a cheap candidate test
    for fixpoint: when the signatures first match, _cc_rounds confirms with an
    exact set comparison, so a signature collision costs one extra exceptAll
    job — it can never terminate the loop on unequal edge sets."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: overflow-proof under ANSI mode at any edge count
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("hsum"),
        F.expr("bit_xor(xxhash64(a, b))").alias("hxor"),
    ).collect()[0]
    return (row["n"], row["hsum"], row["hxor"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("a", "mn").alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    ee = edges.select(
        F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
    ).distinct()
    mins = ee.groupBy("hi").agg(F.min("lo").alias("mn"))
    members = (
        ee.join(mins, "hi")
        .select(F.col("lo").alias("a"), F.col("mn").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    selves = mins.select(F.col("hi").alias("a"), F.col("mn").alias("b"))
    return members.unionByName(selves).distinct()


def _cc_rounds(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Run the contraction to fixpoint; return (labels, rounds-used)."""
    # ONE read of ``edges``: the oriented edge set (self-loops kept, so
    # their vertex gets a label) is truncated once, and both the vertex set
    # and the contraction read the checkpoint — the caller's edge lineage
    # (a similarity join) never runs twice and needs no pin.
    base = truncate(
        edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    verts = (
        base.select(F.col("a").alias("v"))
        .unionByName(base.select(F.col("b").alias("v")))
        .distinct()
    )
    cur = base.filter(F.col("a") != F.col("b"))
    prev_sig = _signature(cur)
    rounds = 0
    converged = False
    for rounds in range(1, max_iter + 1):
        prev = cur
        cur = truncate(_small_star(_large_star(cur)))
        sig = _signature(cur)
        # Signature match is the cheap candidate test; equality is confirmed
        # exactly. Counts are equal (part of the signature), so a one-sided
        # exceptAll suffices. Both sides read checkpoints, so this runs one
        # small extra job exactly once, at convergence.
        if sig == prev_sig and cur.exceptAll(prev).isEmpty():
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "partial labels would be silently wrong — raise max_iter"
        )
    # Fixpoint is a star forest oriented (member, component-min): labels are
    # a single left join; centers (never on the 'a' side) label themselves.
    labels = verts.join(cur, verts["v"] == cur["a"], "left").select(
        "v", F.coalesce(cur["b"], verts["v"]).alias("lbl")
    )
    return labels, rounds


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Label every vertex of an (a, b) edge list with the minimum vertex id
    reachable from it. Returns (v, lbl). Pure operator — any near-dup pair
    set (token Jaccard, SimHash, embedding cosine) can feed it.

    Raises RuntimeError if the fixpoint is not reached within ``max_iter``
    alternation rounds rather than returning partial (wrong) labels; the
    O(log n) contraction makes the default bound generous for any graph
    whose component count fits the use case.
    """
    labels, _ = _cc_rounds(edges, max_iter)
    return labels


def neardup_edges(spark, sf_dir) -> DataFrame:
    """THE near-dup edge list (token-set Jaccard >= 0.9 over doc_id < 200,
    tightened from sim_jaccard_pairs' 0.6 report threshold to near-dup
    strength) — the single shared derivation behind clustering, canonical
    selection, triangle counting, and the degree histogram (its SQL twin is
    ``_NEARDUP_EDGES_SQL``). One definition, one threshold, and no cache of
    its own: a caller pins the edges to its OWN result (functions/pins.py)
    only where that measurably beats recomputing them (``graph_bfs_layers``,
    whose eager rounds each read them), so nothing outlives the query that
    built them."""
    from eviction_lab_etl_spark.operators.dedup_text import sim_jaccard_pairs

    pairs = sim_jaccard_pairs(spark, sf_dir)
    return pairs.filter(10 * F.col("inter") >= 9 * F.col("uni")).select("a", "b")


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_EDGES0},
    edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b AS a, a AS b FROM edges0),
    walk(v, lbl) AS (
        SELECT DISTINCT a AS v, a AS lbl FROM edges
        UNION
        SELECT e.b AS v, w.lbl FROM walk w JOIN edges e ON e.a = w.v
    )
    SELECT v AS doc_id, min(lbl) AS component FROM walk GROUP BY v
    """,
)
def dedup_cluster_cc(spark, sf_dir):
    """Duplicate groups from near-dup pairs: edges are token-set Jaccard
    >= 0.9 over doc_id < 200 (the sim_jaccard_pairs inverted-index plan,
    tightened from its 0.6 report threshold to near-dup strength — at
    sf0.01 that graph has 81 vertices in 5 components, so the closure
    decides real structure), then ``connected_components`` labels each
    participating doc with its group id (= min doc_id in the group — the
    keep-first canonical member)."""
    return connected_components(neardup_edges(spark, sf_dir)).select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("component")
    )


@query(
    "dedup_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_EDGES0},
    edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b AS a, a AS b FROM edges0),
    walk(v, lbl) AS (
        SELECT DISTINCT a AS v, a AS lbl FROM edges
        UNION
        SELECT e.b AS v, w.lbl FROM walk w JOIN edges e ON e.a = w.v
    ),
    comp AS (SELECT v AS doc_id, min(lbl) AS component FROM walk GROUP BY v)
    SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tok
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    WHERE d.doc_id < 200
      AND (c.doc_id IS NULL OR c.component = d.doc_id)
    """,
)
def dedup_canonical_docs(spark, sf_dir):
    """The full near-dup dedup story end to end: pairwise Jaccard >= 0.9
    edges (same graph as dedup_cluster_cc) -> connected components -> keep
    exactly ONE canonical member per duplicate group (the minimum doc_id —
    the component label itself) plus every document that belongs to no
    group. This is the operator a training-data pipeline actually runs;
    pairs and components are diagnostics. The survivor filter is a single
    broadcast-able left join against the |clustered docs| label table
    (tiny relative to the corpus: only docs with a near-dup ever enter the
    closure), so the corpus-side plan is scan -> join -> filter with no
    extra shuffle at 100 TB."""
    from eviction_lab_etl_spark.sources.loader import load

    labels = connected_components(neardup_edges(spark, sf_dir)).select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("component")
    )
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    )
    return (
        docs.join(F.broadcast(labels), "doc_id", "left")
        .filter(
            F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
        )
        .select("doc_id", big("n_tok").alias("n_tok"))
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_NEARDUP_EDGES}
    SELECT (SELECT count(DISTINCT v) FROM (
                SELECT a AS v FROM edges UNION ALL SELECT b FROM edges))
               AS n_vertices,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Distributed triangle counting over the near-dup similarity graph (the
    same Jaccard >= 0.9 edge set ``dedup_cluster_cc`` clusters): the density
    metric that separates 'one doc re-crawled N times' (clique: ~N³/6
    triangles) from 'a chain of incremental edits' (path: 0) — which decides
    whether a dedup group should keep one canonical doc or several.

    Algorithm: ordered-edge enumeration (the standard MR formulation) — all
    edges are kept a<b, a wedge is e1(a,b)⋈e2(b,c), and a triangle is a
    wedge whose closing edge (a,c) exists; each triangle is counted exactly
    once because its vertices appear in sorted order. Both joins shuffle on
    a single vertex key. At 100 TB the wedge volume is Σ deg(v)², so the
    production refinement orients edges from lower- to higher-DEGREE
    endpoints first (node-iterator++), bounding wedges by the arboricity;
    the id-ordered form here keeps the oracle exact and the join topology
    identical."""
    edges = neardup_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .agg(F.count_distinct("v").alias("n_vertices"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return verts.crossJoin(n_edges).crossJoin(tri)


@query(
    "graph_degree_hist",
    oracle=f"""
    WITH {_NEARDUP_EDGES},
    deg AS (
        SELECT v, count(*) AS degree FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
        ) GROUP BY v
    )
    SELECT degree, count(*) AS n_vertices
    FROM deg GROUP BY degree
    """,
)
def graph_degree_hist(spark, sf_dir):
    """Degree distribution of the near-dup similarity graph — the shape
    diagnostic read BEFORE clustering: a heavy right tail (one doc similar
    to thousands) predicts hot keys in the connected-components shuffle and
    wedge explosion in triangle counting, and is exactly what degree-based
    edge orientation / salting decisions key on. The shared edge list; two
    small aggregates (per-vertex degree, then count-per-degree) on top — the
    histogram is ≤ max-degree rows no matter the corpus size."""
    edges = neardup_edges(spark, sf_dir)
    sym = edges.select(F.col("a").alias("v")).unionByName(
        edges.select(F.col("b").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))
    return hist


@query(
    "sim_cross_lang_pairs",
    oracle=f"""
    WITH {_NEARDUP_EDGES}
    SELECT least(da.lang, db.lang) AS lang_lo,
           greatest(da.lang, db.lang) AS lang_hi,
           count(*) AS n_pairs
    FROM edges
    JOIN documents da ON da.doc_id = a
    JOIN documents db ON db.doc_id = b
    WHERE da.lang <> db.lang
    GROUP BY lang_lo, lang_hi
    """,
)
def sim_cross_lang_pairs(spark, sf_dir):
    """Cross-language near-duplicate detection: the >=0.9 near-dup edges
    whose endpoints carry DIFFERENT language labels, counted per unordered
    language pair. In a real corpus these are mislabeled documents or
    machine-translated copies — both of which corrupt per-language mixture
    weights if deduped only within language (the standard per-lang dedup
    silently keeps every cross-lingual twin). The language-pair key is
    canonicalized with least/greatest so (en, es) and (es, en) are one
    row. The shared edge list is read once (no pin); the two label lookups
    are broadcast joins against the doc_id→lang projection."""
    from eviction_lab_etl_spark.sources.loader import load

    edges = neardup_edges(spark, sf_dir)
    langs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang")
    )
    la = langs.select(F.col("doc_id").alias("a"), F.col("lang").alias("lang_a"))
    lb = langs.select(F.col("doc_id").alias("b"), F.col("lang").alias("lang_b"))
    return (
        edges.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .groupBy(
            F.least("lang_a", "lang_b").alias("lang_lo"),
            F.greatest("lang_a", "lang_b").alias("lang_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_NEARDUP_EDGES},
    sym AS (
        SELECT a AS v, b AS u FROM edges
        UNION ALL SELECT b AS v, a AS u FROM edges
    ),
    deg AS (SELECT v, count(*) AS d FROM sym GROUP BY v),
    r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM deg),
    r1 AS (
        SELECT s.v, CAST(150000 + (85 * sum(r0.r // dd.d)) // 100 AS BIGINT) AS r
        FROM sym s JOIN r0 ON r0.v = s.u JOIN deg dd ON dd.v = s.u
        GROUP BY s.v
    ),
    r2 AS (
        SELECT s.v, CAST(150000 + (85 * sum(r1.r // dd.d)) // 100 AS BIGINT) AS r
        FROM sym s JOIN r1 ON r1.v = s.u JOIN deg dd ON dd.v = s.u
        GROUP BY s.v
    ),
    r3 AS (
        SELECT s.v, CAST(150000 + (85 * sum(r2.r // dd.d)) // 100 AS BIGINT) AS r
        FROM sym s JOIN r2 ON r2.v = s.u JOIN deg dd ON dd.v = s.u
        GROUP BY s.v
    )
    SELECT v, r AS pagerank FROM r3
    """,
)
def graph_pagerank(spark, sf_dir):
    """PageRank over the near-dup similarity graph in FIXED-POINT INTEGER
    arithmetic — the centrality score that ranks a dedup cluster's most
    'central' copy (the one most similar to the most others), complementing
    the min-id canonical election of ``dedup_canonical_docs``.

    Cross-engine exactness is the point of the formulation: ranks carry a
    10⁶ scale, each step is r'(v) = 0.15·10⁶ + ⌊85·Σ_u ⌊r(u)/deg(u)⌋ / 100⌋
    with every division a FLOOR on non-negative integers (`div` in Spark ≡
    `//` in DuckDB), and integer addition is order-independent — so three
    unrolled iterations are hash-checkable where a float PageRank never
    could be (§2.0 rule 1, the same move as the embedding quantization).
    Every vertex of this graph has degree ≥ 1 (it's an edge projection), so
    there is no dangling-mass term.

    Scale shape: each iteration is ONE shuffle — join ranks to the
    (v, u, deg_u) link table on u, re-aggregate on v — the Pregel topology;
    the unrolled 3-step form is the driver-checkable contract, and a
    convergence loop is the same join repeated with checkpointing exactly
    like ``connected_components`` (clustering.py)."""
    edges = neardup_edges(spark, sf_dir)
    sym = edges.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        edges.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    # link table: (v, u, d) where d = deg(u) — referenced by all three
    # unrolled join steps. Not pinned: the three link subtrees are
    # byte-identical, so Spark's ReuseExchange computes the link shuffle
    # once per execution and streams it to every consumer.
    link = sym.join(deg.select(F.col("v").alias("u"), "d"), "u")
    ranks = deg.select("v", F.lit(1000000).cast("long").alias("r"))
    for _ in range(3):
        ranks = (
            link.join(ranks.select(F.col("v").alias("u"), "r"), "u")
            .groupBy("v")
            .agg(
                F.expr("CAST(150000 + (85 * sum(r div d)) div 100 AS BIGINT)").alias("r")
            )
        )
    return ranks.select("v", F.col("r").alias("pagerank"))


@query(
    "graph_bfs_layers",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_EDGES0},
    edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b AS a, a AS b FROM edges0),
    walk(v, d) AS (
        SELECT DISTINCT a AS v, 0 AS d FROM edges WHERE a < 20
        UNION
        SELECT e.b AS v, w.d + 1 AS d FROM walk w JOIN edges e ON e.a = w.v
        WHERE w.d < 3
    )
    SELECT v AS doc_id, CAST(min(d) AS BIGINT) AS depth FROM walk GROUP BY v
    """,
)
def graph_bfs_layers(spark, sf_dir):
    """MULTI-SOURCE BFS, depth ≤ 3, over the shared near-dup graph: every
    vertex reachable from the seed set (doc_id < 20) labeled with its
    MINIMUM hop distance — the bounded-radius traversal behind contamination
    blast-radius ("everything within 3 near-dup hops of a benchmark doc"),
    trust propagation, and neighborhood sampling. Three unrolled layers keep
    it driver-checkable (the oracle is an independent recursive-CTE walk
    with a depth cap); an unbounded frontier loop is the same join repeated
    with the connected_components convergence discipline.

    Scale shape (100 TB): layered frontier expansion — each round joins the
    CURRENT frontier (vertices first reached last round, typically a small
    fraction of the graph) against the edge list on the source vertex, then
    a min-depth merge keyed on vertex. The edge list is the near-dup
    projection (orders of magnitude below the corpus), pinned while the
    rounds run because every round reads it; per-round cost is
    frontier-proportional, never all-pairs, and the depth cap bounds the
    rounds. At a billion edges each
    round is one shuffle of (frontier ⋈ edges) + one vertex-keyed agg —
    the Pregel step, expressed declaratively."""
    edges = neardup_edges(spark, sf_dir)
    sym = edges.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        edges.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    # Pinned before bfs_layers runs: each of its eager truncations reads
    # the edges again. The result is a checkpoint that reads no edges, so
    # the pin is released when this function returns.
    sym = pin_to(sym, edges)
    seeds = sym.filter(F.col("v") < 20).select("v").distinct()
    layers = bfs_layers(sym, seeds, max_depth=3)
    return layers.select(F.col("v").alias("doc_id"), "depth")


def bfs_layers(sym_edges: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """Layered multi-source BFS over a SYMMETRIC edge list (columns v, u):
    every vertex reachable from ``seeds`` (column v) within ``max_depth``
    hops, labeled with its minimum hop distance (column depth, bigint).
    Each round joins only the CURRENT frontier against the edges and
    anti-joins the known set — frontier-proportional work, the declarative
    Pregel step. Lineage is cut between rounds with the same `pins.truncate`
    discipline as `connected_components` (without it, round N's plan embeds
    round N-1's twice — frontier and known — so the tree doubles per round
    and a vanilla 200-shuffle-partition session re-executes every prior
    round's joins; truncation took the registered query from 33 s to 11 s
    in that session, most of the residual being the shared one-time
    near-dup edge build).
    Property-tested against a pure-Python BFS (tests/test_properties.py);
    `graph_bfs_layers` hash-checks it against a recursive-CTE oracle on the
    near-dup graph."""
    known = truncate(
        seeds.select("v").distinct().withColumn("depth", F.lit(0).cast("bigint"))
    )
    frontier = known
    for step in range(1, max_depth + 1):
        reached = (
            frontier.join(sym_edges, "v")
            .select(F.col("u").alias("v"))
            .distinct()
            .withColumn("depth", F.lit(step).cast("bigint"))
        )
        # New frontier = vertices not seen at a smaller depth.
        frontier = truncate(
            reached.join(known.select("v"), "v", "left_anti")
        )
        known = truncate(known.unionByName(frontier))
    return known


@query(
    "split_cluster_safe",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_EDGES0},
    edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b AS a, a AS b FROM edges0),
    walk(v, lbl) AS (
        SELECT DISTINCT a AS v, a AS lbl FROM edges
        UNION
        SELECT e.b AS v, w.lbl FROM walk w JOIN edges e ON e.a = w.v
    ),
    comp AS (SELECT v AS doc_id, min(lbl) AS component FROM walk GROUP BY v),
    labeled AS (
        SELECT d.doc_id, d.n_chars, c.component,
               coalesce(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        WHERE d.doc_id < 200
    )
    SELECT CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'c'
                     THEN 'train'
                WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'e'
                     THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT cluster) AS n_clusters,
           count(component) AS n_clustered_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM labeled
    GROUP BY 1
    """,
)
def split_cluster_safe(spark, sf_dir):
    """DEDUP-AWARE train/valid/test split — `split_content_hash` keeps
    EXACT duplicates in one fold (same text, same md5), but a near-dup of
    a training doc landing in test is still leakage (the standard
    decontamination failure in LLM data pipelines). This operator folds by
    NEAR-DUP CLUSTER: docs join the shared Jaccard>=0.9 component labels
    (the `dedup_cluster_cc` graph, doc_id < 200 universe); unlabeled docs
    are their own singleton cluster; the fold is the first md5 nibble of
    the CLUSTER id ('0'..'b' train / 'c'..'d' valid / 'e'..'f' test). By
    construction no cluster straddles folds — the per-fold ledger
    (docs, clusters, clustered docs, chars) is the hash-checked surface,
    and tests/test_library.py asserts the zero-straddle invariant on the
    row-level frame.

    Scale shape (100 TB): component labels come from the O(log n)
    lineage-truncated CC fixpoint over the (tiny) near-dup edge list; the
    corpus side is scan -> broadcast-join labels -> map-side md5 fold ->
    one partial-agg shuffle. No new shuffle class beyond
    `dedup_canonical_docs`."""
    from eviction_lab_etl_spark.sources.loader import load

    labels = connected_components(neardup_edges(spark, sf_dir)).select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("component")
    )
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )
    labeled = docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        "n_chars",
        "component",
        F.coalesce("component", "doc_id").alias("cluster"),
    )
    nibble = F.substring(F.md5(F.col("cluster").cast("string")), 1, 1)
    split = (
        F.when(nibble < "c", "train")
        .when(nibble < "e", "valid")
        .otherwise("test")
    )
    return labeled.groupBy(split.alias("split")).agg(
        big(F.count(F.lit(1))).alias("n_docs"),
        big(F.count_distinct("cluster")).alias("n_clusters"),
        big(F.count("component")).alias("n_clustered_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
