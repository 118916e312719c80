"""Graph analytics over the near-duplicate pair graph: PageRank and
triangle counting / clustering coefficients.

Curation rationale (builder-brief mandate — the reference engine has no
graph operators): the dedup pair graph is itself a curation artifact.
High-PageRank nodes are template/boilerplate *centers* (documents many
near-dups orbit — prime removal candidates beyond their own cluster), and
the clustering coefficient separates tight mirror-sets (cliques, safe to
collapse to one representative) from chain-shaped false-positive paths
(a~b~c where a and c are NOT duplicates — collapsing them loses data).

Both operators ride the SHARED verified jaccard-pair cache
(:func:`..queries.llm.jaccard_pairs_df` — one candidate join + verification
feeds jaccard/materialize/components/cross-source and now these two), so
neither adds a corpus-scale stage.

100 TB shapes:

- ``dedup_graph_pagerank``: textbook distributed PageRank — per iteration
  ONE edge-keyed join (ranks to the persisted edge list) and ONE
  destination-keyed aggregate; contributions are 9-dp-rounded then
  DECIMAL-summed (order-independent, engine-exact — the unigram_logprob
  convention), so ranks are bit-identical at any parallelism. The edge
  list and degree table are localCheckpoint()ed once (lazily — the first
  consumer action materializes each; the wrap still keeps the iterated
  plan a LogicalRDD re-read instead of an inlined candidate-join subtree
  per iteration); the only driver sync is the scalar |V|.
- ``dedup_graph_triangles``: the degree-oriented wedge join (each edge
  directed from its lexicographically-(deg, id)-smaller endpoint) — every
  triangle is enumerated exactly once from its smallest corner, and the
  wedge-join fan-out is bounded by the ORIENTED out-degree, which the
  orientation caps near sqrt(|E|) on any degree distribution (the standard
  skew-proof trick: a hub's edges all point INTO it, so the hub never
  fans out wedges). Per-corner counts come from exploding each triangle's
  three corners — an aggregate proportional to triangles, never pairs².
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._registry import query, session_cache
from .llm import (
    SQL_JACCARD_CAND_CTES,
    SQL_SHINGLE_CTES,
    jaccard_pairs_df,
)

PAGERANK_ITERS = 8
PAGERANK_DAMP = 0.85

# undirected dedup-graph edge CTEs shared by both oracles (jpairs = the
# verified jaccard>=0.8 pair set, exactly jaccard_pairs_df's semantics)
_SQL_EDGE_CTES = f"""
    {SQL_SHINGLE_CTES},
    {SQL_JACCARD_CAND_CTES},
    jpairs AS (
      SELECT p.a, p.b
      FROM pair p JOIN cnt ca ON ca.doc_id = p.a JOIN cnt cb ON cb.doc_id = p.b
      WHERE CAST(p.i AS DOUBLE) / (ca.n + cb.n - p.i) >= 0.8),
    edges AS (SELECT a AS u, b AS v FROM jpairs UNION SELECT b, a FROM jpairs),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg)
"""


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as one SQL statement: r_{{k+1}}(v) =
    (1-d)/n + d·Σ_{{u→v}} round(r_k(u)/deg(u), 9), every per-edge term
    DECIMAL-summed. The undirected dedup graph has deg ≥ 1 everywhere, so
    every node receives mass each iteration (no dangling-node term)."""
    parts = [
        "r0 AS (SELECT u, ROUND(CAST(1 AS DOUBLE) / (SELECT n FROM nn), 9)"
        " AS r FROM deg)"
    ]
    prev = "r0"
    for k in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"c{k} AS (SELECT e.v AS u, "
            f"CAST(ROUND(r.r / d.deg, 9) AS DECIMAL(28,9)) AS c "
            f"FROM edges e JOIN {prev} r ON r.u = e.u "
            f"JOIN deg d ON d.u = e.u)"
        )
        parts.append(
            f"r{k} AS (SELECT u, ROUND("
            f"CAST({1 - PAGERANK_DAMP} AS DOUBLE) / (SELECT n FROM nn) "
            f"+ CAST({PAGERANK_DAMP} AS DOUBLE) * CAST(SUM(c) AS DOUBLE), 9)"
            f" AS r FROM c{k} GROUP BY u)"
        )
        prev = f"r{k}"
    return f"""
    WITH {_SQL_EDGE_CTES},
    {', '.join(parts)}
    SELECT r.u AS doc_id, CAST(d.deg AS BIGINT) AS deg,
           ROUND(r.r, 6) AS pagerank
    FROM {prev} r JOIN deg d ON d.u = r.u
    ORDER BY pagerank DESC, doc_id
    """


def _dedup_graph(spark, sf_dir):
    """(und, deg): the undirected edge list and its degree table,
    localCheckpoint()ed (lazily — the first consumer action materializes
    each) and session-cached per dataset — PageRank and triangles
    consume the same two tables, so they are built exactly once per
    session (checkpointed RDD storage is reclaimed by GC once the session
    cache drops the entry; ``clearCache()`` does not touch it)."""

    def build():
        pairs = jaccard_pairs_df(spark, sf_dir).select("a", "b")
        # (a,b) pairs are unique with a<b, so the two directions are
        # disjoint — union needs no distinct
        # lazy on purpose: deg's build materializes und, and the first
        # consumer's action materializes deg — one job saved per table
        # (the bpe_train lesson; measured ~35%% off both queries at sf0.1)
        und = (
            pairs.union(pairs.select(F.col("b"), F.col("a")))
            .toDF("u", "v")
            .localCheckpoint(eager=False)
        )
        deg = (
            und.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=False)
        )
        return und, deg

    return session_cache(spark, "dedup_graph", sf_dir, build)


@query("dedup_graph_pagerank", oracle=_pagerank_oracle())
def dedup_graph_pagerank(spark, sf_dir):
    """PageRank over the undirected near-dup graph ({k} iterations, damping
    {d}): rank mass concentrates on boilerplate centers — the documents to
    inspect (and usually drop) FIRST when a dup cluster is too big to read.

    Determinism: each edge's contribution is round(r/deg, 9) summed in
    DECIMAL(28,9) — exact and order-independent — and the damping update is
    a fixed-shape double expression, so every iteration (and the final
    ordering) is bit-identical across engines and shuffle layouts.

    Scale: the static per-edge divisor rides the CHECKPOINTED edge list
    (deg_u folded in ONCE — not re-joined every iteration), so an
    iteration is exactly one u-keyed join (ranks side only shuffles; the
    edge side re-reads its stored layout) plus one v-keyed aggregate.
    |V| is the only driver sync — a single scalar, collected once, the
    same bounded-sync class as bpe_train's per-merge argmax row.""".format(
        k=PAGERANK_ITERS, d=PAGERANK_DAMP
    )
    edges, deg = _dedup_graph(spark, sf_dir)
    # fold the static divisor into the edge list once; every iteration's
    # join then touches exactly two tables. The (lazy) localCheckpoint cuts
    # the shared-cache lineage so the 8-iteration plan renders/optimizes
    # over a LogicalRDD instead of 8 inlined copies of the candidate join;
    # deg.count() right below materializes deg, and the first iteration's
    # action materializes ew.
    ew = edges.join(deg, "u").localCheckpoint(eager=False)
    n = deg.count()  # bounded driver sync: one scalar for the whole query
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, deg long, pagerank double"
        )
    ranks = deg.select("u", F.round(F.lit(1.0) / F.lit(n), 9).alias("r"))
    for _ in range(PAGERANK_ITERS):
        contrib = ew.join(ranks, "u").select(
            F.col("v").alias("u"),
            F.round(F.col("r") / F.col("deg"), 9)
            .cast("decimal(28,9)")
            .alias("c"),
        )
        ranks = (
            contrib.groupBy("u")
            .agg(F.sum("c").alias("s"))
            .select(
                "u",
                F.round(
                    F.lit(1 - PAGERANK_DAMP) / F.lit(n)
                    + F.lit(PAGERANK_DAMP) * F.col("s").cast("double"),
                    9,
                ).alias("r"),
            )
        )
    return (
        ranks.join(deg, "u")
        .select(
            F.col("u").alias("doc_id"),
            F.col("deg").cast("long").alias("deg"),
            F.round("r", 6).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), "doc_id")
    )


@query(
    "dedup_graph_triangles",
    oracle=f"""
    WITH {_SQL_EDGE_CTES},
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM edges e1 JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
      WHERE e1.u < e1.v),
    corners AS (
      SELECT x AS u FROM tri UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri),
    tc AS (SELECT u, COUNT(*) AS n_triangles FROM corners GROUP BY u)
    SELECT d.u AS doc_id, CAST(d.deg AS BIGINT) AS deg,
           CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN d.deg >= 2 THEN
                   2.0 * COALESCE(tc.n_triangles, 0) / (d.deg * (d.deg - 1))
                 ELSE 0 END, 6) AS clustering
    FROM deg d LEFT JOIN tc ON tc.u = d.u
    ORDER BY doc_id
    """,
)
def dedup_graph_triangles(spark, sf_dir):
    """Per-document triangle count and local clustering coefficient over the
    near-dup graph: clustering ≈ 1 marks clique-like mirror sets (safe to
    collapse), ≈ 0 marks chain-shaped transitive-closure artifacts that
    deserve a human look before dedup_keep_best erases the tails.

    Algorithm: degree-ordered edge orientation — each undirected edge points
    from its (deg, id)-smaller endpoint, so every triangle has exactly one
    corner with two out-edges and is counted once from that corner's wedge;
    the wedge join's fan-out is bounded by the oriented out-degree (≤ ~√|E|
    whatever the degree skew — a hub's edges all point INTO it). Corners
    explode 3 rows per triangle; the per-node aggregate is
    triangle-proportional. The clustering ratio is a fixed double expression
    over exact integers, rounded once — engine-identical."""
    und, deg = _dedup_graph(spark, sf_dir)
    # orient: u -> v iff (deg_u, u) < (deg_v, v); relabelled columns keep
    # the join keys unambiguous
    du = deg.withColumnRenamed("u", "nu").withColumnRenamed("deg", "du")
    dv = deg.withColumnRenamed("u", "nv").withColumnRenamed("deg", "dv")
    oriented = (
        und.join(du, und.u == du.nu)
        .join(dv, und.v == dv.nv)
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    # wedges from each corner's oriented out-neighborhood (v < w by id so
    # each unordered out-pair appears once). The closer side is
    # CANONICALIZED to id order — each undirected edge appears in
    # `oriented` exactly once, so (least, greatest) is a bijection — which
    # keeps the closing join a pure equi-join (an OR over both directions
    # would force a Cartesian/BNL join: unshardable at scale)
    o2 = oriented.toDF("u", "w")
    wedges = oriented.join(o2, "u").filter(F.col("v") < F.col("w"))
    closer = oriented.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    tri = wedges.join(closer, ["v", "w"]).select(
        F.col("u").alias("x"), F.col("v").alias("y"), F.col("w").alias("z")
    )
    corners = (
        tri.select(F.col("x").alias("u"))
        .union(tri.select(F.col("y").alias("u")))
        .union(tri.select(F.col("z").alias("u")))
    )
    tc = corners.groupBy("u").agg(F.count("*").alias("n_triangles"))
    return (
        deg.join(tc, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    F.lit(2.0)
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
        .orderBy("doc_id")
    )
