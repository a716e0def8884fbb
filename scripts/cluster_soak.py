"""Scale-soak for the clustering / similarity-join family.

Stage 1 — KMeans: deterministic Lloyd over a synthetically grown
embedding corpus (default 200k × dim 64, 8 planted centers). The
100 TB question: per-round cost must stay scan + ONE hash agg
(centroid update) with the k×dim driver collect constant-size as N
grows. The soak ASSERTS exact planted-cluster recovery (sizes n/k
each) — a tie-break or literal-compilation regression fails loudly.

Stage 2 — prefix-filtered Jaccard join: K×-replicated documents where
every token is prefixed with its copy tag, so cross-copy similarity is
exactly 0 and duplicate DENSITY is constant as the corpus grows (naive
replication, or an appended tag token, leaves cross-copy Jaccard at
n/(n+2) ≥ t and the qualifying-pair set grows K² — an output artifact,
not engine cost). The soak measures the UNCAPPED qualifying-pair count
via queries_ml_ext.prefix_filter_pairs (the registry query tops-k, so
its row count cannot see a blowup) and expects pairs ≈ K × base and
~flat docs/s.

Stage 3 — unigram-vs-shingle A/B on the same slice: quantifies WHY the
join shingles (this corpus's ~200-term unigram vocabulary makes unigram
prefixes non-discriminating); reported as candidate-side wall ratio.

Usage: python scripts/cluster_soak.py [N_vectors] [K_docs]
Defaults: 200000 vectors, 4x documents. Prints one JSON line per stage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tracker_trainer_spark.functions.dedup import (  # noqa: E402
    shingle_hashes_arrow,
)
from tracker_trainer_spark.queries_ml_ext import (  # noqa: E402
    _assign_expr,
    _mean_centroids,
    prefix_filter_pairs,
)
from tracker_trainer_spark.session import get_spark, spread  # noqa: E402
from tracker_trainer_spark.tables import _t  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DIM = 64
KMEANS_K = 8


def synthetic_embeddings(spark, n: int):
    """n deterministic 64-dim vectors with 8 planted centers: center =
    id%8, coordinates = center one-hot ± a hash-derived jitter. No RNG —
    reruns are identical."""
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    jitter = [
        (
            (F.hash(F.col("vec_id") * DIM + d) % 1000) / 5000.0
            + F.when((F.col("vec_id") % KMEANS_K) == (d % KMEANS_K), 1.0)
            .otherwise(0.0)
        ).cast("double")
        for d in range(DIM)
    ]
    return base.select("vec_id", F.array(*jitter).alias("emb"))


def kmeans_soak(spark, n: int) -> dict:
    # sizes are asserted exactly n/k each, so a CLI-supplied N that is
    # not a multiple of k would fail spuriously — round down first
    n -= n % KMEANS_K
    emb = synthetic_embeddings(spark, n).cache()
    emb.count()  # materialize outside the timed region
    init = emb.withColumn("cid", (F.col("vec_id") % KMEANS_K).cast("int"))
    t0 = time.perf_counter()
    centroids = _mean_centroids(init)
    rounds = []
    for _ in range(3):
        r0 = time.perf_counter()
        assigned = emb.withColumn("cid", _assign_expr(centroids)["cid"])
        centroids = _mean_centroids(assigned, prev=centroids)
        rounds.append(time.perf_counter() - r0)
    total = time.perf_counter() - t0
    sizes = sorted(
        r["count"]
        for r in emb.withColumn("cid", _assign_expr(centroids)["cid"])
        .groupBy("cid").count().collect()
    )
    emb.unpersist()
    # planted-center recovery is an ASSERTION, not an eyeball check:
    # the jitter (≤0.2) is far inside the unit inter-center distance,
    # so exact n/k sizes are the only correct outcome
    expected = [n // KMEANS_K] * KMEANS_K
    assert sizes == expected, f"cluster recovery failed: {sizes}"
    return {
        "stage": "kmeans",
        "n_vectors": n,
        "dim": DIM,
        "k": KMEANS_K,
        "rounds_s": [round(r, 2) for r in rounds],
        "total_s": round(total, 2),
        "rows_per_s_per_round": int(3 * n / max(sum(rounds), 1e-9)),
        "recovered_planted_clusters": True,
    }


def _replicated_docs(spark, k: int):
    """K copies of the sliced corpus; EVERY token carries its copy tag,
    so cross-copy Jaccard is exactly 0 and duplicate density (the
    within-copy structure) is invariant in K."""
    docs = _t(spark, SF_DIR, "documents").where(F.col("doc_id") % 10 == 0)
    copies = spark.range(k).select(F.col("id").alias("copy"))
    tag_tokens = F.array_join(
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda t: F.concat(F.lit("c"), F.col("copy"), F.lit("_"), t),
        ),
        " ",
    )
    return (
        docs.crossJoin(copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * 10_000_000)
        .withColumn("text", tag_tokens)
        .drop("copy")
    )


def jaccard_soak(spark, k: int) -> dict:
    big = spread(_replicated_docs(spark, k))
    n_docs = big.count()
    docs = big.select(
        "doc_id", shingle_hashes_arrow("text", 3).alias("toks")
    ).where(F.size("toks") > 0)
    t0 = time.perf_counter()
    n_pairs = prefix_filter_pairs(docs).count()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return {
        "stage": "jaccard_prefix_join",
        "n_docs": n_docs,
        "qualifying_pairs": n_pairs,
        "pairs_per_copy": round(n_pairs / k, 1),
        "total_s": round(dt, 2),
        "docs_per_s": int(n_docs / max(dt, 1e-9)),
    }


def unigram_ab(spark) -> dict:
    """Same slice, same pipeline, unigram vs shingle element sets — the
    measured provenance of 'shingles, not unigrams'."""
    docs = spread(
        _t(spark, SF_DIR, "documents").where(F.col("doc_id") % 10 == 0)
    )
    uni = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("toks"),
    ).where(F.size("toks") > 0)
    sh = docs.select(
        "doc_id", shingle_hashes_arrow("text", 3).alias("toks")
    ).where(F.size("toks") > 0)
    out = {"stage": "unigram_vs_shingle_ab"}
    for label, d in [("unigram", uni), ("shingle", sh)]:
        t0 = time.perf_counter()
        out[f"{label}_pairs"] = prefix_filter_pairs(d).count()
        out[f"{label}_s"] = round(time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
    out["unigram_over_shingle"] = round(
        out["unigram_s"] / max(out["shingle_s"], 1e-9), 1
    )
    return out


def _hubbed_community_graph(spark, n_comm: int, g: int = 10):
    """Deterministic adversarial graph: ``n_comm`` disjoint K_g cliques
    plus ONE global hub adjacent to every clique vertex. Planted truth:
    C(g,3) triangles per clique + C(g,2) hub triangles per clique. The
    hub's degree is n_comm*g — the naive wedge build would enumerate
    C(n_comm*g, 2) wedges AT THE HUB ALONE (quadratic in replication);
    degree orientation must keep total wedges linear in n_comm."""
    v = spark.range(n_comm * g).select(
        F.col("id").alias("v"), (F.col("id") / g).cast("long").alias("comm")
    )
    members = v.groupBy("comm").agg(F.array_sort(F.collect_list("v")).alias("m"))
    intra = members.select(
        F.explode(
            F.filter(
                F.flatten(F.transform(
                    F.col("m"),
                    lambda x: F.transform(F.col("m"),
                                          lambda y: F.struct(x.alias("a"),
                                                             y.alias("b"))),
                )),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    hub_id = n_comm * g
    hub = v.select(F.col("v").alias("a"), F.lit(hub_id).alias("b"))
    return intra.unionAll(hub), hub_id


def graph_soak(spark, n_comm: int, g: int = 10) -> dict:
    """Triangle count + PageRank on the hubbed community graph.

    ASSERTS: exact planted triangle recovery ((C(g,3)+C(g,2)) per
    clique), and the degeneracy bound — oriented wedges ≤ C(g,2) per
    vertex (hub contributes ZERO: it has max degree, so every edge
    orients INTO it), versus the C(hub_deg, 2) wedge bomb the
    unoriented build would detonate. PageRank (5 fixed rounds, same
    plan shape as doc_centrality_pagerank): hub ranks first, teleport
    mass conserved."""
    from tracker_trainer_spark.queries_ml_ext import degree_oriented_triangles

    edges, hub_id = _hubbed_community_graph(spark, n_comm, g)
    # plain repartition, not spread(): spread's partition-count probe
    # finalizes the AQE plan and would build the shuffled graph twice
    # (its contract is scan+narrow plans only; this plan has a groupBy)
    edges = edges.repartition(spark.sparkContext.defaultParallelism).cache()
    n_edges = edges.count()  # materialize outside the timed region
    t0 = time.perf_counter()
    summary, wedges = degree_oriented_triangles(edges)
    row = summary.collect()[0]
    n_wedges = wedges.count()
    tri_s = time.perf_counter() - t0

    expected_tri = n_comm * (g * (g - 1) * (g - 2) // 6 + g * (g - 1) // 2)
    assert row["n_triangles"] == expected_tri, (row, expected_tri)
    n_vertices = n_comm * g + 1
    degeneracy_bound = n_vertices * (g * (g - 1) // 2)
    hub_deg = n_comm * g
    naive_hub_wedges = hub_deg * (hub_deg - 1) // 2
    assert n_wedges <= degeneracy_bound, (n_wedges, degeneracy_bound)

    # PageRank: 5 fixed rounds, inline (same join+agg-per-round shape
    # as queries.doc_centrality_pagerank, over the synthetic graph)
    nodes = spark.range(n_vertices).select(F.col("id").alias("v"))
    sym = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    n = float(n_vertices)
    pr = nodes.select("v", F.lit(1.0 / n).alias("pr"))
    t1 = time.perf_counter()
    for _ in range(5):
        contrib = (
            sym.join(pr, sym.a == pr.v)
            .join(deg, "a")
            .groupBy("b")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        pr = nodes.join(contrib, nodes.v == contrib.b, "left").select(
            "v",
            (F.lit(0.15 / n)
             + F.lit(0.85) * F.coalesce("c", F.lit(0.0))).alias("pr"),
        )
    top = pr.orderBy(F.desc("pr")).limit(1).collect()[0]
    mass = pr.agg(F.sum("pr").alias("s")).collect()[0]["s"]
    pr_s = time.perf_counter() - t1
    assert top["v"] == hub_id, top
    assert abs(mass - 1.0) < 1e-9, mass

    edges.unpersist()
    spark.catalog.clearCache()
    return {
        "stage": "graph_triangles_pagerank",
        "n_comm": n_comm,
        "n_edges": n_edges,
        "hub_degree": hub_deg,
        "n_triangles": row["n_triangles"],
        "oriented_wedges": n_wedges,
        "naive_hub_wedges": naive_hub_wedges,
        "wedge_blowup_avoided_x": round(naive_hub_wedges / max(n_wedges, 1), 1),
        "triangles_s": round(tri_s, 2),
        "edges_per_s_triangles": int(n_edges / max(tri_s, 1e-9)),
        "pagerank5_s": round(pr_s, 2),
        "edges_per_s_per_pr_round": int(5 * 2 * n_edges / max(pr_s, 1e-9)),
        "recovered_planted_triangles": True,
        "hub_is_top_pagerank": True,
    }


def main():
    spark = get_spark(app_name="cluster-soak")
    spark.sparkContext.setLogLevel("ERROR")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    print(json.dumps(kmeans_soak(spark, n)), flush=True)
    print(json.dumps(jaccard_soak(spark, k)), flush=True)
    print(json.dumps(jaccard_soak(spark, 2 * k)), flush=True)
    print(json.dumps(unigram_ab(spark)), flush=True)
    print(json.dumps(graph_soak(spark, 2_000)), flush=True)
    print(json.dumps(graph_soak(spark, 8_000)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
