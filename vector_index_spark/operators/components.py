"""Connected components over duplicate-candidate pair lists.

Near-dup detectors (MinHash/LSH, SimHash, embedding threshold — dedup.py)
emit PAIRS; corpus-level dedup needs CLUSTERS: transitively-connected
groups collapsed to one surviving document. This module closes that gap
with the alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), the standard
choice for web-scale dedup graphs:

  * round count is O(log^2 n) in the WORST case, independent of component
    diameter. Plain hash-min label propagation needs diameter-many rounds
    — a 100 TB near-dup graph chains A~B~C~... through shingle drift, so
    diameter is unbounded in practice.
  * each star step is ONE ``min(v) OVER (PARTITION BY u)`` window — one
    exchange, no groupBy-min plus re-join — and each round ends in one
    dedupe. No driver-side graph state; the edges never leave the cluster.

Convergence: the loop stops after the first round whose output is a star
forest — no vertex is both a parent and a child, and every child has
exactly one parent — checked with one aggregate. Each star is then one
component rooted at its minimum id, the cluster id. The large-star /
small-star fixed point is always a star forest, so no confirming round
runs: duplicate families (stars around an original) finish in one round.

Scale notes: each round ends in ``localCheckpoint`` to truncate lineage
(on a real cluster prefer ``spark.sparkContext.setCheckpointDir`` + a
reliable ``checkpoint()``; local mode has no HDFS). A hub vertex is one
window partition in one task: it spills to disk instead of being held in
memory, but AQE does not split it the way it splits a skewed join.

Reference parity: the reference engine has no graph/clustering surface
(SURVEY §2A); this is a north-star training-pipeline operator
(BASELINE.json dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    m = min(N(u) + {u}). Takes (u, v) in either orientation, self-loops
    and repeats allowed; returns (larger, smaller) with repeats kept —
    small-star's min does not change when an edge repeats."""
    # both orientations from ONE scan, so a lazy pair input runs once
    flip = F.struct(F.col("v").alias("u"), F.col("u").alias("v"))
    sym = edges.select(F.inline(F.array(F.struct("u", "v"), flip)))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u of (larger, smaller) edges, connect every smaller
    neighbor (and u itself) to m = min of its smaller neighbors. Returns
    the canonical form: (parent u, child v), u < v, no dups."""
    m = F.min("v").over(Window.partitionBy("u"))
    out = edges.select(m.alias("m"), F.array("u", "v").alias("nb")).select(
        F.col("m").alias("u"), F.explode("nb").alias("v")
    )
    return out.filter(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def _is_star_forest(edges: DataFrame) -> bool:
    """True when canonical (parent u, child v) edges form a star forest:
    no vertex is both a parent and a child and every child has exactly
    one parent, i.e. a vertex seen as a child is seen exactly once."""
    roles = edges.select(F.col("v").alias("x"), F.lit(True).alias("child")).union(
        edges.select(F.col("u").alias("x"), F.lit(False).alias("child"))
    )
    bad = roles.groupBy("x").agg(
        (F.bool_or("child") & (F.count(F.lit(1)) > 1)).alias("bad")
    )
    return bad.agg(F.count_if("bad")).first()[0] == 0


def _star_forest(
    pairs: DataFrame, src: str, dst: str, max_rounds: int = 30
) -> DataFrame:
    """Star rounds until the edges are a star forest; returns its
    (root u, child v) edges, each root its component's minimum id."""
    edges = pairs.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        if _is_star_forest(edges):
            return edges
    raise RuntimeError(f"connected_components did not converge in {max_rounds} rounds")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Label every vertex appearing in ``pairs`` with its component id
    (the minimum vertex id in the component).

    Runs star rounds (two windows each) until the edges form a star
    forest — see the module docstring for the stop rule and the hub
    scale note — and raises RuntimeError if that takes more than
    ``max_rounds`` rounds. Returns (id, component), one row per distinct
    vertex: a child labelled by its root, each root by itself.
    """
    star = _star_forest(pairs, src, dst, max_rounds)
    children = star.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = star.select(F.col("u").alias("id"), F.col("u").alias("component"))
    return children.union(roots.distinct())


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    replicas: int = 2,
    cos_threshold: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal over an embedding column at corpus scale.

    The O(N^2) cosine self-join is blocked by k-means cells: vectors are
    posted to their ``replicas`` nearest cells (SPANN-style boundary
    replication, so near-dups straddling a cell boundary still meet), the
    threshold scan runs per cell, and surviving pairs collapse to clusters
    via connected components. Work is N^2 * replicas^2 / n_cells per cell
    on average instead of N^2; cells shuffle-partition independently.

    Identical vectors always land in the same cells, so exact duplicates
    are caught regardless of cell count; pairs are verified with exact
    cosine distance, so there are no false positives — only boundary
    misses, bounded by ``replicas``.

    Returns (id_col, cluster_id, keep) for every input vector. Recall is
    gated in tests (kmeans is not SQL-expressible → rows-only contract
    check) and driver-side by the q115 pair gate (zero false positives +
    coverage floor vs the exact pair set).
    """
    vin = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    pairs = semantic_dup_pairs(
        vectors, id_col, vec_col, n_cells, replicas, cos_threshold, seed
    )
    return near_dup_clusters(
        vin.select(F.col("id").alias(id_col)), pairs, id_col=id_col
    )


def semantic_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    replicas: int = 2,
    cos_threshold: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """The pair stage of semantic_dedup, exposed for auditing: every
    (id_a, id_b) with exact cosine distance < threshold that met inside a
    cell. found ⊆ exact by construction (exact verify); misses are
    boundary-bounded by ``replicas`` — both properties are what the q115
    driver gate asserts against the exact blocked scan."""
    from vector_index_spark.index.ivf import build_ivf

    vin = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    assigned, _ = build_ivf(
        vin, n_centroids=n_cells, seed=seed, replicas=replicas
    )
    # the kmeans-assignment pandas UDF upstream is the expensive part and
    # CC's first round would re-execute it several times — evaluate once
    assigned = assigned.localCheckpoint(eager=True)

    # Per-cell threshold scan as ONE normalized GEMM per cell (the
    # SemDeDup paper's within-cluster similarity matrix) instead of a
    # pair-blowup join + per-pair interpreted cosine: the only shuffle is
    # the groupBy on centroid_id, and the similarity matrix is computed in
    # row blocks so task memory stays O(block x cell), not O(cell^2).
    import numpy as np
    import pandas as pd

    thr_sim = 1.0 - cos_threshold

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        Vn = V / norms[:, None]
        out_a, out_b = [], []
        block = 2048
        for lo in range(0, n, block):
            S = Vn[lo : lo + block] @ Vn.T  # (block, n)
            rows, cols = np.nonzero(S >= thr_sim)
            ra = ids[rows + lo]
            rb = ids[cols]
            keep = ra < rb
            out_a.append(ra[keep])
            out_b.append(rb[keep])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(cell_pairs, "id_a long, id_b long")
        # replicas make the same pair meet in up to `replicas` cells
        .dropDuplicates(["id_a", "id_b"])
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Assign every document a duplicate-cluster id and a keep flag.

    Clusters come from the star forest of ``connected_components`` (same
    stop rule and scale notes): ONE left join of the documents against
    its child -> root edges labels them. A root, or a document in no
    pair, is its own cluster; the survivor of each cluster is its
    minimum id. Returns (id_col, cluster_id, keep) for every document.
    """
    star = _star_forest(pairs, src, dst).select(
        F.col("v").alias("__child"), F.col("u").alias("__root")
    )
    return (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .join(star, F.col(id_col) == F.col("__child"), "left")
        .select(
            id_col,
            F.coalesce("__root", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", (F.col(id_col) == F.col("cluster_id")).cast("int"))
    )
