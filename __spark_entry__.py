"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (exact kNN over embeddings at sf0.001).
``queries()`` — one entry per implemented operator from SURVEY.md §2C.
``oracle_sql()`` — DuckDB-equivalent SQL per query (same column names; the
driver compares row count + schema + order-insensitive value hash).

Float contract: every floating-point output column is rounded to 6 decimals
on BOTH sides; distances are float64 with strict left-to-right accumulation
(see vector_index_spark/functions/distance.py). Ordering contract: ties are
broken by id everywhere (SURVEY §7).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_index_spark.functions.distance import cos_dist, ip_dist, l2sq
from vector_index_spark.operators.knn import knn_join, two_phase_knn
from vector_index_spark.operators.recall import recall_total
from vector_index_spark.operators.shard import assign_shards, shard_stats

K = 10
SUB_INDEX_BOUND = 100  # small shards so sf0.01's 500 vectors span 5 shards


_SHIPPED_SESSIONS: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``vector_index_spark`` importable on Python workers regardless
    of the session's launch directory: the applyInPandas/mapInPandas paths
    pickle module-level functions BY REFERENCE, so workers must import the
    package — guaranteed here by shipping it as a zip via addPyFile
    (idempotent per session)."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    import os
    import shutil
    import tempfile

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(
        tempfile.gettempdir(), f"vis_pkg_{os.getpid()}_{key}"
    )
    if not os.path.exists(zip_base + ".zip"):
        shutil.make_archive(
            zip_base, "zip", root_dir=repo_dir, base_dir="vector_index_spark"
        )
    spark.sparkContext.addPyFile(zip_base + ".zip")
    _SHIPPED_SESSIONS.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus = embeddings rows with vec_id % 10 != 0 (train/test split is
    deterministic so the DuckDB oracle can replicate it)."""
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 != 0)
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    )


def _test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"))
    )


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    a = emb.select(F.col("vec_id").alias("aid"), F.col("embedding").alias("a"))
    b = emb.select(F.col("vec_id").alias("bid"), F.col("embedding").alias("b"))
    return a.join(b, F.col("bid") == (F.col("aid") + 1) % F.lit(n))


_PAIRS_SQL = """
  SELECT a.vec_id AS aid, b.vec_id AS bid,
         a.embedding::DOUBLE[] AS a, b.embedding::DOUBLE[] AS b
  FROM embeddings a
  JOIN embeddings b
    ON b.vec_id = (a.vec_id + 1) % (SELECT count(*) FROM embeddings)
"""

_L2SQ_SQL = "list_sum(list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2])))"

# DuckDB token expression — exact twin of functions.text.tokens()
_TOKS_SQL = "list_filter(string_split_regex(lower({t}), '[^a-z0-9]+'), x -> x <> '')"

# Knuth multiplicative hash -> uniform [0,1); mirrors
# vector_index_spark.operators.sampling._u01 exactly (same constants, same
# double division) so sampling decisions hash-match across engines.
_U01 = (
    "(((({id}) * 2654435761 + {salt}) % 2147483648 + 2147483648)"
    " % 2147483648 / 2147483648.0)"
)

_EN_STOP_SQL = "['the', 'a', 'of', 'and', 'to', 'is', 'in']"

def _spread16_sql(x: str) -> str:
    """DuckDB twin of operators.layout.spread_bits_16 — same (shift, mask)
    rounds, plain BIGINT bit ops."""
    e = x
    for shift, mask in [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


# MinHash+LSH candidate/verify pipeline CTEs (shared by q13 and q84):
# ends with `pairs(id_a, id_b, jaccard)` — exact twin of
# operators.dedup.minhash_near_dup's defaults (3-word shingles, 16 hashes,
# 4 bands, verified Jaccard).
_MINHASH_CTES_SQL = f"""
  toks AS (
    SELECT doc_id AS id, {_TOKS_SQL.format(t="text")} AS t FROM documents
  ), sh AS (
    SELECT id, list_distinct(
             [array_to_string(t[i:i+2], ' ')
              for i in range(1, greatest(len(t)-2, 0)+1)]) AS shingles
    FROM toks WHERE len(t) >= 3
  ), sig AS (
    SELECT id, shingles,
      [list_min(list_transform(shingles,
         s -> ('0x'||substring(md5(seed::VARCHAR || ':' || s),1,12))::BIGINT))
       for seed in range(0, 16)] AS sig
    FROM sh
  ), banded AS (
    SELECT id, b AS band,
      ('0x'||substring(md5(array_to_string(sig[b*4+1 : b*4+4], ',')),1,12))::BIGINT
        AS band_hash
    FROM sig, range(0, 4) r(b)
  ), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
                 AND a.id < b.id
  ), pairs AS (
    SELECT c.id_a, c.id_b,
      len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.id = c.id_a
    JOIN sh sb ON sb.id = c.id_b
  )
"""

_KNN_BASE_SQL = f"""
  WITH train AS (
    SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 10 <> 0
  ), test AS (
    SELECT vec_id AS qid, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 10 = 0
  ), d AS (
    SELECT t.qid, c.id, {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
    FROM test t CROSS JOIN train c
  ), ranked AS (
    SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
    FROM d
  )
"""


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------

# per-query attribute-equality kNN (q152 attribute_knn; q168 serves the
# same relation from the warm multi-tenant path — one oracle text)
_ATTR_KNN_SQL = f"""
    WITH train AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec, label
      FROM embeddings WHERE vec_id % 10 <> 0
    ), test AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS vec, label
      FROM embeddings WHERE vec_id % 10 = 0
    ), d AS (
      SELECT t.qid, c.id,
             {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
      FROM test t JOIN train c ON t.label = c.label
    ), ranked AS (
      SELECT qid, id, dist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist, id) AS rank
      FROM d
    )
    SELECT qid, rank, id, round(dist, 6) AS dist
    FROM ranked WHERE rank <= {K}
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact kNN (k=10) of the held-out embeddings against the
    corpus at sf0.001 — the reference's core query (top-k ANN search,
    source/dehnsw.h:512-529) in its exact, oracle-checkable form."""
    sf_dir = "/root/testdata/sf0.001"
    return knn_join(_test(spark, sf_dir), _train(spark, sf_dir), K).select(
        "qid",
        F.col("rank").cast("long").alias("rank"),
        "id",
        F.round("dist", 6).alias("dist"),
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q01_l2sq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q1 — squared-L2 distance column (reference
    source/distance.h:128-135: no sqrt)."""
    p = _pairs(spark, sf_dir)
    return p.select(
        "aid", "bid", F.round(l2sq(F.col("a"), F.col("b")), 6).alias("l2sq")
    )


def q02_ip_cos_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q2 — inner-product & cosine distance columns
    (source/distance.h:143-151, 158-170 — dead code in the reference,
    fully dispatched here)."""
    p = _pairs(spark, sf_dir)
    return p.select(
        "aid",
        "bid",
        F.round(ip_dist(F.col("a"), F.col("b")), 6).alias("ip_dist"),
        F.round(cos_dist(F.col("a"), F.col("b")), 6).alias("cos_dist"),
    )


def q03_knn_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q3 — exact top-k neighbor ids per query, the reference
    binding's output shape (python_binding/dehnswpy.cpp:23-36: ids only,
    ascending distance)."""
    res = knn_join(_test(spark, sf_dir), _train(spark, sf_dir), K)
    return res.select(
        "qid",
        (F.col("rank") - 1).cast("long").alias("pos"),
        F.col("id").alias("neighbor_id"),
    )


def q04_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q4 — exact kNN as a join returning (qid, rank, id, dist)."""
    res = knn_join(_test(spark, sf_dir), _train(spark, sf_dir), K)
    return res.select(
        "qid",
        F.col("rank").cast("long").alias("rank"),
        "id",
        F.round("dist", 6).alias("dist"),
    )


def q05_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q5 — shard assignment + per-shard stats
    (source/dehnsw.h:599-609 semantics)."""
    sharded = assign_shards(_train(spark, sf_dir), SUB_INDEX_BOUND)
    return shard_stats(sharded).select(
        "shard",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        "entry_id",
        "max_id",
    )


def q06_two_phase_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q6 — per-shard top-k then global merge-k; result must
    equal Q4 (the corrected multi-shard query, source/dehnsw.h:532-587)."""
    sharded = assign_shards(_train(spark, sf_dir), SUB_INDEX_BOUND)
    res = two_phase_knn(_test(spark, sf_dir), sharded, K)
    return res.select(
        "qid",
        F.col("rank").cast("long").alias("rank"),
        "id",
        F.round("dist", 6).alias("dist"),
    )


def q07_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q7 — the reference's distance-threshold recall scoring
    (example/dehnsw_example.cpp:26-44), scoring the two-phase result against
    the single-phase result as ground truth (must be total recall)."""
    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    exact = knn_join(test, train, K)
    neighbors = exact.select(
        "qid",
        (F.col("rank") - 1).alias("pos"),
        F.col("id").alias("neighbor_id"),
        "dist",
    )
    sharded = assign_shards(train, SUB_INDEX_BOUND)
    results = two_phase_knn(test, sharded, K)
    return recall_total(results, neighbors).select(
        F.col("total_hit").cast("long").alias("total_hit"),
        F.col("max_hit").cast("long").alias("max_hit"),
        F.round("recall", 6).alias("recall"),
    )


def _toy_edge_index(spark: SparkSession, sf_dir: str):
    """Deterministic kNN-graph edge relation (each train vector's 4
    nearest others) + sharded vectors + params — the SQL-recomputable
    fixture shared by the persistence (q08) and compaction (q117)
    round-trips."""
    from pyspark.sql import Window

    from vector_index_spark.config import IndexParameters

    train = _train(spark, sf_dir)
    g = knn_join(train.select(F.col("id").alias("qid"), "vec"), train, 5)
    nonself = g.filter(F.col("id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    edges = (
        nonself.withColumn("r2", F.row_number().over(w))
        .filter(F.col("r2") <= 4)
        .select(
            (F.col("qid") / F.lit(SUB_INDEX_BOUND)).cast("long").alias("shard"),
            F.lit(0).alias("layer"),
            F.col("qid").alias("src"),
            F.col("id").alias("dst"),
            "dist",
        )
    )
    vectors = assign_shards(train, SUB_INDEX_BOUND).select("shard", "id", "vec")
    params = IndexParameters(dimension=64, sub_index_bound=SUB_INDEX_BOUND)
    return vectors, edges, params


def _edge_aggregate(edges_back: DataFrame) -> DataFrame:
    from vector_index_spark.functions.hashing import portable_hash

    return edges_back.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(
            portable_hash(
                F.concat_ws(
                    ",", F.col("shard").cast("long"), "layer", "src", "dst"
                )
            )
        ).alias("edge_checksum"),
        F.round(F.sum("dist"), 4).alias("dist_sum"),
    )


def q08_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q8 — index persistence round-trip (reference save/load,
    source/dehnsw.h:666-844). Builds a deterministic kNN-graph edge relation
    (each train vector's 4 nearest others), writes it shard-partitioned,
    re-reads it, and aggregates count + portable checksum + distance sum.
    The oracle computes the same aggregate directly: round-trip must be
    identity (mirrors dehnsw_example.cpp:208-228 re-query equivalence)."""
    import os
    import tempfile

    from vector_index_spark.index.persistence import load_index, save_index

    vectors, edges, params = _toy_edge_index(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), f"vis_q08_index_{os.getpid()}")
    save_index(vectors, edges, params, path)
    _, edges_back, params_back = load_index(spark, path)
    assert params_back == params
    return _edge_aggregate(edges_back)


def q117_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op #19 ``optimize`` (python_binding/dehnswpy.cpp:18-21) —
    index compaction must be a pure layout rewrite: save, compact to a new
    path, load the compacted copy, and aggregate the same count/checksum/
    distance-sum as q08. The oracle recomputes the aggregate from the raw
    data, so any row lost, duplicated or altered by compaction
    hash-mismatches."""
    import os
    import tempfile

    from vector_index_spark.index.persistence import (
        compact_index,
        load_index,
        save_index,
    )

    vectors, edges, params = _toy_edge_index(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"vis_q117_{os.getpid()}")
    save_index(vectors, edges, params, base)
    compact_index(spark, base, base + "_compact")
    _, edges_back, params_back = load_index(spark, base + "_compact")
    assert params_back == params
    return _edge_aggregate(edges_back)


def _clustered_split(spark: SparkSession, sf_dir: str):
    """Deterministic clustered variant of the embeddings fixture: 8
    well-separated clusters (offset magnitude >> intra-cluster spread),
    same row counts as _train/_test so the recall-gate oracle holds."""
    clustered = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when((F.col("vec_id") % 8) == (i % 8), F.lit(25.0)).otherwise(
                F.lit(0.0)
            ),
        ).alias("vec"),
    )
    train = clustered.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), "vec"
    )
    test = clustered.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), "vec"
    )
    return train, test


def q118_cell_routed_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall gate for cluster-assigned shard routing
    (operators/shard.ivf_cell_shards + routed_graph_ann_query): on the
    clustered fixture, probing only nprobe=4 of ~8 cell shards must clear
    the recall floor — the sharp-routing property id-ranged shards lack
    (SCALE.md). Measured 1.0 at sf0.01 (floor 0.9)."""
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import build_graph_index
    from vector_index_spark.index.searcher import (
        routed_graph_ann_query,
        shard_centroids,
    )
    from vector_index_spark.operators.shard import ivf_cell_shards

    train, test = _clustered_split(spark, sf_dir)
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=700,
    )
    sharded = ivf_cell_shards(train, 8, params.sub_index_bound, seed=11)
    edges = build_graph_index(sharded, params, shard_col="shard")
    route = routed_graph_ann_query(
        sharded, edges, test, K, nprobe=4, centroids=shard_centroids(sharded)
    )
    return _recall_gate_vs(route, train, test, 0.9)


def q119_mmr_first_pick_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for MMR re-ranking (operators/diversity.mmr_rerank;
    subsumes the former rows-only q116 entry): by
    construction the FIRST selection maximizes pure relevance — the
    diversity term is empty on an empty selected set (Carbonell &
    Goldstein SIGIR'98 eq. 1) — so for every query the rank-1 MMR pick
    must be the shortlist candidate with maximal cosine similarity to
    the query (ties to the smaller id, mirroring the operator's
    deterministic tie order). A greedy-loop or scoring regression flips
    the boolean."""
    from vector_index_spark.operators.diversity import mmr_rerank

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    short = knn_join(test, train, 20).select("qid", "id")
    cand = short.join(train.select("id", "vec"), "id").join(
        F.broadcast(test.select("qid", F.col("vec").alias("qvec"))), "qid"
    )
    res = mmr_rerank(cand, K, lam=0.7)
    first = res.filter(F.col("rank") == 1).select("qid", F.col("id").alias("mmr_id"))

    # INDEPENDENT pure-relevance reference: a separate numpy argmax over
    # the same candidates — not a second mmr_rerank call (which would be
    # tautological: any scoring bug would hit both sides identically),
    # and numpy on both sides so the numpy-vs-HOF last-ulp ordering
    # hazard functions/distance.py documents cannot flip the hash.
    def _best_by_cosine(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id")  # mmr's deterministic tie order
        V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        q = np.asarray(pdf["qvec"].iloc[0], dtype=np.float64)
        nv = np.linalg.norm(V, axis=1)
        nv[nv == 0.0] = 1.0
        cos = (V / nv[:, None]) @ (q / (np.linalg.norm(q) or 1.0))
        pick = int(cos.argmax())  # first (lowest-id) argmax wins
        return pd.DataFrame(
            {"qid": [int(pdf["qid"].iloc[0])], "best_id": [int(pdf["id"].iloc[pick])]}
        )

    best = cand.groupBy("qid").applyInPandas(
        _best_by_cosine, "qid long, best_id long"
    )
    joined = first.join(best, "qid")
    # folded row contract of the former rows-only q116 entry: exactly K
    # rows per query, ranks exactly 1..K, ids distinct
    shape = (
        res.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct("id").alias("__nid"),
            F.countDistinct("rank").alias("__nrk"),
            F.min("rank").alias("__rmin"),
            F.max("rank").alias("__rmax"),
        )
        .agg(
            F.sum("__n").cast("long").alias("n_result_rows"),
            F.min(
                (F.col("__n") == K)
                & (F.col("__nid") == K)
                & (F.col("__nrk") == K)
                & (F.col("__rmin") == 1)
                & (F.col("__rmax") == K)
            ).alias("shape_ok"),
        )
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.min(F.col("mmr_id") == F.col("best_id")).alias("first_pick_is_max_rel"),
    ).crossJoin(shape)


def q120_classifier_margin_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for the fastText-style quality classifier
    (operators/classifier; subsumes the former rows-only q101 entry): scores must separate the weak classes — the mean predicted
    probability over Gopher-pass docs must exceed the mean over fails by
    >= 0.2, and probabilities must be valid. Training collapse (all-0.5
    scores, flipped labels, degenerate fit) flips the booleans."""
    from vector_index_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
        weak_quality_labels,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = weak_quality_labels(docs)
    model = train_quality_classifier(labeled, num_features=1 << 15, max_iter=15)
    scored = score_quality(model, docs).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg(F.when(F.col("label") == 1, F.col("quality_prob"))).alias("p_good"),
        F.avg(F.when(F.col("label") == 0, F.col("quality_prob"))).alias("p_bad"),
        F.min(
            (F.col("quality_prob") >= 0.0) & (F.col("quality_prob") <= 1.0)
        ).alias("probs_valid"),
    )
    return agg.select(
        "n_docs",
        (F.col("p_good") - F.col("p_bad") >= 0.2).alias("separated"),
        "probs_valid",
    )


def q121_kcenter_cover_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for k-center selection (operators/diversity.
    k_center_select; subsumes the former rows-only q99 entry): the
    greedy farthest-point centers must cover the corpus strictly better
    than the naive first-k-ids baseline (coverage radius = max distance
    from any point to its nearest center), and yield exactly k distinct
    corpus members. Gates the 2-approximation actually optimizing."""
    from vector_index_spark.operators.diversity import (
        coverage_radius,
        k_center_select,
    )

    emb = _t(spark, sf_dir, "embeddings")
    df = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))

    selected = k_center_select(df, k=16)
    baseline = [
        (r.id, list(r.vec)) for r in df.orderBy("id").limit(16).collect()
    ]
    r_greedy = coverage_radius(df, selected)
    r_base = coverage_radius(df, baseline)
    n_distinct = len({int(i) for i, _vec in selected})
    return spark.createDataFrame(
        [(
            int(n_distinct),
            bool(n_distinct == 16),
            bool(r_greedy < r_base),
        )],
        "n_centers long, k_distinct boolean, beats_naive_baseline boolean",
    )


def q09_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q9 — exact dedup: GROUP BY text, keep min doc_id."""
    from vector_index_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "text")


def q10_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q10 — threshold similarity join: all pairs with
    l2sq < 1.25 (the distance-bound pattern, source/dehnsw.h:349)."""
    from vector_index_spark.operators.similarity import threshold_join

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    res = threshold_join(
        emb.select(F.col("id").alias("id_a"), "vec"),
        emb.select(F.col("id").alias("id_b"), "vec"),
        threshold=1.25,
    )
    return res.select("id_a", "id_b", F.round("dist", 6).alias("dist"))


def q11_star_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q11 — relational substrate proof: lineitem ⋈ orders ⋈
    customer, group-by market segment + return flag, sum/avg/count."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q12_token_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q12 — corpus token frequency top-25, (count DESC, token
    ASC) total order."""
    from vector_index_spark.operators.textstats import token_frequencies

    return token_frequencies(_t(spark, sf_dir, "documents"), top_n=25)


def q13_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — MinHash+LSH near-duplicate pairs (3-word shingles,
    16 hashes, 4 bands) verified by exact Jaccard >= 0.5."""
    from vector_index_spark.operators.dedup import minhash_near_dup

    res = minhash_near_dup(_t(spark, sf_dir, "documents"))
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q84_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — corpus-level dedup: MinHash near-dup pairs (q13 params)
    -> connected components (alternating large-star/small-star, O(log^2 n)
    rounds) -> every document labeled (cluster_id, keep). Singletons keep
    themselves; each cluster's survivor is its minimum doc_id."""
    from vector_index_spark.operators.components import near_dup_clusters
    from vector_index_spark.operators.dedup import minhash_near_dup

    docs = _t(spark, sf_dir, "documents")
    return near_dup_clusters(docs, minhash_near_dup(docs))


def q86_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine scale path — Z-order (Morton) clustering key over
    (o_custkey, order epoch-day): min-max scale to 16 bits, parallel-
    prefix bit spread, interleave. Pure integer codegen (no UDF); the
    layout operator `zorder_by` range-partitions + sorts on this key so
    Parquet min/max stats prune on both columns at once."""
    from vector_index_spark.operators.layout import scale_to_bits, zorder_key_16

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("days"),
    )
    b = o.agg(
        F.min("o_custkey").alias("alo"), F.max("o_custkey").alias("ahi"),
        F.min("days").alias("blo"), F.max("days").alias("bhi"),
    ).first()
    key = zorder_key_16(
        scale_to_bits(F.col("o_custkey"), int(b["alo"]), int(b["ahi"])),
        scale_to_bits(F.col("days"), int(b["blo"]), int(b["bhi"])),
    )
    return o.select("o_orderkey", key.alias("zkey"))




def q14_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — SimHash near-duplicate pairs (48-bit, Hamming <= 6)."""
    from vector_index_spark.operators.dedup import simhash_near_dup

    res = simhash_near_dup(_t(spark, sf_dir, "documents"))
    return res.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q169_range_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate filtered exact kNN (round 8): neighbors restricted
    to label in [3, 7) AND day_code in [0, 50) — the interval form of a
    curation predicate ("quality tier >= 3 AND date in window") served
    WITHOUT enumerating the interval into a value set
    (operators/filtered.RangeSpec; normalize_allowed accepts
    range(lo, hi)/slice on every filtered surface). The conjunction
    lands on the corpus relation before the distance kernel — two
    comparisons per attribute pushed toward the scan, the same plan as
    the isin form (PLANS.md round 8)."""
    from vector_index_spark.operators.filtered import (
        conjunction_predicate,
        filtered_knn,
        normalize_allowed,
    )

    train, test = _lsplit(spark, sf_dir)
    train = train.withColumn("day_code", F.col("id") % 100)
    allows = normalize_allowed([range(3, 7), range(0, 50)], 2)
    pred = conjunction_predicate(("label", "day_code"), allows)
    res = filtered_knn(test, train, K, pred)
    return res.select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )


def q170_range_serving_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for RANGE filters on the warm serving classes
    (round 8): graph ServingIndex and IVF CellServingIndex built with a
    day_code attribute (id % 100 — a synthetic date window), queried
    under range(lo, hi) specs. Selective window [10, 11) (~1% — under
    fallback_factor*k) -> the auto strategy's masked exact scan must
    EQUAL brute-force range-filtered kNN on BOTH classes; broad window
    [5, 95) (~90%) -> the boosted masked beam returns only in-window
    rows at full Q*k shape with recall >= 0.9 vs exact. The resident
    mask evaluates the interval as two comparisons — RangeSpec rides
    the same broadcast the value sets do. Also gates the DNF (AnyOf)
    mask: two adjacent one-day windows OR'd together must be
    byte-identical to the merged two-day range (same match count ->
    same strategy, so divergence can only be a mask bug). Round 11
    extends the gate: ``single_pass_windows_ok`` pins the no-cap
    single-pass constrained engine (a row-unique-window batch on
    PqServingIndex == exact per-row window kNN, numpy ground truth)
    and ``facade_dispatch_ok`` pins VectorIndex.query_by_window's
    dispatch to the resident graph route with the same exact answers."""
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import build_graph_index
    from vector_index_spark.index.ivf import build_ivf
    from vector_index_spark.index.serving import (
        CellServingIndex,
        ServingIndex,
    )

    train, test = _lsplit(spark, sf_dir)
    train = train.withColumn("day_code", F.col("id") % 100)
    test = test.select("qid", "vec")
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=250,
    )
    edges = build_graph_index(
        train.select("id", "vec"), params
    ).localCheckpoint()
    vectors = assign_shards(train.select("id", "vec"), 250).join(
        F.broadcast(train.select("id", "day_code")), "id"
    )
    gidx = ServingIndex(vectors, edges, attr_col="day_code").warm()
    assigned, cents = build_ivf(
        train.select("id", "vec", "day_code"), n_centroids=8,
        carry_cols=("day_code",),
    )
    cidx = CellServingIndex(
        assigned.localCheckpoint(eager=True), cents, attr_col="day_code"
    ).warm()

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in df.collect()
        )

    sel_pred = (F.col("day_code") >= 10) & (F.col("day_code") < 11)
    sel_exact = rows(knn_join(test, train.filter(sel_pred), K))
    g_ok = rows(gidx.query(test, K, allowed=range(10, 11))) == sel_exact
    c_ok = rows(cidx.query(test, K, allowed=range(10, 11))) == sel_exact

    broad_pred = (F.col("day_code") >= 5) & (F.col("day_code") < 95)
    got = gidx.query(test, K, allowed=range(5, 95)).localCheckpoint(
        eager=True
    )
    bad = got.join(train.select("id", "day_code"), "id").filter(
        ~broad_pred
    ).count()
    truth = set(rows(knn_join(test, train.filter(broad_pred), K)))
    hits = len(set(rows(got)) & truth)
    # DNF (AnyOf) mask contract: two adjacent one-day windows OR'd
    # together must be byte-identical to the merged two-day range —
    # same match count -> same strategy/patience, so any divergence is
    # a mask bug, independent of beam recall
    from vector_index_spark.operators.filtered import AnyOf

    dnf_ok = rows(
        gidx.query(test, K, allowed=AnyOf(range(10, 11), range(11, 12)))
    ) == rows(gidx.query(test, K, allowed=range(10, 12)))
    # round 10: the restart contract rides the same gate — snapshot the
    # graph serving form, restore it (format_version + blob fingerprint
    # validated), and the restored handle must answer the selective
    # range query byte-identically to brute force, like the live one
    import shutil as _shutil
    import tempfile as _tempfile

    snap_dir = _tempfile.mkdtemp(prefix="q170_snap_")
    try:
        gidx.snapshot(snap_dir)
        restored = type(gidx).from_snapshot(spark, snap_dir).warm()
        snap_ok = (
            rows(restored.query(test, K, allowed=range(10, 11)))
            == sel_exact
        )
        restored.unpersist()
    finally:
        _shutil.rmtree(snap_dir, ignore_errors=True)
    # round 11: single-pass constrained serving — a ROW-UNIQUE-window
    # batch (every test row its own [lo, hi), mixed narrow/wide) on
    # PqServingIndex must equal exact per-row window kNN (the round-10
    # per-DISTINCT-window decomposition and its 64-group cap are gone;
    # one masked pass + one cold non-equi join answer all groups), and
    # the facade's query_by_window must dispatch to the resident GRAPH
    # single-pass route and return the same exact answers
    import numpy as _np

    from vector_index_spark.index.pq import encode_pq, train_pq
    from vector_index_spark.index.serving import PqServingIndex

    wtest = test.withColumn(
        "lo", (F.col("qid") / 10).cast("long") % 90
    ).withColumn(
        "hi", F.col("lo") + F.when(F.col("qid") % 20 == 0, 2).otherwise(31)
    ).localCheckpoint(eager=True)
    corp = train.select("id", "vec", "day_code").toPandas()
    c_ids = corp["id"].to_numpy(dtype="int64")
    c_day = corp["day_code"].to_numpy(dtype="int64")
    c_x = _np.stack(corp["vec"].to_numpy()).astype(_np.float64)
    w_want = []
    for r in wtest.collect():
        m = (c_day >= r["lo"]) & (c_day < r["hi"])
        if not m.any():
            continue
        qv = _np.asarray(r["vec"], dtype=_np.float64)
        d = ((c_x[m] - qv[None, :]) ** 2).sum(axis=1)
        ids_m = c_ids[m]
        order = _np.lexsort((ids_m, d))[:K]
        w_want += [
            (r["qid"], rank, int(ids_m[j]), round(float(d[j]), 9))
            for rank, j in enumerate(order, start=1)
        ]
    w_want = sorted(w_want)
    books = train_pq(
        train.select("id", "vec"), n_subspaces=8, n_centroids=16
    )
    pqidx = PqServingIndex(
        encode_pq(train.select("id", "vec"), books).localCheckpoint(
            eager=True
        ),
        train, books, attr_col="day_code",
    ).warm()
    single_pass_ok = (
        rows(pqidx.query_by_window(wtest, K, candidate_factor=64))
        == w_want
    )
    pqidx.unpersist()
    from vector_index_spark.api import VectorIndex as _VI

    fidx = _VI(vectors, edges, params)
    facade_ok = (
        rows(fidx.query_by_window(wtest, K, attr_col="day_code"))
        == w_want
        # round 12: the cache value is (handle, attrs_source)
        and type(fidx._serving_cache[("day_code",)][0]) is ServingIndex
    )
    fidx.invalidate_serving_cache()
    gidx.unpersist()
    cidx.unpersist()
    chain = _gate_snapshot_chain(spark, sf_dir)  # round 12 extension
    return chain.crossJoin(spark.createDataFrame(
        [
            (
                bool(g_ok),
                bool(c_ok),
                bool(bad == 0),
                bool(hits / len(truth) >= 0.9),
                bool(dnf_ok),
                bool(snap_ok),
                bool(single_pass_ok),
                bool(facade_ok),
                # full-shape check: the oracle pins n_test * K, so a
                # short broad result breaks the hash
                int(got.count()),
            )
        ],
        "graph_sel_range_ok boolean, cell_sel_range_ok boolean, "
        "broad_only_matching boolean, broad_recall_ok boolean, "
        "dnf_equiv_ok boolean, snapshot_parity_ok boolean, "
        "single_pass_windows_ok boolean, facade_dispatch_ok boolean, "
        "n_broad_rows long",
    ))


def q150_ivfpq_serving_parity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for warm IVF-PQ serving (index/serving.
    IvfPqServingIndex, round 6): the resident-blob path must answer
    byte-identically to the per-batch ivfpq_knn path on the SAME built
    index — same (qid, rank) -> (id, dist) assignment for every query.
    The gate full-outer-joins the two result relations on (qid, rank)
    and aggregates mismatches; the oracle pins n_queries/n_rows and
    parity_ok=true. A serving divergence (ADC kernel drift, pruned-cell
    bug, tie-order change) breaks the hash."""
    from vector_index_spark.index.ivfpq import build_ivfpq, ivfpq_knn
    from vector_index_spark.index.serving import IvfPqServingIndex

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    enc, cents, books = build_ivfpq(
        train, n_centroids=16, n_subspaces=8, n_pq_centroids=16, replicas=2
    )
    enc = enc.localCheckpoint(eager=True)  # one encode pass, both paths
    batch = ivfpq_knn(test, enc, cents, books, train, K, nprobe=12,
                      candidate_factor=32)
    sidx = IvfPqServingIndex(enc, cents, books, train).warm()
    warm = sidx.query(test, K, nprobe=12, candidate_factor=32)
    j = warm.alias("w").join(
        batch.alias("b"), ["qid", "rank"], "full_outer"
    )
    return j.agg(
        F.count_distinct("qid").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(
            F.when(
                F.col("w.id").eqNullSafe(F.col("b.id"))
                & (F.round(F.col("w.dist"), 6).eqNullSafe(
                    F.round(F.col("b.dist"), 6))),
                0,
            ).otherwise(1)
        ) == 0).alias("parity_ok"),
    )


def q151_rpt_serving_parity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for warm RP-tree serving (index/serving.
    RptServingIndex, round 6): byte parity with the batch rpt_knn path
    at every probe count — same `_probe_leaves` walk, same
    `gemm_topk_frame` leaf kernel, same (dist, id) window; leaves
    partition the corpus so parity is exact, not coverage-dependent.
    (The reference's own sweep harness, example/example.py:37-63, prints
    total_hit + MEAN us/query only — q32 mirrors that table; per-query
    latency distributions belong to the serving regime and are measured
    as sustained-batch percentiles in tools/stress_scale.py.)"""
    from vector_index_spark.index.rpt import assign_rpt, rpt_knn, train_rpt
    from vector_index_spark.index.serving import RptServingIndex

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    W, T = train_rpt(train, depth=3)
    assigned = assign_rpt(train, W, T).localCheckpoint(eager=True)
    batch = rpt_knn(test, assigned, W, T, K, probes=3)
    warm = RptServingIndex(assigned, W, T).warm().query(test, K, probes=3)
    j = warm.alias("w").join(batch.alias("b"), ["qid", "rank"], "full_outer")
    return j.agg(
        F.count_distinct("qid").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(
            F.when(
                F.col("w.id").eqNullSafe(F.col("b.id"))
                & F.col("w.dist").eqNullSafe(F.col("b.dist")),
                0,
            ).otherwise(1)
        ) == 0).alias("parity_ok"),
    )


def _gate_snapshot_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 gate for the incremental-snapshot generation chain:
    three append->refresh->snapshot_incremental waves with
    max_generations=2 must stack two generations and then FOLD into a
    fresh VERSIONED base (crash-safe protocol: new dirs + manifest
    commit + GC of the old version last — vector_index_spark/index/
    serving.py snapshot/_gc_stale_snapshot_dirs); the restored handle
    must byte-equal a cold rebuild of the post-append index; and the
    lineage guard must pin the generation TIP — after one of two
    handles restored from the same snapshot stacks a generation, the
    other's snapshot_incremental raises SnapshotIntegrityError."""
    import os as _os
    import tempfile as _tempfile

    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import (
        append_to_index,
        build_graph_index,
    )
    from vector_index_spark.index.persistence import load_index, save_index
    from vector_index_spark.index.serving import (
        ServingIndex,
        SnapshotIntegrityError,
        _read_manifest_any,
    )

    train, test = _lsplit(spark, sf_dir)
    train = train.select("id", "vec")
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=250,
    )
    work = _tempfile.mkdtemp(prefix="q171_")
    path, snap = f"{work}/idx", f"{work}/snap"
    save_index(
        assign_shards(train, params.sub_index_bound),
        build_graph_index(train, params),
        params,
        path,
    )
    v, e, _ = load_index(spark, path)
    idx = ServingIndex(v, e).warm()
    idx.snapshot(snap)

    waves_ok = True
    for w in range(3):
        wave = test.select(
            (F.col("qid") + 1_000_000 + w * 10_000).alias("id"), "vec"
        ).limit(50)
        affected = append_to_index(spark, path, wave)
        v2, e2, _ = load_index(spark, path)
        idx.refresh(v2, e2, affected)
        idx.snapshot_incremental(snap, max_generations=2)
        gens = [
            d for d in _os.listdir(snap) if d.startswith("blobs_gen_")
        ]
        waves_ok = waves_ok and len(gens) <= 2

    m = _read_manifest_any(spark, snap)
    chain_folded_ok = (
        int(m.get("base_version", 1)) == 2
        and m.get("generations") == []
        and _os.path.isdir(f"{snap}/blobs_v2")
    )
    old_base_gc_ok = not _os.path.exists(f"{snap}/blobs")

    vF, eF, _ = load_index(spark, path)
    cold = ServingIndex(vF, eF).warm()
    restored = ServingIndex.from_snapshot(spark, snap)
    want = {r.shard: bytes(r.blob) for r in cold.blobs.collect()}
    got = {r.shard: bytes(r.blob) for r in restored.blobs.collect()}
    restore_parity_ok = got == want

    other = ServingIndex.from_snapshot(spark, snap)
    restored._pending_snapshot_shards = {0}
    restored.snapshot_incremental(snap)  # moves the chain tip
    other._pending_snapshot_shards = {0}
    try:
        other.snapshot_incremental(snap)
        lineage_tip_ok = False
    except SnapshotIntegrityError:
        lineage_tip_ok = True
    restored.unpersist()
    other.unpersist()
    cold.unpersist()
    idx.unpersist()
    import shutil as _shutil

    _shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(
            bool(waves_ok), bool(chain_folded_ok), bool(old_base_gc_ok),
            bool(restore_parity_ok), bool(lineage_tip_ok),
            int(m.get("base_version", 1)),
        )],
        "waves_bounded_ok boolean, chain_folded_ok boolean, "
        "old_base_gc_ok boolean, restore_parity_ok boolean, "
        "lineage_tip_ok boolean, base_version int",
    )


def _gate_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 gate for the IVF-PQ streaming maintenance twin's
    exactly-once contract (streaming/ingest.py _ivfpq_apply_wave): a
    replay of a fully COMMITTED wave is skipped outright (corpus and
    resident blobs untouched); a replay of a PARTIALLY applied wave
    (corpus appended, crash before the snapshot commit) dedups the
    corpus through the wave-intent marker and ends byte-equal to a
    cold pack over the exactly-once corpus. Round 13 drives the replay
    through the REAL restart recipe (validate=False restore + the
    re-anchoring full-fingerprint base snapshot stream_ivfpq_maintain's
    re-entry writes) — the fp_reconciled boolean now discriminates the
    ADVICE r12 double-count: the commit re-fingerprints in full on the
    intent-matched path instead of adding the wave's delta to a base
    fingerprint that already counted the pre-crash rows."""
    import tempfile as _tempfile

    from vector_index_spark.index.ivfpq import build_ivfpq
    from vector_index_spark.index.serving import IvfPqServingIndex
    from vector_index_spark.streaming.ingest import (
        _committed_batch,
        _ivfpq_apply_wave,
        _write_wave_intent,
    )

    train, _test = _lsplit(spark, sf_dir)
    full = train.select("id", "vec").localCheckpoint(eager=True)
    n = full.count()
    first = full.filter(F.col("id") % 3 == 0)
    wave1 = full.filter(F.col("id") % 3 == 1)
    wave2 = full.filter(F.col("id") % 3 == 2)

    enc, cents, books = build_ivfpq(full, n_centroids=8, replicas=1)
    enc = enc.localCheckpoint(eager=True)
    enc_first = enc.join(F.broadcast(first.select("id")), "id")

    work = _tempfile.mkdtemp(prefix="q172_")
    corpus, snap = f"{work}/corpus", f"{work}/snap"
    first.write.parquet(corpus)
    serving = IvfPqServingIndex(
        enc_first, cents, books, spark.read.parquet(corpus)
    ).warm()
    # stream posture: full fingerprint at the base, additive per-wave
    # deltas after (round 12) — corpus-drift detection at restore with
    # zero per-wave corpus scans
    serving.snapshot(snap, fingerprint_corpus=True)
    applied = {"batch": -1}

    def corpus_ids():
        return sorted(
            r.id for r in spark.read.parquet(corpus).select("id").collect()
        )

    _ivfpq_apply_wave(serving, corpus, snap, "id", "vec", applied, 8,
                      wave1, 0)
    ids1 = corpus_ids()
    blobs1 = {r.cell: bytes(r.blob) for r in serving.blobs.collect()}
    _ivfpq_apply_wave(serving, corpus, snap, "id", "vec", applied, 8,
                      wave1, 0)  # replay of the committed wave
    committed_skip_ok = (
        corpus_ids() == ids1
        and {r.cell: bytes(r.blob) for r in serving.blobs.collect()}
        == blobs1
        and _committed_batch(spark, snap) == 0
    )
    # between committed waves the incrementally-maintained fingerprint
    # matches the corpus: the default-validating restore succeeds
    try:
        IvfPqServingIndex.from_snapshot(
            spark, snap, spark.read.parquet(corpus)
        ).unpersist()
        fp_between_waves_ok = True
    except Exception:
        fp_between_waves_ok = False

    # partial wave 2: corpus append landed, crash before snapshot commit
    _write_wave_intent(spark, snap, 1)
    wave2.write.mode("append").parquet(corpus)
    spark.catalog.refreshByPath(corpus)
    # mid-wave the corpus is AHEAD of the fingerprint: validate=True
    # must refuse (typed), the resume path uses validate=False
    from vector_index_spark.index.serving import SnapshotIntegrityError

    try:
        IvfPqServingIndex.from_snapshot(
            spark, snap, spark.read.parquet(corpus)
        )
        fp_midcrash_refuses_ok = False
    except SnapshotIntegrityError:
        fp_midcrash_refuses_ok = True
    restored = IvfPqServingIndex.from_snapshot(
        spark, snap, spark.read.parquet(corpus), validate=False
    ).warm()
    restore_excludes_uncommitted_ok = {
        r.cell: bytes(r.blob) for r in restored.blobs.collect()
    } == blobs1
    # round 13 (ADVICE r12 high): drive the REAL restart recipe — the
    # maintain loop's re-entry writes a re-anchoring base snapshot with
    # a FULL corpus fingerprint over a corpus that ALREADY holds the
    # pre-crash rows; the replayed wave's commit must then reconcile
    # (full re-fingerprint on the intent-matched path), not
    # double-count the partial rows through the additive delta
    from vector_index_spark.streaming.ingest import _carry_batch_id

    carry = _carry_batch_id(
        spark, snap, getattr(restored, "_snapshot_lineage", None)
    )
    restored.snapshot(snap, fingerprint_corpus=True, stream_batch_id=carry)
    _ivfpq_apply_wave(restored, corpus, snap, "id", "vec",
                      {"batch": carry if carry is not None else -1},
                      8, wave2, 1)
    ids = corpus_ids()
    exactly_once_ok = (
        len(ids) == len(set(ids)) == n
        and _committed_batch(spark, snap) == 1
    )
    cold = IvfPqServingIndex(
        enc, cents, books, spark.read.parquet(corpus)
    ).warm()
    final_parity_ok = {
        r.cell: bytes(r.blob) for r in restored.blobs.collect()
    } == {r.cell: bytes(r.blob) for r in cold.blobs.collect()}
    # the replayed wave's commit reconciled the fingerprint
    try:
        IvfPqServingIndex.from_snapshot(
            spark, snap, spark.read.parquet(corpus)
        ).unpersist()
        fp_reconciled_ok = True
    except Exception:
        fp_reconciled_ok = False
    cold.unpersist()
    restored.unpersist()
    serving.unpersist()
    import shutil as _shutil

    _shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(
            bool(committed_skip_ok), bool(restore_excludes_uncommitted_ok),
            bool(exactly_once_ok), bool(final_parity_ok),
            bool(fp_between_waves_ok), bool(fp_midcrash_refuses_ok),
            bool(fp_reconciled_ok), int(n),
        )],
        "committed_skip_ok boolean, restore_excludes_uncommitted_ok "
        "boolean, exactly_once_ok boolean, final_parity_ok boolean, "
        "fp_between_waves_ok boolean, fp_midcrash_refuses_ok boolean, "
        "fp_reconciled_ok boolean, n_rows int",
    )


def _gate_neardup_warning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 gate for the near-duplicate-density routing rule
    (SCALE.md round 11, encoded as the _warn_if_neardup_dense probe): a
    compressed handle over a corpus where >= candidate_factor*k rows
    share one quantized code must warn exactly once on first query; a
    distinct-vector corpus must stay silent."""
    import warnings as _warnings

    from vector_index_spark.index.pq import encode_pq, train_pq
    from vector_index_spark.index.serving import PqServingIndex

    train, _test = _lsplit(spark, sf_dir)
    base = train.select("id", "vec").limit(20)
    dense = (
        base.crossJoin(spark.range(100).select(F.col("id").alias("rep")))
        .select(
            (F.col("id") * 100 + F.col("rep")).alias("id"),
            F.transform(
                "vec", lambda x: x + F.col("rep") * F.lit(1e-6)
            ).alias("vec"),
        )
        .localCheckpoint(eager=True)
    )
    probe = base.limit(3).select(F.col("id").alias("qid"), "vec")

    books = train_pq(dense, n_subspaces=8, n_centroids=16)
    handle = PqServingIndex(encode_pq(dense, books), dense, books).warm()
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        handle.query(probe, 10, candidate_factor=8).count()
    warned_dense_ok = any(
        "near-duplicate-dense" in str(w.message) for w in caught
    )
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        handle.query(probe, 10, candidate_factor=8).count()
    warn_once_ok = not any(
        "near-duplicate-dense" in str(w.message) for w in caught2
    )
    mult = int(getattr(handle, "_dup_multiplicity", 0))
    handle.unpersist()

    sparse = train.select("id", "vec").localCheckpoint(eager=True)
    books2 = train_pq(sparse, n_subspaces=8, n_centroids=16)
    quiet = PqServingIndex(
        encode_pq(sparse, books2), sparse, books2
    ).warm()
    with _warnings.catch_warnings(record=True) as caught3:
        _warnings.simplefilter("always")
        quiet.query(probe, 10, candidate_factor=8).count()
    quiet_sparse_ok = not any(
        "near-duplicate-dense" in str(w.message) for w in caught3
    )
    quiet.unpersist()

    # round 13 (VERDICT r12 item 4): with a graph-route fallback
    # attached (reroute_dense_to), the dense corpus REROUTES instead of
    # warning — answers equal the graph route's own, and the warning
    # stays quiet (it remains the signal for bare handles only)
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import build_graph_index
    from vector_index_spark.index.serving import ServingIndex
    from vector_index_spark.operators.shard import assign_shards

    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=2000,
    )
    graph = ServingIndex(
        assign_shards(dense, params.sub_index_bound),
        build_graph_index(dense, params),
    ).warm()
    routed = PqServingIndex(encode_pq(dense, books), dense, books).warm()
    routed.reroute_dense_to(graph)
    with _warnings.catch_warnings(record=True) as caught4:
        _warnings.simplefilter("always")
        got = sorted(
            map(tuple, routed.query(probe, 10, candidate_factor=8).collect())
        )
    want = sorted(map(tuple, graph.query(probe, 10).collect()))
    rerouted_ok = got == want and not any(
        "near-duplicate-dense" in str(w.message) for w in caught4
    )
    routed.unpersist()
    graph.unpersist()
    return spark.createDataFrame(
        [(
            bool(warned_dense_ok), bool(warn_once_ok),
            bool(quiet_sparse_ok), bool(mult > 80), bool(rerouted_ok),
        )],
        "warned_dense_ok boolean, warn_once_ok boolean, "
        "quiet_sparse_ok boolean, mult_exceeds_budget_ok boolean, "
        "rerouted_ok boolean",
    )


def _lsplit(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The standard train/test split with the label attribute kept on both
    sides (for the filtered / attribute-constrained ANN entries)."""
    emb = _t(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"), "label"
    )
    return train, test


def q152_label_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query attribute-constrained exact kNN (operators/filtered.
    attribute_knn): each query's neighbors must share its label — the
    per-query-filter form every production vector DB serves, absent from
    the reference (source/dehnsw.h searches the whole corpus). Plan: the
    query batch broadcasts and the corpus equi-joins on the attribute
    (broadcast hash join — the corpus never shuffles), then knn_join's
    partial-top-k window."""
    from vector_index_spark.operators.filtered import attribute_knn

    train, test = _lsplit(spark, sf_dir)
    res = attribute_knn(test, train, K, "label")
    return res.select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )


def q153_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-predicate exact kNN (operators/filtered.filtered_knn):
    nearest neighbors among corpus rows with label % 3 = 0 only. The
    predicate lands on the corpus relation before the distance kernel, so
    it reaches the parquet scan as a pushed filter — strictly cheaper
    than unfiltered search."""
    from vector_index_spark.operators.filtered import filtered_knn

    train, test = _lsplit(spark, sf_dir)
    res = filtered_knn(test, train, K, F.col("label") % 3 == 0)
    return res.select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )


def q154_filtered_ivf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for FILTERED approximate search
    over the IVF route (operators/filtered.ivf_filtered_knn): the label
    predicate rides the posting scan (build_ivf carry_cols) and auto
    strategy selection boosts nprobe by the inverse match rate (match
    rate ~0.42 at sf0.01 -> 3x boost, 12 of 16 cells probed — the same
    pruning ratio as the unfiltered IVF gate q105). Ground truth is the
    exact FILTERED kNN. Measured recall 0.71 at sf0.01 on the
    position-wise metric — the uniform synthetic embeddings are the
    documented IVF worst case (q105 measures in the same band); floor
    0.65 with margin."""
    from vector_index_spark.index.ivf import build_ivf
    from vector_index_spark.operators.filtered import ivf_filtered_knn

    train, test = _lsplit(spark, sf_dir)
    assigned, centroids = build_ivf(train, n_centroids=16, carry_cols=("label",))
    route = ivf_filtered_knn(
        test, assigned, centroids, K, F.col("label") % 3 == 0, nprobe=4
    )
    return _recall_gate_vs(
        route, train.filter(F.col("label") % 3 == 0).select("id", "vec"),
        test.select("qid", "vec"), 0.65,
    )


def q155_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — single-table predicate aggregate: discount
    revenue from a one-year ship window, a discount band, and small
    quantities. The whole query is ONE parquet scan with every predicate
    pushed (PushedFilters) + a map-side partial aggregate — the cheapest
    possible 100 TB plan. Revenue term is one IEEE product per row cast
    to decimal for an order-independent sum (the _rev_decimal contract)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.039)
            & (F.col("l_discount") <= 0.061)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(38,12)"
                    )
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q156_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of the STANDARD-part
    revenue sold into ASIA-region customers per order year, the fraction
    supplied by NATION_3. Dims (region, nation x2, part filter, supplier)
    all broadcast; the only shuffle is the final year aggregate. The
    share divides two decimal sums cast to double (deterministic)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    n1 = _t(spark, sf_dir, "nation")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("n2_name")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _rev_decimal()
    j = (
        li.join(F.broadcast(p.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n2_name") == "NATION_3", rev)
                      .otherwise(F.lit(0).cast("decimal(38,12)"))).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev).cast("double"), 4).alias("total_rev"),
        )
        .orderBy("o_year")
    )


def q157_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and order
    year for parts whose name contains 'gear' (no partsupp table in this
    schema, so cost is the retailprice proxy 0.5 * p_retailprice *
    l_quantity). Per-row amount is a fixed IEEE expression tree cast to
    decimal for the order-independent sum; part/supplier/nation broadcast,
    one shuffle on the (nation, year) aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(38,12)")
    j = (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q158_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts carrying an outsized share of the revenue
    shipped by EUROPE-region suppliers: per-part decimal revenue compared
    against a scalar fraction (0.0008 ~ 1.6x the uniform per-part
    share; 270 of 1984 parts qualify at sf0.01) of the grand total (the Q11
    HAVING-over-scalar-subquery shape; the one-row total broadcast
    cross-joins). Threshold compare is double-vs-double from exact
    decimal sums — deterministic on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_li = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    per_part = eu_li.groupBy("l_partkey").agg(
        F.sum(_rev_decimal()).alias("__value")
    )
    total = per_part.agg(F.sum("__value").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("__value").cast("double")
            > F.lit(0.0008) * F.col("__total").cast("double")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("__value").cast("double"), 4).alias("value"),
        )
        .orderBy(F.col("value").desc(), "p_partkey")
    )


# One SQL text, two engines (the q126 pattern): TPC-H Q12's shape on this
# schema (no shipmode column — the grouping attribute is l_linestatus, and
# "late" is shipped > 45 days after order date).
_Q159_SQL = """
    SELECT l.l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL '45' DAY
      AND l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
"""


def q159_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (see _Q159_SQL): high/low-priority line counts for
    late-shipped lines, grouped by line status. Declared-SQL entry —
    spark.sql() runs the oracle text verbatim; the date-range predicates
    push to the lineitem scan, the non-equi lateness predicate evaluates
    on the joined row, counts are integer-exact."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q159_SQL)


def q160_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the supplier(s) achieving the maximum quarterly
    revenue (the revenue-view + scalar-max shape). Decimal revenue sums
    make the max and its equality compare EXACT, so the argmax row set is
    engine-independent; the one-row max broadcast cross-joins; supplier
    dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_decimal()).alias("__rev"))
    )
    mx = rev.agg(F.max("__rev").alias("__max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__max_rev"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("__rev").cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# Q16's shape on this schema: distinct-supplier counts per part group with
# attribute exclusions and a NOT-IN supplier blocklist (negative balance
# standing in for the complaints filter) — the NOT IN decorrelates to an
# anti join on a non-null key.
_Q161_SQL = """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


def q161_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (see _Q161_SQL). Declared-SQL entry — the NOT IN
    becomes a broadcast anti join (supplier blocklist is 6 rows), part
    attribute filters push to its scan, and count(DISTINCT) runs as the
    standard two-phase distinct aggregate."""
    for t in ("part", "lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q161_SQL)


def q162_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers who shipped well above the per-part
    average quantity of 'gear' parts in 1997 (availqty stands in as 1.5x
    the cross-supplier per-part mean; no partsupp table). Nested
    membership runs as two semi joins: part filter -> lineitem aggregate
    -> qualifying suppliers -> supplier dim. Quantity sums are
    integer-valued doubles (exact in IEEE), so the threshold compare is
    deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    s = _t(spark, sf_dir, "supplier")
    pq = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(p.select("p_partkey")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    pa = pq.groupBy("l_partkey").agg(
        (F.sum("__qty") / F.count(F.lit(1))).alias("__avg_qty")
    )
    qualifying = (
        pq.join(pa, "l_partkey")
        .filter(F.col("__qty") > F.lit(1.5) * F.col("__avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q163_filtered_graph_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for FILTERED beam search over the
    graph route (index/searcher.graph_filtered_ann_query): filtered-HNSW
    semantics — non-matching nodes navigate but never score
    (index/graph.query_shard allowed mask), patience boosted by the
    inverse match rate, and the auto strategy falls back to brute-force
    exact under selective filters. Ground truth is the exact FILTERED
    kNN. Measured recall 1.0 at sf0.01 (4-of-10-label filter, beam
    mode); floor 0.9."""
    from vector_index_spark.index.searcher import graph_filtered_ann_query

    vectors, edges = _graph_index_parts(spark, sf_dir)
    train, test = _lsplit(spark, sf_dir)
    allowed = [0, 3, 6, 9]
    vec_attr = vectors.join(F.broadcast(train.select("id", "label")), "id")
    route = graph_filtered_ann_query(
        vec_attr, edges, test.select("qid", "vec"), K, allowed,
        attr_col="label", mode="beam",
    )
    return _recall_gate_vs(
        route, train.filter(F.col("label").isin(allowed)).select("id", "vec"),
        test.select("qid", "vec"), 0.9,
    )


def q164_filtered_ivfpq_serving_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for FILTERED warm IVF-PQ serving
    (index/serving.IvfPqServingIndex attr_col/allowed, round 6): the
    route a 100 TB deployment actually serves, under a predicate — the
    per-cell blobs carry resident attribute arrays, candidates mask
    BEFORE ADC scoring (every shortlist slot is a matching row), and the
    auto strategy boosts nprobe by the inverse match rate (match rate
    ~0.41 at sf0.01 -> 3x boost, 12 of 16 cells). Ground truth is the
    exact FILTERED kNN. candidate_factor=16: the filtered corpus is
    small (~185 rows), so the ADC shortlist must cover most of it or
    truncation, not probing, caps recall (0.794 at cf=8 -> 0.928 at
    cf=16, plateau). Measured 0.928 at sf0.01 on the position-wise
    metric; floor 0.85 (the unfiltered IVF-PQ gate q108's band). Byte
    parity with the batch path over pre-filtered relations and the
    selective->exact fallback are asserted in tests/test_serving.py."""
    from vector_index_spark.index.ivfpq import build_ivfpq
    from vector_index_spark.index.serving import IvfPqServingIndex

    train, test = _lsplit(spark, sf_dir)
    enc, cents, books = build_ivfpq(
        train.select("id", "vec"), n_centroids=16, replicas=2
    )
    sidx = IvfPqServingIndex(
        enc.localCheckpoint(eager=True), cents, books, train,
        attr_col="label",
    ).warm()
    allowed = [0, 3, 6, 9]
    route = sidx.query(
        test.select("qid", "vec"), K, nprobe=4, candidate_factor=16,
        allowed=allowed,
    )
    gate = _recall_gate_vs(
        route, train.filter(F.col("label").isin(allowed)).select("id", "vec"),
        test.select("qid", "vec"), 0.85,
    )
    gate = gate.localCheckpoint(eager=True)
    sidx.unpersist()
    return gate


def q165_dict_encode_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encode code tables (operators/filtered.dict_encode,
    round 7): string attribute columns (lang, source) map to dense
    0-based codes in sorted value order — the deterministic,
    engine-independent contract (the oracle reproduces it as DuckDB
    dense_rank() - 1). The table build is one distinct per column
    (dictionary cardinality, not corpus cardinality); the encode itself
    is a broadcast join back onto the corpus. These code tables are what
    the filtered warm-serving classes consume for string predicates
    ("lang = 'en' AND source IN (...)") via integral conjunction masks."""
    from vector_index_spark.operators.filtered import dict_encode

    docs = _t(spark, sf_dir, "documents")
    _, tables = dict_encode(docs, ["lang", "source"])
    parts = []
    for attr in ("lang", "source"):
        counts = docs.groupBy(F.col(attr).alias("value")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        parts.append(
            tables[attr]
            .join(counts, "value")
            .select(
                F.lit(attr).alias("attr"), "value",
                F.col("code").cast("long").alias("code"), "n_rows",
            )
        )
    return parts[0].unionByName(parts[1])


def q166_string_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-predicate filtered exact kNN through the dictionary-encode
    path (VERDICT r6 item 3's headline predicate): neighbors restricted
    to documents with lang = 'en' AND source IN ('src1','src12','src18'),
    evaluated in Spark ENTIRELY over dict_encode's integral codes
    (codes_for drives the driver-side value->code lookup; the
    conjunction_predicate lands on the corpus relation before the
    kernel), while the oracle filters the raw strings — a hash match
    proves the encode+filter path is value-faithful end to end."""
    from vector_index_spark.operators.filtered import (
        codes_for,
        conjunction_predicate,
        dict_encode,
        filtered_knn,
    )

    docs = _t(spark, sf_dir, "documents")
    enc, tables = dict_encode(docs, ["lang", "source"])
    emb = _t(spark, sf_dir, "embeddings")
    corpus = (
        emb.filter(F.col("vec_id") % 10 != 0)
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .join(
            enc.select(F.col("doc_id").alias("id"), "lang_code", "source_code"),
            "id",
        )
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    allows = (
        codes_for(tables["lang"], "en"),
        codes_for(tables["source"], ["src1", "src12", "src18"]),
    )
    pred = conjunction_predicate(("lang_code", "source_code"), allows)
    res = filtered_knn(test, corpus, K, pred)
    return res.select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )


def q167_conjunction_serving_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for MULTI-ATTRIBUTE conjunction filtering on the
    warm serving classes (VERDICT r6 items 3+4): graph ServingIndex and
    IvfPqServingIndex built with attr_col=["label","label2"], queried
    under AND-of-IN value sets at two selectivities. Selective
    (~13% of corpus, under fallback_factor*k) -> the auto strategy's
    exact branch must EQUAL brute-force conjunction-filtered kNN on both
    classes; broad (~47%) -> the masked beam returns only matching rows
    with recall >= 0.9 vs exact and the full Q*k shape. Booleans + the
    oracle-pinned row count make the gate hash-checkable."""
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import build_graph_index
    from vector_index_spark.index.ivfpq import build_ivfpq
    from vector_index_spark.index.serving import (
        IvfPqServingIndex,
        ServingIndex,
    )

    train, test = _lsplit(spark, sf_dir)
    train = train.withColumn("label2", F.col("id") % 3)
    test = test.select("qid", "vec")
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=250,
    )
    edges = build_graph_index(train.select("id", "vec"), params).localCheckpoint()
    vectors = assign_shards(train.select("id", "vec"), 250).join(
        F.broadcast(train.select("id", "label", "label2")), "id"
    )
    gidx = ServingIndex(vectors, edges, attr_col=["label", "label2"]).warm()
    enc, cents, books = build_ivfpq(
        train.select("id", "vec"), n_centroids=8, replicas=1
    )
    pidx = IvfPqServingIndex(
        enc.localCheckpoint(eager=True), cents, books, train,
        attr_col=["label", "label2"],
    ).warm()

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in df.collect()
        )

    sel_allowed = [[3, 5], [0, 1]]
    sel_pred = F.col("label").isin(3, 5) & F.col("label2").isin(0, 1)
    sel_exact = rows(knn_join(test, train.filter(sel_pred), K))
    g_sel_ok = rows(gidx.query(test, K, allowed=sel_allowed)) == sel_exact
    p_sel_ok = rows(pidx.query(test, K, nprobe=3, allowed=sel_allowed)) \
        == sel_exact

    broad_allowed = [[0, 1, 2, 3, 4, 5, 6], [0, 1]]
    broad_pred = (
        F.col("label").isin(*broad_allowed[0])
        & F.col("label2").isin(*broad_allowed[1])
    )
    got = gidx.query(test, K, allowed=broad_allowed).localCheckpoint(
        eager=True
    )
    bad = got.join(train.select("id", "label", "label2"), "id").filter(
        ~broad_pred
    ).count()
    truth = set(rows(knn_join(test, train.filter(broad_pred), K)))
    hits = len(set(rows(got)) & truth)
    recall_ok = hits / len(truth) >= 0.9
    n_broad = got.count()

    # round 14 (VERDICT r13 item 8): TupleIn — an explicit allow-list
    # of attribute TUPLES (the entity-allow-list predicate) evaluated
    # as ONE vectorized structured-isin mask in the serving kernels
    # (no per-disjunct loop) and one struct-IN Catalyst predicate on
    # the exact side. Selective tuple set -> both classes EQUAL the
    # brute-force tuple-filtered kNN.
    from vector_index_spark.operators.filtered import (
        TupleIn,
        conjunction_predicate,
    )

    tup_spec = TupleIn((3, 0), (5, 1), (7, 2))
    tup_pred = conjunction_predicate(("label", "label2"), tup_spec)
    tup_exact = rows(knn_join(test, train.filter(tup_pred), K))
    g_tup_ok = rows(gidx.query(test, K, allowed=tup_spec)) == tup_exact
    p_tup_ok = rows(pidx.query(test, K, nprobe=3, allowed=tup_spec)) \
        == tup_exact
    gidx.unpersist()
    pidx.unpersist()
    return spark.createDataFrame(
        [(
            bool(g_sel_ok), bool(p_sel_ok), bool(bad == 0),
            bool(recall_ok), int(n_broad),
            bool(g_tup_ok), bool(p_tup_ok),
        )],
        "graph_sel_parity_ok boolean, ivfpq_sel_parity_ok boolean, "
        "broad_only_matching boolean, broad_recall_ok boolean, "
        "n_broad_rows long, graph_tuplein_parity_ok boolean, "
        "ivfpq_tuplein_parity_ok boolean",
    )


def q168_multi_tenant_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tenant warm serving (round 7): every query row carries its
    own attribute value and its neighbors must share it —
    ServingIndex.query_by_attribute, the per-query-equality warm form of
    q152's attribute_knn (the isolation pattern a multi-tenant vector
    service runs). The mixed batch groups by tenant; at sf0.01 every
    label group (~45 rows) sits under the exact boundary, so each group
    serves from the masked exact GEMM over the resident shard matrices —
    the oracle (q152's per-label join SQL) must hash-match."""
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import build_graph_index
    from vector_index_spark.index.serving import ServingIndex

    train, test = _lsplit(spark, sf_dir)
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=250,
    )
    edges = build_graph_index(train.select("id", "vec"), params).localCheckpoint()
    vectors = assign_shards(train.select("id", "vec"), 250).join(
        F.broadcast(train.select("id", "label")), "id"
    )
    sidx = ServingIndex(vectors, edges, attr_col="label").warm()
    res = sidx.query_by_attribute(test, K, qattr_col="label").select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    ).localCheckpoint(eager=True)
    sidx.unpersist()
    # round 10: the IVF route's tenant form (CellServingIndex.
    # query_by_attribute) must answer the SAME batch identically — all
    # tenants are under the exact boundary on both routes, so any
    # divergence is a mask/positional-keying bug; it raises here and
    # reds the driver gate
    from vector_index_spark.index.ivf import build_ivf
    from vector_index_spark.index.serving import CellServingIndex

    assigned, cents = build_ivf(train.select("id", "vec"), n_centroids=8)
    cidx = CellServingIndex(
        assigned.join(F.broadcast(train.select("id", "label")), "id")
        .localCheckpoint(eager=True),
        cents, attr_col="label",
    ).warm()
    cell = cidx.query_by_attribute(test, K, qattr_col="label").select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )
    n_diff = res.exceptAll(cell).count() + cell.exceptAll(res).count()
    cidx.unpersist()
    if n_diff:
        raise AssertionError(
            f"CellServingIndex.query_by_attribute diverged from the "
            f"graph route on {n_diff} rows"
        )
    return res


def q15_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — per-document quality profile (token/char counts,
    punctuation & stopword ratios, quality score)."""
    from vector_index_spark.operators.textstats import text_profile

    return text_profile(_t(spark, sf_dir, "documents"))


def q16_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — stopword-profile language ID with deterministic
    (score DESC, lang ASC) argmax."""
    from vector_index_spark.operators.textstats import language_id

    return language_id(_t(spark, sf_dir, "documents"))


def q17_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — dedup on 48-bit fingerprint of normalized text."""
    from vector_index_spark.operators.dedup import fingerprint_dedup

    return fingerprint_dedup(_t(spark, sf_dir, "documents"))


def q18_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — embedding near-duplicate pairs: cosine distance < 0.65."""
    from vector_index_spark.operators.dedup import embedding_near_dup

    res = embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), cos_threshold=0.65
    )
    return res.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q19_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — character-3-gram Jaccard pairs >= 0.7, blocked by
    source (the blocking pattern that keeps pairwise work sub-quadratic)."""
    from vector_index_spark.operators.dedup import ngram_jaccard_pairs

    res = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_col="source", threshold=0.7
    )
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q24_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star / §2D streaming — tumbling-window aggregation over the
    events table (batch form of the Structured Streaming query; the
    streaming twin with watermark is tested in tests/test_streaming.py)."""
    from vector_index_spark.sources.loaders import read_events
    from vector_index_spark.streaming.events import hourly_event_stats

    return hourly_event_stats(read_events(spark, sf_dir))


def q25_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star / §2D streaming — gap-based session windows per user
    (Spark native session_window; oracle is the gaps-and-islands SQL)."""
    from vector_index_spark.sources.loaders import read_events
    from vector_index_spark.streaming.events import session_windows

    return session_windows(read_events(spark, sf_dir))


def q26_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star multimodal — binary payload column + scan-side metadata
    profile (no decode, no Python): byte length + md5."""
    from vector_index_spark.multimodal.binary_ops import (
        payload_stats,
        with_text_payload,
    )

    mm = with_text_payload(_t(spark, sf_dir, "documents"))
    return payload_stats(mm).select(
        F.col("id").alias("doc_id"), "modality", "n_bytes", "payload_md5"
    )


def q27_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star multimodal — deterministic byte-histogram featurizer over
    binary payloads via Arrow-batched mapInPandas. Rows-only check (the
    histogram arrays are exact but mapInPandas is not SQL-expressible);
    determinism is asserted in tests/test_multimodal.py."""
    from vector_index_spark.multimodal.binary_ops import (
        byte_histogram_features,
        with_text_payload,
    )

    mm = with_text_payload(_t(spark, sf_dir, "documents"))
    feats = byte_histogram_features(mm)
    return feats.select(
        F.col("id").alias("doc_id"),
        F.round(F.element_at("features", 1), 6).alias("hist_0"),
        F.round(F.element_at("features", 8), 6).alias("hist_7"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("hist_sum"),
    )


_GRAPH_CACHE: dict[str, tuple] = {}


def _graph_index_parts(spark: SparkSession, sf_dir: str):
    """Build (or reuse) the q20/q22 graph index. The build is deterministic,
    so memoizing the cached edge relation per sf_dir only saves the driver
    from rebuilding the identical graph for every ANN query it checks."""
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import build_graph_index

    if sf_dir in _GRAPH_CACHE:
        return _GRAPH_CACHE[sf_dir]
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64, step=2,
        sub_index_bound=250,
    )
    train = _train(spark, sf_dir)
    edges = build_graph_index(train, params).cache()
    vectors = assign_shards(train, params.sub_index_bound)
    _GRAPH_CACHE[sf_dir] = (vectors, edges)
    return vectors, edges


# --------------------------------------------------------------------------
# ANN route builders — ONE definition of each route's production config,
# shared by the rows-only result query (qNN_*_ann) and its hash-matched
# recall gate (q1NN_*_recall_gate) so the two can never drift apart.
# --------------------------------------------------------------------------

def _route_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.searcher import graph_ann_query

    vectors, edges = _graph_index_parts(spark, sf_dir)
    return graph_ann_query(vectors, edges, _test(spark, sf_dir), K, 64)


def _route_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.lsh import rp_lsh_knn

    return rp_lsh_knn(_test(spark, sf_dir), _train(spark, sf_dir), K)


def _route_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.ivf import build_ivf, ivf_knn

    train = _train(spark, sf_dir)
    assigned, centroids = build_ivf(train, n_centroids=16)
    return ivf_knn(_test(spark, sf_dir), assigned, centroids, K, nprobe=12)


def _route_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.pq import encode_pq, pq_knn, train_pq

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    books = train_pq(train, n_subspaces=8, n_centroids=64)
    return pq_knn(test, encode_pq(train, books), train, books, K,
                  candidate_factor=16)


def _route_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.sq import encode_sq, sq_knn, train_sq

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    mins, maxs = train_sq(train)
    return sq_knn(test, encode_sq(train, mins, maxs), train, mins, maxs, K,
                  candidate_factor=3)


def _route_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.ivfpq import build_ivfpq, ivfpq_knn

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    enc, cents, books = build_ivfpq(
        train, n_centroids=16, n_subspaces=8, n_pq_centroids=16, replicas=2
    )
    return ivfpq_knn(test, enc, cents, books, train, K, nprobe=12,
                     candidate_factor=32)


def _route_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.pca import pca_knn, project_pca, train_pca

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    mean, comp = train_pca(train, 32)
    return pca_knn(test, project_pca(train, mean, comp), mean, comp, K)


def _route_rpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.index.rpt import assign_rpt, rpt_knn, train_rpt

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    W, T = train_rpt(train, depth=3, seed=7)
    return rpt_knn(test, assign_rpt(train, W, T), W, T, K, probes=4)


def _route_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_index_spark.operators.hamming import hamming_shortlist_knn

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    return hamming_shortlist_knn(test, train, K, dim=64, candidate_factor=16)


def _recall_gate(
    spark: SparkSession, sf_dir: str, route: DataFrame, floor: float
) -> DataFrame:
    """Hash-matched recall gate for an approximate route.

    The DuckDB oracle independently pins the ground-truth denominator
    (n_queries and max_hit = n_queries * k follow from the deterministic
    train/test split) and the declared floor; the Spark side must then
    achieve ``recall_ok = true`` on the reference's position-wise
    distance-threshold recall (operators/recall.py — the
    dehnsw_example.cpp:26-44 metric, which is STRICTER than set-overlap
    recall: one miss fails every later position). Any route regression
    flips recall_ok and the driver records a hash mismatch — a hard
    correctness row for a non-SQL-expressible route. Floors are set from
    measured sf0.01 values with margin; the uniform synthetic embeddings
    are the documented worst case for locality structures, so production
    corpora sit far above them.
    """
    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    return _recall_gate_vs(
        route, train, test, floor,
        neighbors=_exact_neighbors_memo(spark, sf_dir),
    )


# Nine route gates share one ground truth on the standard train/test split;
# memoize the (bounded: Q*K rows) exact-kNN result per (session, sf_dir) so
# a driver correctness run computes it once, not once per gate. Keyed by
# applicationId so a stale entry can never leak across sessions.
_NEIGHBORS_MEMO: dict = {}


def _exact_neighbors_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _NEIGHBORS_MEMO.get(key)
    if hit is not None:
        return hit
    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    neighbors = knn_join(test, train, K).select(
        "qid", (F.col("rank") - 1).alias("pos"),
        F.col("id").alias("neighbor_id"), "dist",
    ).localCheckpoint(eager=True)
    _NEIGHBORS_MEMO.clear()  # at most one cached split at a time
    _NEIGHBORS_MEMO[key] = neighbors
    return neighbors


def _recall_gate_vs(
    route: DataFrame, train: DataFrame, test: DataFrame, floor: float,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """_recall_gate against an explicit corpus/query split (for gates whose
    fixture transforms the vectors — e.g. the clustered cell-routing
    fixture; row counts, and therefore the oracle, are unchanged).

    Besides the recall floor, the gate carries the ROUTE-SHAPE contract
    that used to live in separate rows-only entries (VERDICT r3 #7):
    ``n_route_rows`` (oracle pins n_queries * k) and ``shape_ok`` — per
    query exactly k rows, k distinct ids, ranks exactly 1..k, and
    distance non-decreasing in rank. The route is localCheckpointed
    (bounded: Q*k rows) so the recall join and the shape audit share one
    route execution."""
    from pyspark.sql import Window

    route = route.localCheckpoint(eager=True)
    if neighbors is None:
        neighbors = knn_join(test, train, K).select(
            "qid", (F.col("rank") - 1).alias("pos"),
            F.col("id").alias("neighbor_id"), "dist",
        )
    w = Window.partitionBy("qid").orderBy("rank")
    per_q = (
        route.withColumn("__prev", F.lag("dist").over(w))
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct("id").alias("__nid"),
            F.countDistinct("rank").alias("__nrk"),
            F.min("rank").alias("__rmin"),
            F.max("rank").alias("__rmax"),
            F.max(
                F.coalesce(F.col("dist") < F.col("__prev"), F.lit(False))
            ).alias("__viol"),
        )
    )
    shape = per_q.agg(
        F.sum("__n").cast("long").alias("n_route_rows"),
        F.min(
            (F.col("__n") == K)
            & (F.col("__nid") == K)
            & (F.col("__nrk") == K)
            & (F.col("__rmin") == 1)
            & (F.col("__rmax") == K)
            & ~F.col("__viol")
        ).alias("shape_ok"),
    )
    gate = recall_total(route, neighbors).select(
        (F.col("max_hit") / K).cast("long").alias("n_queries"),
        F.col("max_hit").cast("long").alias("max_hit"),
        F.lit(float(floor)).alias("recall_floor"),
        (F.col("recall") >= floor).alias("recall_ok"),
    )
    return gate.crossJoin(shape)


def _recall_gate_oracle(floor: float) -> str:
    return f"""
        SELECT count(*) AS n_queries,
               count(*) * {K} AS max_hit,
               {floor}::DOUBLE AS recall_floor,
               true AS recall_ok,
               count(*) * {K} AS n_route_rows,
               true AS shape_ok
        FROM embeddings WHERE vec_id % 10 = 0
    """


def q22_graph_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall + route-shape contract of the graph-ANN route (dehnsw
    semantics: bulk build per shard + beam search, source/dehnsw.h:
    241-323/403-509) vs exact kNN — the reference's own quality metric
    (example/dehnsw_example.cpp:26-44,185) as a hash-matched gate (see
    _recall_gate_vs). Measured recall 1.0 at sf0.01."""
    return _recall_gate(spark, sf_dir, _route_graph(spark, sf_dir), 0.95)


def q104_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the engine's native E2LSH
    route (seeded Gaussian projections, banded bucket join, multi-probe,
    exact Arrow re-rank; the MLlib BucketedRandomProjectionLSH
    compatibility path is exercised in tests/test_ann_routes.py).
    Measured 0.974 at sf0.01 on the position-wise metric."""
    return _recall_gate(spark, sf_dir, _route_lsh(spark, sf_dir), 0.9)


def q105_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the IVF route (KMeans cells +
    nprobe probing, fixed seed — the partition-pruned scale path).
    Measured 0.758 at sf0.01 — the position-wise metric fails every rank
    after the first miss, and uniform embeddings are k-means' worst case;
    clustered-data recall >= 0.95 is gated in tests/test_ann_routes.py."""
    return _recall_gate(spark, sf_dir, _route_ivf(spark, sf_dir), 0.7)


def q106_pq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the PQ/ADC route. Measured
    0.978 at sf0.01. Round 12 extends the gate with the near-duplicate-
    density routing rule (_gate_neardup_warning): the compressed-route
    warning must fire once on a dense corpus and stay silent on a
    distinct-vector one. Round 13 extends it with the reroute contract
    (rerouted_ok): with a graph fallback attached via reroute_dense_to,
    the dense corpus DISPATCHES to the graph route (answers equal the
    graph route's own, no warning)."""
    return _recall_gate(spark, sf_dir, _route_pq(spark, sf_dir), 0.9).crossJoin(
        _gate_neardup_warning(spark, sf_dir)
    )


def _gate_sq_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-13 gate for incremental maintenance on the flat compressed
    routes (VERDICT r12 item 5, SqServingIndex.refresh +
    snapshot_incremental): a wave ingested through refresh must answer
    exactly like a cold build over the union corpus (full candidate
    coverage — both exact), and a from_snapshot restore of the
    incremental chain must match the live handle."""
    import tempfile as _tempfile

    from vector_index_spark.index.serving import SqServingIndex
    from vector_index_spark.index.sq import encode_sq, train_sq

    train, test = _lsplit(spark, sf_dir)
    first = train.filter(F.col("id") < 300).select("id", "vec")
    wave = train.filter(F.col("id") >= 300).select("id", "vec")
    union = first.unionByName(wave).localCheckpoint(eager=True)
    probe = test.limit(10).select("qid", "vec")
    n = union.count()
    cf_full = (n + 9) // 10
    mins, maxs = train_sq(first)  # bounds frozen at the first corpus
    work = _tempfile.mkdtemp(prefix="q107_maintain_")
    snap = f"{work}/snap"
    idx = SqServingIndex(
        encode_sq(first, mins, maxs).localCheckpoint(eager=True),
        first, mins, maxs,
    ).warm()
    idx.snapshot(snap)
    idx.refresh(wave, union)
    idx.snapshot_incremental(snap)
    cold = SqServingIndex(
        encode_sq(union, mins, maxs).localCheckpoint(eager=True),
        union, mins, maxs,
    ).warm()
    want = sorted(
        map(tuple, cold.query(probe, 10, candidate_factor=cf_full).collect())
    )
    live = sorted(
        map(tuple, idx.query(probe, 10, candidate_factor=cf_full).collect())
    )
    restored = SqServingIndex.from_snapshot(spark, snap, union)
    back = sorted(
        map(tuple,
            restored.query(probe, 10, candidate_factor=cf_full).collect())
    )
    maintain_parity_ok = live == want
    restore_parity_ok = back == want
    idx.unpersist()
    cold.unpersist()
    restored.unpersist()
    import shutil as _shutil

    _shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(bool(maintain_parity_ok), bool(restore_parity_ok))],
        "maintain_parity_ok boolean, maintain_restore_parity_ok boolean",
    )


def q107_sq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the SQ8 route. Measured 1.0 at
    sf0.01 (uint8 quantization loses nothing at candidate_factor=3 on
    64-dim data). Round 13 extends the gate with the incremental-
    maintenance contract (_gate_sq_maintain): a refresh-ingested wave
    answers exactly like a cold build over the union corpus, and the
    incremental snapshot restores to the same answers."""
    return _recall_gate(
        spark, sf_dir, _route_sq(spark, sf_dir), 0.98
    ).crossJoin(_gate_sq_maintain(spark, sf_dir))


def q108_ivfpq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the IVF-PQ route. Measured
    0.948 at sf0.01. Round 12 extends the gate with the streaming
    maintenance twin's exactly-once contract (_gate_stream_replay):
    committed-wave replays skip, partial-wave replays dedup the corpus
    through the wave-intent marker, and the final state byte-equals a
    cold pack over the exactly-once corpus."""
    return _recall_gate(
        spark, sf_dir, _route_ivfpq(spark, sf_dir), 0.85
    ).crossJoin(_gate_stream_replay(spark, sf_dir))


def q109_pca_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the PCA filter-and-refine
    route. Measured 0.458 at sf0.01: uniform embeddings have a FLAT
    spectrum, the documented worst case for spectral truncation (tests
    gate >= 0.99 on decaying spectra). The gate still hard-fails any
    machinery regression."""
    return _recall_gate(spark, sf_dir, _route_pca(spark, sf_dir), 0.4)


def q110_rpt_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the random-projection-tree
    route. Measured 0.164 at sf0.01: depth-3/4-probe on UNIFORM data is
    the documented worst case (no cluster structure for median splits to
    find; position-wise metric compounds each miss). Clustered-data
    recall >= 0.95 is gated in tests/test_ann_routes.py; exhaustive
    probing is exact (verified in tests). The gate hard-fails any
    machinery regression."""
    return _recall_gate(spark, sf_dir, _route_rpt(spark, sf_dir), 0.12)


def q111_hamming_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched recall + shape gate for the Hamming sign-bit shortlist
    route. Measured 0.746 at sf0.01 (1-bit sign quantization on uniform
    64-dim data; clustered-data gate in tests/test_pipeline_ops.py)."""
    return _recall_gate(spark, sf_dir, _route_hamming(spark, sf_dir), 0.7)


def q112_lsh_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for the LSH-bucketed similarity join (index/lsh.
    lsh_similarity_join; subsumes the former rows-only q39 entry): the
    oracle recomputes the EXACT threshold-join pair count in SQL and pins
    false_positives = 0 (candidates are exact-distance verified, so found
    ⊆ exact by construction) and a coverage floor. Measured coverage 1.0
    at sf0.01 (8 hash tables recover every pair); floor 0.95."""
    from vector_index_spark.index.lsh import lsh_similarity_join
    from vector_index_spark.operators.similarity import threshold_join

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec"))
    found = (
        lsh_similarity_join(a, b, threshold=1.25)
        .filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").cache()
    )
    exact = (
        threshold_join(a, b, 1.25)
        .filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").cache()
    )
    n_found, n_exact = found.count(), exact.count()
    fp = found.join(exact, ["id_a", "id_b"], "left_anti").count()
    return spark.createDataFrame(
        [(n_exact, fp, bool(n_found - fp >= 0.95 * n_exact))],
        "n_exact long, false_positives long, coverage_ok boolean",
    )


def q113_hll_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for the HLL sketch (q41): the oracle recomputes
    the EXACT per-type distinct counts; the Spark side must agree on them
    AND its approx_count_distinct(rsd=2%) estimate must sit within 5%
    relative error (2.5 sigma; measured 0.0 at sf0.01 where HLL uses its
    exact small-cardinality mode)."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("__hll"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("__hll") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= 0.05
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


def q114_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for the Greenwald-Khanna sketch (q49): the oracle
    pins per-type row counts; the Spark side must place each
    percentile_approx(accuracy=10000) estimate inside the EXACT
    [p-1%, p+1%] rank window it computes itself — 100x the sketch's
    declared 1/accuracy rank-error bound."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.49)").alias("__p49"),
            F.expr("percentile(value, 0.51)").alias("__p51"),
            F.expr("percentile(value, 0.98)").alias("__p98"),
            F.max("value").alias("__vmax"),
            F.percentile_approx("value", 0.5, 10000).alias("__p50a"),
            F.percentile_approx("value", 0.99, 10000).alias("__p99a"),
        )
        .select(
            "event_type",
            "n",
            ((F.col("__p49") <= F.col("__p50a"))
             & (F.col("__p50a") <= F.col("__p51"))).alias("p50_ok"),
            ((F.col("__p98") <= F.col("__p99a"))
             & (F.col("__p99a") <= F.col("__vmax"))).alias("p99_ok"),
        )
        .orderBy("event_type")
    )


def q115_semdedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for SemDeDup (operators/components.semantic_dedup;
    subsumes the former rows-only q85 entry): the oracle recomputes the
    EXACT cosine-threshold pair count in SQL; the Spark side must agree on
    it, report zero false positives (cell pairs are exact-cosine verified)
    and clear a coverage floor (boundary misses are bounded by replicas —
    measured 0.797 at sf0.01 with 8 cells x 2 replicas on uniform
    embeddings, the worst case for k-means locality; floor 0.7)."""
    from vector_index_spark.operators.components import semantic_dup_pairs
    from vector_index_spark.operators.dedup import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    sem = semantic_dup_pairs(
        emb, n_cells=8, replicas=2, cos_threshold=0.6
    ).cache()
    exact = (
        embedding_near_dup(emb, cos_threshold=0.6)
        .select("id_a", "id_b").cache()
    )
    n_sem, n_exact = sem.count(), exact.count()
    fp = sem.join(exact, ["id_a", "id_b"], "left_anti").count()
    return spark.createDataFrame(
        [(n_exact, fp, bool(n_sem - fp >= 0.7 * n_exact))],
        "n_exact long, false_positives long, coverage_ok boolean",
    )


def q28_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-distance exact top-k — the reference's third metric
    (source/distance.h:158-170, dead code there, dispatched here)."""
    res = knn_join(
        _test(spark, sf_dir), _train(spark, sf_dir), K, metric="cosine_similarity"
    )
    return res.select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )


def q29_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D set operations — union / intersect / except on id sets,
    Spark-native (the reference's only set op is the visited-set dedup,
    dehnsw.h:188,248)."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("label") <= 4).select("vec_id")
    b = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    return spark.createDataFrame(
        [
            (
                a.union(b).distinct().count(),
                a.intersect(b).count(),
                a.exceptAll(b).distinct().count(),
            )
        ],
        "n_union long, n_intersect long, n_except long",
    )


def q30_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D sorts/limits — global top-50 (ORDER BY ... LIMIT k compiles to
    TakeOrderedAndProject, the physical analogue of the reference's bounded
    top-k heap, dehnsw.h:286-299)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice"))
    )


def q31_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — per-doc token counting: whitespace-ish + BPE-ish regex
    tokenizations."""
    from vector_index_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def q32_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's parameter sweep (performence_test,
    example/dehnsw_example.cpp:96-130): connect x step x query-RM grid with
    recall + latency per config. Timings are nondeterministic, so this
    relation is NOT driver-registered (retired from the rows-only window
    in round 7 to keep the 3-round re-check guarantee at a 150-entry
    registry); its deterministic contract is hash-gated by
    q144_sweep_contract_gate, which runs this exact sweep."""
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.operators.sweep import grid_search

    base = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=250,
    )
    return grid_search(
        spark, _train(spark, sf_dir), _test(spark, sf_dir), base, k=K,
        connects=(4, 8), steps=(2,), query_rms=(1, 64),
    )


def q33_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D scalar functions (JSON) — extract a typed field from the events
    JSON props column and aggregate per event type."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_sum"),
        F.round(F.avg(k), 6).alias("k_avg"),
        F.max(k).alias("k_max"),
    )


def q34_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D scalar functions (date) — month truncation + extracts over
    orders, monthly revenue rollup."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )


def q35_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the full
    aggregation battery (sum/avg/count, computed expressions, date
    predicate) proving the relational substrate at its standard shape."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q36_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-10: join customer x orders x lineitem, revenue
    per order, top-10 by (revenue DESC, orderkey ASC) — join + agg + global
    top-k in one plan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q37_vec_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2C Q9's vector flavor — exact dedup ON the embedding column
    itself (GROUP BY vec, keep min id): grouping by an array column is
    native in both engines."""
    from vector_index_spark.operators.dedup import exact_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return exact_dedup(emb, "embedding", id_col="vec_id")


def q38_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star composite — the full corpus-cleaning pipeline (quality
    filter -> fingerprint dedup -> MinHash near-dup removal -> per-source
    stats), one lazy plan end-to-end."""
    from vector_index_spark.operators.pipeline import clean_corpus, corpus_stats

    docs = _t(spark, sf_dir, "documents")
    return corpus_stats(clean_corpus(docs))


def q40_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D aggregation — exact distinct counts per event type (the
    count-distinct shuffle shape; the HLL sketch variant is the rows-only
    q41 twin)."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q41_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregation — HyperLogLog approximate distinct users per
    event type (approx_count_distinct, rsd=2%). Rows-only: sketch
    estimates are engine-specific, so this relation is NOT
    driver-registered (retired round 7 for the 3-round window
    guarantee); q113_hll_gate hash-pins the <=5% accuracy contract and
    tests/test_sketches.py gates this exact relation."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


def q42_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D aggregation — exact percentiles (linear interpolation) of event
    value per type; the order-statistics aggregate shape."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q49_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregation — approximate percentiles (percentile_approx,
    the Greenwald-Khanna sketch). Rows-only: sketch values are
    engine-specific, so this relation is NOT driver-registered
    (retired round 7 for the 3-round window guarantee); q114_quantile_gate
    hash-pins the ±1%-rank contract and tests/test_sketches.py gates
    this exact relation."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, 10000), 6).alias("p50_approx"),
        F.round(F.percentile_approx("value", 0.99, 10000), 6).alias("p99_approx"),
    )


def q50_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D joins — LEFT SEMI and LEFT ANTI in one result: customers with
    vs without orders (the existence-join shapes Spark plans natively)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return spark.createDataFrame(
        [(with_orders.count(), without.count())],
        "n_with_orders long, n_without_orders long",
    )


def q51_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D windows — per-group top-k (each user's 3 highest-value events),
    the group-limit window shape beyond the kNN usage."""
    from pyspark.sql import Window

    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "user_id", F.col("rk").cast("long").alias("rk"), "event_id",
            F.round("value", 6).alias("value"),
        )
    )


def q48_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D aggregation — ROLLUP hierarchy (segment -> returnflag -> total)
    with grouping_id to tag subtotal levels; beyond the reference (its only
    aggregates are top-k heaps) but free from the substrate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .rollup("c_mktsegment", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def q46_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-user shape — vector search with payload: top-5 documents per
    query embedding, joined back to the documents table for metadata
    (the retrieval query every vector DB user actually runs)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("lang"), F.col("source")
    )
    res = knn_join(_test(spark, sf_dir), _train(spark, sf_dir), 5)
    return (
        res.join(docs, res.id == docs.doc_id)
        .select(
            "qid",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            F.round("dist", 6).alias("dist"),
            "lang",
            "source",
        )
    )


def q45_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star — polynomial rolling-hash document fingerprint
    (h = fold(h*257 + codepoint) mod 2^31-1 over normalized text),
    bit-identical across engines by construction."""
    from vector_index_spark.functions.text import rolling_hash

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash(F.col("text")).alias("rh"))


def q44_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D UDAF — per-label vector centroid via the grouped-aggregate
    pandas UDF, scalar projections oracle-checked (component means)."""
    from vector_index_spark.functions.udaf import label_centroids

    res = label_centroids(_t(spark, sf_dir, "embeddings"))
    return res.select(
        F.col("label").cast("long").alias("label"),
        "n",
        F.round(F.element_at("centroid", 1), 6).alias("c0"),
        F.round(F.element_at("centroid", 64), 6).alias("c63"),
    )




def q52_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — for each purchase, the user's most recent click at or
    before it (the feature-store point-in-time lookup). Union+window plan:
    one shuffle on user_id, no range explosion (operators/asof.py)."""
    from vector_index_spark.operators.asof import asof_join
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    ref = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("click_value"))
    )
    return asof_join(probe, ref, ["user_id"], "ts", "ts")


def q53_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed range join — per purchase, count of the same user's clicks in
    the preceding 24h window. Equi key (user_id) carries the shuffle; the
    interval is a residual predicate (operators/asof.py)."""
    from vector_index_spark.operators.asof import range_count_join
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    ref = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return range_count_join(
        probe, ref, ["user_id"], lookback_seconds=86400, count_name="n_clicks_24h"
    )


def q54_pivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D aggregation — PIVOT: daily event counts spread into one column
    per event type. The pivot value list is explicit, which at scale skips
    the driver-side distinct pass and keeps the plan a single hash
    aggregate (one shuffle on the day key)."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


def q55_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D aggregation — CUBE over (mktsegment, orderpriority): all four
    grouping-set combinations in one pass with grouping_id tags
    (complements q48's ROLLUP hierarchy)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def q56_order_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D window functions — lag + running aggregate per customer: order
    sequence number, days since the previous order, cumulative spend. One
    shuffle on o_custkey; all three windows share the same sort."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.row_number().over(w).alias("order_seq"),
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
        F.round(F.sum("o_totalprice").over(cum), 4).alias("cum_spend"),
    )


def q57_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS: orders with at least one line
    shipped more than 60 days after the order date, counted per priority.
    The subquery is a left-semi join on the order key with the inequality
    as a residual predicate, then a tiny aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.date_add(o.o_orderdate, 60)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q58_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — six-table join: revenue per nation from lineitems
    where customer and supplier share the nation, within one region. The
    three dimension tables broadcast; lineitem-orders-(customer,supplier)
    shuffle on their keys; Catalyst orders the joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(r.r_name == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q59_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — emails/phone numbers replaced with typed
    placeholders. The corpus is synthetic word soup, so deterministic PII
    is injected per doc (email + phone derived from doc_id) before
    redacting: the oracle then genuinely checks both regex engines agree
    on match AND replacement."""
    from vector_index_spark.operators.textstats import redact_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ).alias("text"),
    )
    return redact_pii(d)


def q60_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules — per-document flags + keep decision
    (token-count window, mean token length, repetition cap, stopword
    hits), all scan-side Catalyst expressions."""
    from vector_index_spark.operators.textstats import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


def q61_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics — duplicate-token and duplicate-bigram ratios
    per document (the C4/Gopher boilerplate signal)."""
    from vector_index_spark.operators.textstats import repetition_profile

    return repetition_profile(_t(spark, sf_dir, "documents"))




def q63_tree_merge_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-merge exact kNN — fanout-ary merge ladder over shard partials
    (the 1000-shard scale path for the multi-shard merge; SCALE.md). Must
    hash-match the flat exact kNN oracle."""
    from vector_index_spark.operators.knn import tree_merge_knn

    train = assign_shards(_train(spark, sf_dir), SUB_INDEX_BOUND)
    n_shards = train.agg(F.max("shard")).first()[0] + 1
    res = tree_merge_knn(_test(spark, sf_dir), train, K, n_shards, fanout=2)
    return res.select(
        "qid", F.col("rank").cast("long").alias("rank"), "id",
        F.round("dist", 6).alias("dist"),
    )


def q64_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-to-first-arrival per (user, event_type) — min_by aggregation,
    the batch twin of the streaming dropDuplicatesWithinWatermark guard
    (stream==batch key-set asserted in tests/test_streaming.py)."""
    from vector_index_spark.sources.loaders import read_events
    from vector_index_spark.streaming.events import dedup_first_by_key

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", F.round("value", 6).alias("value")
    )
    return dedup_first_by_key(ev, ["user_id", "event_type"])


def q67_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star dedup — cross-document duplicate-span removal (Lee et
    al. span-level dedup): words covered by any 10-gram occurring in >= 2
    distinct docs are dropped, survivors rejoin in order. Group keys are
    the n-gram strings themselves, so no hash parity with the oracle is
    needed."""
    from vector_index_spark.operators.dedup import duplicate_span_removal

    return duplicate_span_removal(_t(spark, sf_dir, "documents"), n=10, min_docs=2)


def q66_click_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D streaming — batch twin of the stream-stream interval join
    (purchases x same-user clicks within the preceding hour; the
    streaming form with two watermarked sides is asserted equal in
    tests/test_streaming.py)."""
    from vector_index_spark.sources.loaders import read_events
    from vector_index_spark.streaming.events import clicks_before_purchase_pairs

    return clicks_before_purchase_pairs(read_events(spark, sf_dir))


def q65_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star time-series — hypertable-style multi-resolution rollup
    (minute/hour/day): each coarser level aggregates the finer level's
    partials, so raw events are scanned exactly once for all three
    resolutions (exchange reuse asserted in tests/test_rollup.py). The
    oracle is the semantically-equal triple group-by over raw rows."""
    from vector_index_spark.operators.rollup import multi_resolution_rollup
    from vector_index_spark.sources.loaders import read_events

    return multi_resolution_rollup(read_events(spark, sf_dir))


def q122_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate maintenance (the hypertable update
    path): finest-level partials computed over two DISJOINT slices of the
    event table (even/odd event_id — standing in for separate loads or
    streaming micro-batches), unioned, then every resolution derived from
    the persisted partials alone (operators/rollup.rollup_from_partials —
    raw events are never re-read). DECIMAL(38,12) partial sums make the
    result bit-identical to the q65 single-pass rebuild on ANY slicing,
    so the oracle is the same direct triple group-by over raw rows."""
    from vector_index_spark.operators.rollup import (
        rollup_from_partials,
        rollup_partials,
    )
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    half_a = rollup_partials(ev.filter(F.col("event_id") % 2 == 0), 60)
    half_b = rollup_partials(ev.filter(F.col("event_id") % 2 == 1), 60)
    return rollup_from_partials(half_a.unionByName(half_b))


def q123_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event analytics — ordered 3-step funnel (view -> click -> purchase,
    each hop within 24 h of the previous): per-step user counts and
    conversion vs step 1. k steps = k aggregate+join rounds all keyed on
    user_id, each round's input filtered to one event type before it
    shuffles. Counts are exact integers; conv_rate is one exact integer
    division — deterministic on any partitioning."""
    from vector_index_spark.operators.funnel import funnel_counts
    from vector_index_spark.sources.loaders import read_events

    return funnel_counts(
        read_events(spark, sf_dir),
        ["view", "click", "purchase"],
        within_seconds=86_400,
    )


def q124_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event analytics — D-n retention: cohort = first-seen day, retained
    at offset d = any event on cohort_day + d. The count shuffle carries
    DISTINCT (cohort_day, offset, user) triples (map-side partial dedup —
    the two-level exact-distinct shape), never raw events."""
    from vector_index_spark.operators.funnel import retention_cohorts
    from vector_index_spark.sources.loaders import read_events

    # cohort_day as ISO string: DATE survives every comparison layer the
    # same way (duckdb's pandas export widens DATE to midnight timestamps)
    return retention_cohorts(read_events(spark, sf_dir)).withColumn(
        "cohort_day", F.col("cohort_day").cast("string")
    )


def q125_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event analytics — hourly volume z-score outliers per event type.
    All aggregates exact (bigint counts, decimal sum-of-squares); mean/
    std/z are a fixed per-row IEEE tree over those sums, so the output is
    bit-identical on any partitioning and to the oracle's same tree."""
    from vector_index_spark.operators.funnel import hourly_count_anomalies
    from vector_index_spark.sources.loaders import read_events

    return hourly_count_anomalies(read_events(spark, sf_dir), z_threshold=1.5)


def q132_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-table maintenance — Delta-style MERGE INTO as one full-outer
    join on the key (operators/merge.merge_upsert): matched customers take
    the update batch's values, new keys insert, the rest pass through."""
    from vector_index_spark.operators.merge import merge_upsert

    c = _t(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey", "c_name", "c_nationkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            F.lit("UPDATED").alias("c_mktsegment"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 7 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias("c_name"),
                F.lit(0).cast(c.schema["c_nationkey"].dataType).alias("c_nationkey"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    out = merge_upsert(c, updates, ["c_custkey"])
    return out.withColumn("c_acctbal", F.round("c_acctbal", 2))


def q133_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-table maintenance — SCD type-2 application
    (operators/merge.scd2_apply): segment moves close the current row and
    open a new one at the change timestamp, no-op changes are idempotent,
    brand-new keys insert; one keyed full-outer join, history streams
    through untouched."""
    from vector_index_spark.operators.merge import scd2_apply

    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    ts = F.lit("2024-06-01 00:00:00").cast("timestamp")
    changes = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey", F.lit("MOVED").alias("c_mktsegment"), "c_acctbal",
            ts.alias("ts"),
        )
        .unionByName(
            c.filter((F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 3 != 0))
            .select("c_custkey", "c_mktsegment", "c_acctbal", ts.alias("ts"))
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
                ts.alias("ts"),
            )
        )
    )
    out = scd2_apply(
        dim, changes, keys=["c_custkey"], attrs=["c_mktsegment", "c_acctbal"]
    )
    return out.withColumn("c_acctbal", F.round("c_acctbal", 2))


def q134_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-health profiling — per-column null counts, exact distinct
    cardinality, min/max over documents in ONE aggregate pass
    (operators/profile.profile_table; long-format output, no per-column
    jobs). Exact distinct here for the oracle; the 100 TB default is the
    HLL mode."""
    from vector_index_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "documents"), distinct="exact")


def _component_sum(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """One-row frame with the exact order-independent sum of every vector
    component: per-element float32->float64 is exact, the decimal cast is
    deterministic per value, and SUM over DECIMAL(38,12) keeps scale 12
    (an F.aggregate lambda cannot — Spark's decimal-add rule widens
    (38,12)+(38,12) to scale 11). Mirrors the oracle's UNNEST shape."""
    return df.select(F.explode(vec_col).alias("__x")).agg(
        F.round(
            F.sum(F.col("__x").cast("double").cast("decimal(38,12)"))
            .cast("double"), 6,
        ).alias(out)
    )


def q135_binary_format_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference binary vector format round-trip (op 20;
    example/dehnsw_example.cpp:46-69: uint64 count, uint64 dim, float32
    row-major): write the train split to the format, re-ingest with
    load_annb_binary, and aggregate count/dim/id-checksum/exact component
    sum. The oracle recomputes the aggregate from the source parquet, so
    any row or byte lost in the format round-trip hash-mismatches. The
    single-file write is bounded driver work (it IS a single-file exchange
    format); the scale read path is the splittable annb_datasource."""
    import os
    import struct
    import tempfile

    import numpy as np

    from vector_index_spark.sources.loaders import load_annb_binary

    pdf = _train(spark, sf_dir).orderBy("id").toPandas()
    mat = np.stack(pdf["vec"].to_numpy()).astype(np.float32)
    # per-session token: concurrent sessions on one host must not read each
    # other's partially written files; reruns within a session still replace
    path = os.path.join(
        tempfile.gettempdir(),
        f"vis_q135_train_{spark.sparkContext.applicationId}.bin",
    )
    with open(path, "wb") as fh:
        fh.write(struct.pack("<QQ", mat.shape[0], mat.shape[1]))
        mat.tofile(fh)
    df = load_annb_binary(spark, path)
    stats = df.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max(F.size("vec")).cast("long").alias("dim"),
        F.sum("id").alias("id_checksum"),
    )
    return stats.crossJoin(_component_sum(df, "vec", "component_sum"))


def q136_hdf5_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann-benchmarks HDF5 round-trip (op 24; reference
    example/example.py:66-102): write train/test matrices with the
    pure-python minihdf5 writer (deflate-chunked — the layout libhdf5
    produces), re-ingest via load_annb_hdf5, and aggregate both frames;
    the oracle recomputes from the source parquet."""
    import os
    import tempfile

    import numpy as np

    from vector_index_spark.sources.loaders import load_annb_hdf5
    from vector_index_spark.sources.minihdf5 import write_hdf5

    tr = _train(spark, sf_dir).orderBy("id").toPandas()
    te = _test(spark, sf_dir).orderBy("qid").toPandas()
    X = np.stack(tr["vec"].to_numpy()).astype(np.float32)
    Q = np.stack(te["vec"].to_numpy()).astype(np.float32)
    path = os.path.join(
        tempfile.gettempdir(), f"vis_q136_{spark.sparkContext.applicationId}.hdf5"
    )
    write_hdf5(path, {"train": X, "test": Q}, compress=True)
    corpus, queries = load_annb_hdf5(spark, path)
    return (
        corpus.agg(F.count(F.lit(1)).alias("n_train"))
        .crossJoin(_component_sum(corpus, "vec", "train_sum"))
        .crossJoin(queries.agg(F.count(F.lit(1)).alias("n_test")))
        .crossJoin(_component_sum(queries, "vec", "test_sum"))
    )


_Q134_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
_Q134_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, 'n_nonnull' AS metric,
               CAST(count({c}) AS VARCHAR) AS value FROM documents
UNION ALL SELECT '{c}', 'n_null', CAST(count(*) - count({c}) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'min', CAST(min({c}) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'max', CAST(max({c}) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'n_distinct', CAST(count(DISTINCT {c}) AS VARCHAR) FROM documents"""
    for c in _Q134_COLS
)


# One SQL text, two engines: q126 runs _Q126_SQL verbatim through
# spark.sql() on registered temp views while the oracle hands the same
# string to DuckDB — the declared-SQL entry point of SURVEY §2C, proven on
# a TPC-H Q7 shape (nation-pair shipping volume by year).
_Q126_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue,
           count(*) AS n_lines
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name < n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


def q127_append_remove_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index mutation lifecycle end-to-end (reference add/remove,
    python_binding/dehnswpy.cpp + dehnsw.h insert/remove): build the graph
    index on a 70% hash slice of the corpus, save, append the other 30%,
    remove every 7th id, then hash-gate graph-ANN recall of the mutated
    index against brute-force kNN over exactly the surviving rows. Append
    and remove rebuild only affected shards (test_append asserts
    bit-identity with a fresh build), so recall matches q22's 1.0 measured
    floor; any drift in the mutation path flips recall_ok.

    Round 15 extension (VERDICT r14 item 3 — delete waves on the serving
    twins; registry stays at 150 per the q170 precedent): three parity
    booleans prove the WARM remove path converges to the cold rebuild on
    the graph, cell, and compressed routes. ``graph_remove_wave_ok``:
    a pre-remove warm ServingIndex refreshed over remove_from_index's
    affected shards byte-equals a cold pack of the post-remove index.
    ``cell_remove_wave_ok`` / ``ivfpq_remove_wave_ok``:
    CellServingIndex.remove / IvfPqServingIndex.remove answer
    identically to a cold handle over the survivors with the same
    frozen model, and no removed id resurfaces."""
    import os
    import shutil
    import tempfile

    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.builder import remove_from_index
    from vector_index_spark.index.ivf import build_ivf
    from vector_index_spark.index.ivfpq import build_ivfpq
    from vector_index_spark.index.persistence import load_index
    from vector_index_spark.index.serving import (
        CellServingIndex,
        IvfPqServingIndex,
        ServingIndex,
    )

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    params = IndexParameters(
        dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
        step=2, sub_index_bound=250,
    )
    slice_key = F.pmod(F.xxhash64("id"), F.lit(10))
    # per-session path (applicationId): concurrent sessions on one host
    # never touch each other's index; reruns within a session still replace
    # the previous directory, so at most one index per session lifetime
    path = os.path.join(
        tempfile.gettempdir(),
        f"vis_q127_mutation_gate_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(path, ignore_errors=True)
    idx = VectorIndex.build(train.filter(slice_key < 7), params).save(path)
    idx = idx.append(train.filter(slice_key >= 7))
    doomed_rel = train.filter(F.col("id") % 7 == 0).select("id")
    doomed = [r.id for r in doomed_rel.collect()]
    # warm handle over the PRE-remove index: the remove-WAVE path
    v0, e0, _p0 = load_index(spark, path)
    warm = ServingIndex(v0, e0).warm()
    affected = remove_from_index(spark, path, doomed_rel)
    # the facade handle's relations predate the overwrite — reload it
    # (read-overwrite hazard; the facade's own .remove() does the same)
    idx = VectorIndex.load(spark, path)
    v2, e2, _p2 = load_index(spark, path)
    warm.refresh(v2, e2, affected)
    cold = ServingIndex(v2, e2).warm()
    graph_ok = {
        r.shard: bytes(r.blob) for r in warm.blobs.collect()
    } == {r.shard: bytes(r.blob) for r in cold.blobs.collect()}
    warm.unpersist()
    cold.unpersist()
    survivors = train.filter(F.col("id") % 7 != 0)
    tr_ckpt = train.localCheckpoint(eager=True)

    def _res(df):
        return sorted(map(tuple, df.collect()))

    assigned, cents = build_ivf(tr_ckpt, n_centroids=8, replicas=1)
    cell = CellServingIndex(
        assigned.localCheckpoint(eager=True), cents
    ).warm()
    cell.remove(doomed)
    # anti-join, not isin(list): the doomed relation is already at hand
    # and an IN-literal list grows the plan linearly with corpus size
    cell_cold = CellServingIndex(
        assigned.join(doomed_rel, "id", "left_anti")
        .localCheckpoint(eager=True),
        cents,
    ).warm()
    got_cell = _res(cell.query(test, K, nprobe=8))
    cell_ok = (
        got_cell == _res(cell_cold.query(test, K, nprobe=8))
        and not {r[2] for r in got_cell} & set(doomed)
    )
    cell.unpersist()
    cell_cold.unpersist()

    enc, pq_cents, books = build_ivfpq(tr_ckpt, n_centroids=8, replicas=1)
    enc = enc.localCheckpoint(eager=True)
    ipq = IvfPqServingIndex(enc, pq_cents, books, tr_ckpt).warm()
    ipq.remove(doomed)
    ipq_cold = IvfPqServingIndex(
        enc.join(doomed_rel, "id", "left_anti").localCheckpoint(eager=True),
        pq_cents, books, tr_ckpt,
    ).warm()
    got_ipq = _res(ipq.query(test, K, nprobe=8))
    ipq_ok = (
        got_ipq == _res(ipq_cold.query(test, K, nprobe=8))
        and not {r[2] for r in got_ipq} & set(doomed)
    )
    ipq.unpersist()
    ipq_cold.unpersist()

    flags = spark.createDataFrame(
        [(bool(graph_ok), bool(cell_ok), bool(ipq_ok))],
        "graph_remove_wave_ok boolean, cell_remove_wave_ok boolean, "
        "ivfpq_remove_wave_ok boolean",
    )
    return _recall_gate_vs(
        idx.query(test, k=K), survivors, test, 0.95
    ).crossJoin(flags)


def q128_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — order-count distribution over customers INCLUDING
    zero-order customers: left outer join, per-customer count of non-null
    order keys, then a second tiny aggregate over the counts. The first
    shuffle is on the join key; the distribution aggregate moves one row
    per customer."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # aggregate orders BEFORE the outer join: the join then moves one row
    # per customer instead of one per order (Catalyst doesn't push
    # aggregates below outer joins itself; at orders >> customers scale
    # this is the difference between shuffling the fact table and
    # shuffling a key-count relation)
    per_cust_orders = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    per_cust = c.join(per_cust_orders, "c_custkey", "left_outer").select(
        F.coalesce("__n", F.lit(0)).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def _rev_decimal() -> Column:
    """Exact-revenue aggregation term: the per-row product is ONE IEEE
    double op (deterministic), and the decimal cast makes the SUM
    order-independent — stronger than the round-4 float-sum contract the
    earlier TPC-H-shape queries use."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,12)"
    )


def q129_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue share for one ship month: broadcast
    the part dimension, conditional decimal aggregate, ratio computed from
    the two exact sums (bit-deterministic on any partitioning)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = _t(spark, sf_dir, "part")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev_decimal()).otherwise(
                    F.lit(0).cast("decimal(38,12)")
                )
            ).alias("__promo"),
            F.sum(_rev_decimal()).alias("__total"),
        )
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("__promo").cast("double")
            / F.col("__total").cast("double"), 6,
        ).alias("promo_revenue_pct"),
        F.round(F.col("__promo").cast("double"), 4).alias("promo_rev"),
        F.round(F.col("__total").cast("double"), 4).alias("total_rev"),
    )


def q130_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top-20 customers by returned-item revenue in a
    quarter: lineitem-orders-customer shuffle on their keys, nation
    broadcasts, exact decimal revenue makes the top-20 cut deterministic
    (ties broken by custkey)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.sum(_rev_decimal()).alias("__rev"))
        .orderBy(F.desc("__rev"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name", "c_mktsegment",
            F.round(F.col("__rev").cast("double"), 4).alias("revenue"),
        )
    )


def q131_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs predicate across the lineitem-part
    join (brand/size/quantity bands): the disjunction pushes partkey
    residuals into the join and the scan keeps only referenced columns;
    exact decimal revenue."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(_rev_decimal()).cast("double"), 4).alias("revenue"),
    )


# One SQL text, two engines (the q126 pattern): Catalyst must decorrelate
# the correlated EXISTS / NOT EXISTS pair into semi/anti joins from the
# same ANSI text DuckDB runs — TPC-H Q21's shape on this schema's columns
# (lateness = shipped > 60 days after order date; no receipt/commit dates
# in the driver testdata).
_Q137_SQL = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
"""

# TPC-H Q22's shape on this schema: above-average-balance customers with
# no urgent/high-priority order — scalar aggregate subquery in the filter
# plus a predicated NOT EXISTS anti join.
_Q138_SQL = """
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


def q137_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (see _Q137_SQL): the only late supplier on a
    finished multi-supplier order. Declared-SQL entry — spark.sql() runs
    the oracle text verbatim; the EXISTS decorrelates to a semi join on
    l_orderkey, the NOT EXISTS to an anti join, orders broadcast-joins."""
    for t in ("supplier", "lineitem", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q137_SQL)


def q138_quiet_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (see _Q138_SQL): high-balance customers with no
    urgent/high order, per market segment. Declared-SQL entry — the scalar
    avg subquery becomes a broadcast one-row cross join, the predicated
    NOT EXISTS an anti join on o_custkey."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q138_SQL)


def q139_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on this schema (no partsupp table): for every part,
    the supplier that shipped it at the minimum unit price
    (l_extendedprice / l_quantity), ties to the smallest s_suppkey — the
    correlated-min pattern decorrelated into one per-part aggregate plus a
    join back (one shuffle on l_partkey; supplier dim broadcasts). Unit
    prices divide identically in IEEE double on both engines, so the
    argmin row set hash-matches."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("__unit"),
    )
    best = li.groupBy("l_partkey").agg(F.min("__unit").alias("__min_unit"))
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(best, "l_partkey")
        .filter(F.col("__unit") == F.col("__min_unit"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("s_suppkey"),
            F.round(F.min("__min_unit"), 6).alias("min_unit_price"),
        )
        .join(F.broadcast(s.select("s_suppkey", "s_name")), "s_suppkey")
        .select(
            F.col("l_partkey").alias("p_partkey"), "s_suppkey", "s_name",
            "min_unit_price",
        )
        .orderBy("p_partkey")
    )


def q140_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — customers behind orders whose total quantity
    exceeds 300 (the HAVING-subquery membership test): the qualifying
    order keys come from ONE aggregate over lineitem (map-side partial),
    then drive a semi-ish join; customer dim broadcasts. Top 100 by
    (o_totalprice desc, o_orderkey)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # filter on the UNROUNDED sum (like the oracle's HAVING), round only
    # the reported column — a boundary sum like 300.004 must stay included
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__tq"))
        .filter(F.col("__tq") > 300)
        .select("l_orderkey", F.round("__tq", 2).alias("total_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q141_gapfill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill (TimescaleDB
    time_bucket_gapfill + locf semantics; operators/rollup.
    gap_fill_forward): per event type, the complete hourly bucket spine
    between first and last observation, empty buckets carrying the last
    observed mean forward. One groupBy shuffle over raw events; the spine
    generates from a per-key min/max aggregate; the fill window runs over
    bucket rows only. 215 genuine gap rows at sf0.01."""
    from vector_index_spark.operators.rollup import gap_fill_forward
    from vector_index_spark.sources.loaders import read_events

    return gap_fill_forward(read_events(spark, sf_dir))


def q143_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (TimescaleDB interpolate semantics;
    q141's locf twin): empty buckets take the straight line between their
    surrounding observed anchors — both always exist inside the per-key
    spine. Identical operand order on both engines keeps the interpolated
    doubles bit-equal before the single round."""
    from vector_index_spark.operators.rollup import gap_fill_forward
    from vector_index_spark.sources.loaders import read_events

    return gap_fill_forward(read_events(spark, sf_dir), method="linear")


def q144_sweep_contract_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-matched gate for q32 (the reference's performence_test sweep,
    example/dehnsw_example.cpp:96-130): the sweep's TIMINGS are
    nondeterministic so q32 stays rows-only, but its contract is
    deterministic and pinned here — every (connect, step) grid line has all
    its patience points, recall is non-decreasing in patience (a larger
    relaxed_monotonicity only delays the beam's early exit, so the visited
    set is a superset — search_layer, index/graph.py), the max-patience
    recall clears 0.95 (measured 0.996/1.0 at sf0.01), and both latency
    columns are populated positive."""
    from pyspark.sql import Window

    sweep = q32_grid_search(spark, sf_dir)
    w = Window.partitionBy("connect", "step").orderBy("query_rm")
    g = sweep.withColumn("__prev", F.lag("recall").over(w))
    return (
        g.groupBy("connect", "step")
        .agg(
            F.count(F.lit(1)).alias("n_rm_points"),
            F.bool_and(
                F.col("__prev").isNull()
                | (F.col("recall") >= F.col("__prev") - 1e-9)
            ).alias("recall_monotone"),
            (F.max("recall") >= 0.95).alias("recall_max_ok"),
            F.bool_and(
                (F.col("build_sec") > 0) & (F.col("query_sec_per_query") > 0)
            ).alias("latency_ok"),
        )
        .orderBy("connect", "step")
    )


def q145_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star multimodal — PNG decode with NO image libraries: the
    from-spec pure-python codec (multimodal/minipng.py, W3C PNG spec)
    closes the r4 verdict's PIL gap. Deterministic 16x16 grayscale PNGs
    are synthesized from each document (pixel i = text byte i mod len —
    SQL-replicable), encoded, decoded, and profiled; the oracle PREDICTS
    the decoded stats from the text alone, so any codec defect (filter
    math, CRC, dimension handling) breaks the hash."""
    from vector_index_spark.multimodal.binary_ops import (
        decode_pixel_stats,
        text_to_png_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_pixel_stats(text_to_png_payload(docs)).select(
        F.col("id").alias("doc_id"), "width", "height", "channels",
        "mean_pixel", "min_pixel", "max_pixel",
    )


def q146_png_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star multimodal — nearest-neighbor resize through the
    pure-python PNG codec (encode -> decode -> floor-index-map resize ->
    re-encode -> decode): the oracle recomputes the resized pixels from
    the deterministic index map src = floor(dst * 16 / 8) = 2 * dst, so
    the full encode/resize/re-encode chain is hash-gated."""
    from vector_index_spark.multimodal.binary_ops import (
        decode_pixel_stats,
        resize_images,
        text_to_png_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    resized = resize_images(text_to_png_payload(docs), width=8, height=8)
    return decode_pixel_stats(resized).select(
        F.col("id").alias("doc_id"), "width", "height",
        "mean_pixel", "min_pixel", "max_pixel",
    )


def q147_wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star multimodal — AUDIO decode with no audio libraries: the
    from-spec pure-python RIFF/PCM WAV codec (multimodal/miniwav.py)
    closes the audio modality the way minipng closes images. Mono PCM16
    waveforms are synthesized deterministically from each document
    (sample i = (text byte i mod len - 128) * 256), encoded, decoded,
    and profiled; the oracle predicts frames/rate/peak/mean/rms from the
    text alone, so header math, chunk walking, and PCM decode are all
    hash-gated. mean/rms are exact doubles (power-of-two frame count,
    correctly-rounded sqrt on bit-equal inputs) — no rounding needed."""
    from vector_index_spark.multimodal.binary_ops import (
        decode_audio_stats,
        text_to_wav_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_audio_stats(text_to_wav_payload(docs)).select(
        F.col("id").alias("doc_id"), "n_frames", "n_channels",
        "sample_rate", "peak", "mean_sample", "rms",
    )


def q142_take_n_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling (operators/sampling.
    take_n_per_group): exactly min(10, |stratum|) documents per source (strata hold 25 at sf0.01, so
    the cut binds),
    selected by portable-hash order — the deterministic eval-set
    construction primitive. WindowGroupLimit bounds the exchange to
    O(groups * n * partitions); the oracle recomputes the identical
    row_number over the same md5-derived ordering."""
    from vector_index_spark.operators.sampling import take_n_per_group

    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return take_n_per_group(d, "source", 10, id_col="doc_id", seed=0)


def q126_sql_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-SQL surface — the exact oracle SQL text executed by
    spark.sql() over temp views (no DataFrame code in the query path):
    Catalyst plans the 6-table join from the same ANSI text DuckDB runs.
    The two small dims broadcast; lineitem-orders shuffle on the keys."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q126_SQL)


def q68_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star curation — deterministic per-source rate sampling
    (multiplicative-hash decision, stable under any repartitioning; the
    reproducible replacement for df.sample in pipeline reruns). Rates:
    keep all of src0, 25% of src1, 50% of src2, 10% of everything else."""
    from vector_index_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, {"src0": 1.0, "src1": 0.25, "src2": 0.5}, default_rate=0.1
    )
    return out.select("doc_id", "source")


def q69_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star curation — deterministic 80/10/10 train/val/test split
    by cumulative hash buckets: the same row lands in the same split on
    every rerun at every scale (eval-contamination safety)."""
    from vector_index_spark.operators.sampling import train_val_test_split

    d = _t(spark, sf_dir, "documents")
    return train_val_test_split(d).select("doc_id", "split")


def q70_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star curation — dataset mixture: two provenance-tagged
    sources sampled at their mixture weights with a deterministic global
    interleave key (the reproducible form of 'shuffle the mixture')."""
    from vector_index_spark.operators.sampling import weighted_mix

    d = _t(spark, sf_dir, "documents")
    even = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    return weighted_mix({"even": even, "odd": odd}, {"even": 1.0, "odd": 0.25})


def q71_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star curation — overlapping token-window chunking (context-
    window preparation): 32-token windows, stride 24, every token covered,
    all Catalyst array expressions (no Python, no shuffle)."""
    from vector_index_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


def q72_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star curation — greedy in-order sequence packing into
    200-token bins per source group (the pre-tokenization packing step of
    training-shard export). The oracle replays the same running-reset
    recurrence as a recursive CTE."""
    from vector_index_spark.operators.chunking import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=200)


def q73_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star curation — benchmark-contamination check: 8-gram overlap
    of each corpus doc (doc_id % 17 != 0) against the benchmark slice
    (doc_id % 17 == 0). Benchmark gram set broadcasts; the corpus never
    shuffles."""
    from vector_index_spark.operators.contamination import ngram_contamination

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    bench = d.filter(F.col("doc_id") % 17 == 0)
    return ngram_contamination(corpus, bench, n=8)




def q75_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding exact kNN in Hamming space — sign-bit binarize,
    pack to 32-bit words (Horner fold, engine-portable), distance =
    bit_count(xor) per word pair: 32x less data through the join than raw
    floats, all integer whole-stage codegen."""
    from vector_index_spark.operators.hamming import hamming_knn

    train, test = _train(spark, sf_dir), _test(spark, sf_dir)
    return hamming_knn(test, train, K, dim=64)


def q76_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 rules). The word-
    soup corpus has no lines or punctuation, so deterministic structure is
    injected first (8-word lines; every 5th line unterminated, every 3rd
    tagged 'javascript', '{' and 'lorem ipsum' lines for doc_id % 13 / %
    11) — the oracle replays injection AND cleaning, so both engines'
    line decisions must agree exactly."""
    from vector_index_spark.operators.textstats import c4_clean

    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    n = F.size(ws)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(8))
    line = lambda s: F.concat(  # noqa: E731
        F.array_join(F.slice(ws, s + 1, 8), " "),
        F.when(F.pmod(s / 8, 5) == 1, "")
        .when(F.pmod(s / 8, 3) == 0, " javascript.")
        .otherwise("."),
    )
    lines = F.transform(starts, line)
    lines = F.when(
        F.pmod("doc_id", 13) == 0,
        F.concat(lines, F.array(F.lit("stray { brace line."))),
    ).otherwise(lines)
    lines = F.when(
        F.pmod("doc_id", 11) == 0,
        F.concat(lines, F.array(F.lit("lorem ipsum dolor sit amet."))),
    ).otherwise(lines)
    structured = d.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return c4_clean(structured)


def q77_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D relational — UNPIVOT/melt: lineitem's three money-ish measures
    rotated to (orderkey, linenumber, measure, amount) long form. Spark's
    native unpivot is a no-shuffle projection (Expand node)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "amount",
    ).select(
        "l_orderkey", "l_linenumber", "measure", F.round("amount", 6).alias("amount")
    )


def q78_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D aggregation — explicit GROUPING SETS (the general form behind
    cube/rollup): ((segment), (priority), ()) in one Expand+aggregate
    pass; grouping_id disambiguates the null rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    o.join(F.broadcast(c), o.o_custkey == c.c_custkey).createOrReplaceTempView(
        "__oc"
    )
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 4) AS revenue,
               CAST(grouping_id() AS BIGINT) AS gid
        FROM __oc
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
        """
    )


def q79_windowed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D window functions — interval RANGE frame + ranking family: per
    customer, each order's trailing-30-day spend (RANGE BETWEEN 30 days
    PRECEDING, keyed on epoch seconds), plus dense_rank / percent_rank /
    ntile over order value. One shuffle on o_custkey; all windows share
    the partition."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").withColumn(
        "od_s", F.unix_timestamp("o_orderdate")
    )
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("od_s")
        .rangeBetween(-30 * 86400, 0)
    )
    wv = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(wr), 4).alias("spend_30d"),
        F.dense_rank().over(wv).cast("long").alias("value_rank"),
        F.round(F.percent_rank().over(wv), 6).alias("value_pct"),
        F.ntile(4).over(wv).cast("long").alias("value_quartile"),
    )


def q80_full_outer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2D joins — FULL OUTER: customers vs order activity; a third of
    the customer side is dropped so both dangling directions occur
    (customers without orders AND order custkeys without a customer row);
    coalesce folds the two key columns."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("spend"),
    )
    # drop a third of the customer side so both dangling directions occur
    cust = c.select("c_custkey", "c_mktsegment").filter(
        F.pmod("c_custkey", 3) != 0
    )
    joined = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "full_outer"
    )
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("spend", F.lit(0.0)).alias("spend"),
    )




_BM25_TERMS = ["spark", "merge", "filter"]


def q82_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval — postings + document-frequency relations
    built as two hash aggregates, Lucene-form idf, top-10 by (score desc,
    doc_id). The lexical half of the hybrid retrieval stack; postings
    persist bucketed by term at scale."""
    from vector_index_spark.operators.bm25 import bm25_postings, bm25_score

    d = _t(spark, sf_dir, "documents")
    postings, stats = bm25_postings(d)
    return bm25_score(postings, stats, _BM25_TERMS, k=10)


def q83_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009) of
    the BM25 top-20 and the exact vector-kNN top-20 (query = embedding of
    vec_id 0, corpus = all other embeddings, doc ids align with vec ids
    in the driver tables). RRF needs no score calibration, which is why
    it is the production default for hybrid search."""
    from vector_index_spark.operators.bm25 import (
        bm25_postings,
        bm25_score,
        hybrid_search,
    )
    from vector_index_spark.operators.knn import knn_join

    d = _t(spark, sf_dir, "documents")
    postings, stats = bm25_postings(d)
    lex = bm25_score(postings, stats, _BM25_TERMS, k=20)

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    corpus = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    vec = knn_join(qv, corpus, 20)
    return hybrid_search(lex, vec, k=10)


def q88_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery: revenue from lines
    whose quantity is below 20%% of that part's average quantity, per
    brand. The per-part average is a tiny aggregate joined back into the
    lineitem scan (Catalyst decorrelates the subquery into exactly this
    join); at 100 TB the aggregate side is orders of magnitude smaller
    than lineitem and broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    part_avg = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("__avg_qty")
    )
    return (
        li.join(F.broadcast(part_avg), "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") / 7.0), 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q89_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join — lineitem (big, skewed side) against
    orders with the key salted 8-way so a hot orderkey spreads over 8
    partitions; result must equal the plain join (the oracle IS the plain
    join). Revenue per order priority."""
    from vector_index_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), F.col("o_orderpriority")
    )
    joined = salted_join(li, o, on="l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# maxsim pseudo-corpus: embeddings grouped 5 tokens to a doc
# (doc = vec_id // 5); queries are docs 0, 20, 40, 60, 80.
_MAXSIM_NDOCS = 20


def q90_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: multi-vector docs (5
    token embeddings each), score = sum over query tokens of the max dot
    product over doc tokens, top-10 docs per query. Pure Catalyst:
    broadcast query tokens, codegen dot product, two-level aggregate,
    WindowGroupLimit."""
    from vector_index_spark.operators.similarity import maxsim_retrieval

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") / 5).cast("long").alias("doc_id"),
        F.col("vec_id").alias("dtok"),
        F.col("embedding").alias("vec"),
    )
    q = emb.filter(
        (F.col("doc_id") % _MAXSIM_NDOCS == 0)
    ).select(
        F.col("doc_id").alias("qid"),
        F.col("dtok").alias("qtok"),
        "vec",
    )
    d = emb.filter(F.col("doc_id") % _MAXSIM_NDOCS != 0)
    return maxsim_retrieval(q, d, k=10)


def q91_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct at scale — two-level aggregate: dedup
    (day, user) pairs first (partial-aggregated map-side, so the shuffle
    carries distinct pairs, not raw events), then count per day. The
    single-pass countDistinct would shuffle every raw row to the day's
    partition; this shape is how exact distinct survives skewed days at
    100 TB. Oracle = plain COUNT(DISTINCT)."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    daily = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("user_id")
    ).distinct()
    return (
        daily.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q92_props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface — props JSON parsed to map<string,bigint> with
    from_json, exploded to (key, value) rows, aggregated per (event_type,
    key). Generate + partial aggregate, no pre-agg shuffle of raw rows."""
    from vector_index_spark.sources.loaders import read_events

    ev = read_events(spark, sf_dir)
    kv = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "prop_key", "v"
        ),
    )
    return kv.groupBy("event_type", "prop_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("total"),
        F.round(F.avg("v"), 6).alias("avg_v"),
    )


def q93_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords (top-3 terms by tf * ln(N/df)). The
    postings build is the only corpus shuffle; per-term df broadcasts
    back; per-doc top-n is a map-side-partial WindowGroupLimit."""
    from vector_index_spark.operators.bm25 import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), top_n=3)


def q94_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the 'new crawl' (doc_id % 7 == 0) deduped
    against the existing corpus's persisted MinHash band table without
    re-banding the corpus. Must equal the full-corpus pipeline's pairs
    restricted to pairs touching a new doc — the oracle runs the full
    pipeline and restricts."""
    from vector_index_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_relations,
    )

    d = _t(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 7 == 0)
    ex_toks, ex_bands = minhash_relations(existing)
    res = incremental_minhash_dedup(ex_toks, ex_bands, new)
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q95_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (KenLM-filter analogue): add-one-smoothed
    corpus bigram model, per-doc mean log-probability."""
    from vector_index_spark.operators.textstats import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents"))




# The 40 BPE merges learned from the sf0.01 documents corpus (num_merges=40,
# min_freq=2). Training is deterministic (operators/bpe.py: ties break
# count-desc then lex), so this is a pure function of the fixed testdata —
# pinned here as the q97 oracle per VERDICT r3 #3; freshness asserted by
# tests/test_bpe.py::test_q97_oracle_pin_matches_fresh_training.
_Q97_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"),
    ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n</w>"),
    ("cu", "st"), ("cust", "o"), ("custo", "m"), ("custom", "er</w>"),
]

_Q97_PIN_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        "({}, '{}', '{}')".format(
            i + 1, a.replace("'", "''"), b.replace("'", "''")
        )
        for i, (a, b) in enumerate(_Q97_MERGES)
    )
    + ') AS t("rank", "left", "right")'
)


def q97_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training: one corpus-scale word-count
    shuffle, driver merge loop on the bounded histogram. Returns the
    learned merge table (rank, left, right), hash-gated against the
    pinned deterministic expectation (_Q97_MERGES; hand-computed merges +
    incremental-vs-rescan parity additionally gated in test_bpe)."""
    from vector_index_spark.operators.bpe import merges_df, train_bpe

    merges = train_bpe(_t(spark, sf_dir, "documents"), num_merges=40, min_freq=2)
    return merges_df(spark, merges)


def q98_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi + anti join: definite-misses dropped
    before the exchange, exact join removes false positives — result
    provably equals the plain semi/anti join (the oracle)."""
    from vector_index_spark.operators.bloom import bloom_anti_join, bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    hot = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200_000)
    semi = bloom_semi_join(li, hot, "l_orderkey", "o_orderkey")
    anti = bloom_anti_join(li, hot, "l_orderkey", "o_orderkey")
    agg = lambda df, tag: df.groupBy("l_returnflag").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    ).withColumn("side", F.lit(tag))
    return agg(semi, "semi").unionByName(agg(anti, "anti")).orderBy("side", "l_returnflag")


def q100_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens (> 0.5% of the stream) via map-only
    Misra-Gries candidates + exact candidate-only recount — no groupBy
    over the full key space; guarantee makes the result EXACT, so the
    oracle is a plain GROUP BY ... HAVING."""
    from vector_index_spark.operators.heavy import heavy_tokens

    return heavy_tokens(_t(spark, sf_dir, "documents"), 0.005)


def q102_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join on part names (record-linkage
    entity resolution): q-gram blocking with a provable no-miss guarantee,
    JVM levenshtein verify — exact, so the oracle is the brute-force
    banded nested loop."""
    from vector_index_spark.operators.fuzzy import fuzzy_self_join

    part = _t(spark, sf_dir, "part")
    res = fuzzy_self_join(part, "p_name", "p_partkey", max_dist=1)
    return res.select("aid", "bid", res.dist.cast("long").alias("dist"))


def q103_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup, hash-gated (VERDICT r3 #3): per-
    (event_type, day) HLL sketch table merged up to per-event_type
    estimates — the re-aggregable distinct-count pattern (sketch bytes
    shuffle, raw rows scanned once). The oracle recomputes the EXACT
    per-type row and distinct-user counts; the Spark side must agree on
    them AND prove (a) merge_ok: the merged-sketch estimate equals a
    direct build at the coarse granularity (HLL union at equal lgK is
    lossless), (b) est_ok: the estimate sits within 5% of exact."""
    from vector_index_spark.operators.sketches import (
        build_sketch_table,
        estimate,
        merge_sketch_table,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    fine = build_sketch_table(ev, ["event_type", "day"], "user_id")
    merged = estimate(merge_sketch_table(fine, ["event_type"])).select(
        "event_type", "n_rows", F.col("approx_distinct").alias("__merged")
    )
    direct = estimate(build_sketch_table(ev, ["event_type"], "user_id")).select(
        "event_type", F.col("approx_distinct").alias("__direct")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return (
        merged.join(direct, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "n_users_exact",
            (F.col("__merged") == F.col("__direct")).alias("merge_ok"),
            (
                F.abs(F.col("__merged") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= 0.05
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
    # Registry order IS the correctness window: the driver oracle-checks
    # the first 50 entries. From round 7 on this order is GENERATED by
    # tools/rotate_window.py (staleness-sorted: never-checked or
    # latest-check-failed entries first, then ascending latest-green
    # round, ties by prior position) — regenerate with
    #   PYTHONPATH=. python tools/rotate_window.py --emit dict
    # after adding queries or after a driver round. With N<=150 and the
    # 50-slot window the tool proves a <=3-round re-check interval (the
    # round-6 overflow is structurally impossible), and the test suite
    # pins that the first 50 registry entries ARE the rotation's top 50.
    # Round-7 window: the three never-checked round-7 entries (q165-q167,
    # string/multi-attribute filtered search) lead, then q09/q10 (the
    # r3-stale pair), then the r4 ANN-route gates and the r4 block. The
    # three rows-only estimate entries (q32/q41/q49) were RETIRED from
    # the registry this round — their contracts are hash-gated by
    # q144/q113/q114 and the raw relations stay pytest-gated
    # (test_sketches) — bringing the registry to 150 all-hash-matched
    # entries within the window guarantee.
        "q168_multi_tenant_serving": q168_multi_tenant_serving,
        "q165_dict_encode_tables": q165_dict_encode_tables,
        "q166_string_filtered_knn": q166_string_filtered_knn,
        "q167_conjunction_serving_gate": q167_conjunction_serving_gate,
        "q09_dedup_exact": q09_dedup_exact,
        "q10_threshold_join": q10_threshold_join,
        "q108_ivfpq_recall_gate": q108_ivfpq_recall_gate,
        "q106_pq_recall_gate": q106_pq_recall_gate,
        "q107_sq_recall_gate": q107_sq_recall_gate,
        "q118_cell_routed_recall_gate": q118_cell_routed_recall_gate,
        "q22_graph_recall_gate": q22_graph_recall_gate,
        "q104_lsh_recall_gate": q104_lsh_recall_gate,
        "q105_ivf_recall_gate": q105_ivf_recall_gate,
        "q109_pca_recall_gate": q109_pca_recall_gate,
        "q110_rpt_recall_gate": q110_rpt_recall_gate,
        "q111_hamming_recall_gate": q111_hamming_recall_gate,
        "q135_binary_format_ingest": q135_binary_format_ingest,
        "q136_hdf5_roundtrip": q136_hdf5_roundtrip,
        "q119_mmr_first_pick_gate": q119_mmr_first_pick_gate,
        "q127_append_remove_recall_gate": q127_append_remove_recall_gate,
        "q97_bpe_vocab": q97_bpe_vocab,
        "q103_sketch_rollup": q103_sketch_rollup,
        "q137_waiting_suppliers": q137_waiting_suppliers,
        "q138_quiet_high_balance": q138_quiet_high_balance,
        "q139_min_cost_supplier": q139_min_cost_supplier,
        "q140_large_volume_orders": q140_large_volume_orders,
        "q142_take_n_per_source": q142_take_n_per_source,
        "q11_star_agg": q11_star_agg,
        "q12_token_topn": q12_token_topn,
        "q13_minhash_pairs": q13_minhash_pairs,
        "q15_text_profile": q15_text_profile,
        "q16_langid": q16_langid,
        "q17_fingerprint_dedup": q17_fingerprint_dedup,
        "q19_ngram_jaccard": q19_ngram_jaccard,
        "q24_events_hourly": q24_events_hourly,
        "q25_event_sessions": q25_event_sessions,
        "q26_payload_stats": q26_payload_stats,
        "q28_cosine_knn": q28_cosine_knn,
        "q29_set_ops": q29_set_ops,
        "q30_top_orders": q30_top_orders,
        "q31_token_counts": q31_token_counts,
        "q33_event_props_json": q33_event_props_json,
        "q34_orders_monthly": q34_orders_monthly,
        "q35_pricing_summary": q35_pricing_summary,
        "q36_shipping_priority": q36_shipping_priority,
        "q37_vec_dedup": q37_vec_dedup,
        "q38_clean_pipeline": q38_clean_pipeline,
        "q40_distinct_users": q40_distinct_users,
        "q42_value_percentiles": q42_value_percentiles,
        "q44_label_centroids": q44_label_centroids,
        "q169_range_filtered_knn": q169_range_filtered_knn,
        "q170_range_serving_gate": q170_range_serving_gate,
        "q45_rolling_hash": q45_rolling_hash,
        "q46_semantic_search": q46_semantic_search,
        "q48_rollup_revenue": q48_rollup_revenue,
        "q50_semi_anti_join": q50_semi_anti_join,
        "q144_sweep_contract_gate": q144_sweep_contract_gate,
        "q145_png_pixel_stats": q145_png_pixel_stats,
        "q146_png_resize_stats": q146_png_resize_stats,
        "q147_wav_audio_stats": q147_wav_audio_stats,
        "q141_gapfill_forward": q141_gapfill_forward,
        "q143_gapfill_linear": q143_gapfill_linear,
        "q134_table_profile": q134_table_profile,
        "q51_top_events_per_user": q51_top_events_per_user,
        "q52_asof_purchase_click": q52_asof_purchase_click,
        "q53_clicks_before_purchase": q53_clicks_before_purchase,
        "q54_pivot_daily_events": q54_pivot_daily_events,
        "q59_pii_redaction": q59_pii_redaction,
        "q60_gopher_quality": q60_gopher_quality,
        "q61_repetition_profile": q61_repetition_profile,
        "q14_simhash_pairs": q14_simhash_pairs,
        "q18_embedding_neardup": q18_embedding_neardup,
        "q27_byte_histogram": q27_byte_histogram,
        "q55_cube_revenue": q55_cube_revenue,
        "q56_order_running_totals": q56_order_running_totals,
        "q57_late_ship_priority": q57_late_ship_priority,
        "q58_local_supplier_volume": q58_local_supplier_volume,
        "q63_tree_merge_knn": q63_tree_merge_knn,
        "q64_dedup_first_event": q64_dedup_first_event,
        "q66_click_purchase_pairs": q66_click_purchase_pairs,
        "q67_span_dedup": q67_span_dedup,
        "q68_stratified_sample": q68_stratified_sample,
        "q69_train_split": q69_train_split,
        "q70_weighted_mix": q70_weighted_mix,
        "q71_doc_chunks": q71_doc_chunks,
        "q72_pack_sequences": q72_pack_sequences,
        "q73_contamination": q73_contamination,
        "q75_hamming_knn": q75_hamming_knn,
        "q76_c4_clean": q76_c4_clean,
        "q77_unpivot_lineitem": q77_unpivot_lineitem,
        "q78_grouping_sets": q78_grouping_sets,
        "q79_windowed_revenue": q79_windowed_revenue,
        "q80_full_outer_coverage": q80_full_outer_coverage,
        "q82_bm25_search": q82_bm25_search,
        "q83_hybrid_search": q83_hybrid_search,
        "q84_dedup_clusters": q84_dedup_clusters,
        "q86_zorder_keys": q86_zorder_keys,
        "q88_small_qty_revenue": q88_small_qty_revenue,
        "q01_l2sq_pairs": q01_l2sq_pairs,
        "q02_ip_cos_pairs": q02_ip_cos_pairs,
        "q152_label_knn": q152_label_knn,
        "q153_filtered_knn": q153_filtered_knn,
        "q154_filtered_ivf_gate": q154_filtered_ivf_gate,
        "q163_filtered_graph_gate": q163_filtered_graph_gate,
        "q164_filtered_ivfpq_serving_gate": q164_filtered_ivfpq_serving_gate,
        "q155_filtered_revenue": q155_filtered_revenue,
        "q156_market_share": q156_market_share,
        "q157_profit_by_nation_year": q157_profit_by_nation_year,
        "q158_important_parts": q158_important_parts,
        "q159_late_priority_lines": q159_late_priority_lines,
        "q160_top_supplier": q160_top_supplier,
        "q161_supplier_part_counts": q161_supplier_part_counts,
        "q162_excess_shippers": q162_excess_shippers,
        "q150_ivfpq_serving_parity_gate": q150_ivfpq_serving_parity_gate,
        "q151_rpt_serving_parity_gate": q151_rpt_serving_parity_gate,
        "q03_knn_ids": q03_knn_ids,
        "q04_knn_join": q04_knn_join,
        "q05_shard_stats": q05_shard_stats,
        "q06_two_phase_knn": q06_two_phase_knn,
        "q07_recall": q07_recall,
        "q120_classifier_margin_gate": q120_classifier_margin_gate,
        "q121_kcenter_cover_gate": q121_kcenter_cover_gate,
        "q117_compaction_roundtrip": q117_compaction_roundtrip,
        "q112_lsh_join_gate": q112_lsh_join_gate,
        "q115_semdedup_gate": q115_semdedup_gate,
        "q113_hll_gate": q113_hll_gate,
        "q114_quantile_gate": q114_quantile_gate,
        "q89_salted_join": q89_salted_join,
        "q90_maxsim_retrieval": q90_maxsim_retrieval,
        "q91_distinct_users_daily": q91_distinct_users_daily,
        "q92_props_map_stats": q92_props_map_stats,
        "q93_tfidf_keywords": q93_tfidf_keywords,
        "q94_incremental_dedup": q94_incremental_dedup,
        "q95_bigram_lm_score": q95_bigram_lm_score,
        "q98_bloom_semi_join": q98_bloom_semi_join,
        "q100_heavy_hitters": q100_heavy_hitters,
        "q102_fuzzy_part_names": q102_fuzzy_part_names,
        "q65_event_rollup": q65_event_rollup,
        "q122_rollup_incremental": q122_rollup_incremental,
        "q123_funnel_steps": q123_funnel_steps,
        "q124_retention_cohorts": q124_retention_cohorts,
        "q125_volume_anomalies": q125_volume_anomalies,
        "q126_sql_nation_volume": q126_sql_nation_volume,
        "q128_custdist": q128_custdist,
        "q129_promo_revenue": q129_promo_revenue,
        "q130_returned_items": q130_returned_items,
        "q131_disjunctive_revenue": q131_disjunctive_revenue,
        "q132_merge_upsert": q132_merge_upsert,
        "q133_scd2_history": q133_scd2_history,
        "q08_index_roundtrip": q08_index_roundtrip,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    out = {
        # ANN recall gates: the oracle pins the denominator (query count and
        # max_hit follow from the deterministic vec_id%10 split) plus the
        # declared floor; the Spark side must achieve recall_ok=true on the
        # reference's position-wise recall metric. See _recall_gate.
        "q22_graph_recall_gate": _recall_gate_oracle(0.95),
        "q118_cell_routed_recall_gate": _recall_gate_oracle(0.9),
        "q119_mmr_first_pick_gate": f"""
            SELECT count(*) AS n_queries, true AS first_pick_is_max_rel,
                   count(*) * {K} AS n_result_rows, true AS shape_ok
            FROM embeddings WHERE vec_id % 10 = 0
        """,
        "q120_classifier_margin_gate": """
            SELECT count(*) AS n_docs, true AS separated, true AS probs_valid
            FROM documents
        """,
        "q121_kcenter_cover_gate": """
            SELECT CAST(16 AS BIGINT) AS n_centers, true AS k_distinct,
                   true AS beats_naive_baseline
        """,
        "q104_lsh_recall_gate": _recall_gate_oracle(0.9),
        "q105_ivf_recall_gate": _recall_gate_oracle(0.7),
        # round 12: + the near-duplicate-density warning contract
        "q106_pq_recall_gate": _recall_gate_oracle(0.9).replace(
            "FROM embeddings",
            ''', true AS warned_dense_ok, true AS warn_once_ok,
               true AS quiet_sparse_ok, true AS mult_exceeds_budget_ok,
               true AS rerouted_ok
            FROM embeddings''', 1,
        ),
        # round 13: + the compressed-route incremental-maintenance contract
        "q107_sq_recall_gate": _recall_gate_oracle(0.98).replace(
            "FROM embeddings",
            ''', true AS maintain_parity_ok,
               true AS maintain_restore_parity_ok
            FROM embeddings''', 1,
        ),
        # round 12: + the streaming-maintenance exactly-once contract
        "q108_ivfpq_recall_gate": _recall_gate_oracle(0.85).replace(
            "FROM embeddings",
            ''', true AS committed_skip_ok,
               true AS restore_excludes_uncommitted_ok,
               true AS exactly_once_ok, true AS final_parity_ok,
               true AS fp_between_waves_ok,
               true AS fp_midcrash_refuses_ok,
               true AS fp_reconciled_ok,
               (SELECT count(*) FROM embeddings WHERE vec_id % 10 != 0)::INT
                 AS n_rows
            FROM embeddings''', 1,
        ),
        "q150_ivfpq_serving_parity_gate": """
            SELECT count(*) AS n_queries,
                   count(*) * 10 AS n_rows,
                   true AS parity_ok
            FROM embeddings WHERE vec_id % 10 = 0
        """,
        "q151_rpt_serving_parity_gate": """
            SELECT count(*) AS n_queries,
                   count(*) * 10 AS n_rows,
                   true AS parity_ok
            FROM embeddings WHERE vec_id % 10 = 0
        """,
        "q152_label_knn": _ATTR_KNN_SQL,
        "q153_filtered_knn": f"""
            WITH train AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 10 <> 0 AND label % 3 = 0
            ), test AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 10 = 0
            ), d AS (
              SELECT t.qid, c.id,
                     {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
              FROM test t CROSS JOIN train c
            ), ranked AS (
              SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist, id) AS rank
              FROM d
            )
            SELECT qid, rank, id, round(dist, 6) AS dist
            FROM ranked WHERE rank <= {K}
        """,
        "q154_filtered_ivf_gate": _recall_gate_oracle(0.65),
        "q163_filtered_graph_gate": _recall_gate_oracle(0.9),
        "q164_filtered_ivfpq_serving_gate": _recall_gate_oracle(0.85),
        # dict_encode's contract: dense 0-based codes in sorted value
        # order == dense_rank() - 1 per attribute
        "q165_dict_encode_tables": """
            WITH l AS (
              SELECT lang AS value, count(*) AS n_rows
              FROM documents GROUP BY lang
            ), s AS (
              SELECT source AS value, count(*) AS n_rows
              FROM documents GROUP BY source
            )
            SELECT 'lang' AS attr, value,
                   CAST(dense_rank() OVER (ORDER BY value) - 1 AS BIGINT)
                       AS code,
                   n_rows
            FROM l
            UNION ALL
            SELECT 'source' AS attr, value,
                   CAST(dense_rank() OVER (ORDER BY value) - 1 AS BIGINT)
                       AS code,
                   n_rows
            FROM s
        """,
        # the Spark side filters on dictionary CODES; the oracle filters
        # the raw strings — a hash match proves the encode is faithful
        "q166_string_filtered_knn": f"""
            WITH train AS (
              SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS vec
              FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
              WHERE e.vec_id % 10 <> 0 AND d.lang = 'en'
                AND d.source IN ('src1', 'src12', 'src18')
            ), test AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 10 = 0
            ), d AS (
              SELECT t.qid, c.id,
                     {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
              FROM test t CROSS JOIN train c
            ), ranked AS (
              SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist, id) AS rank
              FROM d
            )
            SELECT qid, rank, id, round(dist, 6) AS dist
            FROM ranked WHERE rank <= {K}
        """,
        # q168 serves the SAME relation as q152 from the warm
        # multi-tenant path — identical oracle text by construction
        "q168_multi_tenant_serving": _ATTR_KNN_SQL,
        "q167_conjunction_serving_gate": f"""
            SELECT true AS graph_sel_parity_ok,
                   true AS ivfpq_sel_parity_ok,
                   true AS broad_only_matching,
                   true AS broad_recall_ok,
                   count(*) * {K} AS n_broad_rows,
                   true AS graph_tuplein_parity_ok,
                   true AS ivfpq_tuplein_parity_ok
            FROM embeddings WHERE vec_id % 10 = 0
        """,
        "q155_filtered_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                                       AS DECIMAL(38,12))) AS DOUBLE), 4)
                       AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
              AND l_discount >= 0.039 AND l_discount <= 0.061
              AND l_quantity < 24
        """,
        "q156_market_share": """
            SELECT year(o.o_orderdate) AS o_year,
                   round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                                  THEN CAST(l.l_extendedprice
                                            * (1 - l.l_discount)
                                            AS DECIMAL(38,12))
                                  ELSE CAST(0 AS DECIMAL(38,12)) END)
                              AS DOUBLE)
                         / CAST(sum(CAST(l.l_extendedprice
                                         * (1 - l.l_discount)
                                         AS DECIMAL(38,12))) AS DOUBLE),
                         6) AS mkt_share,
                   round(CAST(sum(CAST(l.l_extendedprice
                                       * (1 - l.l_discount)
                                       AS DECIMAL(38,12))) AS DOUBLE), 4)
                       AS total_rev
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
                       AND p.p_type = 'STANDARD'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
            JOIN region r ON n1.n_regionkey = r.r_regionkey
                         AND r.r_name = 'ASIA'
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            GROUP BY o_year
            ORDER BY o_year
        """,
        "q157_profit_by_nation_year": """
            SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                   round(CAST(sum(CAST(l.l_extendedprice
                                       * (1 - l.l_discount)
                                       - CAST(0.5 AS DOUBLE)
                                         * p.p_retailprice * l.l_quantity
                                       AS DECIMAL(38,12))) AS DOUBLE), 4)
                       AS sum_profit
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
                       AND p.p_name LIKE '%gear%'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY nation, o_year
            ORDER BY nation, o_year DESC
        """,
        "q158_important_parts": """
            WITH per_part AS (
              SELECT l.l_partkey,
                     sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(38,12))) AS value_d
              FROM lineitem l
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
                           AND r.r_name = 'EUROPE'
              GROUP BY l.l_partkey
            )
            SELECT l_partkey AS p_partkey,
                   round(CAST(value_d AS DOUBLE), 4) AS value
            FROM per_part
            WHERE CAST(value_d AS DOUBLE) >
                  CAST(0.0008 AS DOUBLE)
                  * (SELECT CAST(sum(value_d) AS DOUBLE) FROM per_part)
            ORDER BY value DESC, p_partkey
        """,
        "q159_late_priority_lines": _Q159_SQL,
        "q160_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,12))) AS total_rev
              FROM lineitem
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name,
                   round(CAST(r.total_rev AS DOUBLE), 4) AS total_revenue
            FROM supplier s
            JOIN rev r ON s.s_suppkey = r.l_suppkey
            WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
            ORDER BY s.s_suppkey
        """,
        "q161_supplier_part_counts": _Q161_SQL,
        "q162_excess_shippers": """
            WITH pq AS (
              SELECT l.l_suppkey, l.l_partkey, sum(l.l_quantity) AS qty
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
                         AND p.p_name LIKE '%gear%'
              WHERE l.l_shipdate >= DATE '1997-01-01'
                AND l.l_shipdate < DATE '1998-01-01'
              GROUP BY l.l_suppkey, l.l_partkey
            ), pa AS (
              SELECT l_partkey, sum(qty) / count(*) AS avg_qty
              FROM pq GROUP BY l_partkey
            )
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            WHERE s.s_suppkey IN (
              SELECT pq.l_suppkey FROM pq
              JOIN pa ON pq.l_partkey = pa.l_partkey
              WHERE pq.qty > CAST(1.5 AS DOUBLE) * pa.avg_qty
            )
            ORDER BY s.s_suppkey
        """,
        "q109_pca_recall_gate": _recall_gate_oracle(0.4),
        "q110_rpt_recall_gate": _recall_gate_oracle(0.12),
        "q111_hamming_recall_gate": _recall_gate_oracle(0.7),
        # byte histogram: bins are width 16, so a byte's bin index is its
        # high hex nibble — countable in SQL over hex(payload) without any
        # blob unnesting (payload := encode(text), with_text_payload).
        "q27_byte_histogram": """
            WITH b AS (
              SELECT doc_id,
                     hex(encode(text)) AS h,
                     octet_length(encode(text)) AS n
              FROM documents
            )
            SELECT doc_id,
              CASE WHEN n = 0 THEN 0.0 ELSE
                round(len(list_filter(range(n),
                      i -> substr(h, 2*i + 1, 1) = '0'))::DOUBLE / n, 6)
              END AS hist_0,
              CASE WHEN n = 0 THEN 0.0 ELSE
                round(len(list_filter(range(n),
                      i -> substr(h, 2*i + 1, 1) = '7'))::DOUBLE / n, 6)
              END AS hist_7,
              CASE WHEN n = 0 THEN 0.0 ELSE 1.0 END::DOUBLE AS hist_sum
            FROM b
        """,
        "q112_lsh_join_gate": f"""
            WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
            p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     {_L2SQ_SQL.format(a="a.vec", b="b.vec")} AS dist
              FROM v a JOIN v b ON a.id < b.id
            )
            SELECT count(*) AS n_exact, 0::BIGINT AS false_positives,
                   true AS coverage_ok
            FROM p WHERE dist < 1.25
        """,
        "q113_hll_gate": """
            SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
                   true AS hll_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q114_quantile_gate": """
            SELECT event_type, count(*) AS n,
                   true AS p50_ok, true AS p99_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q115_semdedup_gate": """
            WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
            p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     1.0 - list_cosine_similarity(a.vec, b.vec) AS cos
              FROM v a JOIN v b ON a.id < b.id
            )
            SELECT count(*) AS n_exact, 0::BIGINT AS false_positives,
                   true AS coverage_ok
            FROM p WHERE cos < 0.6
        """,
        "q01_l2sq_pairs": f"""
            WITH pairs AS ({_PAIRS_SQL})
            SELECT aid, bid,
                   round({_L2SQ_SQL.format(a="a", b="b")}, 6) AS l2sq
            FROM pairs
        """,
        "q02_ip_cos_pairs": f"""
            WITH pairs AS ({_PAIRS_SQL})
            SELECT aid, bid,
                   round(1.0 - list_inner_product(a, b), 6) AS ip_dist,
                   round(1.0 - list_cosine_similarity(a, b), 6) AS cos_dist
            FROM pairs
        """,
        "q03_knn_ids": _KNN_BASE_SQL
        + f"""
            SELECT qid, rank - 1 AS pos, id AS neighbor_id
            FROM ranked WHERE rank <= {K}
        """,
        "q04_knn_join": _KNN_BASE_SQL
        + f"""
            SELECT qid, rank, id, round(dist, 6) AS dist
            FROM ranked WHERE rank <= {K}
        """,
        "q05_shard_stats": f"""
            SELECT vec_id // {SUB_INDEX_BOUND} AS shard,
                   count(*) AS n_vectors,
                   min(vec_id) AS entry_id,
                   max(vec_id) AS max_id
            FROM embeddings WHERE vec_id % 10 <> 0
            GROUP BY 1
        """,
        "q06_two_phase_knn": _KNN_BASE_SQL
        + f"""
            SELECT qid, rank, id, round(dist, 6) AS dist
            FROM ranked WHERE rank <= {K}
        """,
        "q63_tree_merge_knn": _KNN_BASE_SQL
        + f"""
            SELECT qid, rank, id, round(dist, 6) AS dist
            FROM ranked WHERE rank <= {K}
        """,
        "q64_dedup_first_event": """
            SELECT user_id, event_type, event_id, ts, round(value, 6) AS value
            FROM (
              SELECT user_id, event_type, event_id, ts, value,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "q67_span_dedup": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(len(ws) - 9, 0))) - 1 AS start,
                     array_to_string(
                       ws[unnest(generate_series(1, greatest(len(ws) - 9, 0)))
                          : unnest(generate_series(1, greatest(len(ws) - 9, 0))) + 9],
                       ' ') AS gram
              FROM w
            ), dup AS (
              SELECT gram FROM grams GROUP BY gram
              HAVING count(DISTINCT doc_id) >= 2
            ), dstarts AS (
              SELECT DISTINCT g.doc_id, g.start AS pos, 1 AS hit
              FROM grams g JOIN dup USING (gram)
            ), pos AS (
              SELECT doc_id, unnest(ws) AS word,
                     generate_subscripts(ws, 1) - 1 AS pos
              FROM w
            ), marked AS (
              SELECT p.doc_id, p.pos, p.word,
                     max(d.hit) OVER (PARTITION BY p.doc_id ORDER BY p.pos
                                      RANGE BETWEEN 9 PRECEDING AND CURRENT ROW)
                       AS covered
              FROM pos p
              LEFT JOIN dstarts d ON d.doc_id = p.doc_id AND d.pos = p.pos
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN covered IS NULL THEN word END,
                                       ' ' ORDER BY pos), '') AS clean_text,
                   count(*) AS n_words,
                   CAST(sum(CASE WHEN covered IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removed
            FROM marked GROUP BY doc_id
        """,
        "q66_click_purchase_pairs": """
            SELECT p.user_id,
                   p.event_id AS purchase_id,
                   p.ts AS purchase_ts,
                   c.event_id AS click_id,
                   c.ts AS click_ts
            FROM events p
            JOIN events c
              ON p.event_type = 'purchase'
             AND c.event_type = 'click'
             AND c.user_id = p.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 3600 SECONDS
        """,
        "q65_event_rollup": """
            WITH raw AS (SELECT ts, event_type, value FROM events),
            lv(res) AS (VALUES (60), (3600), (86400))
            SELECT CAST(lv.res AS BIGINT) AS resolution_s,
                   make_timestamp(CAST(floor(epoch(raw.ts) / lv.res) AS BIGINT)
                                  * lv.res * 1000000) AS bucket_start,
                   raw.event_type,
                   count(*) AS n_events,
                   round(CAST(sum(CAST(raw.value AS DECIMAL(38,12)))
                              AS DOUBLE), 6) AS value_sum,
                   round(min(raw.value), 6) AS value_min,
                   round(max(raw.value), 6) AS value_max,
                   round(CAST(sum(CAST(raw.value AS DECIMAL(38,12)))
                              AS DOUBLE) / count(*), 6) AS value_avg
            FROM raw CROSS JOIN lv
            GROUP BY 1, 2, 3
        """,
        "q123_funnel_steps": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts >= s1.t
                AND e.ts <= s1.t + INTERVAL 86400 SECONDS
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= s2.t
                AND e.ts <= s2.t + INTERVAL 86400 SECONDS
              GROUP BY e.user_id
            ), counts AS (
              SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
              UNION ALL
              SELECT 2, 'click', count(*) FROM s2
              UNION ALL
              SELECT 3, 'purchase', count(*) FROM s3
            )
            SELECT step_idx, step, n_users,
                   round(n_users / (first_value(n_users)
                         OVER (ORDER BY step_idx)), 6) AS conv_rate
            FROM counts ORDER BY step_idx
        """,
        "q124_retention_cohorts": """
            WITH first_day AS (
              SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
              FROM events GROUP BY user_id
            ), sizes AS (
              SELECT cohort_day, count(*) AS cohort_size
              FROM first_day GROUP BY cohort_day
            ), triples AS (
              SELECT DISTINCT f.cohort_day,
                     CAST(e.ts AS DATE) - f.cohort_day AS day_offset,
                     e.user_id
              FROM events e JOIN first_day f ON e.user_id = f.user_id
            ), ret AS (
              SELECT cohort_day, day_offset, count(*) AS n_active
              FROM triples GROUP BY cohort_day, day_offset
            )
            SELECT CAST(r.cohort_day AS VARCHAR) AS cohort_day,
                   r.day_offset, r.n_active, s.cohort_size,
                   round(r.n_active / s.cohort_size, 6) AS retention
            FROM ret r JOIN sizes s USING (cohort_day)
            ORDER BY cohort_day, day_offset
        """,
        "q125_volume_anomalies": """
            WITH hourly AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                     count(*) AS n_events
              FROM events GROUP BY event_type, date_trunc('hour', ts)
            ), moments AS (
              SELECT event_type, count(*) AS __n, sum(n_events) AS __s,
                     sum(CAST(CAST(n_events AS DECIMAL(18,0))
                              * CAST(n_events AS DECIMAL(18,0))
                              AS DECIMAL(38,0))) AS __ss
              FROM hourly GROUP BY event_type
            )
            SELECT event_type, bucket_start, n_events, mean_n, std_n, z
            FROM (
              SELECT h.event_type, h.bucket_start, h.n_events,
                     round(CAST(m.__s AS DOUBLE) / m.__n, 6) AS mean_n,
                     round(sqrt(CAST(m.__ss AS DOUBLE) / m.__n
                           - (CAST(m.__s AS DOUBLE) / m.__n)
                             * (CAST(m.__s AS DOUBLE) / m.__n)), 6) AS std_n,
                     round((h.n_events - CAST(m.__s AS DOUBLE) / m.__n)
                           / sqrt(CAST(m.__ss AS DOUBLE) / m.__n
                             - (CAST(m.__s AS DOUBLE) / m.__n)
                               * (CAST(m.__s AS DOUBLE) / m.__n)), 6) AS z
              FROM hourly h JOIN moments m USING (event_type)
            )
            WHERE std_n > 0 AND abs(z) >= 1.5
            ORDER BY event_type, bucket_start
        """,
        "q126_sql_nation_volume": _Q126_SQL,
        "q137_waiting_suppliers": _Q137_SQL,
        "q138_quiet_high_balance": _Q138_SQL,
        "q139_min_cost_supplier": """
            WITH li AS (
              SELECT l_partkey, l_suppkey,
                     l_extendedprice / l_quantity AS unit
              FROM lineitem
            ), best AS (
              SELECT l_partkey, min(unit) AS mu FROM li GROUP BY l_partkey
            ), pick AS (
              SELECT li.l_partkey AS p_partkey,
                     min(li.l_suppkey) AS s_suppkey,
                     round(min(b.mu), 6) AS min_unit_price
              FROM li JOIN best b
                ON li.l_partkey = b.l_partkey AND li.unit = b.mu
              GROUP BY li.l_partkey
            )
            SELECT p_partkey, s_suppkey, s_name, min_unit_price
            FROM pick JOIN supplier USING (s_suppkey)
            ORDER BY p_partkey
        """,
        "q140_large_volume_orders": """
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 300
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice, total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100
        """,
        "q141_gapfill_forward": """
            WITH hourly AS (
              SELECT event_type AS key,
                     CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
                     count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                       / count(value) AS m
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT key, min(b) AS lo, max(b) AS hi FROM hourly GROUP BY 1
            ), spine AS (
              SELECT key, unnest(generate_series(lo, hi, 3600)) AS b
              FROM bounds
            ), j AS (
              SELECT s.key, s.b, coalesce(h.n_events, 0) AS n_events, h.m
              FROM spine s LEFT JOIN hourly h USING (key, b)
            )
            SELECT key AS event_type, make_timestamp(b * 1000000) AS bucket_start,
                   n_events,
                   round(last_value(m IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                     AS filled_mean
            FROM j
        """,
        "q142_take_n_per_source": """
            WITH ranked AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substring(md5(('0:' || (doc_id))::VARCHAR), 1, 12))::BIGINT ASC, doc_id ASC
                     ) AS rn
              FROM documents
            )
            SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 10
        """,
        "q143_gapfill_linear": """
            WITH hourly AS (
              SELECT event_type AS key,
                     CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
                     count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                       / count(value) AS m
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT key, min(b) AS lo, max(b) AS hi FROM hourly GROUP BY 1
            ), spine AS (
              SELECT key, unnest(generate_series(lo, hi, 3600)) AS b
              FROM bounds
            ), j AS (
              SELECT s.key, s.b, coalesce(h.n_events, 0) AS n_events, h.m
              FROM spine s LEFT JOIN hourly h USING (key, b)
            ), anch AS (
              SELECT key, b, n_events, m,
                     last_value(m IGNORE NULLS) OVER back AS pv,
                     last_value(CASE WHEN m IS NOT NULL THEN b END IGNORE NULLS)
                       OVER back AS pb,
                     first_value(m IGNORE NULLS) OVER fwd AS nv,
                     first_value(CASE WHEN m IS NOT NULL THEN b END IGNORE NULLS)
                       OVER fwd AS nb
              FROM j
              WINDOW back AS (PARTITION BY key ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     fwd AS (PARTITION BY key ORDER BY b
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT key AS event_type, make_timestamp(b * 1000000) AS bucket_start,
                   n_events,
                   round(CASE WHEN m IS NOT NULL THEN m
                              WHEN pb IS NOT NULL AND nb IS NOT NULL
                                THEN pv + (nv - pv) * (b - pb) / (nb - pb)
                              ELSE coalesce(pv, nv) END, 6) AS filled_mean
            FROM anch
        """,
        # q145/q146: the synthetic-image constructor is SQL-replicable
        # (pixel i = text byte i mod len; docs are ASCII so char index ==
        # byte index), so the oracle predicts decoded/resized pixel stats
        "q147_wav_audio_stats": """
            WITH s AS (
              SELECT d.doc_id,
                     (ascii(substr(d.text,
                        CAST(i.i % length(d.text) AS INTEGER) + 1, 1))
                      - 128) * 256 AS x
              FROM documents d, generate_series(0, 255) AS i(i)
            )
            SELECT doc_id,
                   CAST(256 AS BIGINT) AS n_frames,
                   CAST(1 AS BIGINT) AS n_channels,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(max(abs(x)) AS BIGINT) AS peak,
                   sum(x) / 256.0 AS mean_sample,
                   sqrt(sum(CAST(x AS DOUBLE) * x) / 256.0) AS rms
            FROM s GROUP BY doc_id
        """,
        "q145_png_pixel_stats": """
            WITH px AS (
              SELECT d.doc_id,
                     ascii(substr(d.text,
                       CAST(i.i % length(d.text) AS INTEGER) + 1, 1)) AS p
              FROM documents d, generate_series(0, 255) AS i(i)
            )
            SELECT doc_id,
                   CAST(16 AS BIGINT) AS width,
                   CAST(16 AS BIGINT) AS height,
                   CAST(1 AS BIGINT) AS channels,
                   sum(p) / 256.0 AS mean_pixel,
                   CAST(min(p) AS BIGINT) AS min_pixel,
                   CAST(max(p) AS BIGINT) AS max_pixel
            FROM px GROUP BY doc_id
        """,
        "q146_png_resize_stats": """
            WITH px AS (
              SELECT d.doc_id,
                     ascii(substr(d.text,
                       CAST((2 * (i.i // 8) * 16 + 2 * (i.i % 8))
                            % length(d.text) AS INTEGER) + 1, 1)) AS p
              FROM documents d, generate_series(0, 63) AS i(i)
            )
            SELECT doc_id,
                   CAST(8 AS BIGINT) AS width,
                   CAST(8 AS BIGINT) AS height,
                   sum(p) / 64.0 AS mean_pixel,
                   CAST(min(p) AS BIGINT) AS min_pixel,
                   CAST(max(p) AS BIGINT) AS max_pixel
            FROM px GROUP BY doc_id
        """,
        # q144: the sweep grid and its deterministic contract are static —
        # the oracle pins the expected constants (recall values themselves
        # stay unpinned; only the monotone/threshold booleans are graded)
        "q144_sweep_contract_gate": """
            SELECT * FROM (VALUES
              (CAST(4 AS INTEGER), CAST(2 AS INTEGER), CAST(2 AS BIGINT),
               TRUE, TRUE, TRUE),
              (CAST(8 AS INTEGER), CAST(2 AS INTEGER), CAST(2 AS BIGINT),
               TRUE, TRUE, TRUE)
            ) AS t(connect, step, n_rm_points, recall_monotone,
                   recall_max_ok, latency_ok)
        """,
        "q134_table_profile": _Q134_SQL,
        "q135_binary_format_ingest": """
            WITH train AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0
            ), comp AS (
              SELECT sum(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(38,12))) AS s
              FROM train, UNNEST(embedding) AS u(x)
            )
            SELECT (SELECT count(*) FROM train) AS n_vectors,
                   (SELECT CAST(max(len(embedding)) AS BIGINT) FROM train) AS dim,
                   (SELECT count(*) * (count(*) - 1) // 2 FROM train)
                     AS id_checksum,
                   (SELECT round(CAST(s AS DOUBLE), 6) FROM comp)
                     AS component_sum
        """,
        "q136_hdf5_roundtrip": """
            WITH tr AS (
              SELECT embedding FROM embeddings WHERE vec_id % 10 <> 0
            ), te AS (
              SELECT embedding FROM embeddings WHERE vec_id % 10 = 0
            )
            SELECT (SELECT count(*) FROM tr) AS n_train,
                   (SELECT round(CAST(sum(CAST(CAST(u.x AS DOUBLE)
                        AS DECIMAL(38,12))) AS DOUBLE), 6)
                    FROM tr, UNNEST(embedding) AS u(x)) AS train_sum,
                   (SELECT count(*) FROM te) AS n_test,
                   (SELECT round(CAST(sum(CAST(CAST(u.x AS DOUBLE)
                        AS DECIMAL(38,12))) AS DOUBLE), 6)
                    FROM te, UNNEST(embedding) AS u(x)) AS test_sum
        """,
        # round 15: + remove-wave parity booleans (warm delete path
        # converges to the cold rebuild on graph/cell/compressed routes)
        "q127_append_remove_recall_gate": _recall_gate_oracle(0.95).replace(
            "true AS shape_ok",
            "true AS shape_ok,\n"
            "               true AS graph_remove_wave_ok,\n"
            "               true AS cell_remove_wave_ok,\n"
            "               true AS ivfpq_remove_wave_ok",
        ),
        "q128_custdist": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c LEFT OUTER JOIN orders o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        "q129_promo_revenue": """
            SELECT round(100.0 * CAST(promo AS DOUBLE)
                         / CAST(total AS DOUBLE), 6) AS promo_revenue_pct,
                   round(CAST(promo AS DOUBLE), 4) AS promo_rev,
                   round(CAST(total AS DOUBLE), 4) AS total_rev
            FROM (
              SELECT sum(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(38,12))
                         ELSE CAST(0 AS DECIMAL(38,12)) END) AS promo,
                     sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(38,12))) AS total
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE l.l_shipdate >= DATE '1995-09-01'
                AND l.l_shipdate < DATE '1995-10-01'
            )
        """,
        "q130_returned_items": """
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
                   n_name, c_mktsegment,
                   round(CAST(rev AS DOUBLE), 4) AS revenue
            FROM (
              SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                     c.c_mktsegment,
                     sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(38,12))) AS rev
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              WHERE l.l_returnflag = 'R'
                AND o.o_orderdate >= DATE '1996-01-01'
                AND o.o_orderdate < DATE '1996-04-01'
              GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                       c.c_mktsegment
            )
            ORDER BY rev DESC, c_custkey LIMIT 20
        """,
        "q131_disjunctive_revenue": """
            SELECT count(*) AS n_lines,
                   round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                       AS DECIMAL(38,12))) AS DOUBLE), 4)
                     AS revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1 AND 20)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
                   AND l.l_quantity BETWEEN 10 AND 30)
               OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 50
                   AND l.l_quantity BETWEEN 20 AND 40)
        """,
        "q132_merge_upsert": """
            WITH updates AS (
              SELECT c_custkey, c_name, c_nationkey,
                     c_acctbal + 100 AS c_acctbal,
                     'UPDATED' AS c_mktsegment
              FROM customer WHERE c_custkey % 5 = 0
              UNION ALL
              SELECT c_custkey + 1000000,
                     'NEW#' || CAST(c_custkey AS VARCHAR),
                     0, 0.0, 'NEW'
              FROM customer WHERE c_custkey % 7 = 0
            )
            SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
                   CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                        ELSE t.c_name END AS c_name,
                   CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey
                        ELSE t.c_nationkey END AS c_nationkey,
                   round(CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                         ELSE t.c_acctbal END, 2) AS c_acctbal,
                   CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                        ELSE t.c_mktsegment END AS c_mktsegment
            FROM customer t FULL OUTER JOIN updates u
              ON t.c_custkey = u.c_custkey
        """,
        "q133_scd2_history": """
            WITH cur AS (
              SELECT c_custkey, c_mktsegment, c_acctbal,
                     TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
                     CAST(NULL AS TIMESTAMP) AS valid_to
              FROM customer
            ), changes AS (
              SELECT c_custkey, 'MOVED' AS c_mktsegment, c_acctbal,
                     TIMESTAMP '2024-06-01 00:00:00' AS ts
              FROM customer WHERE c_custkey % 3 = 0
              UNION ALL
              SELECT c_custkey, c_mktsegment, c_acctbal,
                     TIMESTAMP '2024-06-01 00:00:00'
              FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 3 <> 0
              UNION ALL
              SELECT c_custkey + 1000000, 'NEW', 0.0,
                     TIMESTAMP '2024-06-01 00:00:00'
              FROM customer WHERE c_custkey % 13 = 0
            )
            SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal, 2)
                     AS c_acctbal, c.valid_from, c.valid_to
            FROM cur c LEFT JOIN changes n USING (c_custkey)
            WHERE n.ts IS NULL
               OR (n.c_mktsegment = c.c_mktsegment
                   AND n.c_acctbal = c.c_acctbal)
            UNION ALL
            SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal, 2),
                   c.valid_from, n.ts
            FROM cur c JOIN changes n USING (c_custkey)
            WHERE NOT (n.c_mktsegment = c.c_mktsegment
                       AND n.c_acctbal = c.c_acctbal)
            UNION ALL
            SELECT n.c_custkey, n.c_mktsegment, round(n.c_acctbal, 2),
                   n.ts, CAST(NULL AS TIMESTAMP)
            FROM changes n LEFT JOIN cur c USING (c_custkey)
            WHERE c.valid_from IS NULL
               OR NOT (n.c_mktsegment = c.c_mktsegment
                       AND n.c_acctbal = c.c_acctbal)
        """,
        "q07_recall": f"""
            {_KNN_BASE_SQL}
            SELECT count(*) AS total_hit, count(*) AS max_hit, 1.0::DOUBLE AS recall
            FROM ranked WHERE rank <= {K}
        """,
        "q08_index_roundtrip": f"""
            WITH train AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 10 <> 0
            ), d AS (
              SELECT t.id AS src, c.id AS dst,
                     {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
              FROM train t CROSS JOIN train c WHERE t.id <> c.id
            ), ranked AS (
              SELECT src, dst, dist,
                     row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS r
              FROM d
            ), edges AS (
              SELECT src // {SUB_INDEX_BOUND} AS shard, 0 AS layer, src, dst, dist
              FROM ranked WHERE r <= 4
            )
            SELECT count(*) AS n_edges,
                   sum(('0x' || substring(md5(
                        (shard::VARCHAR || ',' || layer::VARCHAR || ','
                         || src::VARCHAR || ',' || dst::VARCHAR)), 1, 12))::BIGINT
                   )::BIGINT AS edge_checksum,
                   round(sum(dist), 4) AS dist_sum
            FROM edges
        """,
        "q117_compaction_roundtrip": f"""
            WITH train AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 10 <> 0
            ), d AS (
              SELECT t.id AS src, c.id AS dst,
                     {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
              FROM train t CROSS JOIN train c WHERE t.id <> c.id
            ), ranked AS (
              SELECT src, dst, dist,
                     row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS r
              FROM d
            ), edges AS (
              SELECT src // {SUB_INDEX_BOUND} AS shard, 0 AS layer, src, dst, dist
              FROM ranked WHERE r <= 4
            )
            SELECT count(*) AS n_edges,
                   sum(('0x' || substring(md5(
                        (shard::VARCHAR || ',' || layer::VARCHAR || ','
                         || src::VARCHAR || ',' || dst::VARCHAR)), 1, 12))::BIGINT
                   )::BIGINT AS edge_checksum,
                   round(sum(dist), 4) AS dist_sum
            FROM edges
        """,
        "q09_dedup_exact": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY text
        """,
        "q10_threshold_join": f"""
            WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
            p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     {_L2SQ_SQL.format(a="a.vec", b="b.vec")} AS dist
              FROM v a JOIN v b ON a.id < b.id
            )
            SELECT id_a, id_b, round(dist, 6) AS dist FROM p WHERE dist < 1.25
        """,
        "q12_token_topn": f"""
            SELECT token, count(*)::BIGINT AS n
            FROM (SELECT unnest({_TOKS_SQL.format(t="text")}) AS token FROM documents)
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 25
        """,
        "q13_minhash_pairs": f"""
            WITH {_MINHASH_CTES_SQL}
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM pairs WHERE jaccard >= 0.5
        """,
        # q169: range conjunction -> plain BETWEEN-style predicates in SQL
        "q169_range_filtered_knn": f"""
            WITH train AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings
              WHERE vec_id % 10 <> 0
                AND label >= 3 AND label < 7
                AND (vec_id % 100) >= 0 AND (vec_id % 100) < 50
            ), test AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 10 = 0
            ), d AS (
              SELECT t.qid, c.id,
                     {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
              FROM test t CROSS JOIN train c
            ), ranked AS (
              SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist, id) AS rank
              FROM d
            )
            SELECT qid, rank, id, round(dist, 6) AS dist
            FROM ranked WHERE rank <= {K}
        """,
        "q86_zorder_keys": f"""
            WITH o AS (
              SELECT o_orderkey, o_custkey,
                     datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS days
              FROM orders
            ), b AS (
              SELECT min(o_custkey) AS alo, max(o_custkey) AS ahi,
                     min(days) AS blo, max(days) AS bhi
              FROM o
            ), s AS (
              SELECT o_orderkey,
                least(greatest(floor((o_custkey - alo) * 65535 / greatest(ahi - alo, 1)), 0), 65535)::BIGINT AS sa,
                least(greatest(floor((days - blo) * 65535 / greatest(bhi - blo, 1)), 0), 65535)::BIGINT AS sb
              FROM o, b
            )
            SELECT o_orderkey,
                   ({_spread16_sql("sa")} | ({_spread16_sql("sb")} << 1)) AS zkey
            FROM s
        """,
        "q84_dedup_clusters": f"""
            WITH RECURSIVE {_MINHASH_CTES_SQL},
            dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM dup
              UNION SELECT id_b, id_a FROM dup
            ),
            reach(u, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
            ),
            comp AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u)
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   CASE WHEN d.doc_id = coalesce(c.cluster_id, d.doc_id)
                        THEN 1 ELSE 0 END AS keep
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        """,
        "q14_simhash_pairs": f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     list_distinct({_TOKS_SQL.format(t="text")}) AS t
              FROM documents
            ), th AS (
              SELECT id, ('0x'||substring(md5(token),1,12))::BIGINT AS h
              FROM (SELECT id, unnest(t) AS token FROM toks WHERE len(t) > 0)
            ), bits AS (
              SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM th, range(0, 48) r(b)
              GROUP BY id, b
            ), sh AS (
              SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
              FROM bits GROUP BY id
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE bit_count(xor(a.sh, b.sh)) <= 6
        """,
        # q149: the collapse-identical mitigation is output-identical -> same oracle
        # q170: gate booleans computed in Spark; the oracle pins them TRUE
        # plus the full broad shape (every test row must carry K rows).
        # snapshot_parity_ok (round 10) pins the restart contract: a
        # snapshot/restore round trip must answer the selective range
        # query byte-identically to brute force.
        # round 12 extends q170 with the incremental-snapshot chain
        # contract (waves bounded, fold to a fresh versioned base, old
        # version GC'd, restore parity, generation-tip lineage guard)
        "q170_range_serving_gate": f"""
            SELECT true AS waves_bounded_ok,
                   true AS chain_folded_ok,
                   true AS old_base_gc_ok,
                   true AS restore_parity_ok,
                   true AS lineage_tip_ok,
                   2 AS base_version,
                   true AS graph_sel_range_ok,
                   true AS cell_sel_range_ok,
                   true AS broad_only_matching,
                   true AS broad_recall_ok,
                   true AS dnf_equiv_ok,
                   true AS snapshot_parity_ok,
                   true AS single_pass_windows_ok,
                   true AS facade_dispatch_ok,
                   count(*) * {K} AS n_broad_rows
            FROM embeddings WHERE vec_id % 10 = 0
        """,
        "q15_text_profile": f"""
            WITH base AS (
              SELECT doc_id, lower(text) AS s, {_TOKS_SQL.format(t="text")} AS t
              FROM documents
            ), m AS (
              SELECT doc_id,
                len(t) AS n_tokens,
                length(s)::BIGINT AS n_chars,
                (length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')))::DOUBLE
                  / greatest(length(s), 1) AS punct,
                len(list_filter(t, x -> list_contains({_EN_STOP_SQL}, x)))::DOUBLE
                  / greatest(len(t), 1) AS stop,
                list_sum(list_transform(t, x -> length(x)::DOUBLE))::DOUBLE
                  / greatest(len(t), 1) AS mtl
              FROM base
            )
            SELECT doc_id,
                   n_tokens::BIGINT AS n_tokens,
                   n_chars,
                   round(punct, 6) AS punct_ratio,
                   round(stop, 6) AS stopword_ratio,
                   round(mtl, 6) AS mean_token_len,
                   round((least(n_tokens / 64.0, 1.0)
                          + least(stop * 4.0, 1.0)
                          + (1.0 - least(punct * 4.0, 1.0))) / 3.0, 6) AS quality
            FROM m
        """,
        "q16_langid": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(t="text")} AS t FROM documents
            ), scores AS (
              SELECT doc_id, 'de' AS lang,
                     len(list_filter(t, x -> list_contains(
                       ['der','die','das','und','ist','nicht','ein'], x)))::DOUBLE
                       / greatest(len(t), 1) AS score
              FROM toks
              UNION ALL
              SELECT doc_id, 'en',
                     len(list_filter(t, x -> list_contains({_EN_STOP_SQL}, x)))::DOUBLE
                       / greatest(len(t), 1)
              FROM toks
              UNION ALL
              SELECT doc_id, 'es',
                     len(list_filter(t, x -> list_contains(
                       ['el','los','las','una','que','y','es'], x)))::DOUBLE
                       / greatest(len(t), 1)
              FROM toks
              UNION ALL
              SELECT doc_id, 'fr',
                     len(list_filter(t, x -> list_contains(
                       ['le','les','des','et','est','une','dans'], x)))::DOUBLE
                       / greatest(len(t), 1)
              FROM toks
            ), ranked AS (
              SELECT doc_id, lang, round(score, 6) AS score,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY round(score, 6) DESC, lang ASC
                     ) AS rn
              FROM scores
            )
            SELECT doc_id, lang AS lang_pred, score AS lang_score
            FROM ranked WHERE rn = 1
        """,
        "q17_fingerprint_dedup": """
            WITH fp AS (
              SELECT doc_id,
                ('0x' || substring(md5(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 12))::BIGINT AS fp
              FROM documents
            )
            SELECT min(doc_id) AS keep_id, fp, count(*) AS n_dups
            FROM fp GROUP BY fp
        """,
        "q18_embedding_neardup": """
            WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
            p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     1.0 - list_cosine_similarity(a.vec, b.vec) AS cos
              FROM v a JOIN v b ON a.id < b.id
            )
            SELECT id_a, id_b, round(cos, 6) AS cos FROM p WHERE cos < 0.65
        """,
        "q19_ngram_jaccard": """
            WITH g AS (
              SELECT doc_id AS id, source,
                list_distinct([lower(text)[i:i+2]
                               for i in range(1, greatest(length(text)-2, 0)+1)]) AS grams
              FROM documents
            ), p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                len(list_intersect(a.grams, b.grams))::DOUBLE
                  / len(list_distinct(a.grams || b.grams)) AS jaccard
              FROM g a JOIN g b ON a.source = b.source AND a.id < b.id
              WHERE len(a.grams) > 0 AND len(b.grams) > 0
            )
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM p WHERE jaccard >= 0.7
        """,
        "q26_payload_stats": """
            SELECT doc_id, 'text' AS modality,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   md5(text) AS payload_md5
            FROM documents
        """,
        "q24_events_hourly": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   round(sum(value), 6) AS value_sum,
                   round(avg(value), 6) AS value_avg
            FROM events GROUP BY 1, 2
        """,
        "q25_event_sessions": """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 10 MINUTE AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 6) AS value_sum
            FROM s GROUP BY user_id, sid
        """,
        "q28_cosine_knn": f"""
            WITH train AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 10 <> 0
            ), test AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 10 = 0
            ), d AS (
              SELECT t.qid, c.id, 1.0 - list_cosine_similarity(t.vec, c.vec) AS dist
              FROM test t CROSS JOIN train c
            ), ranked AS (
              SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
              FROM d
            )
            SELECT qid, rank, id, round(dist, 6) AS dist FROM ranked WHERE rank <= {K}
        """,
        "q29_set_ops": """
            WITH a AS (SELECT vec_id FROM embeddings WHERE label <= 4),
                 b AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0)
            SELECT
              (SELECT count(*) FROM (SELECT vec_id FROM a UNION SELECT vec_id FROM b)) AS n_union,
              (SELECT count(*) FROM (SELECT vec_id FROM a INTERSECT SELECT vec_id FROM b)) AS n_intersect,
              (SELECT count(*) FROM (SELECT vec_id FROM a EXCEPT SELECT vec_id FROM b)) AS n_except
        """,
        "q30_top_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 50
        """,
        "q31_token_counts": f"""
            SELECT doc_id,
                   len({_TOKS_SQL.format(t="text")})::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))::BIGINT
                     AS n_bpe_tokens
            FROM documents
        """,
        "q33_event_props_json": """
            SELECT event_type,
                   count(*) AS n,
                   sum((props::JSON ->> 'k')::BIGINT)::BIGINT AS k_sum,
                   round(avg((props::JSON ->> 'k')::BIGINT), 6) AS k_avg,
                   max((props::JSON ->> 'k')::BIGINT) AS k_max
            FROM events GROUP BY event_type
        """,
        "q34_orders_monthly": """
            SELECT date_trunc('month', o_orderdate) AS month_start,
                   extract(year FROM o_orderdate)::INT AS yr,
                   extract(month FROM o_orderdate)::INT AS mo,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS revenue
            FROM orders GROUP BY 1, 2, 3
        """,
        "q40_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "q50_semi_anti_join": """
            SELECT
              (SELECT count(*) FROM customer c
                WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
                AS n_with_orders,
              (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
                AS n_without_orders
        """,
        "q51_top_events_per_user": """
            SELECT user_id, rk, event_id, round(value, 6) AS value
            FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rk
              FROM events
            ) WHERE rk <= 3
        """,
        "q52_asof_purchase_click": """
            WITH ref AS (
              SELECT user_id, ts, round(max(value), 6) AS click_value
              FROM events WHERE event_type = 'click'
              GROUP BY 1, 2
            )
            SELECT p.event_id, p.user_id, p.ts, r.ts AS asof_ts, r.click_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN ref r
              ON p.user_id = r.user_id AND p.ts >= r.ts
        """,
        "q53_clicks_before_purchase": """
            SELECT p.event_id, p.user_id, p.ts, count(r.ts) AS n_clicks_24h
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT user_id, ts FROM events
                       WHERE event_type = 'click') r
              ON p.user_id = r.user_id
             AND r.ts <= p.ts
             AND epoch(r.ts) >= epoch(p.ts) - 86400
            GROUP BY 1, 2, 3
        """,
        "q54_pivot_daily_events": """
            SELECT date_trunc('day', ts) AS day,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'error') AS n_error
            FROM events
            GROUP BY 1
        """,
        "q55_cube_revenue": """
            SELECT c.c_mktsegment, o.o_orderpriority,
                   count(*) AS n,
                   round(sum(o.o_totalprice), 4) AS revenue,
                   grouping(c.c_mktsegment, o.o_orderpriority)::BIGINT AS gid
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
        """,
        "q56_order_running_totals": """
            SELECT o_orderkey, o_custkey, o_orderdate,
                   row_number() OVER w AS order_seq,
                   date_diff('day',
                             lag(o_orderdate) OVER w,
                             o_orderdate)::BIGINT AS days_since_prev,
                   round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW), 4) AS cum_spend
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        "q57_late_ship_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY 1
        """,
        "q58_local_supplier_volume": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE c.c_nationkey = s.s_nationkey
              AND r.r_name = 'ASIA'
            GROUP BY 1
        """,
        "q59_pii_redaction": """
            WITH d AS (
              SELECT doc_id,
                     substr(text, 1, 40) || ' contact u' || doc_id::VARCHAR
                       || '@example.com or 555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' now' AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT
                     AS n_emails,
                   len(regexp_extract_all(text,
                       '\\b[0-9]{3}-[0-9]{4}\\b'))::BIGINT AS n_phones,
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS redacted
            FROM d
        """,
        "q60_gopher_quality": f"""
            WITH base AS (
              SELECT doc_id, {_TOKS_SQL.format(t="text")} AS t FROM documents
            ), m AS (
              SELECT doc_id, len(t) AS n,
                     list_sum(list_transform(t, x -> length(x)::DOUBLE))::DOUBLE
                       / greatest(len(t), 1) AS mtl,
                     CASE WHEN len(t) <= 0 THEN 0.0
                          ELSE 1.0 - len(list_distinct(t))::DOUBLE / len(t) END AS dup,
                     len(list_filter(list_distinct(t),
                         x -> list_contains({_EN_STOP_SQL}, x))) AS stop_hits
              FROM base
            )
            SELECT doc_id, n::BIGINT AS n_tokens,
                   (n >= 20 AND n <= 100000) AS ok_token_count,
                   (mtl >= 2.0 AND mtl <= 12.0) AS ok_mean_token_len,
                   (dup <= 0.9) AS ok_repetition,
                   (stop_hits >= 2) AS ok_stopwords,
                   ((n >= 20 AND n <= 100000) AND (mtl >= 2.0 AND mtl <= 12.0)
                    AND dup <= 0.9 AND stop_hits >= 2) AS keep
            FROM m
        """,
        "q61_repetition_profile": f"""
            WITH base AS (
              SELECT doc_id, {_TOKS_SQL.format(t="text")} AS t FROM documents
            ), b AS (
              SELECT doc_id, t,
                     list_filter(list_transform(list_zip(t, t[2:]),
                                 p -> p[1] || ' ' || p[2]),
                                 x -> x IS NOT NULL) AS bi
              FROM base
            )
            SELECT doc_id, len(t)::BIGINT AS n_tokens,
                   round(CASE WHEN len(t) <= 0 THEN 0.0
                         ELSE 1.0 - len(list_distinct(t))::DOUBLE / len(t) END, 6)
                     AS dup_token_ratio,
                   round(CASE WHEN len(bi) <= 0 THEN 0.0
                         ELSE 1.0 - len(list_distinct(bi))::DOUBLE / len(bi) END, 6)
                     AS dup_bigram_ratio
            FROM b
        """,
        "q48_rollup_revenue": """
            SELECT c.c_mktsegment, l.l_returnflag,
                   count(*) AS n,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
                   grouping(c.c_mktsegment, l.l_returnflag)::BIGINT AS gid
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY ROLLUP (c.c_mktsegment, l.l_returnflag)
        """,
        "q46_semantic_search": f"""
            WITH train AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 10 <> 0
            ), test AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 10 = 0
            ), d AS (
              SELECT t.qid, c.id, {_L2SQ_SQL.format(a="t.vec", b="c.vec")} AS dist
              FROM test t CROSS JOIN train c
            ), ranked AS (
              SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
              FROM d
            )
            SELECT r.qid, r.rank, doc.doc_id, round(r.dist, 6) AS dist,
                   doc.lang, doc.source
            FROM ranked r JOIN documents doc ON r.id = doc.doc_id
            WHERE r.rank <= 5
        """,
        "q45_rolling_hash": """
            SELECT doc_id,
              list_reduce(
                list_prepend(0::BIGINT,
                  list_transform(
                    list_filter(
                      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ''),
                      c -> c <> ''),
                    c -> unicode(c)::BIGINT)),
                (acc, cp) -> (acc * 257 + cp) % 2147483647) AS rh
            FROM documents
        """,
        "q44_label_centroids": """
            SELECT label::BIGINT AS label, count(*) AS n,
                   round(avg(embedding[1]), 6) AS c0,
                   round(avg(embedding[64]), 6) AS c63
            FROM embeddings GROUP BY label
        """,
        "q42_value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "q38_clean_pipeline": f"""
            WITH base AS (
              SELECT doc_id, text, source, lower(text) AS s,
                     {_TOKS_SQL.format(t="text")} AS t
              FROM documents
            ), scored AS (
              SELECT *,
                (least(len(t) / 64.0, 1.0)
                 + least((len(list_filter(t, x -> list_contains({_EN_STOP_SQL}, x)))::DOUBLE
                          / greatest(len(t), 1)) * 4.0, 1.0)
                 + (1.0 - least(((length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')))::DOUBLE
                                 / greatest(length(s), 1)) * 4.0, 1.0))) / 3.0 AS q
              FROM base
            ), quality AS (
              SELECT * FROM scored WHERE q >= 0.55
            ), keep_exact AS (
              SELECT min(doc_id) AS doc_id
              FROM (SELECT doc_id,
                      ('0x' || substring(md5(trim(regexp_replace(s, '\\s+', ' ', 'g'))), 1, 12))::BIGINT AS fp
                    FROM quality)
              GROUP BY fp
            ), ex AS (
              SELECT b.doc_id, b.text, b.source, b.t
              FROM base b JOIN keep_exact k ON b.doc_id = k.doc_id
            ), sh AS (
              SELECT doc_id AS id,
                     list_distinct([array_to_string(t[i:i+2], ' ')
                                    for i in range(1, greatest(len(t)-2, 0)+1)]) AS shingles
              FROM ex WHERE len(t) >= 3
            ), sig AS (
              SELECT id, shingles,
                [list_min(list_transform(shingles,
                   x -> ('0x'||substring(md5(seed::VARCHAR || ':' || x),1,12))::BIGINT))
                 for seed in range(0, 16)] AS sig
              FROM sh
            ), banded AS (
              SELECT id, b AS band,
                ('0x'||substring(md5(array_to_string(sig[b*4+1 : b*4+4], ',')),1,12))::BIGINT AS band_hash
              FROM sig, range(0, 4) r(b)
            ), cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id
            ), neardup AS (
              SELECT DISTINCT c.id_b AS doc_id
              FROM cand c
              JOIN sh sa ON sa.id = c.id_a
              JOIN sh sb ON sb.id = c.id_b
              WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
            ), survivors AS (
              SELECT e.* FROM ex e LEFT JOIN neardup n ON e.doc_id = n.doc_id
              WHERE n.doc_id IS NULL
            )
            SELECT source,
                   count(*) AS n_docs,
                   sum(len(t))::BIGINT AS n_tokens,
                   round(avg(length(text)), 6) AS avg_chars
            FROM survivors GROUP BY source
        """,
        "q37_vec_dedup": """
            SELECT min(vec_id) AS keep_id, count(*) AS n_dups
            FROM embeddings GROUP BY embedding
        """,
        "q35_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q36_shipping_priority": """
            SELECT l.l_orderkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY l.l_orderkey
            ORDER BY revenue DESC, l.l_orderkey ASC
            LIMIT 10
        """,
        "q11_star_agg": """
            SELECT c.c_mktsegment, l.l_returnflag,
                   count(*) AS n_rows,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
                   round(avg(l.l_quantity), 6) AS avg_qty,
                   count(DISTINCT o.o_orderkey) AS n_orders
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        """,
        "q82_bm25_search": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS_SQL.format(t="text")}) AS term
              FROM documents
            ), dl AS (
              SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
            ), postings AS (
              SELECT doc_id, term, count(*) AS tf
              FROM toks GROUP BY doc_id, term
            ), stats AS (
              SELECT term, count(*) AS df_t FROM postings GROUP BY term
            ), g AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
            ), scored AS (
              SELECT p.doc_id,
                     round(sum(
                       ln(1 + (g.n_docs - s.df_t + 0.5) / (s.df_t + 0.5))
                       * (p.tf * (1.2 + 1.0)
                          / (p.tf + 1.2 * (1.0 - 0.75
                                           + 0.75 * d.dl / g.avgdl)))
                     ), 6) AS score
              FROM postings p
              JOIN stats s USING (term)
              JOIN dl d USING (doc_id)
              CROSS JOIN g
              WHERE p.term IN ('filter', 'merge', 'spark')
              GROUP BY p.doc_id
            ), ranked AS (
              SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank, doc_id, score
              FROM scored
            )
            SELECT rank, doc_id, score FROM ranked WHERE rank <= 10
        """,
        "q83_hybrid_search": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS_SQL.format(t="text")}) AS term
              FROM documents
            ), dl AS (
              SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
            ), postings AS (
              SELECT doc_id, term, count(*) AS tf
              FROM toks GROUP BY doc_id, term
            ), stats AS (
              SELECT term, count(*) AS df_t FROM postings GROUP BY term
            ), g AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
            ), scored AS (
              SELECT p.doc_id,
                     round(sum(
                       ln(1 + (g.n_docs - s.df_t + 0.5) / (s.df_t + 0.5))
                       * (p.tf * (1.2 + 1.0)
                          / (p.tf + 1.2 * (1.0 - 0.75
                                           + 0.75 * d.dl / g.avgdl)))
                     ), 6) AS score
              FROM postings p
              JOIN stats s USING (term)
              JOIN dl d USING (doc_id)
              CROSS JOIN g
              WHERE p.term IN ('filter', 'merge', 'spark')
              GROUP BY p.doc_id
            ), ltop AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank_lex
              FROM scored QUALIFY rank_lex <= 20
            ), qv AS (
              SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0
            ), tr AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id <> 0
            ), vd AS (
              SELECT tr.id, {_L2SQ_SQL.format(a="qv.v", b="tr.vec")} AS dist
              FROM tr CROSS JOIN qv
            ), vtop AS (
              SELECT id AS doc_id,
                     row_number() OVER (ORDER BY dist, id) AS rank_vec
              FROM vd QUALIFY rank_vec <= 20
            ), fused AS (
              SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                     round(coalesce(1.0 / (60 + l.rank_lex), 0)
                           + coalesce(1.0 / (60 + v.rank_vec), 0), 6)
                       AS rrf_score
              FROM ltop l FULL OUTER JOIN vtop v ON l.doc_id = v.doc_id
            )
            SELECT * FROM (
              SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                       AS rank, doc_id, rrf_score
              FROM fused
            ) WHERE rank <= 10
        """,
        "q75_hamming_knn": f"""
            WITH b AS (
              SELECT vec_id, t.i AS i,
                     CASE WHEN embedding[t.i + 1] > 0 THEN 1 ELSE 0 END AS bit
              FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
            ), packed AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN i < 32
                              THEN bit * (2.0 ^ (31 - i)) ELSE 0 END)
                          AS BIGINT) AS w0,
                     CAST(sum(CASE WHEN i >= 32
                              THEN bit * (2.0 ^ (63 - i)) ELSE 0 END)
                          AS BIGINT) AS w1
              FROM b GROUP BY vec_id
            ), te AS (
              SELECT vec_id AS qid, w0, w1 FROM packed WHERE vec_id % 10 = 0
            ), tr AS (
              SELECT vec_id AS id, w0, w1 FROM packed WHERE vec_id % 10 <> 0
            ), d AS (
              SELECT te.qid, tr.id,
                     bit_count(xor(te.w0, tr.w0))
                     + bit_count(xor(te.w1, tr.w1)) AS hdist
              FROM te CROSS JOIN tr
            ), ranked AS (
              SELECT qid, id, hdist,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY hdist, id) AS rank
              FROM d
            )
            SELECT qid, rank, id, CAST(hdist AS BIGINT) AS hdist
            FROM ranked WHERE rank <= {K}
        """,
        "q76_c4_clean": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS ws
              FROM documents
            ), base AS (
              SELECT doc_id, (s // 8) AS j,
                     array_to_string(ws[s + 1 : s + 8], ' ') ||
                     CASE WHEN (s // 8) % 5 = 1 THEN ''
                          WHEN (s // 8) % 3 = 0 THEN ' javascript.'
                          ELSE '.' END AS line
              FROM w,
                   unnest(generate_series(0, greatest(len(ws) - 1, 0), 8))
                     AS t(s)
            ), lines AS (
              SELECT doc_id, j, line FROM base
              UNION ALL
              SELECT doc_id, 1000000, 'stray { brace line.'
              FROM w WHERE doc_id % 13 = 0
              UNION ALL
              SELECT doc_id, 1000001, 'lorem ipsum dolor sit amet.'
              FROM w WHERE doc_id % 11 = 0
            ), judged AS (
              SELECT doc_id, j, line,
                     (ends_with(line, '.') OR ends_with(line, '!')
                      OR ends_with(line, '?') OR ends_with(line, '"'))
                     AND len(list_filter(string_split(line, ' '),
                                         x -> x <> '')) >= 5
                     AND NOT contains(lower(line), 'javascript') AS good
              FROM lines
            ), agg AS (
              SELECT doc_id,
                     count(*) AS n_lines,
                     sum(CASE WHEN good THEN 1 ELSE 0 END) AS n_kept,
                     bool_or(contains(line, '{')) AS has_brace,
                     bool_or(contains(lower(line), 'lorem ipsum')) AS has_lorem,
                     string_agg(CASE WHEN good THEN line END,
                                chr(10) ORDER BY j) AS kept_text
              FROM judged GROUP BY doc_id
            )
            SELECT doc_id,
                   n_lines::BIGINT AS n_lines,
                   n_kept::BIGINT AS n_kept,
                   (NOT has_brace AND NOT has_lorem AND n_kept >= 3) AS keep,
                   CASE WHEN NOT has_brace AND NOT has_lorem AND n_kept >= 3
                        THEN coalesce(kept_text, '') ELSE '' END AS clean_text
            FROM agg
        """,
        "q77_unpivot_lineitem": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                   round(l_quantity::DOUBLE, 6) AS amount
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                   round(l_extendedprice::DOUBLE, 6)
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount',
                   round(l_discount::DOUBLE, 6)
            FROM lineitem
        """,
        "q78_grouping_sets": """
            SELECT c_mktsegment, o_orderpriority,
                   count(*) AS n,
                   round(sum(o_totalprice), 4) AS revenue,
                   CAST(grouping(c_mktsegment, o_orderpriority) AS BIGINT)
                     AS gid
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
        """,
        "q79_windowed_revenue": """
            SELECT o_orderkey, o_custkey,
                   round(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                     RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
                   ), 4) AS spend_30d,
                   dense_rank() OVER wv AS value_rank,
                   round(percent_rank() OVER wv, 6) AS value_pct,
                   ntile(4) OVER wv AS value_quartile
            FROM orders
            WINDOW wv AS (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC)
        """,
        "q80_full_outer_coverage": """
            WITH per_cust AS (
              SELECT o_custkey, count(*) AS n_orders,
                     round(sum(o_totalprice), 4) AS spend
              FROM orders GROUP BY o_custkey
            ), cust AS (
              SELECT c_custkey, c_mktsegment FROM customer
              WHERE c_custkey % 3 <> 0
            )
            SELECT coalesce(c_custkey, o_custkey) AS custkey,
                   coalesce(c_mktsegment, 'UNKNOWN') AS segment,
                   coalesce(n_orders, 0) AS n_orders,
                   coalesce(spend, 0.0) AS spend
            FROM cust FULL OUTER JOIN per_cust ON c_custkey = o_custkey
        """,
        "q68_stratified_sample": f"""
            SELECT doc_id, source FROM documents
            WHERE {_U01.format(id="doc_id", salt=0)} <
                  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
                              WHEN 'src2' THEN 0.5 ELSE 0.1 END
        """,
        "q69_train_split": f"""
            SELECT doc_id,
                   CASE WHEN {_U01.format(id="doc_id", salt=0)} < 0.8 THEN 'train'
                        WHEN {_U01.format(id="doc_id", salt=0)} < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "q70_weighted_mix": f"""
            SELECT 'even' AS mix_source, doc_id,
                   round({_U01.format(id="doc_id", salt=1)}, 9) AS mix_order
            FROM documents
            WHERE doc_id % 2 = 0 AND {_U01.format(id="doc_id", salt=0)} < 1.0
            UNION ALL
            SELECT 'odd' AS mix_source, doc_id,
                   round({_U01.format(id="doc_id", salt=1)}, 9) AS mix_order
            FROM documents
            WHERE doc_id % 2 = 1 AND {_U01.format(id="doc_id", salt=0)} < 0.25
        """,
        "q71_doc_chunks": r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 x -> x <> '') AS ws
              FROM documents
            ), st AS (
              SELECT doc_id, ws, len(ws) AS n,
                     unnest(generate_series(
                       0, ((greatest(len(ws) - 32, 0) + 23) // 24) * 24, 24
                     )) AS start
              FROM w
            )
            SELECT doc_id,
                   (start // 24)::BIGINT AS chunk_id,
                   start::BIGINT AS start_token,
                   least(n - start, 32)::BIGINT AS n_tokens,
                   array_to_string(ws[start + 1 : start + 32], ' ') AS chunk_text
            FROM st
        """,
        "q72_pack_sequences": r"""
            WITH RECURSIVE sized AS (
              SELECT source AS grp, doc_id,
                     len(list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> ''))::BIGINT AS n_tokens,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id)
                       AS rn
              FROM documents
            ), pack AS (
              SELECT grp, doc_id, n_tokens, rn,
                     0::BIGINT AS bin_id, 0::BIGINT AS bin_pos,
                     n_tokens AS used
              FROM sized WHERE rn = 1
              UNION ALL
              SELECT s.grp, s.doc_id, s.n_tokens, s.rn,
                     CASE WHEN p.used > 0 AND p.used + s.n_tokens > 200
                          THEN p.bin_id + 1 ELSE p.bin_id END,
                     CASE WHEN p.used > 0 AND p.used + s.n_tokens > 200
                          THEN 0 ELSE p.bin_pos + 1 END,
                     CASE WHEN p.used > 0 AND p.used + s.n_tokens > 200
                          THEN s.n_tokens ELSE p.used + s.n_tokens END
              FROM sized s JOIN pack p ON s.grp = p.grp AND s.rn = p.rn + 1
            )
            SELECT grp AS "group", doc_id, n_tokens, bin_id, bin_pos
            FROM pack
        """,
        "q73_contamination": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(t="text")} AS ws FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ws[s : s + 7], ' ') AS gram
              FROM toks,
                   unnest(generate_series(1, greatest(len(ws) - 7, 0)))
                     AS t(s)
            ), bench AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0
            ), agg AS (
              SELECT c.doc_id, count(*) AS n_grams,
                     sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0
                         END)::BIGINT AS n_contaminated
              FROM (SELECT doc_id, gram FROM grams WHERE doc_id % 17 <> 0) c
              LEFT JOIN bench b USING (gram)
              GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.n_grams, 0) AS n_grams,
                   coalesce(a.n_contaminated, 0) AS n_contaminated,
                   round(coalesce(a.n_contaminated * 1.0 / a.n_grams, 0.0), 6)
                     AS contamination_ratio
            FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
            LEFT JOIN agg a USING (doc_id)
        """,
        "q88_small_qty_revenue": """
            SELECT p.p_brand,
                   round(sum(l.l_extendedprice / 7.0), 4) AS avg_yearly,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity < 0.2 * (
              SELECT avg(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
            )
            GROUP BY p.p_brand
        """,
        "q89_salted_join": """
            SELECT o.o_orderpriority,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority
        """,
        "q90_maxsim_retrieval": f"""
            WITH toks AS (
              SELECT vec_id // 5 AS doc_id, vec_id AS tok,
                     embedding::DOUBLE[] AS vec
              FROM embeddings
            ), q AS (
              SELECT doc_id AS qid, tok AS qtok, vec FROM toks
              WHERE doc_id % {_MAXSIM_NDOCS} = 0
            ), d AS (
              SELECT doc_id, tok AS dtok, vec FROM toks
              WHERE doc_id % {_MAXSIM_NDOCS} <> 0
            ), best AS (
              SELECT q.qid, d.doc_id, q.qtok,
                     max(list_sum(list_transform(list_zip(q.vec, d.vec),
                         p -> p[1] * p[2]))) AS best
              FROM q CROSS JOIN d
              GROUP BY q.qid, d.doc_id, q.qtok
            ), scored AS (
              SELECT qid, doc_id, round(sum(best), 6) AS score
              FROM best GROUP BY qid, doc_id
            ), ranked AS (
              SELECT qid, doc_id, score,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY score DESC, doc_id) AS rank
              FROM scored
            )
            SELECT qid, rank, doc_id, score FROM ranked WHERE rank <= 10
        """,
        "q91_distinct_users_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY 1
        """,
        "q92_props_map_stats": """
            WITH kv AS (
              SELECT event_type,
                     unnest(json_keys(props)) AS prop_key,
                     CAST(json_extract(props, '$.' || unnest(json_keys(props)))
                          AS BIGINT) AS v
              FROM events
            )
            SELECT event_type, prop_key, count(*) AS n,
                   CAST(sum(v) AS BIGINT) AS total,
                   round(avg(v), 6) AS avg_v
            FROM kv GROUP BY 1, 2
        """,
        "q93_tfidf_keywords": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS_SQL.format(t="text")}) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM toks GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(*) AS df_t FROM tf GROUP BY 1
            ), n AS (
              SELECT count(*) AS n_docs FROM documents
            ), scored AS (
              SELECT t.doc_id, t.term,
                     round(t.tf * ln(n.n_docs * 1.0 / d.df_t), 6) AS score
              FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
            ), ranked AS (
              SELECT doc_id, term, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS rank
              FROM scored
            )
            SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3
        """,
        "q94_incremental_dedup": f"""
            WITH {_MINHASH_CTES_SQL}
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM pairs
            WHERE jaccard >= 0.5 AND (id_a % 7 = 0 OR id_b % 7 = 0)
        """,
        "q95_bigram_lm_score": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(t="text")} AS ws FROM documents
            ), bigrams AS (
              SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
              FROM toks, unnest(generate_series(1, len(ws) - 1)) t(i)
              WHERE len(ws) >= 2
            ), unigrams AS (
              SELECT doc_id, unnest(ws) AS w1 FROM toks
            ), c2 AS (
              SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY 1, 2
            ), c1 AS (
              SELECT w1, count(*) AS c1 FROM unigrams GROUP BY 1
            ), v AS (
              SELECT count(DISTINCT w1) AS v FROM unigrams
            ), scored AS (
              SELECT b.doc_id,
                     ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
              FROM bigrams b
              JOIN c2 USING (w1, w2)
              JOIN c1 USING (w1)
              CROSS JOIN v
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   round(avg(lp), 6) AS avg_logprob
            FROM scored GROUP BY doc_id
        """,
        "q98_bloom_semi_join": """
            WITH hot AS (
              SELECT o_orderkey FROM orders WHERE o_totalprice > 200000
            ), s_agg AS (
              SELECT l_returnflag, count(*) AS n,
                     round(sum(l_extendedprice), 2) AS revenue,
                     'semi' AS side
              FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM hot)
              GROUP BY l_returnflag
            ), a_agg AS (
              SELECT l_returnflag, count(*) AS n,
                     round(sum(l_extendedprice), 2) AS revenue,
                     'anti' AS side
              FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM hot)
              GROUP BY l_returnflag
            )
            SELECT l_returnflag, n, revenue, side
            FROM (SELECT * FROM s_agg UNION ALL SELECT * FROM a_agg)
            ORDER BY side, l_returnflag
        """,
        "q100_heavy_hitters": f"""
            WITH toks AS (
              SELECT unnest({_TOKS_SQL.format(t="text")}) AS token FROM documents
            ), n AS (SELECT count(*) AS n FROM toks)
            SELECT token, count(*) AS cnt FROM toks, n
            GROUP BY token, n.n HAVING count(*) > 0.005 * n.n
        """,
        "q102_fuzzy_part_names": """
            SELECT a.p_partkey AS aid, b.p_partkey AS bid,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM part a JOIN part b ON a.p_partkey < b.p_partkey
            WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
              AND levenshtein(a.p_name, b.p_name) <= 1
        """,
        # BPE training is deterministic (ties break count-desc then lex,
        # operators/bpe.py module docstring), so the merge table is a pure
        # function of the fixed sf0.01 corpus: the oracle pins it. The pin
        # is NOT hand-maintained faith — tests/test_bpe.py::
        # test_q97_oracle_pin_matches_fresh_training retrains at sf0.01 and
        # asserts equality, and the first merges are hand-computed in
        # test_bpe's unit cases.
        "q97_bpe_vocab": _Q97_PIN_SQL,
        # Oracle recomputes the exact per-type counts; the ok flags are
        # proven Spark-side (merge==direct lossless HLL union; estimate
        # within 5% of exact) and must all arrive TRUE.
        "q103_sketch_rollup": """
            SELECT event_type, count(*) AS n_rows,
                   count(DISTINCT user_id) AS n_users_exact,
                   TRUE AS merge_ok, TRUE AS est_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
    }
    # The incremental rollup derives every level from persisted partials,
    # but must equal the direct group-by over raw rows bit-for-bit — the
    # q65 oracle doubles as its reference.
    out["q122_rollup_incremental"] = out["q65_event_rollup"]
    return out
