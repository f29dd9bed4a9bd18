"""VectorIndex — the user-facing facade, mirroring the reference's Python
binding surface (python_binding/dehnswpy.cpp: Index / insert / query /
optimize, plus save/load from the C++ API, dehnsw.h:666-844) on top of the
engine's operators:

    idx = VectorIndex.build(train_df, IndexParameters(dimension=64))
    res = idx.query(test_df, k=100, relaxed_monotonicity=64)
    idx.save("s3://bucket/index")
    idx2 = VectorIndex.load(spark, "s3://bucket/index")
    idx2.append(more_rows)          # batch growth, affected shards only
    idx2.remove(stale_ids)          # batch delete, affected shards only
    idx2.optimize("s3://bucket/index_v2")   # file compaction

The reference's single-vector ``insert`` has no streaming analogue here by
design (BASELINE.json: real-time updates out of scope); ``append`` is the
batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_index_spark.config import IndexParameters
from vector_index_spark.index.builder import (
    append_to_index,
    build_graph_index,
    remove_from_index,
)
from vector_index_spark.index.persistence import (
    compact_index,
    load_index,
    save_index,
)
from vector_index_spark.index.searcher import (
    graph_ann_query,
    routed_graph_ann_query,
    shard_centroids,
)
from vector_index_spark.operators.knn import knn_join
from vector_index_spark.operators.shard import assign_shards

#: Above this shard count ``query()`` selects the scale path by itself:
#: the tree merge always (result-identical, bounds every merge exchange to
#: k * fanin rows per query), and centroid routing additionally when the
#: index was built with ``shard_by="ivf_cell"`` (routing on id-ranged
#: shards is not sharp — SCALE.md). The 100 TB path is the default, not a
#: flag (VERDICT r4 item 7).
AUTO_SCALE_SHARD_THRESHOLD = 64
#: Fanin for the auto-selected tree merge: exchanges stay <= k * 8 rows
#: per query per level, levels = ceil(log8(shards)).
AUTO_TREE_MERGE_FANIN = 8


def _auto_nprobe(n_shards: int) -> int:
    """Default probe width for auto-routing: ~sqrt(shards), floored at 8 —
    at 122 cells this probes 11 shards (recall 1.0 on the clustered gate
    fixture probes 4 of 8); grows sublinearly so serving cost stays
    Q * nprobe << Q * shards."""
    return max(8, int(round(n_shards ** 0.5)))


class _MetricServing:
    """The one metric adapter over a serving handle whose stored vectors
    carry a metric's build transform (cosine: unit-normalized; inner
    product: norm-augmented), so its euclidean^2 kernels serve that
    metric. Every query form (``query``, ``query_by_attribute``,
    ``query_by_window``: the constraint columns pass through untouched)
    and every lifecycle call (``warm``, ``unpersist``, ``blobs``,
    ``bytes_resident``, ``refresh``, ``remove``, ``snapshot``,
    ``snapshot_incremental``, ``from_snapshot``) forwards to the wrapped
    handle. A metric supplies only its query-side transform and
    distance map (:meth:`_answer`), the build transform of a raw-row
    refresh wave (:meth:`_wave`) and its manifest fields, which the
    wrapped handle writes in its own single manifest commit: a snapshot
    is never left without them, so a restore re-wraps the same adapter
    (restored bare it would serve right ids on the wrong distance
    scale, with no error)."""

    _METRIC: str

    def __init__(self, inner):
        self._inner = inner
        inner._metric_fields = self._fields()

    def _fields(self) -> tuple:
        return (("metric", self._METRIC),)

    @classmethod
    def _restored(cls, inner, manifest: dict):
        return cls(inner)

    def warm(self):
        self._inner.warm()
        return self

    def unpersist(self) -> None:
        self._inner.unpersist()

    @property
    def blobs(self):
        return self._inner.blobs

    def bytes_resident(self) -> dict:
        return self._inner.bytes_resident()

    def remove(self, ids) -> int:
        return self._inner.remove(ids)

    def refresh(self, new_rows: DataFrame, *args, **kwargs):
        """The graph route's arguments are the stored (already
        transformed) index relations and pass through; a raw-row wave
        takes the build side's transform first (:meth:`_wave`). Extra
        args (the transformed corpus on the cold-corpus routes) forward
        untouched."""
        if self._inner._KEY != "shard":
            new_rows = self._wave(new_rows)
        self._inner.refresh(new_rows, *args, **kwargs)
        return self

    def _wave(self, new_rows: DataFrame) -> DataFrame:
        raise TypeError(
            f"{type(self).__name__} serves the graph route only: refresh "
            "it with the stored index relations (vectors, edges, shards)"
        )

    def snapshot(self, path: str, *args, **kwargs):
        self._inner.snapshot(path, *args, **kwargs)
        return self

    def snapshot_incremental(self, path: str, *args, **kwargs):
        self._inner.snapshot_incremental(path, *args, **kwargs)
        return self

    @classmethod
    def from_snapshot(cls, inner_cls, spark, path: str, *args, **kwargs):
        """Restore: ``CosineCompressedServing.from_snapshot(
        IvfPqServingIndex, spark, path, normalized_corpus)``. Raises if
        the manifest's metric is not this adapter's (a euclidean
        snapshot re-wrapped here would silently re-scale distances)."""
        from vector_index_spark.index.serving import _read_manifest_any

        manifest = _read_manifest_any(spark, path) or {}
        got = manifest.get("metric")
        if got != cls._METRIC:
            raise ValueError(
                f"snapshot at {path!r} is stamped metric={got!r}, not "
                f"{cls._METRIC} — restore it with the inner class "
                "directly (it serves euclidean^2)"
            )
        return cls._restored(
            inner_cls.from_snapshot(spark, path, *args, **kwargs), manifest
        )

    def query(self, test: DataFrame, k: int, **kwargs) -> DataFrame:
        return self._run("query", test, k, kwargs, ())

    def query_by_attribute(self, test: DataFrame, k: int, **kwargs) -> DataFrame:
        qcols = kwargs.get("qattr_col", "attr")
        return self._run(
            "query_by_attribute", test, k, kwargs,
            [qcols] if isinstance(qcols, str) else list(qcols),
        )

    def query_by_window(self, test: DataFrame, k: int, **kwargs) -> DataFrame:
        return self._run(
            "query_by_window", test, k, kwargs,
            [kwargs.get("lo_col", "lo"), kwargs.get("hi_col", "hi")],
        )

    def _run(self, form: str, test: DataFrame, k: int, kwargs: dict, extra):
        """The (qid, vec, *extra) batch and the inner call; the caller's
        dict is never mutated, so a retry wrapper reusing one dict keeps
        its qid_col/vec_col."""
        kwargs = dict(kwargs)
        t = test.select(
            F.col(kwargs.pop("qid_col", "qid")).alias("qid"),
            F.col(kwargs.pop("vec_col", "vec")).alias("vec"),
            *(F.col(c) for c in extra),
        )
        inner_call = getattr(self._inner, form)
        return self._answer(lambda q: inner_call(q, k, **kwargs), t, k)


class CosineCompressedServing(_MetricServing):
    """Cosine serving over any serving class — the graph route of a
    cosine :class:`VectorIndex` (``serving()``) and the directly
    constructed compressed / self-contained classes (IvfPq, PQ, SQ,
    Cell, RPT, PCA), which natively serve euclidean^2 only.

    The normalize-at-encode reduction: build the inner handle over
    UNIT-NORMALIZED vectors (``functions.distance.normalize`` on the
    encode/assign relation AND — for the corpus-backed routes whose
    exact re-rank reads raw vectors — the re-rank corpus), then
    ``l2^2 = 2*cos_dist`` on unit vectors, so this adapter normalizes
    queries and maps ``dist -> dist/2`` (answers byte-identical to
    :meth:`VectorIndex.query` on the graph route). Candidate ORDER
    under ADC / reduced-space shortlists is unchanged by the mapping
    (monotone), so recall characteristics equal the euclidean handle's
    on the normalized corpus. ``refresh`` normalizes a raw-row wave's
    ``vec_col`` (pass the normalized train corpus on the corpus-backed
    routes); ``remove`` is id-only. MIPS stays graph-route-only
    (:class:`_MipsServing`): the norm-augmentation changes the stored
    dimensionality, which would invalidate compressed codebooks trained
    on raw vectors."""

    _METRIC = "cosine_similarity"

    def __init__(self, inner, vec_col: str = "vec"):
        super().__init__(inner)
        self._vec = vec_col

    def _wave(self, new_rows: DataFrame) -> DataFrame:
        from vector_index_spark.functions.distance import normalize

        return new_rows.select(
            *(
                normalize(F.col(c)).alias(c) if c == self._vec else F.col(c)
                for c in new_rows.columns
            )
        )

    def _answer(self, call, t: DataFrame, k: int) -> DataFrame:
        from vector_index_spark.functions.distance import normalize

        res = call(t.withColumn("vec", normalize(F.col("vec"))))
        return res.select(
            "qid", "rank", "id", (F.col("dist") / 2.0).alias("dist")
        )


# the facade's name for the cosine adapter over the graph route
_CosineServing = CosineCompressedServing


class _MipsServing(_MetricServing):
    """Inner-product serving over the graph route: the stored vectors
    carry the norm-augmentation in their last slot (x -> [x,
    sqrt(M^2-|x|^2)], so augmented-L2 order = descending dot product),
    queries augment with a literal 0 inside the RESIDENT path, and
    ip_dist recovers algebraically from the returned augmented-L2
    distance — no join back through the stored vectors: |x_aug|^2 = M^2
    identically, so ``dot(q, x) = (|q|^2 + M^2 - l2_aug) / 2`` and
    ``ip_dist = 1 - dot``. ``m2`` is captured once at construction (one
    scalar aggregate, startup-class) and rides in the manifest."""

    _METRIC = "inner_product"

    def __init__(self, inner, m2: float):
        self._m2 = float(m2)
        super().__init__(inner)

    def _fields(self) -> tuple:
        return (("metric", self._METRIC), ("mips_m2", self._m2))

    @classmethod
    def _restored(cls, inner, manifest: dict):
        return cls(inner, float(manifest["mips_m2"]))

    def _answer(self, call, t: DataFrame, k: int) -> DataFrame:
        """Each row's ip_dist takes its OWN |q|^2. A batch that repeats
        a qid answers each row on its own under a row key (the rows'
        norms differ, so a min-merge on augmented-L2 is not one on
        ip_dist) and min-merges per (qid, id) on ip_dist."""
        if not t.select("qid").toPandas()["qid"].duplicated().any():
            return self._ip_dist(call(self._augmented(t)), t)
        from vector_index_spark.index.serving import _rank_topk

        keyed = t.withColumn(
            "__row", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        rows = keyed.withColumn("qid", F.col("__row")).drop("__row")
        real = keyed.select(
            F.col("__row").alias("qid"), F.col("qid").alias("__qid")
        )
        return _rank_topk(
            self._ip_dist(call(self._augmented(rows)), rows)
            .join(F.broadcast(real), "qid")
            .select(F.col("__qid").alias("qid"), "id", "dist"),
            k, True,
        )

    @staticmethod
    def _augmented(t: DataFrame) -> DataFrame:
        return t.withColumn("vec", F.concat(
            F.transform("vec", lambda x: x.cast("double")),
            F.array(F.lit(0.0)),
        ))

    def _ip_dist(self, res: DataFrame, t: DataFrame) -> DataFrame:
        # ip_dist = 1 - (|q|^2 + M^2 - l2_aug)/2, per-query |q|^2 via a
        # tiny broadcast (Q rows)
        from vector_index_spark.functions.distance import l2_norm

        qn = t.select("qid", (l2_norm(F.col("vec")) ** 2).alias("__qn2"))
        return res.join(F.broadcast(qn), "qid").select(
            "qid", "rank", "id",
            (
                F.lit(1.0)
                - (F.col("__qn2") + F.lit(self._m2) - F.col("dist"))
                / F.lit(2.0)
            ).alias("dist"),
        )


class VectorIndex:
    def __init__(
        self,
        vectors: DataFrame,
        edges: DataFrame,
        params: IndexParameters,
        path: str | None = None,
    ):
        self.vectors = vectors
        self.edges = edges
        self.params = params
        self.path = path
        self._n_shards: int | None = None  # lazy, cached for auto-scale
        # warm serving handles for the facade per-query constrained
        # forms, keyed by attr-column tuple (round 11); append/remove
        # return fresh VectorIndex objects, so no invalidation hook
        self._serving_cache: dict = {}

    # -- construction ------------------------------------------------------

    @classmethod
    def build(
        cls,
        train: DataFrame,
        params: IndexParameters,
        id_col: str = "id",
        vec_col: str = "vec",
        n_cells: int | None = None,
        seed: int = 42,
    ) -> "VectorIndex":
        """Bulk build (the reference's insert loop, parallel per shard).

        ``params.shard_by`` selects the shard scheme: ``"id_range"`` (the
        reference's ``id DIV sub_index_bound``) or ``"ivf_cell"``
        (k-means-cell locality shards — sharp ``query(nprobe=...)``
        routing; ``n_cells`` defaults to ceil(n / sub_index_bound)).

        Metric handling (the reference's Distance_Type enum,
        source/distance.h:10-15 — only Euclidean2 ever dispatches there;
        all three serve here):
          - euclidean2: vectors indexed as-is.
          - cosine_similarity: vectors unit-normalized at build (l2sq on
            unit vectors = 2 * cos_dist, so the L2 graph has the cosine
            ordering); query() normalizes incoming queries and reports
            cos_dist.
          - inner_product: norm-augmentation reduction (x -> [x,
            sqrt(M^2-|x|^2)]); query() augments with 0 and reports
            ip_dist recomputed on the original components.

        Dimension guard: ragged vectors raise at execution time via
        ``assert_dim`` (also applied by ``append`` and ``query``). The
        probe rides the vector column, so a plan that never reads vectors
        (e.g. a bare ``count()``) skips it — every distance-computing
        path reads them and therefore checks.
        """
        from vector_index_spark.functions.distance import (
            assert_dim,
            l2_norm,
            normalize,
        )

        t = train.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        # fail fast on ragged vectors: a mismatched length would otherwise
        # surface as a silently-NULL distance deep inside the kernels
        t = assert_dim(t, "vec", params.dimension)
        if params.distance_type == "cosine_similarity":
            t = t.select("id", normalize(F.col("vec")).alias("vec"))
        elif params.distance_type == "inner_product":
            max_norm = t.select(F.max(l2_norm(F.col("vec"))).alias("m")).collect()[0].m
            m2 = float(max_norm) ** 2
            t = t.select(
                "id",
                F.concat(
                    F.transform("vec", lambda x: x.cast("double")),
                    F.array(
                        F.sqrt(
                            F.greatest(
                                F.lit(m2) - l2_norm(F.col("vec")) * l2_norm(F.col("vec")),
                                F.lit(0.0),
                            )
                        )
                    ),
                ).alias("vec"),
            )
        if params.shard_by == "ivf_cell":
            from vector_index_spark.operators.shard import ivf_cell_shards

            n = n_cells
            if n is None:
                n = max(1, -(-t.count() // params.sub_index_bound))
            # eager checkpoint: the edge build and the stored vectors MUST
            # see one identical assignment (never recomputed independently)
            vectors = ivf_cell_shards(
                t, n, params.sub_index_bound, seed=seed
            ).localCheckpoint(eager=True)
            edges = build_graph_index(vectors, params, shard_col="shard")
        else:
            edges = build_graph_index(t, params)
            vectors = assign_shards(t, params.sub_index_bound)
        return cls(vectors, edges, params)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorIndex":
        vectors, edges, params = load_index(spark, path)
        if edges is None:
            raise ValueError(f"index at {path!r} has no edge relation")
        return cls(vectors.select("shard", "id", "vec"), edges, params, path=path)

    # -- queries -----------------------------------------------------------

    def n_shards(self) -> int:
        """Shard count (one distinct-count job, cached; ``append``/
        ``remove`` return fresh instances so the cache cannot go stale)."""
        if self._n_shards is None:
            self._n_shards = self.vectors.select("shard").distinct().count()
        return self._n_shards

    def resolved_query_params(
        self,
        nprobe: int | None = None,
        tree_merge_fanin: int | None = None,
        auto_scale: bool = True,
    ) -> tuple[int | None, int | None]:
        """The (nprobe, tree_merge_fanin) that :meth:`query` will actually
        use. With ``auto_scale`` (the default), above
        ``AUTO_SCALE_SHARD_THRESHOLD`` shards an unspecified fanin becomes
        ``AUTO_TREE_MERGE_FANIN`` (result-identical, bounds every merge
        exchange), and an unspecified nprobe becomes
        ``_auto_nprobe(shards)`` when the index was built with
        ``shard_by="ivf_cell"`` (centroid routing is only sharp on cell
        shards). Explicit arguments always win; ``auto_scale=False``
        restores the flat all-shard merge unconditionally."""
        if not auto_scale:
            return nprobe, tree_merge_fanin
        if nprobe is not None and tree_merge_fanin is not None:
            return nprobe, tree_merge_fanin  # both pinned: skip the count
        n = self.n_shards()
        if n > AUTO_SCALE_SHARD_THRESHOLD:
            if tree_merge_fanin is None:
                tree_merge_fanin = AUTO_TREE_MERGE_FANIN
            if nprobe is None and self.params.shard_by == "ivf_cell":
                nprobe = min(_auto_nprobe(n), n)
        return nprobe, tree_merge_fanin

    def query(
        self,
        test: DataFrame,
        k: int,
        relaxed_monotonicity: int = 64,
        nprobe: int | None = None,
        qid_col: str = "qid",
        vec_col: str = "vec",
        tree_merge_fanin: int | None = None,
        auto_scale: bool = True,
    ) -> DataFrame:
        """Approximate top-k. Returns (qid, rank, id, dist) where dist is
        in the index's metric (l2sq / cos_dist / ip_dist).

        Above ``AUTO_SCALE_SHARD_THRESHOLD`` shards the scale path is
        selected automatically (see :meth:`resolved_query_params`): tree
        merge always, centroid routing on cell shards. Pass ``nprobe`` /
        ``tree_merge_fanin`` to pin either knob, or ``auto_scale=False``
        for the flat all-shard merge regardless of shard count."""
        from vector_index_spark.functions.distance import assert_dim, dot, normalize

        nprobe, tree_merge_fanin = self.resolved_query_params(
            nprobe, tree_merge_fanin, auto_scale
        )

        t = test.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("vec"))
        # same ragged-vector fail-fast as build(): a mismatched query length
        # would otherwise surface as silently-NULL distances
        t = assert_dim(t, "vec", self.params.dimension)
        metric = self.params.distance_type
        if metric == "cosine_similarity":
            t = t.select("qid", normalize(F.col("vec")).alias("vec"))
        elif metric == "inner_product":
            t = t.select(
                "qid",
                F.concat(
                    F.transform("vec", lambda x: x.cast("double")),
                    F.array(F.lit(0.0)),
                ).alias("vec"),
            )
        if nprobe is None:
            res = graph_ann_query(
                self.vectors, self.edges, t, k, relaxed_monotonicity,
                tree_merge_fanin=tree_merge_fanin,
            )
        else:
            res = routed_graph_ann_query(
                self.vectors, self.edges, t, k, nprobe, relaxed_monotonicity,
                tree_merge_fanin=tree_merge_fanin,
            )
        if metric == "cosine_similarity":
            return res.select("qid", "rank", "id", (F.col("dist") / 2.0).alias("dist"))
        if metric == "inner_product":
            # recompute ip on the ORIGINAL components (stored vectors carry
            # the augmentation in the last slot)
            orig = self.vectors.select(
                "id",
                F.slice(
                    "vec", 1, F.size("vec") - 1
                ).alias("__tv"),
            )
            q_orig = F.broadcast(
                t.select("qid", F.slice("vec", 1, F.size("vec") - 1).alias("__qv"))
            )
            return (
                res.select("qid", "rank", "id")
                .join(orig, "id")
                .join(q_orig, "qid")
                .select(
                    "qid", "rank", "id",
                    (F.lit(1.0) - dot(F.col("__qv"), F.col("__tv"))).alias("dist"),
                )
            )
        return res

    def filtered_query(
        self,
        test: DataFrame,
        k: int,
        attrs: DataFrame,
        allowed,
        attr_col="attr",
        relaxed_monotonicity: int = 64,
        qid_col: str = "qid",
        vec_col: str = "vec",
        mode: str = "auto",
    ) -> DataFrame:
        """Filtered approximate top-k: neighbors restricted to ids whose
        attribute (an integral column ``attr_col`` of ``attrs``, keyed by
        ``id``) is in ``allowed`` — the facade form of
        searcher.graph_filtered_ann_query (filtered-HNSW beam; auto
        exact fallback under selective filters). Supported for the
        euclidean2 and cosine metrics; the inner-product augmentation's
        re-rank tail is not wired here (use exact_query over a filtered
        corpus for MIPS).

        ``attr_col`` may be a SEQUENCE of integral columns with one
        ``allowed`` value collection per column — an AND-of-IN
        conjunction ("lang = 'en' AND source IN (...)" after
        operators/filtered.dict_encode). Each position also accepts a
        ``range(lo, hi)``/``slice`` interval or a ``NotIn(values)``
        blocklist, and ``allowed`` as a whole may be an
        ``AnyOf(conj, ...)`` OR-of-conjunctions (round 8; full grammar
        in operators/filtered.normalize_allowed). The conjunction is
        served by
        composite-encoding the attribute tuple into one integer
        (attr0 * card1 + attr1, ...) whose allowed set is the CROSS
        PRODUCT of the per-column sets — exact AND semantics; the
        product size is bounded (ValueError above 10,000 combinations —
        for bigger value sets use serving(attrs=..., attr_col=[...])
        whose resident masks evaluate the conjunction directly).

        ``attrs`` has one row per corpus id, so it scales WITH the
        corpus — the join below is deliberately left unhinted so AQE
        picks the strategy (an equi-join co-shuffled on id at scale;
        broadcast only if Spark's size estimate says the table is
        small). Never force-broadcast a corpus-cardinality relation."""
        from vector_index_spark.functions.distance import assert_dim, normalize
        from vector_index_spark.index.searcher import graph_filtered_ann_query

        metric = self.params.distance_type
        if metric == "inner_product":
            raise ValueError(
                "filtered_query supports euclidean2/cosine_similarity; for "
                "inner_product run exact_query over a pre-filtered corpus"
            )
        t = test.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("vec"))
        t = assert_dim(t, "vec", self.params.dimension)
        if metric == "cosine_similarity":
            t = t.select("qid", normalize(F.col("vec")).alias("vec"))
        from vector_index_spark.operators.filtered import (
            NULL_ATTR_CODE,
            normalize_allowed,
        )

        if not isinstance(attr_col, str):
            attr_expr, allowed = self._composite_attr(attrs, attr_col, allowed)
        else:
            attr_expr = F.col(attr_col)
            # value set, range(lo, hi)/slice, or AnyOf DNF (round 8) —
            # validated here, evaluated inside graph_filtered_ann_query
            # (normalize_allowed is idempotent on the re-entry there)
            allowed = normalize_allowed(allowed, 1)
        # LEFT join + NULL sentinel (ADVICE r7): ids missing from attrs
        # (or NULL-attributed) stay in the search relation so the graph
        # keeps its edges and the beam navigates THROUGH them — they can
        # never match a filter (the sentinel is rejected as an allowed
        # value), matching SQL semantics instead of corrupting the graph
        vec_attr = self.vectors.join(
            attrs.select(
                F.col("id"),
                F.coalesce(
                    attr_expr.cast("long"), F.lit(NULL_ATTR_CODE)
                ).alias("__fattr"),
            ),
            "id",
            "left",
        ).withColumn(
            "__fattr",
            F.coalesce(F.col("__fattr"), F.lit(NULL_ATTR_CODE)),
        )
        res = graph_filtered_ann_query(
            vec_attr, self.edges, t, k, allowed, attr_col="__fattr",
            relaxed_monotonicity=relaxed_monotonicity, mode=mode,
        )
        if metric == "cosine_similarity":
            return res.select(
                "qid", "rank", "id", (F.col("dist") / 2.0).alias("dist")
            )
        return res

    @staticmethod
    def _composite_attr(attrs: DataFrame, attr_cols, allowed):
        """Composite-encode a multi-attribute conjunction — or an
        AnyOf/DNF of conjunctions — into one integral attribute + flat
        allowed set (cross product per conjunction, UNION across
        conjunctions: exact OR-of-AND-of-IN semantics). Column
        cardinalities come from ONE scalar max() aggregate over the
        attrs relation regardless of disjunct count, and the 10k
        enumeration guard applies to the union of all conjunctions'
        cross products (round 10 — previously each conjunction paid its
        own aggregate and its own guard, so a many-disjunct AnyOf
        re-scanned the stats N times and enumerated far past the cap).
        At warehouse scale the cardinalities are table statistics."""
        import itertools

        from vector_index_spark.operators.filtered import (
            AnyOf,
            DnfSpec,
            NotIn,
            RangeSpec,
            TupleIn,
            normalize_allowed,
        )

        cols = list(attr_cols)
        conjs = (
            allowed.conjunctions
            if isinstance(allowed, AnyOf)
            else allowed.disjuncts
            if isinstance(allowed, DnfSpec)
            else (allowed,)
        )
        # ONE stats aggregate for the whole spec (hoisted out of the
        # per-conjunction loop)
        sizes = attrs.agg(
            *[(F.max(F.col(c).cast("long")) + 1).alias(c) for c in cols],
            *[
                F.min(F.col(c).cast("long")).alias(f"__min_{c}")
                for c in cols
            ],
        ).collect()[0]
        cards = [max(int(sizes[c] or 1), 1) for c in cols]
        # mixed-radix encoding is only injective over codes in
        # [0, card_j) (ADVICE r7): negative attribute codes in the DATA
        # would alias other tuples — refuse them (dict_encode codes are
        # 0-based, so real pipelines never hit this)
        for c in cols:
            mn = sizes[f"__min_{c}"]
            if mn is not None and int(mn) < 0:
                raise ValueError(
                    f"composite conjunction encoding needs non-negative "
                    f"attribute codes; column {c!r} has min {int(mn)} "
                    f"(dictionary-encode with operators/filtered."
                    f"dict_encode first)"
                )
        expr = F.col(cols[0]).cast("long")
        for c, card in zip(cols[1:], cards[1:]):
            expr = expr * F.lit(card) + F.col(c).cast("long")
        if isinstance(allowed, TupleIn):
            # the allow-list-of-tuples spec (round 14) IS the composite
            # code set — encode each in-domain tuple directly, no cross
            # product to enumerate (out-of-domain tuples can never
            # match a row; dropping them keeps the encoding injective)
            if allowed.arity != len(cols):
                raise ValueError(
                    f"TupleIn tuples have arity {allowed.arity} but "
                    f"attr_col names {len(cols)} columns"
                )
            if len(allowed.tuples) > 10_000:
                raise ValueError(
                    f"TupleIn allow list too large for composite "
                    f"encoding ({len(allowed.tuples)} > 10000); use "
                    "serving(attrs=..., attr_col=[...]) — resident "
                    "masks evaluate tuple membership without "
                    "enumeration"
                )
            tcodes: set = set()
            for t in allowed.tuples:
                if all(0 <= v < card for v, card in zip(t, cards)):
                    code = t[0]
                    for v, card in zip(t[1:], cards[1:]):
                        code = code * card + v
                    tcodes.add(int(code))
            return expr, sorted(tcodes)
        codes: set = set()
        n_total = 0
        for conj in conjs:
            allows = normalize_allowed(conj, len(cols))
            # out-of-domain ALLOWED values (v < 0 or v >= card_j) can
            # never match a row but would alias a different real tuple
            # inside the encoding — clip them before enumeration.
            # Ranges clip to [max(lo,0), min(hi,card)) and everything is
            # SIZE-CHECKED before materializing (a wide range over a
            # high-cardinality attribute must trip the guard, not
            # enumerate first); the running total carries across
            # conjunctions so the guard bounds the UNION.
            clipped = []
            n_combo = 1
            for vs, card in zip(allows, cards):
                if isinstance(vs, RangeSpec):
                    lo, hi = max(vs.lo, 0), min(vs.hi, card)
                    clipped.append(("range", (lo, max(hi, lo)), card))
                    n_combo *= max(max(hi, lo) - lo, 1)
                elif isinstance(vs, NotIn):
                    # complement within the domain [0, card); sized
                    # BEFORE materializing
                    kept_n = card - sum(
                        1 for v in vs.excluded if 0 <= v < card
                    )
                    clipped.append(("notin", vs, card))
                    n_combo *= max(kept_n, 1)
                else:
                    kept = frozenset(v for v in vs if 0 <= v < card)
                    clipped.append(("set", kept, card))
                    n_combo *= max(len(kept), 1)
            n_total += n_combo
            if n_total > 10_000:
                raise ValueError(
                    f"conjunction cross product too large ({n_total} > "
                    "10000, summed over all AnyOf disjuncts); use "
                    "serving(attrs=..., attr_col=[...]) — resident masks "
                    "evaluate the conjunction without enumeration"
                )
            mat = tuple(
                frozenset(range(payload[0], payload[1]))
                if kind == "range"
                else (
                    frozenset(v for v in range(card) if v in payload)
                    if kind == "notin"
                    else payload
                )
                for kind, payload, card in clipped
            )
            for combo in itertools.product(*[sorted(vs) for vs in mat]):
                code = combo[0]
                for v, card in zip(combo[1:], cards[1:]):
                    code = code * card + v
                codes.add(int(code))
        return expr, sorted(codes)

    def exact_query(
        self, test: DataFrame, k: int, qid_col: str = "qid", vec_col: str = "vec"
    ) -> DataFrame:
        """Exact top-k over the indexed vectors in the index's metric
        (ground truth / oracle). Raw query vectors; any build-time
        transform (normalization / augmentation) is undone corpus-side."""
        corpus = self.vectors.select("id", "vec")
        if self.params.distance_type == "inner_product":
            # stored vectors carry the MIPS augmentation in the last slot
            corpus = corpus.select(
                "id", F.slice("vec", 1, F.size("vec") - 1).alias("vec")
            )
        return knn_join(
            test,
            corpus,
            k,
            metric=self.params.distance_type,
            qid_col=qid_col,
            test_vec=vec_col,
        )

    def routing_table(self) -> DataFrame:
        return shard_centroids(self.vectors)

    def serving(self, attrs: "DataFrame | None" = None, attr_col=None):
        """Warm serving handle: pack every shard's graph into a resident
        persisted relation once and serve micro-batches from it with no
        per-batch index shuffle (index/serving.ServingIndex — the
        steady-state regime of stream_ann_query; SCALE.md serving
        section). All three metrics serve (round 14): cosine over the
        build-time normalized vectors with the same normalize + dist/2
        transform as query(); inner_product over the build-time
        norm-augmented vectors with a 0-augmented query and an
        algebraic augmented-L2 -> ip_dist map (no join back through
        the stored vectors).

        ``attrs`` (optional) is an attribute relation keyed by ``id``;
        ``attr_col`` names one of its INTEGRAL columns — or a sequence
        of them for conjunction filtering (dictionary-encode strings
        first: operators/filtered.dict_encode) — packed into the
        resident blobs so ``.query(allowed=...)`` serves filtered
        searches. The join rides the one-time blob pack; it is never
        paid per batch.

        Parity contract: answers are byte-identical to :meth:`query`
        CALLED WITH THE SAME EXPLICIT KNOBS (same ``nprobe``, and
        ``auto_scale=False`` for the all-shard default) — the serving
        handle does NOT apply :meth:`resolved_query_params`' automatic
        routing, so above ``AUTO_SCALE_SHARD_THRESHOLD`` cell shards,
        ``query()``'s default routes while ``serving().query()``'s
        default searches every shard; pass ``nprobe`` explicitly when you
        want the routed regime. Call ``.warm()`` on the result at
        startup."""
        from vector_index_spark.index.serving import ServingIndex

        vectors = self.vectors
        if attrs is not None:
            if attr_col is None:
                raise ValueError("serving(attrs=...) needs attr_col=")
            cols = [attr_col] if isinstance(attr_col, str) else list(attr_col)
            # LEFT join (ADVICE r7): a corpus id missing from attrs must
            # stay in the resident blobs — its attributes come through
            # NULL and sentinel-encode to a never-matching code, so
            # unfiltered queries still see the row (no silent recall
            # loss) while no filter can ever select it (SQL semantics)
            vectors = vectors.join(attrs.select("id", *cols), "id", "left")
        elif attr_col is not None:
            # attribute columns already live on self.vectors
            pass
        metric = self.params.distance_type
        dim = self.params.dimension
        if metric != "inner_product":
            inner = ServingIndex(
                vectors, self.edges, dimension=dim, attr_col=attr_col
            )
            return inner if metric == "euclidean2" else _CosineServing(inner)
        # inner_product (round 14, VERDICT r13 item 9): the stored
        # vectors already carry the norm augmentation (dim+1 slots,
        # |x_aug|^2 = M^2 identically), so the resident path serves
        # MIPS directly — the adapter augments queries with 0 and maps
        # the augmented-L2 distances back to ip_dist algebraically (no
        # join through the stored vectors). M^2 comes from one stored
        # row (a one-row scalar lookup, startup-class).
        from vector_index_spark.functions.distance import l2_norm

        m2_row = self.vectors.select(
            (l2_norm(F.col("vec")) ** 2).alias("m2")
        ).first()
        if m2_row is None:
            raise ValueError(
                "serving() needs a non-empty index: an inner_product "
                "index recovers its MIPS bound M^2 from a stored row, "
                "and this index has none"
            )
        m2 = float(m2_row["m2"])
        return _MipsServing(
            ServingIndex(
                vectors, self.edges, dimension=dim + 1, attr_col=attr_col
            ),
            m2,
        )

    @staticmethod
    def serving_from_snapshot(spark, path: str, validate: bool = True):
        """Restore a facade serving handle written by
        ``idx.serving().snapshot(path)`` (round 10): reads the manifest,
        validates format/fingerprint (see
        :meth:`~vector_index_spark.index.serving.ServingIndex.from_snapshot`),
        and re-wraps cosine and inner-product snapshots in the SAME
        metric adapter ``serving()`` returned — restored bare they would
        serve l2sq-on-normalized or augmented-L2 distances (right ids,
        wrong scale)."""
        from vector_index_spark.index.serving import (
            ServingIndex,
            _read_manifest_any,
        )

        manifest = _read_manifest_any(spark, path) or {}
        inner = ServingIndex.from_snapshot(spark, path, validate=validate)
        for adapter in (_CosineServing, _MipsServing):
            if manifest.get("metric") == adapter._METRIC:
                return adapter._restored(inner, manifest)
        return inner

    def _constrained_serving(self, attrs, attr_col):
        """Lazy warm serving handle for the facade per-query constrained
        forms (round 11): built once per attr-column set, reused across
        batches (the one-time blob pack + warm is the serving-node
        startup cost, never paid per batch).

        Round 12 (ADVICE): the cache tracks the ``attrs`` relation the
        handle was packed from. A later call with a SEMANTICALLY
        DIFFERENT attrs plan for the same attr columns rebuilds the
        handle (unpersisting the stale one) instead of silently serving
        the first call's attribute values; a re-derived but
        plan-identical attrs reuses the cache (``sameSemantics`` — no
        data scan). :meth:`invalidate_serving_cache` releases the
        executor memory the cached handles pin."""
        if attr_col is None:
            raise ValueError(
                "facade per-query constrained serving needs attr_col= "
                "(and attrs= unless the attribute columns already live "
                "on the stored vectors)"
            )
        key = tuple(
            [attr_col] if isinstance(attr_col, str) else list(attr_col)
        )
        cached = self._serving_cache.get(key)
        if cached is not None:
            handle, src = cached
            # attrs=None on a later call means "reuse what's packed";
            # a non-None attrs must be the plan the handle was built
            # from (or a semantically identical one) — else rebuild
            same = attrs is None or (
                src is not None
                and (attrs is src or attrs.sameSemantics(src))
            )
            if same:
                return handle
            handle.unpersist()  # stale attribute values — rebuild
        handle = self.serving(attrs=attrs, attr_col=attr_col).warm()
        self._serving_cache[key] = (handle, attrs)
        return handle

    def invalidate_serving_cache(self) -> None:
        """Unpersist every cached constrained-serving handle (round 12,
        ADVICE): the facade's warm handles pin executor memory until
        released — call this when the constrained-query phase is over,
        or after mutating the stored vectors/attributes out-of-band."""
        for handle, _src in self._serving_cache.values():
            handle.unpersist()
        self._serving_cache = {}

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        attrs: "DataFrame | None" = None,
        attr_col=None,
        **kwargs,
    ) -> DataFrame:
        """Multi-tenant per-query serving through the facade (round 11):
        each query row carries its own attribute value(s) in
        ``qattr_col`` and its neighbors must match them all. Dispatches
        to the measured FAST route for per-row constraints — the
        resident graph ServingIndex, whose grouped-mask engine answers
        every distinct tenant of a batch in ONE pass over the cached
        shard blobs (the SCALE.md routing rule encoded as code: per-row
        constraint batches belong on the graph/IVF-PQ single-pass
        routes, not the all-cell Cell-route scan — 1.6 s vs 11.3 s on
        the 500k windowed probe). ``attrs``/``attr_col`` describe the
        corpus-side attributes exactly as in :meth:`serving`; the warm
        handle builds once and is reused across calls."""
        return self._constrained_serving(attrs, attr_col).query_by_attribute(
            test, k, qattr_col=qattr_col, **kwargs
        )

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        attrs: "DataFrame | None" = None,
        attr_col=None,
        **kwargs,
    ) -> DataFrame:
        """Per-query window serving through the facade (round 11): each
        query row carries its own half-open ``[lo_col, hi_col)`` window
        over the corpus attribute named by ``attr_col`` — dispatched to
        the single-pass grouped-mask engine on the resident graph
        route, the measured fast path for row-unique windows (see
        :meth:`query_by_attribute`)."""
        return self._constrained_serving(attrs, attr_col).query_by_window(
            test, k, lo_col=lo_col, hi_col=hi_col, **kwargs
        )

    # -- persistence & maintenance ----------------------------------------

    def save(self, path: str) -> "VectorIndex":
        """Write the index to ``path`` and rebind this handle to the
        written relations (the ones :meth:`load` returns): a built
        index's ``vectors``/``edges`` are lazy build plans, and without
        the rebind every later :meth:`query` would re-run the whole
        graph build."""
        save_index(self.vectors, self.edges, self.params, path)
        saved = VectorIndex.load(self.vectors.sparkSession, path)
        self.vectors, self.edges = saved.vectors, saved.edges
        self.path = path
        return self

    def optimize(self, out_path: str) -> None:
        """File compaction (the reference's optimize deep copy,
        dehnswpy.cpp:18-21)."""
        if not self.path:
            raise ValueError("optimize requires a persisted index (call save first)")
        compact_index(self.vectors.sparkSession, self.path, out_path)

    def append(self, new_vectors: DataFrame, id_col: str = "id",
               vec_col: str = "vec") -> "VectorIndex":
        if not self.path:
            raise ValueError("append requires a persisted index (call save first)")
        from vector_index_spark.functions.distance import assert_dim

        spark = self.vectors.sparkSession
        # mutation path gets the same dimension guard as build()
        new_vectors = assert_dim(new_vectors, vec_col, self.params.dimension)
        append_to_index(spark, self.path, new_vectors, id_col, vec_col)
        return VectorIndex.load(spark, self.path)

    def remove(self, ids: DataFrame, id_col: str = "id") -> "VectorIndex":
        if not self.path:
            raise ValueError("remove requires a persisted index (call save first)")
        spark = self.vectors.sparkSession
        remove_from_index(spark, self.path, ids, id_col)
        return VectorIndex.load(spark, self.path)

    # -- introspection -----------------------------------------------------

    def count(self) -> int:
        return self.vectors.count()

    def shards(self) -> DataFrame:
        from vector_index_spark.operators.shard import shard_stats

        return shard_stats(self.vectors)
