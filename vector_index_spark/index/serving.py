"""Warm ANN serving: resident per-shard graphs, zero per-batch index
shuffle (VERDICT r4 item 4).

The batch query paths (searcher.graph_ann_query and friends) repartition
the vectors+edges relations into the shard cogroup on EVERY call — the
right shape for one big batch, but for low-QPS serving the per-batch cost
was dominated by re-shuffling and re-grouping index data that never
changes between batches (measured 2.7 s for a 10-query batch at 500k
rows, SCALE.md).

:class:`ServingIndex` moves that work to load time, the way a real
serving node does: the shard cogroup runs ONCE and each shard's
ready-to-search :class:`~vector_index_spark.index.graph.ShardGraph` is
pickled into a persisted ``(shard, n_vectors, blob)`` relation. A query
batch then costs

  - one tiny kNN against the cached centroid table (routing),
  - a map over the cached blob rows of PROBED shards only — the filter
    prunes in-memory cache batches by the ``shard`` column's batch
    stats; there is NO exchange on the index side of the plan,
  - the usual Q x k x probed-shards top-k merge (one small exchange).

Steady-state serving cost therefore tracks probed-shard work, not corpus
size. Results are byte-identical to the batch paths (same per-shard beam,
same merge; asserted in tests/test_serving.py).

At 100 TB the blob relation is the index's natural serving format: it is
what the executors would hold resident anyway, partition-pruned by
``shard``, and spillable (MEMORY_AND_DISK) when the fleet's aggregate
memory is short.

The same resident-blob pattern serves every route: IVF cells
(:class:`CellServingIndex`), PQ / SQ / IVF-PQ code blobs, RP-tree leaves
and PCA blobs. One lifecycle core, :class:`_ResidentBlobIndex`, owns what
they share — ``warm``/``unpersist``/``bytes_resident``, ``refresh`` and
``remove`` (one wave merge and one segment swap, :func:`_swap_segment`)
with the remove ledger, the strategy histogram, the segment stack, and
the crash-safe snapshot protocol (``snapshot``, ``snapshot_incremental``,
``from_snapshot``: versioned dirs, writer token, manifest commit, GC,
latest-generation-wins restore, blob and corpus fingerprints). Each
serving class keeps three hooks — its pack (the constructor: rows ->
blobs), its refresh-encode ``_encode`` (a wave's rows -> blob keys and
per-row matrices under the route's frozen model) and its query kernel
``_kernel_batch`` — and declares the rest as data: its blob key column,
the names of its pending-snapshot and blob-count attributes, its driver
``.npy`` arrays, whether it snapshots a routing table, its histogram
source relation and whether it keeps a fingerprinted cold corpus. The
graph route alone re-packs whole shards on refresh (from the appended
index relations) and shares only the segment swap.

Every read is one core path too, :meth:`_ResidentBlobIndex._query`:
``query`` (a plain batch is one unmasked group of rows, an ``allowed=``
batch one masked group over every row), ``query_by_window`` (each row
carries its own ``[lo, hi)`` over the single attribute) and
``query_by_attribute`` (its own value per attribute; rows group by
window or tenant tuple). The core owns validation, the near-duplicate
reroute, the dimension check, the per-group histogram strategy and its
boosts, chunking, ONE exact broadcast join against the cold corpus for
the exact groups (PQ, SQ, IVF-PQ), and the per-(qid, id) min-merge that
a batch repeating a qid needs. Each class's public methods forward
their own knobs (``nprobe``, ``relaxed_monotonicity``,
``tree_merge_fanin``, ``candidate_factor``, ``probes``) to its ONE
kernel hook, ``_kernel_batch``: the route's single pass over its
resident blobs for every remaining group (graph beam / masked GEMM with
the patience boost; Cell / IVF-PQ centroid probes over
:func:`_probe_plan`; RPT leaf walk; PQ / SQ shortlist + exact re-rank;
PCA reduced-space shortlist + in-blob refine). Kernels emit real qids:
the broadcast batch carries them, and probing, shortlists and re-rank
key by row position only where a row's own vector or filter is needed.
"""

from __future__ import annotations

import math
import pickle
from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from vector_index_spark.index.graph import graph_from_rows, query_shard
from vector_index_spark.index.rpt import default_probes as _rpt_default_probes
from vector_index_spark.index.searcher import (
    RESULT_SCHEMA,
    _merge_topk,
    _shard_cogroup,
    shard_centroids,
    tree_merge_topk,
)

BLOB_SCHEMA = "shard long, n_vectors long, blob binary"

# bump when the snapshot layout changes; from_snapshot refuses to guess at
# layouts it does not know (round 10 — VERDICT r9 item 3)
SNAPSHOT_FORMAT_VERSION = 1


class SnapshotIntegrityError(ValueError):
    """Typed restore failure: unsupported/missing format version, a
    snapshot written by a different serving class, a truncated blob
    relation, or a cold corpus that drifted since the snapshot was
    taken. Raised INSTEAD of silently re-ranking against mismatched
    vectors (wrong ids, no error — the round-9 verdict's hazard)."""


# refresh() materializes the ingest wave on the driver (ids + vectors,
# numpy-side encode with the handle's frozen model). The cap makes the
# "one micro-batch wave" convention an ENFORCED contract (round 14,
# VERDICT r13 item 4): an oversized wave raises WaveCapExceeded instead
# of OOMing the driver. Override per handle via ``wave_row_cap``.
WAVE_ROW_CAP = 2_000_000


class WaveCapExceeded(ValueError):
    """refresh(new_rows, ...) was handed more rows than the wave cap —
    the refresh intake is a driver-side materialization sized for one
    ingest micro-batch. Split the relation into micro-batch waves (the
    streaming maintain twins do this), or rebuild cold with the bulk
    builder (pack_*/warm()), or raise ``handle.wave_row_cap``."""


def _require_wave_cap(idx, n_rows: int, cap: int) -> None:
    if n_rows > cap:
        raise WaveCapExceeded(
            f"refresh wave exceeds the {cap}-row cap "
            f"({type(idx).__name__}.wave_row_cap): the refresh intake "
            "materializes one ingest micro-batch on the driver. Split "
            "the input into micro-batch waves (see the streaming "
            "maintain twins), rebuild cold with the bulk builder, or "
            "raise wave_row_cap explicitly if the driver can hold it. "
            "(If the wave SHOULD be small: a duplicated id in new_rows "
            "or duplicate train rows inflate the attribute id-join — "
            "check id uniqueness on both sides)"
        )


# resident-blob segment stack (round 14, VERDICT r13 item 3): refresh
# checkpoints ONLY the wave's merged/new segment and stacks it lazily
# over the prior (already-checkpointed, immutable) leaves, so per-wave
# materialization cost is wave-sized instead of corpus-sized. The lazy
# stack compacts back to one checkpointed relation every
# MAX_RESIDENT_SEGMENTS waves (full-corpus copy, amortized) — bounding
# plan depth, task-count growth, and the stale-row memory the replaced
# cells/keys accumulate between compactions.
MAX_RESIDENT_SEGMENTS = 16

# byte-bound compaction trigger (round 15, VERDICT r14 item 2): segment
# COUNT alone is the wrong bound for SPREAD waves — a wave touching
# every key checkpoints a corpus-sized segment, so 16 such waves pin
# ~16x the live blob bytes in stale leaf copies before the count
# trigger fires (a fleet OOM at 100 TB churn). The stack therefore
# also compacts whenever the pinned leaf bytes exceed
# MAX_PINNED_RATIO x the LIVE plan's blob bytes: worst-case executor
# storage for a serving class is then bounded at MAX_PINNED_RATIO x
# resident bytes regardless of wave shape. Narrow waves never trip it
# (their segments are tiny), so the wave-sized refresh cost contract
# is untouched; per-wave trigger accounting is one metadata-cheap
# aggregate over the blob ROWS (one row per shard/cell/part — never
# per vector).
MAX_PINNED_RATIO = 3.0


def _leaf_blob_bytes(df: DataFrame) -> int:
    """Total pickled-blob bytes of one blob relation — O(#blob rows)."""
    return int(
        df.agg(F.sum(F.length("blob")).alias("__b")).collect()[0]["__b"]
        or 0
    )


def _track_segment(idx, seg) -> None:
    """Record a freshly-checkpointed blob segment as a live leaf of
    ``idx.blobs``; compact when the stack hits the count cap OR when
    the pinned leaf bytes exceed ``max_pinned_ratio`` x the live plan's
    blob bytes (round 15 — the spread-wave memory bound). The PREVIOUS
    ``idx.blobs`` must already be a leaf of the new plan (the caller
    unions over it), so the first call adopts it as the base leaf."""
    stack = getattr(idx, "_seg_stack", None)
    if not stack:
        stack = []
        idx._seg_stack = stack
        idx._seg_bytes = []
    stack.append(seg)
    seg_bytes = getattr(idx, "_seg_bytes", None)
    if seg_bytes is None or len(seg_bytes) != len(stack) - 1:
        # stack adopted before byte tracking existed: re-measure leaves
        seg_bytes = [_leaf_blob_bytes(leaf) for leaf in stack[:-1]]
    seg_bytes.append(_leaf_blob_bytes(seg))
    idx._seg_bytes = seg_bytes
    if len(stack) >= getattr(
        idx, "max_resident_segments", MAX_RESIDENT_SEGMENTS
    ):
        _compact_resident(idx)
        return
    if len(stack) >= 2:
        pinned = sum(seg_bytes)
        live = _leaf_blob_bytes(idx.blobs)
        if pinned > getattr(
            idx, "max_pinned_ratio", MAX_PINNED_RATIO
        ) * max(live, 1):
            _compact_resident(idx)


def _compact_resident(idx, merge=None) -> None:
    """Fold the lazy segment stack back into ONE checkpointed relation
    of ``n_serve`` partitions (corpus-sized copy — paid at the count cap
    or the pinned-bytes bound, the same amortization class as the
    snapshot fold; ``merge``, a ``mapInPandas`` body, also merges each
    partition's blobs) and free the old relation's and every old
    leaf's blocks."""
    old, old_leaves = idx.blobs, list(getattr(idx, "_seg_stack", []))
    plan = old.repartition(idx._n_serve)
    if merge is not None:
        plan = plan.mapInPandas(merge, idx._SCHEMA)
    idx.blobs = plan.localCheckpoint(eager=True)
    old.unpersist()
    for leaf in old_leaves:
        leaf.unpersist()
    idx._seg_stack = []
    idx._seg_bytes = []


def _adopt_base_leaf(idx) -> None:
    """Make the CURRENT ``idx.blobs`` the segment stack's base leaf
    before a refresh stacks a lazy union over it — so compaction /
    unpersist can free its blocks later. refresh-before-warm guard
    (round 14 review): a never-warmed handle's blobs are a bare
    persist with LIVE LINEAGE into mutable source files, and the
    stacked union sets ``_blobs_severed`` — which would make a later
    ``warm()`` skip its sever forever. Sever the base HERE in that
    case (the same eager localCheckpoint warm() would have done), so
    the 'resident state is lineage-free' invariant holds on every
    refresh path regardless of call order. (The sever flags itself, so
    a refresh that fails mid-way never leaves a severed-but-unflagged
    handle whose warm() re-checkpoints the corpus redundantly.)"""
    if not getattr(idx, "_seg_stack", None):
        idx._sever()
        idx._seg_stack = [idx.blobs]
        idx._seg_bytes = [_leaf_blob_bytes(idx.blobs)]


def _swap_segment(idx, plan: DataFrame, keys) -> None:
    """The one segment swap under every refresh and remove: checkpoint
    ONLY the new blobs of ``keys`` (an eager localCheckpoint — severs
    lineage into the wave's or the index's source files, see
    :meth:`_ResidentBlobIndex._sever`), stack them lazily over the
    prior immutable leaves in place of the replaced keys' rows (a flat
    route's fresh part replaces none), so the per-wave copy tracks the
    wave, not the corpus; the stack compacts
    at its count or pinned-bytes bound (:func:`_track_segment`). Then
    recount, keep the severed flag, drop the cached near-duplicate
    probe, and queue ``keys`` for the incremental snapshot."""
    seg = plan.coalesce(
        max(1, min(idx._n_serve, len(keys)))
    ).localCheckpoint(eager=True)
    _adopt_base_leaf(idx)
    idx.blobs = idx.blobs.filter(
        ~F.col(idx._KEY).isin(keys)
    ).unionByName(seg)
    _track_segment(idx, seg)
    setattr(idx, idx._COUNT, idx.blobs.count())
    idx._blobs_severed = True
    idx._dup_multiplicity = None  # contents changed; re-probe lazily
    setattr(idx, idx._PENDING, getattr(idx, idx._PENDING, set()) | set(keys))


def _fs_write_bytes(spark, path: str, data: bytes) -> None:
    """Write one small file through the Hadoop FileSystem API so
    snapshots land on the SAME storage as their parquet blobs (s3a://,
    hdfs://, file://) — driver-local ``open()`` only works on file://,
    which breaks the stated use case (a restarted fleet restoring from
    shared storage)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _fs_read_bytes(spark, path: str) -> bytes:
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return bytes(out.toByteArray())
    finally:
        stream.close()


def _fs_write_npy(spark, path: str, arr) -> None:
    import io as _io

    buf = _io.BytesIO()
    np.save(buf, np.asarray(arr))
    _fs_write_bytes(spark, path, buf.getvalue())


def _fs_read_npy(spark, path: str):
    import io as _io

    return np.load(_io.BytesIO(_fs_read_bytes(spark, path)))


def _fs_delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API (same URI
    space as the snapshot writers); missing paths are a no-op."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def _resolve_generations(spark, path: str, base: DataFrame, key_col: str,
                         gens: list) -> DataFrame:
    """Latest-generation-wins resolve for incremental snapshots (round
    11): a blob row keeps its base (gen 0) version unless a later
    generation CLAIMS its key — then only that generation's row survives
    (a claimed key with no row in its generation was removed). Shared by
    the graph (``shard``) and IVF-PQ (``cell``) restores."""
    if not gens:
        return base
    claim: dict = {}
    for g in gens:
        for s in g["shards"]:
            claim[int(s)] = max(claim.get(int(s), 0), int(g["gen"]))
    rel = base.withColumn("__gen", F.lit(0))
    for g in gens:
        rel = rel.unionByName(
            spark.read.parquet(f"{path}/blobs_gen_{g['gen']}")
            .withColumn("__gen", F.lit(int(g["gen"])))
        )
    cm = spark.createDataFrame(
        [(int(s), int(g)) for s, g in claim.items()],
        f"{key_col} long, __claim int",
    )
    return (
        rel.join(F.broadcast(cm), key_col, "left")
        .filter(F.col("__gen") == F.coalesce(F.col("__claim"), F.lit(0)))
        .drop("__gen", "__claim")
    )


def _read_manifest_any(spark, path: str) -> "dict | None":
    """Best-effort manifest read for snapshot GC / base versioning: no
    class or version enforcement, ``None`` when missing/unreadable —
    a full snapshot over a foreign or corrupt manifest just starts a
    fresh version chain instead of refusing."""
    import json as _json

    try:
        raw = _fs_read_bytes(spark, f"{path}/serving_manifest.json")
        return _json.loads(raw.decode("utf-8"))
    except Exception:
        return None


def _vdir(name: str, version: int) -> str:
    """Versioned snapshot dir/file name. Version 1 keeps the legacy
    unsuffixed layout (``blobs``, ``routing``, ``centroids.npy``) so
    pre-round-12 snapshots restore unchanged; version N>1 appends
    ``_vN`` before any extension."""
    if version <= 1:
        return name
    stem, dot, ext = name.partition(".")
    return f"{stem}_v{version}{dot}{ext}"


_LEGACY_BASE_NAMES = (
    "blobs", "routing", "centroids.npy", "codebooks.npy",
    "mins.npy", "span.npy", "normals.npy", "thresholds.npy",
    "mean.npy", "components.npy",
)


def _gc_stale_snapshot_dirs(spark, path: str, old: "dict | None",
                            new_manifest: dict) -> None:
    """Delete the PREVIOUS snapshot version's dirs AFTER the new
    manifest is committed (round 12, ADVICE): the manifest write is the
    atomic commit point, so a crash anywhere before it leaves the old
    base + generations fully intact and restorable, and a crash during
    this GC leaves only unreferenced garbage (the new manifest never
    points at what's being deleted). Manifests record the exact dirs
    they own (``base_dirs`` + ``routing_dir``); for pre-round-12
    manifests the known legacy layout is reconstructed."""
    if not old:
        return
    for g in old.get("generations", []):
        _fs_delete(spark, f"{path}/blobs_gen_{g['gen']}")
    old_v = int(old.get("base_version", 1))
    olds = set(
        old.get("base_dirs")
        or [_vdir(n, old_v) for n in _LEGACY_BASE_NAMES]
    )
    olds.add(old.get("routing_dir") or _vdir("routing", old_v))
    keep = set(new_manifest.get("base_dirs") or [])
    if new_manifest.get("routing_dir"):
        keep.add(new_manifest["routing_dir"])
    for d in sorted(olds - keep):
        _fs_delete(spark, f"{path}/{d}")


def _acquire_snapshot_write(spark, path: str) -> str:
    """Stake a writer-intent token at ``path`` (round 13, VERDICT r12
    item 7). Two handles full-snapshotting the SAME path concurrently
    both derive base_version N+1 from the same old manifest and
    interleave writes into the same versioned dirs; the loser's
    restore then fails fingerprint validation — loud but confusing.
    The token makes the race a TYPED error at commit time instead:
    each writer stakes a fresh token before its dir writes and
    verifies it is still the staked token immediately before the
    manifest commit (:func:`_commit_snapshot_write`) — a second writer
    having cut in replaces the token, so the first writer refuses to
    commit a manifest over dirs it no longer exclusively wrote.
    Best-effort single-writer detection (no distributed lock service
    at this layer): the residual check-to-commit window stays covered
    by restore-time fingerprint validation."""
    import uuid as _uuid

    token = _uuid.uuid4().hex
    _fs_write_bytes(spark, f"{path}/writer_intent", token.encode("utf-8"))
    return token


def _commit_snapshot_write(spark, path: str, token: str) -> None:
    """Verify this writer's intent token survived the snapshot's dir
    writes — called immediately before the manifest commit. Raises
    :class:`SnapshotIntegrityError` when a concurrent writer staked a
    newer token (see :func:`_acquire_snapshot_write`)."""
    try:
        got = _fs_read_bytes(spark, f"{path}/writer_intent").decode("utf-8")
    except Exception as e:
        # an unreadable token is NOT evidence of a second writer (round
        # 13 review): blame the filesystem, not a phantom concurrent
        # writer — the snapshot still aborts (commit safety first)
        raise SnapshotIntegrityError(
            f"could not read back the writer-intent token at "
            f"{path!r}/writer_intent before the manifest commit — the "
            "snapshot is ABORTED (the previous committed snapshot "
            "remains restorable); check filesystem health/consistency "
            "and retry"
        ) from e
    if got != token:
        raise SnapshotIntegrityError(
            f"concurrent snapshot writer detected at {path!r}: another "
            "handle staked a writer-intent token during this snapshot's "
            "dir writes, so the versioned dirs may interleave both "
            "writers' data — this snapshot is ABORTED (not committed; "
            "the previous committed snapshot remains restorable). "
            "Snapshot paths are single-writer: serialize snapshots per "
            "path, or give each writer its own path"
        )


def _lineage_token(manifest: dict) -> tuple:
    """What a handle must have observed to stack a generation on this
    snapshot: the base snapshot id AND the current chain tip (round 12,
    ADVICE) — two handles restored from the same base can no longer
    both append generations, because the first append moves the tip."""
    gens = manifest.get("generations", [])
    return (
        manifest.get("snapshot_id"),
        int(gens[-1]["gen"]) if gens else 0,
    )


def _check_incremental_lineage(idx, path: str, manifest: dict) -> None:
    """snapshot_incremental requires a base snapshot THIS handle wrote
    or restored — unaffected blobs are reused from it byte-as-is, which
    is only sound against the snapshot the handle's resident state
    descends from. The lineage pins the full chain state (base id +
    generation tip), so a handle that has not observed generations
    another writer stacked refuses instead of writing a generation over
    state its resident blobs don't descend from."""
    if getattr(idx, "_snapshot_lineage", None) != (
        path, *_lineage_token(manifest)
    ):
        raise SnapshotIntegrityError(
            f"snapshot_incremental({path!r}) needs a base snapshot "
            "this handle wrote or restored, with no generations "
            "stacked by other writers since (unaffected shards are "
            "reused from it byte-as-is) — run snapshot() first"
        )


def _max_code_multiplicity(blobs: DataFrame, key_col: "str | None" = None) -> int:
    """Largest group of IDENTICAL code rows within any resident blob —
    the cheap near-duplicate-density probe behind the SCALE.md round-11
    routing rule. Near-duplicates quantize to the SAME code, so a large
    identical-code group is exactly the population an ADC shortlist of
    ``candidate_factor * k`` rows cannot discriminate (the quantization
    error exceeds the gaps between the near-ties). One pass over the
    resident (compressed) payloads: each blob emits its TOP-64 code
    hashes with counts (a duplicate group is SPLIT across blobs by the
    pack repartition, so per-blob maxima alone undercount by the blob
    fan-out), the driver sums per hash — at most 64 tiny rows per blob
    cross the wire, no shuffle. Top-64-per-blob keeps it a lower bound,
    which is what a warning threshold wants.

    ``key_col`` scopes the duplicate group to a blob-key partition
    (round 13, ADVICE): IVF-PQ codes are RESIDUALS against each cell's
    own centroid, so identical code bytes in different cells encode
    different vectors — only within-cell groups count there (the key
    joins the hash); PQ/SQ codes are global, so cross-blob summation
    under a key-free hash is the right semantics."""
    import hashlib as _hashlib
    import pickle as _pickle

    def probe(batches):
        for pdf in batches:
            hs, cs = [], []
            keys = pdf[key_col] if key_col is not None else None
            for j, blob in enumerate(pdf["blob"]):
                codes = np.ascontiguousarray(
                    np.atleast_2d(_pickle.loads(bytes(blob))[1])
                )
                if codes.shape[0] == 0:
                    continue
                flat = codes.view(
                    [("", codes.dtype)] * codes.shape[1]
                ).ravel()
                uniq, counts = np.unique(flat, return_counts=True)
                top = np.argsort(counts)[::-1][:64]
                prefix = (
                    int(keys.iloc[j]).to_bytes(8, "big", signed=True)
                    if keys is not None else b""
                )
                for i in top:
                    hs.append(int.from_bytes(
                        _hashlib.blake2b(
                            prefix + uniq[i].tobytes(), digest_size=8
                        ).digest(), "big", signed=True,
                    ))
                    cs.append(int(counts[i]))
            if hs:
                yield pd.DataFrame({"h": hs, "c": cs})

    totals: dict = {}
    for r in blobs.mapInPandas(probe, "h long, c long").collect():
        totals[r.h] = totals.get(r.h, 0) + int(r.c)
    return max(totals.values(), default=0)


def _warn_if_neardup_dense(idx, k: int, candidate_factor: int) -> None:
    """Enforce the SCALE.md round-11 routing rule in code (round 12,
    VERDICT item 5): when the resident codes' duplicate multiplicity
    exceeds the shortlist budget ``candidate_factor * k``, the
    compressed route's recall collapses no matter the tuning — warn
    ONCE per handle (the CellServingIndex many-constraints precedent)
    pointing at the graph route / dedup-first / larger cf. The probe
    runs lazily on the first query (cf and k are needed for the
    threshold) and is cached on the handle."""
    import warnings as _warnings

    if getattr(idx, "_warned_neardup", False):
        return
    m = getattr(idx, "_dup_multiplicity", None)
    if m is None:
        m = _max_code_multiplicity(
            idx.blobs, key_col=getattr(idx, "_multiplicity_key", None)
        )
        idx._dup_multiplicity = m
    if m > candidate_factor * k:
        idx._warned_neardup = True
        _warnings.warn(
            f"{type(idx).__name__}: the corpus is near-duplicate-dense "
            f"(>= {m} rows share one quantized code, but the shortlist "
            f"holds only candidate_factor*k = {candidate_factor * k}) — "
            "compressed-shortlist recall collapses on such corpora "
            "(SCALE.md round-11 routing rule). Use the graph serving "
            "route (raw-vector beam, recall 1.0 on the same workload), "
            "near-dup deduplicate first (operators/dedup), or scale "
            "candidate_factor toward the duplicate multiplicity."
        )


def _dense_reroute(idx, k: int, candidate_factor: int):
    """The SCALE.md near-dup routing rule as DISPATCH (round 13, VERDICT
    r12 item 4): when the resident codes' duplicate multiplicity exceeds
    the shortlist budget ``candidate_factor * k`` AND a graph-route
    fallback handle is attached (:meth:`reroute_dense_to`), return that
    handle — the query dispatches to the raw-vector beam, whose recall
    is 1.0 on exactly the dup-dense corpora where compressed shortlists
    collapse. Without a fallback, the round-12 warning fires instead
    (direct handle users keep the loud signal). The multiplicity probe
    runs once per handle contents, same as the warning path."""
    fb = getattr(idx, "_dense_fallback", None)
    if fb is None:
        _warn_if_neardup_dense(idx, k, candidate_factor)
        return None
    m = getattr(idx, "_dup_multiplicity", None)
    if m is None:
        m = _max_code_multiplicity(
            idx.blobs, key_col=getattr(idx, "_multiplicity_key", None)
        )
        idx._dup_multiplicity = m
    return fb if m > candidate_factor * k else None


def _blob_ids(blobs: DataFrame) -> DataFrame:
    """Resident ids as a (id long) relation — one unpickling pass over
    the blob payloads. Used only on rare guard paths (the streaming
    twins' new-epoch id-primary-key check), never per wave."""
    import pickle as _pickle

    def ids_of(batches):
        for pdf in batches:
            for blob in pdf["blob"]:
                ids = _pickle.loads(bytes(blob))[0]
                yield pd.DataFrame({"id": np.asarray(ids, dtype=np.int64)})

    return blobs.mapInPandas(ids_of, "id long")


def _blob_id_vecs(blobs: DataFrame, vec_field: int = 1) -> DataFrame:
    """Resident (id, vec) pairs as a relation — one unpickling pass
    over RAW-PAYLOAD blob relations (Cell/RPT payloads carry X at
    field 1, PCA at field 2 — ``PcaServingIndex._RAW_VEC_FIELD``).
    Used only on rare replay-disambiguation guard paths, never per
    wave."""
    import pickle as _pickle

    def kv(batches):
        for pdf in batches:
            for blob in pdf["blob"]:
                payload = _pickle.loads(bytes(blob))
                ids = np.asarray(payload[0], dtype=np.int64)
                X = np.asarray(payload[vec_field], dtype=np.float64)
                yield pd.DataFrame(
                    {"id": ids, "vec": [row.tolist() for row in X]}
                )

    return blobs.mapInPandas(kv, "id long, vec array<double>")


def _blob_fingerprint(blobs: DataFrame) -> dict:
    """(blob count, total packed vectors) — one tiny agg over the blob
    relation; restore re-derives it and refuses a truncated copy."""
    row = blobs.agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.coalesce(F.sum("n_vectors"), F.lit(0)).alias("n_vectors"),
    ).collect()[0]
    return {"n_blobs": int(row["n_blobs"]), "n_vectors": int(row["n_vectors"])}


def _check_blob_fingerprint(blobs: DataFrame, fp: dict, path: str) -> None:
    got = _blob_fingerprint(blobs)
    if got != fp:
        raise SnapshotIntegrityError(
            f"snapshot at {path} is incomplete or corrupt: blob relation "
            f"holds {got} but the manifest recorded {fp} — re-run "
            "snapshot() or restore from an intact copy"
        )


def _corpus_fingerprint(train: DataFrame, id_col: str, vec_col: str,
                        n_spot: int = 8) -> dict:
    """Fingerprint of the COLD corpus a compressed snapshot depends on:
    row count, an order-independent id checksum, and up to ``n_spot``
    (id, vector) spot rows. One id-column scan + one pruned spot fetch —
    paid at snapshot time and (when ``validate=True``) at restore."""
    row = train.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.crc32(F.col(id_col).cast("string"))), F.lit(0)
        ).alias("idsum"),
    ).collect()[0]
    spot = (
        train.filter(
            F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(97)) == 0
        )
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .limit(n_spot)
        .collect()
    )
    return {
        "n_rows": int(row["n"]),
        "id_crc_sum": int(row["idsum"]),
        "spot": [
            [int(r["id"]), [float(v) for v in r["vec"]]] for r in spot
        ],
    }


def _check_corpus_fingerprint(train: DataFrame, id_col: str, vec_col: str,
                              fp: dict, path: str) -> None:
    """Validate the ``train`` passed to from_snapshot against the corpus
    the snapshot was taken over: count + id checksum (catches adds /
    removes / re-keying), then exact-value spot rows (catches vector
    drift under unchanged ids)."""
    row = train.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.crc32(F.col(id_col).cast("string"))), F.lit(0)
        ).alias("idsum"),
    ).collect()[0]
    if int(row["n"]) != fp["n_rows"] or int(row["idsum"]) != fp["id_crc_sum"]:
        raise SnapshotIntegrityError(
            f"cold corpus drifted since the snapshot at {path}: it was "
            f"taken over {fp['n_rows']} rows (id checksum "
            f"{fp['id_crc_sum']}) but the passed train has {int(row['n'])} "
            f"rows (id checksum {int(row['idsum'])}) — re-snapshot, or "
            "pass the corpus the snapshot was built from"
        )
    spot_ids = [s[0] for s in fp.get("spot", [])]
    if not spot_ids:
        return
    got = {
        int(r["id"]): [float(v) for v in r["vec"]]
        for r in train.filter(F.col(id_col).isin(spot_ids))
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .collect()
    }
    for sid, svec in fp["spot"]:
        if got.get(int(sid)) != svec:
            raise SnapshotIntegrityError(
                f"cold corpus drifted since the snapshot at {path}: "
                f"spot id {sid} is missing or its vector changed — "
                "re-snapshot, or pass the corpus the snapshot was built "
                "from"
            )


def _write_manifest(spark, path: str, manifest: dict) -> None:
    import json as _json

    _fs_write_bytes(
        spark, f"{path}/serving_manifest.json",
        _json.dumps(manifest).encode("utf-8"),
    )


def _read_manifest(spark, path: str, expected_cls: str) -> dict:
    import json as _json

    try:
        raw = _fs_read_bytes(spark, f"{path}/serving_manifest.json")
    except Exception as e:  # py4j wraps FileNotFound — re-raise typed
        raise SnapshotIntegrityError(
            f"no serving snapshot at {path} (serving_manifest.json "
            "missing or unreadable) — is the path the one snapshot() "
            "wrote to?"
        ) from e
    manifest = _json.loads(raw.decode("utf-8"))
    v = manifest.get("format_version")
    if v != SNAPSHOT_FORMAT_VERSION:
        raise SnapshotIntegrityError(
            f"snapshot at {path} has format_version={v!r}; this build "
            f"reads version {SNAPSHOT_FORMAT_VERSION} — rebuild the "
            "snapshot with this library version"
        )
    cls = manifest.get("class")
    if cls != expected_cls:
        raise SnapshotIntegrityError(
            f"snapshot at {path} was written by {cls!r}; "
            f"{expected_cls}.from_snapshot cannot restore it"
        )
    return manifest


def _manifest_attr_fields(attr_cols, attr_hist_fn) -> dict:
    return {
        "attr_cols": list(attr_cols) if attr_cols is not None else None,
        "attr_hist": [[list(k), v] for k, v in attr_hist_fn().items()]
        if attr_cols is not None
        else None,
    }


def _restore_attr_fields(idx, manifest) -> None:
    idx._attr_cols = (
        tuple(manifest["attr_cols"])
        if manifest["attr_cols"] is not None
        else None
    )
    idx._attr_hist = (
        {tuple(k): int(v) for k, v in manifest["attr_hist"]}
        if manifest["attr_hist"] is not None
        else None
    )


def _attr_pack_names(attr_cols: "tuple[str, ...]") -> "list[str]":
    """Internal packed-attribute column names (__attr0..__attr{m-1}) —
    positional, so the blob layout is independent of user column names."""
    return [f"__attr{i}" for i in range(len(attr_cols))]


def _with_attr_cols(df: DataFrame, attr_cols: "tuple[str, ...]") -> DataFrame:
    from vector_index_spark.operators.filtered import (
        null_safe_attr_code,
        validate_attr_schema,
    )

    validate_attr_schema(df, attr_cols)
    for i, c in enumerate(attr_cols):
        # NULL attrs sentinel-encode (ADVICE r7): the row stays in the
        # blob (visible unfiltered) but can never match a filter —
        # dict_encode's documented SQL semantics for NULL
        df = df.withColumn(f"__attr{i}", null_safe_attr_code(c))
    return df


def _attr_code(col_name: str):
    """Build-side attribute-code expression (NULL -> sentinel); see
    operators/filtered.null_safe_attr_code."""
    from vector_index_spark.operators.filtered import null_safe_attr_code

    return null_safe_attr_code(col_name)


def _attr_code_exprs(df: DataFrame, attr_cols) -> list:
    """Validated build-side attribute-code expressions for ``df`` —
    every pack path goes through here so a non-integral attribute
    column fails LOUDLY at construction (dict_encode-first hint)
    instead of sentinel-coding every row and silently matching nothing
    (round 10, VERDICT r9)."""
    from vector_index_spark.operators.filtered import validate_attr_schema

    validate_attr_schema(df, attr_cols)
    return [
        _attr_code(c).alias(f"__attr{i}") for i, c in enumerate(attr_cols)
    ]


def _stack_attrs(pdf: pd.DataFrame):
    """Gather the packed __attr{i} columns of a pandas frame into one
    ``(n, m)`` int64 array (None when the frame carries no attributes)."""
    names = sorted(
        (c for c in pdf.columns if c.startswith("__attr") and c[6:].isdigit()),
        key=lambda c: int(c[6:]),
    )
    if not names:
        return None
    return np.column_stack(
        [pdf[c].to_numpy(dtype=np.int64) for c in names]
    )


def _tuple_histogram(df: DataFrame, attr_cols, id_col: str = "id"):
    """(attribute-tuple -> distinct-id count) histogram for the filtered
    strategy rule. One aggregate job over the build relation; the result
    has ATTRIBUTE-COMBINATION cardinality (categorical-small — at 100 TB
    these counts would come from table statistics instead). NULL
    attribute values group under the never-matching sentinel code, same
    as the blob pack."""
    from vector_index_spark.operators.filtered import null_safe_attr_code

    exprs = [
        null_safe_attr_code(c).alias(f"__h{i}") for i, c in enumerate(attr_cols)
    ]
    rows = (
        df.groupBy(*exprs)
        .agg(F.count_distinct(id_col).alias("__n"))
        .collect()
    )
    m = len(attr_cols)
    return {
        tuple(int(r[f"__h{i}"]) for i in range(m)): int(r["__n"]) for r in rows
    }


def _match_count(hist, allows) -> int:
    """Rows matching the normalized spec (conjunction or DNF), from the
    tuple histogram."""
    from vector_index_spark.operators.filtered import conjunction_matches

    return sum(
        n for key, n in hist.items() if conjunction_matches(key, allows)
    )


def _allow_arrays(allows):
    """Broadcast-friendly form of normalized allowed specs — see
    operators/filtered.allow_arrays (value sets -> sorted int64 arrays,
    RangeSpecs pass through, DnfSpec converts per conjunction)."""
    from vector_index_spark.operators.filtered import allow_arrays

    return allow_arrays(allows)


def _bytes_resident(blobs: DataFrame, driver_arrays=(),
                    seg_stack=None) -> dict:
    """Serving-memory accounting (VERDICT r6 item 7): what this index
    pins per executor fleet (the persisted blob relation) and per driver
    (codebooks / centroids / tree params held as numpy arrays). One
    aggregate job over the cached blob rows — at 100 TB this is the
    capacity-planning number: executors_needed ~= pinned_bytes /
    per-executor storage memory.

    Returns ``{"blob_bytes", "driver_bytes", "n_vectors",
    "blob_bytes_per_vector", "pinned_bytes", "stale_bytes",
    "n_resident_segments"}``. ``blob_bytes`` measures the pickled
    payloads the CURRENT plan serves (for compressed routes this shows
    the compression ratio vs rows x dim x 8 raw float64 bytes —
    SCALE.md tabulates it per route). With the round-14 segmented
    refresh, the blocks actually pinned are the segment LEAVES — they
    include stale copies of merged keys that accumulate between
    compactions — so ``pinned_bytes`` sums the leaves (>= blob_bytes)
    and ``stale_bytes`` is the reclaimable-at-compaction difference."""
    row = blobs.agg(
        F.sum(F.length("blob")).alias("__b"),
        F.sum("n_vectors").alias("__n"),
    ).collect()[0]
    blob_bytes = int(row["__b"] or 0)
    n_vectors = int(row["__n"] or 0)
    driver_bytes = int(sum(int(a.nbytes) for a in driver_arrays))
    pinned = blob_bytes
    n_segs = 0
    if seg_stack:
        n_segs = len(seg_stack)
        stacked = seg_stack[0].select(F.length("blob").alias("__l"))
        for leaf in seg_stack[1:]:
            stacked = stacked.unionByName(
                leaf.select(F.length("blob").alias("__l"))
            )
        # ONE aggregate job over all leaves (not one per leaf)
        pinned = int(
            stacked.agg(F.sum("__l").alias("__b")).collect()[0]["__b"] or 0
        )
    return {
        "blob_bytes": blob_bytes,
        "driver_bytes": driver_bytes,
        "n_vectors": n_vectors,
        "blob_bytes_per_vector": (
            blob_bytes / n_vectors if n_vectors else 0.0
        ),
        "pinned_bytes": pinned,
        "stale_bytes": max(0, pinned - blob_bytes),
        "n_resident_segments": n_segs,
    }


def _pack_shard(key, vec_pdf: pd.DataFrame, edge_pdf: pd.DataFrame) -> pd.DataFrame:
    if len(vec_pdf) == 0:
        return pd.DataFrame(columns=["shard", "n_vectors", "blob"])
    vec_pdf = vec_pdf.sort_values("id")
    X = np.stack(vec_pdf["vec"].to_numpy()).astype(np.float64)
    ids = vec_pdf["id"].to_numpy(dtype=np.int64)
    erows = edge_pdf[["layer", "src", "dst", "dist"]].to_numpy(dtype=np.float64)
    g = graph_from_rows(X, ids, erows)
    # the query path reads layer 0 through the CSR cache only
    # (query_shard, graph.py) and serving graphs never mutate: precompute
    # the CSR into the blob and drop the dict form — numpy arrays pickle
    # ~5x smaller and unpickle without rebuilding 10^4 dict entries
    g.csr0()
    g.adj[0] = {}
    g.immutable = True  # mutation would repopulate a near-empty dict
    attrs = _stack_attrs(vec_pdf)
    if attrs is not None:
        # offset-aligned (n, m) attribute array for filtered serving —
        # one column per attr_col, conjunction-masked at query time (the
        # mask rides the blob; see ServingIndex(attr_col=...))
        g.attrs = attrs
    return pd.DataFrame(
        {
            "shard": [int(key[0])],
            "n_vectors": [len(ids)],
            "blob": [pickle.dumps(g, protocol=pickle.HIGHEST_PROTOCOL)],
        }
    )


_CORPUS_SCALARS = (("id_col", "_id_col"), ("vec_col", "_vec_col"))


def _stamp_stream(manifest: dict, stream_batch_id, stream_epoch) -> None:
    """Record the streaming maintain loop's exactly-once state."""
    if stream_batch_id is not None:
        manifest["last_batch_id"] = int(stream_batch_id)
    if stream_epoch is not None:
        manifest["stream_epoch"] = str(stream_epoch)


class _ResidentBlobIndex:
    """The one lifecycle core under every serving class: a resident
    ``(key, n_vectors, blob)`` relation, its segment stack, the remove
    ledger, the crash-safe snapshot protocol (writer token, versioned
    dirs, manifest commit, GC last), incremental generations and the
    restore-time integrity checks.

    A serving class declares its differences as data and the core
    branches on these declarations only:

    - ``_KEY`` / ``_SCHEMA``: the blob key column (``shard``/``cell``/
      ``part``/``leaf``) and the blob row schema; ``part`` marks a flat
      scan route, whose snapshot fold also compacts the resident blobs;
    - ``_PENDING`` / ``_COUNT``: the attribute names of the keys queued
      for the next incremental snapshot and of the blob-row count;
    - ``_ARRAYS``: driver-held numpy arrays as ``(file name,
      attribute)`` pairs, written beside the blobs and restored from
      them;
    - ``_ROUTED``: a routing table (``_routing_table()``) is snapshotted
      under ``routing_dir``; ``_ROUTING_FOLLOWS_KEYS``: it changes with
      the refreshed keys, so an incremental snapshot rewrites it as
      ``routing_g<gen>``;
    - ``_HIST_SOURCE``: the attribute holding the relation the strategy
      histogram is counted over (``None`` after a restore, where the
      manifest carries the histogram);
    - ``_COLD_CORPUS``: raw vectors stay in a cold corpus ``_train``,
      passed at restore and checked against the manifest's corpus
      fingerprint; the corpus-only arguments (``train``,
      ``fingerprint_corpus``, ``corpus_fp_delta``) are refused elsewhere;
    - ``_QUANTIZED``: blobs hold quantized codes, so the near-duplicate
      reroute (:meth:`reroute_dense_to`) applies;
    - ``_MANIFEST_SCALARS``: extra ``(manifest key, attribute)`` pairs;
    - ``_FILTER_BRANCH``: the ``last_filter_strategy`` label of a
      non-exact ``allowed`` query (``"beam"`` / ``"prefilter"`` /
      ``"masked_scan"``); ``_REPORTS_NPROBE``: ``query`` also records
      its effective probe count in ``last_eff_nprobe`` (graph route).

    Every read and write is core too: ``query`` (plain and
    ``allowed=``), ``query_by_window`` and ``query_by_attribute`` run one
    path, :meth:`_query`, and ``refresh`` one wave merge; besides its
    pack (the constructor) each class supplies two hooks —
    ``_kernel_batch``, its resident pass over the blobs for a batch's
    groups of rows (``allow=None``: unmasked), and ``_encode(X) ->
    (keys or None, mats)``, the wave's blob keys (``None``: a flat
    route, the wave lands as one fresh part) and per-row payload
    matrices under the route's frozen model. The graph route overrides
    ``refresh`` with its shard re-pack.

    ``_metric_fields``: ``(manifest key, value)`` pairs a metric adapter
    (``api.py``) sets on the handle it wraps, written in the same
    manifest commit as the rest of the snapshot.
    """

    _PENDING: str
    _COUNT: str
    _KEY: str
    _SCHEMA: str
    _HIST_SOURCE: str
    _ARRAYS: tuple = ()
    _ROUTED = False
    _ROUTING_FOLLOWS_KEYS = False
    _COLD_CORPUS = False
    _QUANTIZED = False
    _MANIFEST_SCALARS: tuple = ()
    _FILTER_BRANCH = "prefilter"
    _REPORTS_NPROBE = False
    _metric_fields: tuple = ()
    # query vector dimension, where the class knows it (the graph route
    # from its constructor, the others from their driver arrays): set ->
    # ragged or wrong-dimension query rows fail fast
    _dimension = None
    # (id, vec) column names of the relations a refresh wave arrives in
    _id_col = "id"
    _vec_col = "vec"

    def __init__(self, spark, attr_col) -> None:
        from vector_index_spark.operators.filtered import normalize_attr_cols

        self._spark = spark
        # pack with full parallelism, then hold one blob partition per
        # core: blob rows are self-contained, and every warm batch would
        # otherwise pay one near-empty task per pack partition
        self._n_serve = max(spark.sparkContext.defaultParallelism, 1)
        self._attr_cols = normalize_attr_cols(attr_col)
        # lazily-built (attr tuple -> distinct-id count) histogram for
        # the filtered-query strategy rule; one small aggregate, once
        self._attr_hist = None
        # broadcasts of the previous call, recycled at the next one (by
        # then its results are consumed) — a long-running stream must
        # not accumulate one query-matrix broadcast per micro-batch
        self._live_bcs: list = []

    def _release_broadcasts(self) -> None:
        for b in self._live_bcs:
            b.unpersist(blocking=False)
        self._live_bcs = []

    def _sever(self) -> None:
        """Materialize the blob relation as an eager ``localCheckpoint``,
        which SEVERS its lineage into the source files. Maintenance
        rewrites those files (``append_to_index`` overwrites index
        partitions, the compressed maintain loops append to the corpus)
        and Spark invalidates plan caches on write, so a lineage-bearing
        cache would silently RECOMPUTE from mutated or deleted files
        (FAILED_READ_FILE at best, re-encoded or duplicated rows at
        worst). Resident state is lineage-free by construction;
        durability and executor-loss recovery are :meth:`snapshot`'s
        job."""
        if not getattr(self, "_blobs_severed", False):
            plan = self.blobs
            self.blobs = plan.localCheckpoint(eager=True)
            plan.unpersist()
            self._blobs_severed = True

    def warm(self):
        """Materialize the blob relation (one job) and count its rows;
        call once at startup so the first real query batch does not pay
        the build. See :meth:`_sever` for why this is a checkpoint."""
        self._sever()
        setattr(self, self._COUNT, self.blobs.count())
        return self

    def unpersist(self) -> None:
        """Free the resident blob relation, every checkpointed segment
        leaf beneath it (``blobs.unpersist()`` alone is a no-op once
        blobs is a lazy union over segments) and live broadcasts."""
        self.blobs.unpersist()
        for leaf in getattr(self, "_seg_stack", []):
            leaf.unpersist()
        self._seg_stack = []
        self._seg_bytes = []
        self._release_broadcasts()

    def bytes_resident(self) -> dict:
        """Executor-resident blob bytes plus the driver-held arrays
        (codebooks, scales, tree, basis) — see :func:`_bytes_resident`;
        compressed routes show their compression ratio here."""
        return _bytes_resident(
            self.blobs,
            tuple(getattr(self, attr) for _, attr in self._ARRAYS),
            seg_stack=getattr(self, "_seg_stack", None),
        )

    def _attribute_histogram(self):
        if self._attr_hist is None:
            self._attr_hist = _subtract_removed_ledger(
                self, _tuple_histogram(
                    getattr(self, self._HIST_SOURCE), self._attr_cols,
                    id_col=self._id_col,
                ),
            )
        return self._attr_hist

    def _routing_table(self) -> DataFrame:
        return self._cents_kv

    def _routing_matrix(self) -> tuple:
        """(keys, float64 vectors) of the routing table, collected once
        per table and held on the driver: a refresh that changes the
        table replaces the relation object, and a restored handle starts
        without a copy, so the copy stays current without bookkeeping."""
        table = self._routing_table()
        held = getattr(self, "_routing_held", None)
        if held is None or held[0] is not table:
            rows = table.select("id", "vec").collect()
            held = (
                table,
                np.array([r["id"] for r in rows], dtype=np.int64),
                np.array([r["vec"] for r in rows], dtype=np.float64),
            )
            self._routing_held = held
        return held[1], held[2]

    def remove(self, ids) -> int:
        """Remove rows by id from the resident blobs (see
        :func:`_resident_remove`): emptied blobs drop and restore as
        removed; on cold-corpus routes the exact re-rank is an id join,
        so removed ids never resurface and the corpus fingerprint is
        untouched. Returns the number of rows removed."""
        if self._KEY == "shard":
            raise TypeError(
                "ServingIndex blobs are packed shard graphs: remove rows "
                "with builder.remove_from_index, then refresh() the "
                "affected shards"
            )
        return _resident_remove(self, ids)

    def refresh(self, new_rows: DataFrame, train: "DataFrame | None" = None):
        """Incremental ingest of one wave: ``new_rows`` carries (id,
        vec) plus the handle's attribute columns on the self-contained
        routes; cold-corpus routes (PQ, SQ, IVF-PQ) take ``train``, the
        post-append cold corpus (re-rank tail and attribute source; the
        wave's ids must already be in it), and the others refuse it.
        New ids must be NEW (id-primary-key). The wave is collected
        under the wave cap (:func:`_collect_wave`), encoded by the
        route's ``_encode`` hook with its FROZEN model and merged into
        only the affected blobs (:func:`_keyed_refresh`); the touched
        keys queue for :meth:`snapshot_incremental`."""
        self._check_train(train, "refresh")
        if self._COLD_CORPUS:
            self._train = train
        got = _collect_wave(self, new_rows)
        if got is not None:
            ids, X, attrs = got
            _keyed_refresh(self, ids, *self._encode(X), attrs)
        return self

    def reroute_dense_to(self, handle):
        """Attach a graph-route :class:`ServingIndex` (same corpus; same
        attr packing when ``query_by_*`` is used) as the dense-corpus
        fallback: when the near-duplicate multiplicity exceeds the
        shortlist budget ``candidate_factor*k``, queries DISPATCH to it
        instead of warning (the SCALE.md routing rule as dispatch;
        raw-vector beam recall is 1.0 exactly where compressed
        shortlists collapse). ``None`` detaches.

        Attr packing must MATCH: a dispatch forwards ``allowed`` /
        ``query_by_*`` constraints verbatim, so a fallback packed without
        (or with differently-ordered) attribute columns would fail only
        once the corpus crosses the density threshold — validated here,
        at attach time."""
        if not self._QUANTIZED:
            raise TypeError(
                f"{type(self).__name__} serves raw vectors; the "
                "near-duplicate reroute applies to quantized-code routes"
            )
        if handle is not None and self._attr_cols is not None:
            fb_cols = getattr(handle, "_attr_cols", None)
            if fb_cols != self._attr_cols:
                raise ValueError(
                    f"reroute_dense_to: this handle packs attribute "
                    f"columns {list(self._attr_cols)} but the fallback "
                    f"packs {list(fb_cols) if fb_cols else None} — build "
                    "the graph fallback with the SAME attr_col (same "
                    "order) so filtered/constrained queries dispatch "
                    "equivalently"
                )
        self._dense_fallback = handle
        return self

    def _refuse_corpus_args(self, **given) -> None:
        bad = sorted(k for k, v in given.items() if v is not None)
        if bad and not self._COLD_CORPUS:
            raise TypeError(
                f"{type(self).__name__} keeps its raw vectors in the blobs "
                f"(no cold corpus): {', '.join(bad)} does not apply"
            )

    @classmethod
    def _scalar_fields(cls) -> tuple:
        """(manifest key, attribute) pairs stored verbatim."""
        return cls._MANIFEST_SCALARS + (
            _CORPUS_SCALARS if cls._COLD_CORPUS else ()
        )

    def _manifest_scalars(self) -> dict:
        return {
            **{key: getattr(self, attr) for key, attr in self._scalar_fields()},
            **dict(self._metric_fields),
        }

    @classmethod
    def _check_train(cls, train, call: str) -> None:
        """``train`` is required on the cold-corpus routes and refused
        on the others — the one rule of ``refresh`` and
        ``from_snapshot``."""
        if (train is not None) != cls._COLD_CORPUS:
            raise TypeError(
                f"{cls.__name__}.{call} "
                + (
                    "needs the cold corpus relation (train)"
                    if cls._COLD_CORPUS
                    else "takes no train: the blobs are self-contained"
                )
            )

    def snapshot(
        self, path: str, stream_batch_id: "int | None" = None,
        stream_epoch: "str | None" = None, *,
        fingerprint_corpus: "bool | None" = None,
    ):
        """Persist the SERVING form itself: the packed blob relation,
        the route's driver arrays, its routing table when it has one,
        and a manifest (format version, blob fingerprint, attr_cols and
        — when attributes are packed — the strategy histogram). A
        restarted fleet then cold-starts with :meth:`from_snapshot` from
        a parquet read: no cogroup, no encode, no re-pack. The snapshot
        is byte-faithful (restored answers equal the live ones), and is
        written through the Hadoop FileSystem API so it lives on ONE
        storage URI (s3a://, hdfs://, file://).

        Cold-corpus routes (PQ, SQ, IVF-PQ) record the corpus
        FINGERPRINT (count + id checksum + spot rows) instead of the raw
        vectors, so a drifted corpus raises at restore instead of
        silently re-ranking against mismatched vectors;
        ``fingerprint_corpus=False`` skips that corpus scan (it
        dominates the write at millions of rows) and restore then
        validates blobs only.

        Crash-safe: a re-snapshot writes fresh VERSIONED dirs, commits
        by rewriting the manifest (``generations=[]``), and only then
        deletes the previous version's dirs — a crash at any point
        leaves either the old or the new snapshot fully restorable, and
        a handle restored from this very path never overwrites the dirs
        its plan still reads. A writer-intent token staked before the
        dir writes turns a concurrent writer into a typed error at
        commit. ``stream_batch_id`` / ``stream_epoch`` record the
        streaming maintain loop's exactly-once state."""
        self._refuse_corpus_args(fingerprint_corpus=fingerprint_corpus)
        return self._snapshot_full(
            path, fingerprint_corpus is not False, stream_batch_id,
            stream_epoch,
        )

    def _snapshot_full(self, path, fingerprint, stream_batch_id,
                       stream_epoch):
        import uuid as _uuid

        spark = self._spark
        old = _read_manifest_any(spark, path)
        version = int(old.get("base_version", 1)) + 1 if old else 1
        token = _acquire_snapshot_write(spark, path)
        self.blobs.write.mode("overwrite").parquet(
            f"{path}/{_vdir('blobs', version)}"
        )
        base_dirs = [_vdir("blobs", version)]
        for name, attr in self._ARRAYS:
            _fs_write_npy(
                spark, f"{path}/{_vdir(name, version)}", getattr(self, attr)
            )
            base_dirs.append(_vdir(name, version))
        manifest = {
            "format_version": SNAPSHOT_FORMAT_VERSION,
            "class": type(self).__name__,
            "snapshot_id": _uuid.uuid4().hex,
            "base_version": version,
            "base_dirs": base_dirs,
            "generations": [],
            "blobs": _blob_fingerprint(self.blobs),
            **self._manifest_scalars(),
            **_manifest_attr_fields(
                self._attr_cols, self._attribute_histogram
            ),
        }
        if self._ROUTED:
            manifest["routing_dir"] = _vdir("routing", version)
            self._routing_table().write.mode("overwrite").parquet(
                f"{path}/{manifest['routing_dir']}"
            )
        if self._COLD_CORPUS:
            manifest["corpus"] = _corpus_fingerprint(
                self._train, self._id_col, self._vec_col
            ) if fingerprint else None
        _stamp_stream(manifest, stream_batch_id, stream_epoch)
        _commit_snapshot_write(spark, path, token)
        _write_manifest(spark, path, manifest)
        self._snapshot_lineage = (path, manifest["snapshot_id"], 0)
        setattr(self, self._PENDING, set())
        _gc_stale_snapshot_dirs(spark, path, old, manifest)
        return self

    def snapshot_incremental(
        self, path: str, max_generations: int = 8,
        stream_batch_id: "int | None" = None,
        stream_epoch: "str | None" = None, *,
        fingerprint_corpus: "bool | None" = None,
        corpus_fp_delta: "tuple[int, int] | None" = None,
    ):
        """Incremental snapshot after :meth:`refresh` / :meth:`remove`:
        write ONLY the keys touched since the last snapshot as a new
        blob GENERATION (``blobs_gen_N``) plus an updated manifest —
        the write cost tracks the wave, not the corpus. Driver arrays
        never refit on append, so they are not rewritten; a routing
        table that follows the keys (graph shard centroids) is written
        as ``routing_g<gen>``. :meth:`from_snapshot` resolves per key
        latest-generation-wins (a key a generation CLAIMS but writes no
        row for was removed).

        COMPACTION: restore unions one parquet read per generation, so
        when stacking would push the chain past ``max_generations`` the
        call folds the whole chain into a fresh full base instead
        (crash-safe versioned rewrite; flat routes first compact their
        resident blobs back to one per core) — restore depth stays
        bounded and per-wave cost stays wave-sized amortized.

        Requires lineage: this handle must have written or restored the
        snapshot at ``path`` INCLUDING its current generation tip (the
        unaffected base blobs are reused byte-as-is); otherwise a typed
        :class:`SnapshotIntegrityError` says to run :meth:`snapshot`.
        With nothing pending, only the manifest refreshes.

        Cold-corpus routes: ``corpus_fp_delta=(wave_rows,
        wave_id_crc_sum)`` with ``fingerprint_corpus=False`` maintains
        the corpus fingerprint INCREMENTALLY (it is additive, and the
        base's spot rows stay valid on an append-only corpus), so a
        streaming fleet keeps drift detection without a per-wave corpus
        scan; a fold re-anchors with a full fingerprint."""
        self._refuse_corpus_args(
            fingerprint_corpus=fingerprint_corpus,
            corpus_fp_delta=corpus_fp_delta,
        )
        fingerprint = fingerprint_corpus is not False
        spark = self._spark
        manifest = _read_manifest(spark, path, type(self).__name__)
        _check_incremental_lineage(self, path, manifest)
        pending = sorted(getattr(self, self._PENDING, set()))
        gens = manifest.get("generations", [])
        delta_mode = (
            corpus_fp_delta is not None
            and manifest.get("corpus") is not None
        )
        if pending and len(gens) >= max_generations:
            if self._KEY == "part":
                _flat_compact_blobs(self)
            return self._snapshot_full(
                path, fingerprint or delta_mode, stream_batch_id,
                stream_epoch,
            )
        # writer-intent token on the incremental path too: two handles
        # restored from the same tip pass the lineage check and would
        # race the generation dir and the manifest
        token = _acquire_snapshot_write(spark, path)
        if self._COLD_CORPUS:
            if fingerprint:
                corpus_fp = _corpus_fingerprint(
                    self._train, self._id_col, self._vec_col
                )
            elif delta_mode:
                corpus_fp = dict(manifest["corpus"])
                corpus_fp["n_rows"] += int(corpus_fp_delta[0])
                corpus_fp["id_crc_sum"] += int(corpus_fp_delta[1])
            else:
                corpus_fp = None
            manifest["corpus"] = corpus_fp
        old_routing = manifest.get(
            "routing_dir",
            _vdir("routing", int(manifest.get("base_version", 1))),
        )
        if pending:
            gen = (max(g["gen"] for g in gens) + 1) if gens else 1
            self.blobs.filter(
                F.col(self._KEY).isin(pending)
            ).write.mode("overwrite").parquet(f"{path}/blobs_gen_{gen}")
            gens = gens + [{"gen": gen, "shards": [int(s) for s in pending]}]
            if self._ROUTING_FOLLOWS_KEYS:
                # a fresh dir, so a crash mid-write cannot clobber the
                # one the committed manifest points at
                manifest["routing_dir"] = f"routing_g{gen}"
                self._routing_table().write.mode("overwrite").parquet(
                    f"{path}/{manifest['routing_dir']}"
                )
        elif self._ROUTING_FOLLOWS_KEYS:
            manifest["routing_dir"] = old_routing
        manifest.update(
            {
                "blobs": _blob_fingerprint(self.blobs),
                "generations": gens,
                **self._manifest_scalars(),
                **_manifest_attr_fields(
                    self._attr_cols, self._attribute_histogram
                ),
            }
        )
        _stamp_stream(manifest, stream_batch_id, stream_epoch)
        _commit_snapshot_write(spark, path, token)
        _write_manifest(spark, path, manifest)
        setattr(self, self._PENDING, set())
        self._snapshot_lineage = (path, *_lineage_token(manifest))
        if self._ROUTING_FOLLOWS_KEYS and old_routing != manifest["routing_dir"]:
            _fs_delete(spark, f"{path}/{old_routing}")
        return self

    @classmethod
    def from_snapshot(
        cls, spark, path: str, train: "DataFrame | None" = None,
        validate: bool = True,
    ):
        """Restore a serving handle from :meth:`snapshot` (plus its
        generations) — a parquet read and the driver arrays' .npy loads,
        no re-pack; answers equal the live handle's. Cold-corpus routes
        take the corpus relation ``train`` (read wherever it already
        lives); the others are self-contained and take none.

        The restored blobs are an eager ``localCheckpoint``, not a
        persist: the resident relation keeps no lineage into the
        snapshot dirs a later full snapshot's GC deletes. With
        ``validate`` (default) the blob fingerprint is re-derived and,
        where the writer recorded one, ``train`` is checked against the
        corpus fingerprint — count, id checksum, exact spot vectors;
        :class:`SnapshotIntegrityError` on a version/class mismatch, a
        truncated blob relation or a drifted corpus. The restored handle
        carries the snapshot's lineage, so :meth:`refresh` and
        :meth:`snapshot_incremental` continue the chain."""
        cls._check_train(train, "from_snapshot")
        manifest = _read_manifest(spark, path, cls.__name__)
        idx = cls.__new__(cls)
        idx._spark = spark
        idx._n_serve = max(spark.sparkContext.defaultParallelism, 1)
        idx._live_bcs = []
        _restore_attr_fields(idx, manifest)
        for key, attr in cls._scalar_fields():
            setattr(idx, attr, manifest[key])
        # the histogram was snapshotted; the live source is not needed
        # (cold-corpus routes count over the passed corpus)
        setattr(idx, cls._HIST_SOURCE, train)
        base_v = int(manifest.get("base_version", 1))
        for name, attr in cls._ARRAYS:
            setattr(
                idx, attr, _fs_read_npy(spark, f"{path}/{_vdir(name, base_v)}")
            )
        idx.blobs = (
            _resolve_generations(
                spark, path,
                spark.read.parquet(f"{path}/{_vdir('blobs', base_v)}"),
                cls._KEY, manifest.get("generations", []),
            )
            .repartition(idx._n_serve)
            .localCheckpoint(eager=True)
        )
        idx._blobs_severed = True
        if validate:
            _check_blob_fingerprint(idx.blobs, manifest["blobs"], path)
            if cls._COLD_CORPUS and manifest["corpus"] is not None:
                _check_corpus_fingerprint(
                    train, idx._id_col, idx._vec_col, manifest["corpus"],
                    path,
                )
        if cls._ROUTED:
            idx._cents_kv = spark.read.parquet(
                f"{path}/"
                f"{manifest.get('routing_dir', _vdir('routing', base_v))}"
            ).localCheckpoint(eager=True)
        idx._snapshot_lineage = (path, *_lineage_token(manifest))
        return idx

    # -- the one query path: query, query_by_window, query_by_attribute

    def _query(
        self, form: str, test: DataFrame, k: int, spec, qid_col: str,
        vec_col: str, max_queries_per_batch: int, auto_boost: bool,
        **knobs,
    ) -> DataFrame:
        """The one path under every class's :meth:`query` (``form=
        "query"``, ``spec`` the ``allowed`` filter or ``None``),
        :meth:`query_by_window` (``form="window"``, ``spec = {lo_col,
        hi_col}``: each row carries its own half-open ``[lo, hi)`` over
        the single attribute) and :meth:`query_by_attribute` (``form=
        "attr"``, ``spec = {qattr_col}``: each row's neighbors must equal
        its own value per attribute). Validates the filter or the
        constraint columns, dispatches to the near-duplicate fallback on
        quantized routes, runs the ``allowed`` filter's histogram
        strategy rule (recorded in ``last_filter_strategy``, and in
        ``last_eff_nprobe`` where ``_REPORTS_NPROBE``), checks the query
        dimension where the class knows it, and answers the batch in
        micro-batches of :meth:`_answer_batch`. ``knobs`` are the
        route's own parameters, passed through to its
        :meth:`_kernel_batch` hook. Returns (qid, rank, id, dist)."""
        from vector_index_spark.index.querychunk import chunked_over_queries
        from vector_index_spark.operators.filtered import (
            choose_filtered_strategy,
            normalize_allowed,
        )

        name = type(self).__name__
        key_cols: list = []
        if form == "query":
            if spec is not None and self._attr_cols is None:
                raise ValueError(
                    f"filtered query needs attr_col= at {name} construction"
                )
        elif form == "window":
            if self._attr_cols is None or len(self._attr_cols) != 1:
                raise ValueError(
                    "query_by_window needs exactly one attr_col= at "
                    f"{name} construction (the windowed attribute)"
                )
            key_cols = [spec["lo_col"], spec["hi_col"]]
        else:
            if self._attr_cols is None:
                raise ValueError(
                    f"query_by_attribute needs attr_col= at {name} "
                    "construction"
                )
            qattr_col = spec["qattr_col"]
            key_cols = (
                [qattr_col] if isinstance(qattr_col, str) else list(qattr_col)
            )
            if len(key_cols) != len(self._attr_cols):
                raise ValueError(
                    f"qattr_col must name {len(self._attr_cols)} column(s) "
                    f"(one per attr_col), got {qattr_col!r}"
                )
        if self._QUANTIZED:
            fb = _dense_reroute(self, k, knobs["candidate_factor"])
            if fb is not None:
                if form == "query":
                    return fb.query(
                        test, k, qid_col=qid_col, vec_col=vec_col,
                        allowed=spec,
                    )
                return getattr(fb, f"query_by_{form}")(
                    test, k, **spec, qid_col=qid_col, vec_col=vec_col
                )
        plan = None
        if form == "query":
            # a plain query is one unmasked group, an allowed= query one
            # masked group over every row; unboosted, the group's match
            # rate is 1/1 and no histogram is read
            allows = (
                None if spec is None
                else normalize_allowed(spec, len(self._attr_cols))
            )
            exact, n_match, n_corpus = False, 1, 1
            boosted = allows is not None and auto_boost
            if boosted:
                hist = self._attribute_histogram()
                n_corpus = max(sum(hist.values()), 1)
                n_match = _match_count(hist, allows)
                exact = choose_filtered_strategy(
                    n_corpus, n_match, k, 1, 1
                )[0] == "exact"
            plan = (allows, exact, n_match, n_corpus)
            # observability for tests/ops: which branch served this call
            # and the effective (possibly boosted) probe count
            self.last_filter_strategy = (
                None if allows is None
                else "exact" if exact else self._FILTER_BRANCH
            )
            if self._REPORTS_NPROBE:
                eff = None if exact else knobs["nprobe"]
                if eff is not None and boosted:
                    eff *= _boost(n_match, n_corpus)
                    cap = getattr(self, self._COUNT, None)
                    eff = eff if cap is None else min(int(cap), eff)
                self.last_eff_nprobe = eff
        # recycle the PREVIOUS call's broadcasts here, not per micro-batch:
        # a multi-chunk call would unpersist earlier chunks before the
        # lazily-unioned result executes
        self._release_broadcasts()
        t = test.select(
            F.col(qid_col).alias("qid"),
            F.col(vec_col).alias("vec"),
            *(
                F.col(c).cast("long").alias(f"__k{i}")
                for i, c in enumerate(key_cols)
            ),
        )
        if self._dimension is not None:
            from vector_index_spark.functions.distance import assert_dim

            t = assert_dim(t, "vec", self._dimension)
        return chunked_over_queries(
            t,
            lambda chunk: self._answer_batch(
                chunk, k, form, len(key_cols), plan, auto_boost, knobs
            ),
            max_queries_per_batch,
        )

    def _answer_batch(
        self, t: DataFrame, k: int, form: str, n_keys: int, plan,
        auto_boost: bool, knobs: dict,
    ) -> DataFrame:
        """One micro-batch: its rows form groups — one group for
        ``query`` (``plan`` carries its spec and strategy), one per
        tenant tuple or window for the constrained forms, each with the
        histogram strategy rule (``auto_boost=False`` forces the masked
        route). On cold-corpus routes the exact groups ride ONE join
        against the corpus (:meth:`_exact_join`); every other group
        rides ONE pass of the route's hook ``_kernel_batch(b, groups, k,
        n_corpus, auto_boost, **knobs)`` over the resident blobs, where
        ``groups`` entries are ``(allow_arrays or None, row_positions,
        exact, n_match)`` (``None``: unmasked) and groups sharing a blob
        share its unpickle. Both emit real qids. When the batch repeats
        a qid, each row is answered independently (positional probing,
        shortlists and re-rank) and the answers min-merge per (qid,
        id)."""
        from vector_index_spark.operators.filtered import (
            RangeSpec,
            choose_filtered_strategy,
        )

        pdf = t.toPandas()
        if len(pdf) == 0:
            return self._spark.createDataFrame([], _RANKED_SCHEMA)
        qids = pdf["qid"].to_numpy(dtype=np.int64)
        b = _Batch(
            pdf, qids, np.stack(pdf["vec"].to_numpy()).astype(np.float64),
            len(np.unique(qids)) < len(qids),
        )
        if form == "query":
            allows, exact, n_match, n_corpus = plan
            specs = [(allows, np.arange(len(pdf), dtype=np.int64), exact,
                      n_match)]
        else:
            hist = self._attribute_histogram()
            n_corpus = max(sum(hist.values()), 1)
            keys = np.column_stack(
                [pdf[f"__k{i}"].to_numpy(dtype=np.int64)
                 for i in range(n_keys)]
            )
            acc: dict = {}
            for pos, key in enumerate(map(tuple, keys.tolist())):
                acc.setdefault(key, []).append(pos)
            specs = []
            for key, ix in acc.items():
                if form == "window":
                    # an empty window (hi <= lo) matches nothing
                    spec = (RangeSpec(key[0], max(key[1], key[0])),)
                    n_match = _match_count(hist, spec)
                else:
                    spec = tuple(frozenset({v}) for v in key)
                    n_match = hist.get(key, 0)  # the tuple IS a hist key
                exact = auto_boost and choose_filtered_strategy(
                    n_corpus, min(n_match, n_corpus), k, 1, 1
                )[0] == "exact"
                specs.append(
                    (spec, np.asarray(ix, dtype=np.int64), exact, n_match)
                )
        cold = [s for s in specs if s[2] and self._COLD_CORPUS]
        groups = [
            (None if spec is None else _allow_arrays(spec), ix, exact,
             n_match)
            for spec, ix, exact, n_match in specs
            if not (exact and self._COLD_CORPUS)
        ]
        parts = []
        if cold:
            parts.append(self._exact_join(b, cold, k, form, n_keys))
        if groups:
            parts.append(
                self._kernel_batch(
                    b, groups, k, n_corpus, auto_boost, **knobs
                )
            )
        if len(parts) == 1:
            return parts[0]
        out = parts[0].unionByName(parts[1])
        # without a repeated qid the two parts answer disjoint qids
        return _rank_topk(out.drop("rank"), k, True) if b.dup else out

    def _exact_join(self, b, specs, k: int, form: str, n_keys: int):
        """ONE broadcast join answers every exact row of the batch
        against the cold corpus — the ``allowed`` filter as a corpus
        predicate (it reaches the scan as a pushed filter), equality on
        the attribute codes for tenants (the attribute_knn plan),
        non-equi on the bounds for windows; either way the tiny query
        side broadcasts and the corpus scans once, never shuffles. Each
        row joins only its own constraint's corpus rows, scored with
        the knn_join kernel."""
        from vector_index_spark.operators.filtered import (
            conjunction_predicate,
        )
        from vector_index_spark.operators.knn import distance_column

        rows = np.sort(np.concatenate([ix for _, ix, _, _ in specs]))
        tq = F.broadcast(_position_frame(
            self._spark, b, rows, [f"__k{i}" for i in range(n_keys)]
        ))
        corpus = self._train
        if form == "query":
            corpus = corpus.filter(
                conjunction_predicate(self._attr_cols, specs[0][0])
            )
        corpus = corpus.select(
            F.col(self._id_col).alias("id"),
            F.col(self._vec_col).alias("__cv"),
            *(
                F.col(a).cast("long").alias(f"__a{i}")
                for i, a in enumerate(self._attr_cols if n_keys else ())
            ),
        )
        if form == "query":
            joined = corpus.crossJoin(tq)
        else:
            if form == "window":
                a = F.col("__a0")
                on = (a >= F.col("__k0")) & (a < F.col("__k1"))
            else:
                on = F.col("__a0") == F.col("__k0")
                for i in range(1, n_keys):
                    on = on & (F.col(f"__a{i}") == F.col(f"__k{i}"))
            joined = corpus.join(tq, on)
        return _rank_topk(
            joined.select(
                "qid", "id",
                distance_column(
                    "euclidean2", F.col("vec"), F.col("__cv")
                ).alias("dist"),
            ),
            k, b.dup,
        )

    def _rerank(self, cands: DataFrame, b, pos, k: int,
                broadcast_cands: bool) -> DataFrame:
        """Exact re-rank of a (pos, id) shortlist against the cold
        corpus — the pq_knn/sq_knn/ivfpq_knn tail (same l2sq_arrow
        kernel, same (dist, id) window): each candidate is scored only
        against the vector of the row that shortlisted it, and takes
        that row's real qid from the broadcast query frame.

        ``broadcast_cands``: the candidate relation comes out of a
        mapInPandas scan, so AQE has NO stats for it and plans a
        sort-merge join — shuffling the CORPUS side every serving batch.
        Callers that know the batch is small (Q * ncand bounded) pass
        True, turning the corpus side into an in-place broadcast-hash
        probe: no corpus shuffle, identical rows. At the 62k bench
        corpus this is measured-neutral (the 34 MB corpus shuffle is
        noise next to the batch's fixed stage overheads; A/B medians
        1.44-1.74 s both ways); its case is asymptotic — at real corpus
        sizes the per-batch sort-merge would re-shuffle the whole
        corpus, which is the one cost a serving loop must never pay."""
        from vector_index_spark.functions.distance import l2sq_arrow

        if broadcast_cands:
            cands = F.broadcast(cands)
        tq = _position_frame(self._spark, b, pos).withColumnRenamed(
            "vec", "__qv"
        )
        rescored = (
            cands.join(
                self._train.select(
                    F.col(self._id_col).alias("id"),
                    F.col(self._vec_col).alias("__tv"),
                ),
                "id",
            )
            .join(F.broadcast(tq), "pos")
            .select(
                "qid", "id",
                l2sq_arrow()(F.col("__qv"), F.col("__tv")).alias("dist"),
            )
        )
        return _rank_topk(rescored, k, b.dup)


class ServingIndex(_ResidentBlobIndex):
    """Resident serving form of a graph index: per-shard graphs pickled
    into one persisted relation, centroid routing table checkpointed.

    ``ServingIndex(vectors, edges).warm()`` pays the one-time cogroup +
    graph-build + persist; every subsequent :meth:`query` reuses it.

    ``attr_col`` (optional) names one INTEGRAL attribute column of
    ``vectors`` — or a SEQUENCE of them for conjunction filtering
    ("lang = 'en' AND source IN (...)"; dictionary-encode string columns
    first with operators/filtered.dict_encode) — to pack into each shard
    blob offset-aligned with the graph. :meth:`query`'s ``allowed``
    value set(s) then serve filtered searches: filtered-HNSW beam under
    broad filters, masked exact GEMM over the resident matrices under
    selective ones."""

    _KEY, _SCHEMA = "shard", BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_shards", "n_shards"
    _HIST_SOURCE = "_vectors"
    _ROUTED = _ROUTING_FOLLOWS_KEYS = True
    _MANIFEST_SCALARS = (("dimension", "_dimension"),)
    _FILTER_BRANCH = "beam"
    _REPORTS_NPROBE = True
    # a restored handle routes by its snapshotted table (_cents_kv)
    _centroids = None

    def __init__(
        self,
        vectors: DataFrame,
        edges: DataFrame,
        centroids: DataFrame | None = None,
        dimension: int | None = None,
        attr_col: "str | list[str] | None" = None,
    ):
        super().__init__(vectors.sparkSession, attr_col)
        self._dimension = dimension  # set -> ragged queries fail fast
        if self._attr_cols is not None:
            vectors = _with_attr_cols(vectors, self._attr_cols)
        cg, _ = _shard_cogroup(
            vectors, edges,
            extra_cols=tuple(_attr_pack_names(self._attr_cols))
            if self._attr_cols is not None else (),
        )
        self.blobs = (
            cg.applyInPandas(_pack_shard, BLOB_SCHEMA)
            .repartition(self._n_serve)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # centroid routing table: materialized lazily on the FIRST routed
        # query — unrouted serving (nprobe=None, the stream_ann_query
        # default) never pays the full-corpus centroid aggregate
        self._vectors = vectors
        self._centroids = centroids
        self._cents_kv = None

    def refresh(
        self,
        vectors: DataFrame,
        edges: DataFrame,
        shards: list[int],
    ) -> "ServingIndex":
        """Incremental blob refresh after ``builder.append_to_index``
        (VERDICT r5 item 4): re-pack ONLY the given shards' blobs from the
        post-append (vectors, edges) relations; every other shard's blob
        row carries over from the live cache without recomputation — the
        serving mirror of append's rebuild-affected-shards-only contract.

        The pack job's cogroup reads ``shard IN shards`` filtered inputs
        (pushed to the scan — asserted in tests/test_serving.py), so its
        cost tracks the appended shards, not the corpus. The routing
        table updates the same way: affected shards' centroids recompute
        from their (small) new contents, the rest carry over. A
        user-provided ``centroids`` table (ivf_cell layout) is kept
        verbatim — the cell fit is never redone on append by contract
        (builder.append_to_index).

        Returns ``self`` with the new blob relation live and the old one
        unpersisted. Parity: refresh after append is equivalent to a cold
        ``ServingIndex(vectors, edges)`` rebuild (tests/test_serving.py).
        """
        shards = sorted({int(s) for s in shards})
        refreshed = vectors
        if self._attr_cols is not None:
            refreshed = _with_attr_cols(refreshed, self._attr_cols)
            self._attr_hist = None  # contents changed; histogram is stale
        cg, _ = _shard_cogroup(
            refreshed.filter(F.col("shard").isin(shards)),
            edges.filter(F.col("shard").isin(shards)),
            extra_cols=tuple(_attr_pack_names(self._attr_cols))
            if self._attr_cols is not None else (),
        )
        packed = cg.applyInPandas(_pack_shard, BLOB_SCHEMA)
        # kept for the touches-only-affected-shards plan assertion in tests
        self._last_refresh_packed = packed
        _swap_segment(self, packed, shards)
        # routing table: carry over unaffected shards, recompute affected
        if self._centroids is None and self._cents_kv is not None:
            old_kv = self._cents_kv
            fresh = shard_centroids(
                vectors.filter(F.col("shard").isin(shards))
            ).select(F.col("shard").alias("id"), F.col("centroid").alias("vec"))
            self._cents_kv = (
                old_kv.filter(~F.col("id").isin(shards))
                .unionByName(fresh)
                .localCheckpoint(eager=True)
            )
        self._vectors = vectors
        return self

    def _routing_table(self):
        if self._cents_kv is None:
            cents = (
                self._centroids
                if self._centroids is not None
                else shard_centroids(self._vectors)
            )
            self._cents_kv = cents.select(
                F.col("shard").alias("id"), F.col("centroid").alias("vec")
            ).localCheckpoint(eager=True)
        return self._cents_kv

    def query(
        self,
        test: DataFrame,
        k: int,
        nprobe: int | None = None,
        relaxed_monotonicity: int = 64,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        tree_merge_fanin: int | None = None,
        allowed: "list[int] | None" = None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Top-k for a (micro-)batch of queries against the resident
        index. ``nprobe=None`` searches every shard (identical to
        searcher.graph_ann_query); an integer routes by centroid
        (identical to routed_graph_ann_query). Returns
        (qid, rank, id, dist).

        ``allowed`` (requires ``attr_col`` at construction) restricts
        neighbors to matching rows. Full spec grammar
        (operators/filtered.normalize_allowed): a flat value set for
        one attribute or one spec PER attribute for a conjunction;
        each position may also be a ``range(lo, hi)``/``slice``
        interval or a ``NotIn(values)`` blocklist, and the whole thing
        may be an ``AnyOf(conj, ...)`` OR-of-conjunctions. All other
        serving classes accept the same grammar. With ``auto_boost``
        the operators/filtered strategy rule runs against a resident
        attribute histogram: a selective filter switches to a masked
        exact GEMM over EVERY resident shard matrix (the raw vectors are
        already in the blobs — exactness is free; routing would drop
        matching rows in unprobed shards), a broad one runs the
        filtered-HNSW beam with patience — and a routed call's nprobe —
        boosted by the inverse match rate. ``auto_boost=False`` runs the
        masked beam at exactly ``relaxed_monotonicity`` (parity
        testing). The shared path, :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost, nprobe=nprobe,
            relaxed_monotonicity=relaxed_monotonicity,
            tree_merge_fanin=tree_merge_fanin,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        relaxed_monotonicity: int = 64,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query attribute-EQUALITY filtered serving — the warm form
        of operators/filtered.attribute_knn and the multi-tenant serving
        pattern: each query row carries its own attribute value(s)
        (``qattr_col``: one column of ``test``, or a sequence aligned
        positionally with this index's ``attr_col``) and its neighbors
        must match them ALL exactly.

        One micro-batch may mix tenants: queries group by attribute
        tuple, each group gets its own strategy from the resident
        histogram (a small tenant runs a masked exact GEMM over the
        resident shard matrices — exact, and cheap because the mask is
        tiny; a large one runs the masked beam with the inverse-match-
        rate patience boost), and ALL groups ride the same single
        mapInPandas pass over the cached blobs. Unrouted by design: a
        tenant's rows are scattered across shards unless the shard
        layout was built per-tenant. Duplicate qids answer each row
        independently, then min-merge per (qid, id) (the shared
        query path, :meth:`_query`). Returns (qid,
        rank, id, dist)."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            relaxed_monotonicity=relaxed_monotonicity,
        )

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        relaxed_monotonicity: int = 64,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query WINDOW filtered serving (round 8): each query row
        carries its own half-open interval ``[lo_col, hi_col)`` over
        this index's single attribute — the per-user recency/date-window
        workload ("this user's candidates from the last 30 days", each
        request with its own window). The per-query form of a RangeSpec
        filter, the way :meth:`query_by_attribute` is the per-query form
        of a value-set filter.

        A micro-batch groups by distinct (lo, hi); each group gets the
        histogram-driven strategy (narrow window -> masked exact GEMM;
        wide -> masked beam with inverse-match-rate patience boost), and
        ALL groups ride one mapInPandas pass over the cached blobs.
        Requires a single ``attr_col`` at construction. Returns
        (qid, rank, id, dist)."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            relaxed_monotonicity=relaxed_monotonicity,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        relaxed_monotonicity: int, nprobe: "int | None" = None,
        tree_merge_fanin: "int | None" = None,
    ) -> DataFrame:
        """Graph hook of the shared query path: ONE mapInPandas pass over
        the resident shard graphs (the shards each row probes when
        ``nprobe`` routes by centroid; every shard for exact groups)
        answers every group. Exact groups run a grouped masked exact
        GEMM over the shard matrices (the raw vectors are resident, so
        exactness is free; groups sharing a shard share one distance
        matrix); the rest run the (filtered-)HNSW beam, whose patience
        ``auto_boost`` multiplies by the group's inverse match rate (at
        most 8x). The per-shard partials merge in one exchange
        (:func:`_merge_topk`, or :func:`tree_merge_topk` at
        ``tree_merge_fanin``); a batch repeating a qid min-merges per
        (qid, id) instead."""
        plan = _probe_plan(self, b, groups, nprobe, n_corpus)
        bgroups = [
            (
                allow, ix, exact,
                relaxed_monotonicity * _boost(n_match, n_corpus)
                if auto_boost and not exact else relaxed_monotonicity,
            )
            for allow, ix, exact, n_match in groups
        ]
        bc = self._spark.sparkContext.broadcast((b.qids, b.Q, bgroups, plan))
        self._live_bcs.append(bc)

        def search(batches):
            from vector_index_spark.index.cellscan import (
                grouped_masked_topk_frame,
            )

            q_ids, q_mat, b_groups, b_plan = bc.value
            for pdf_b in batches:
                out_qid, out_id, out_dist = [], [], []
                frames = []
                for shard, blob in zip(pdf_b["shard"], pdf_b["blob"]):
                    here = _visiting(b_plan, shard, b_groups)
                    if not here:
                        continue
                    g = pickle.loads(blob)
                    exact_groups = []
                    for gi, gq, mask in _masks(g.attrs, here, b_groups):
                        _, _, exact, patience = b_groups[gi]
                        if exact:
                            exact_groups.append((gq, mask))
                            continue
                        for qi in gq:
                            for d, off in query_shard(
                                g, q_mat[qi], k, patience, allowed=mask
                            ):
                                out_qid.append(int(q_ids[qi]))
                                out_id.append(int(g.ids[off]))
                                out_dist.append(d)
                    if exact_groups:
                        # ONE distance matrix per shard; each exact
                        # group selects its top-k from its mask's columns
                        frames.append(
                            grouped_masked_topk_frame(
                                q_ids, q_mat, g.ids, g.X, exact_groups, k,
                            )
                        )
                beam = pd.DataFrame(
                    {"qid": out_qid, "id": out_id, "dist": out_dist}
                )
                yield (
                    pd.concat([beam, *frames], ignore_index=True)
                    if frames
                    else beam
                )

        per_shard = _probed(self, plan).mapInPandas(search, RESULT_SCHEMA)
        if b.dup:
            return _rank_topk(per_shard, k, True)
        if tree_merge_fanin is not None:
            # group count = per_shard's ACTUAL partition count (the blob
            # relation's n_serve), not the pack-time cogroup count — a
            # larger figure would add a no-op first merge level
            return tree_merge_topk(per_shard, k, self._n_serve, tree_merge_fanin)
        return _merge_topk(per_shard, k)


CELL_BLOB_SCHEMA = "cell long, n_vectors long, blob binary"


def _pack_keyed(key_col: str, src_col: str, dtype):
    """``applyInPandas`` pack for the keyed routes: one id-sorted
    (ids, matrix[, attrs]) blob per key — raw float64 vectors on
    Cell/RPT, int32 residual codes on IVF-PQ. ``pack`` carries no type
    hints: partial hints make ``applyInPandas`` warn on every call, and
    without any it takes the grouped-map form directly."""

    def pack(key, pdf):
        if len(pdf) == 0:
            return pd.DataFrame(columns=[key_col, "n_vectors", "blob"])
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        payload: tuple = (ids, np.stack(pdf[src_col].to_numpy()).astype(dtype))
        attrs = _stack_attrs(pdf)
        if attrs is not None:
            payload = (*payload, attrs)
        return pd.DataFrame(
            {
                key_col: [int(key[0])],
                "n_vectors": [len(ids)],
                "blob": [pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)],
            }
        )

    return pack


def _pack_flat(mats_of):
    """``mapInPandas`` pack for the flat scan routes (PQ / SQ / PCA):
    one id-sorted (ids, *mats_of(rows)[, attrs]) blob per partition,
    keyed by its min id — globally unique, so remove() and the
    generation resolve can key blobs by ``part``."""

    def pack(batches):
        rows = [pdf for pdf in batches if len(pdf)]
        if not rows:
            return
        pdf = pd.concat(rows, ignore_index=True).sort_values("id")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        payload: tuple = (ids, *mats_of(pdf))
        attrs = _stack_attrs(pdf)
        if attrs is not None:
            payload = (*payload, attrs)
        yield pd.DataFrame(
            {
                "part": [int(ids[0])],
                "n_vectors": [len(ids)],
                "blob": [pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)],
            }
        )

    return pack


def _code_relation(code_rel: DataFrame, idx) -> DataFrame:
    """The code relation a compressed route packs, with the attribute
    codes joined on from the cold corpus when the handle packs
    attributes — a one-time build-side id equi-join (at 100 TB both
    sides shuffle once on id; never paid per batch)."""
    if idx._attr_cols is None:
        return code_rel
    return code_rel.join(
        idx._train.select(
            F.col(idx._id_col).alias("id"),
            *_attr_code_exprs(idx._train, idx._attr_cols),
        ),
        "id",
    )


def _pq_codes(R, books) -> np.ndarray:
    """Per-subspace nearest codewords of the rows of ``R`` — identical
    math to ``pq.encode_pq`` and build_ivfpq's residual encode (the
    tie-safe GEMM form), so refreshed payloads byte-match a cold
    encode."""
    from vector_index_spark.index.pq import argmin_sq_dist

    m, _, sub = books.shape
    codes = np.empty((len(R), m), dtype=np.int32)
    for s in range(m):
        codes[:, s] = argmin_sq_dist(R[:, s * sub : (s + 1) * sub], books[s])
    return codes


class CellServingIndex(_ResidentBlobIndex):
    """Warm serving for cell-partitioned flat routes (IVF): the
    ``assigned`` relation of :func:`~vector_index_spark.index.ivf.build_ivf`
    packs into one resident (cell, ids, matrix) blob relation, and a
    query batch costs routing + a GEMM map over probed cached cells + the
    small merge — the :class:`ServingIndex` pattern with a brute-force
    cell scan instead of a beam search. Answers are byte-identical to
    :func:`~vector_index_spark.index.ivf.ivf_knn` (same float64 kernel,
    same (dist, id) order; replicated postings dedupe in the merge —
    asserted in tests/test_serving.py).

    ``attr_col`` (optional) names one INTEGRAL attribute column of
    ``assigned`` — or a sequence of them for conjunction filtering
    (dictionary-encode strings upstream with
    operators/filtered.dict_encode) — to pack into each cell blob
    alongside the vectors; filtered queries (``query(allowed=...)``)
    then mask candidates in-kernel before the GEMM — the serving analog
    of operators/filtered.ivf_filtered_knn, with the predicate evaluated
    on resident arrays instead of a posting scan."""

    _KEY, _SCHEMA = "cell", CELL_BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_cells", "n_cells"
    _HIST_SOURCE = "_assigned"
    _ROUTED = True

    def __init__(
        self,
        assigned: DataFrame,
        centroids: DataFrame,
        attr_col: "str | list[str] | None" = None,
    ):
        super().__init__(assigned.sparkSession, attr_col)
        cols = [F.col("centroid_id").alias("cell"), F.col("id"), F.col("vec")]
        if self._attr_cols is not None:
            cols.extend(_attr_code_exprs(assigned, self._attr_cols))
        self.blobs = (
            assigned.select(*cols)
            .groupBy("cell")
            .applyInPandas(
                _pack_keyed("cell", "vec", np.float64), CELL_BLOB_SCHEMA
            )
            .repartition(self._n_serve)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._assigned = assigned if self._attr_cols is not None else None
        # the centroid table is tiny (one row per cell) — checkpoint now,
        # with its driver copy for routing and refresh
        self._cents_kv = centroids.select(
            F.col("centroid_id").alias("id"), "vec"
        ).localCheckpoint(eager=True)
        self._routing_matrix()

    def _encode(self, X):
        """Refresh hook: each wave row routes to its nearest EXISTING
        cell (cells never refit on append — builder.append_to_index's
        ivf_cell rule) and its blob rows carry the raw vectors. With a
        replicated layout (``replicas > 1``) appended rows land in
        their primary cell only — boundary replication is a build-time
        recall device, so per-cell parity with a cold pack holds at
        replicas=1 (tested). The centroids come from the driver copy
        of the routing table (:meth:`_routing_matrix`), id-sorted."""
        keys, C = self._routing_matrix()
        order = np.argsort(keys, kind="stable")
        return keys[order][_nearest_cell(X, C[order])], (X,)

    def query(
        self,
        test: DataFrame,
        k: int,
        nprobe: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        allowed: "list[int] | None" = None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """IVF top-k for a (micro-)batch against the resident cells.
        Returns (qid, rank, id, dist).

        ``allowed`` (requires ``attr_col`` at construction) restricts
        neighbors to matching rows — a flat value set for one attribute,
        one value set per attribute for a conjunction. With
        ``auto_boost`` the operators/filtered strategy rule runs against
        a resident attribute histogram: a selective filter visits EVERY
        cell (the serving analog of the brute-force-exact branch — still
        one map over cached blobs), a broad one boosts nprobe by the
        inverse match rate. Pass ``auto_boost=False`` to probe exactly
        ``nprobe`` cells (parity testing). The shared path,
        :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost, nprobe=nprobe,
        )

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        nprobe: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query WINDOW serving on the IVF route (round 10): each
        query row carries its own half-open ``[lo_col, hi_col)``
        interval over this index's single attribute —
        :meth:`ServingIndex.query_by_window`'s contract over resident
        cell blobs. A narrow window probes EVERY cell, where the
        range-masked GEMM over the resident raw vectors is exact; a wide
        one probes routed cells with the largest inverse-match-rate
        nprobe boost; ALL groups ride ONE mapInPandas pass over the
        cached blobs. Returns (qid, rank, id, dist)."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            nprobe=nprobe,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        nprobe: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Multi-tenant serving on the IVF route (round 10): each query
        row carries its own attribute value(s) (``qattr_col``: one
        column, or a sequence aligned with this index's ``attr_col``)
        and neighbors must match them ALL exactly —
        :meth:`ServingIndex.query_by_attribute`'s contract over resident
        cell blobs. Tenants group inside one blob pass (a small tenant
        probes EVERY cell, where the masked GEMM is exact; a large one
        probes routed cells at the boosted nprobe). Returns (qid, rank,
        id, dist)."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost, nprobe=nprobe,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        nprobe: int,
    ) -> DataFrame:
        """Cell hook of the shared query path: exact groups visit EVERY
        cell (the masked GEMM over resident raw vectors is exact), the
        rest probe routed cells at the boosted nprobe
        (:func:`_probe_plan`). Each visited blob runs ONE grouped masked
        GEMM over the groups of the rows visiting it; replicas min-merge
        per (qid, id)."""
        n_exact_groups = sum(1 for g in groups if g[2])
        if n_exact_groups > 8 and not getattr(
            self, "_warned_constraint_scan", False
        ):
            # measured routing rule as code, not docs (VERDICT r10 item
            # 5): every selective group on this route pays an all-cell
            # masked GEMM — +60% vs graph/IVF-PQ at 10 distinct windows
            # on the 500k probe (SCALE.md round 10)
            import warnings

            warnings.warn(
                f"CellServingIndex batch carries {n_exact_groups} "
                "distinct selective constraints; each rides the "
                "all-cell masked GEMM on this route (measured +60% vs "
                "graph/IVF-PQ at 10 distinct windows, 500k rows — "
                "SCALE.md). Row-unique constraint batches belong on "
                "ServingIndex / IvfPqServingIndex (single-pass per-row "
                "masks); the VectorIndex facade's query_by_window / "
                "query_by_attribute dispatch there automatically.",
                RuntimeWarning,
                stacklevel=7,
            )
            self._warned_constraint_scan = True
        plan = _probe_plan(self, b, groups, nprobe, n_corpus)
        bc = self._spark.sparkContext.broadcast(
            (b.qids, b.Q, [g[:2] for g in groups], plan)
        )
        self._live_bcs.append(bc)

        def search(batches):
            from vector_index_spark.index.cellscan import (
                grouped_masked_topk_frame,
            )

            q_ids, q_mat, b_groups, b_plan = bc.value
            for pdf_b in batches:
                frames = []
                for cell, blob in zip(pdf_b["cell"], pdf_b["blob"]):
                    here = _visiting(b_plan, cell, b_groups)
                    if not here:
                        continue
                    payload = pickle.loads(blob)
                    # mask the resident arrays in-kernel, ONE distance
                    # matrix per blob (the cell_topk_scan kernel when one
                    # group visits); ids stay sorted -> (dist, id) order
                    kg = [
                        (gq, mask) for _, gq, mask in _masks(
                            payload[2] if len(payload) > 2 else None,
                            here, b_groups,
                        )
                    ]
                    if kg:
                        frames.append(
                            grouped_masked_topk_frame(
                                q_ids, q_mat, payload[0], payload[1], kg, k,
                            )
                        )
                yield (
                    pd.concat(frames, ignore_index=True)
                    if frames
                    else pd.DataFrame({"qid": [], "id": [], "dist": []})
                )

        # same deterministic replica resolution as ivf_knn: min-dist per
        # (qid, id), then the (dist, id) ranking window
        return _rank_topk(
            _probed(self, plan).mapInPandas(search, RESULT_SCHEMA), k, True
        )


# ---------------------------------------------------------------------------
# Warm serving for the compressed routes (VERDICT r5 item 3): PQ, SQ, and
# IVF-PQ pay a per-batch re-read/re-join of the code relation in a serving
# loop. The blob pattern applies unchanged: codes pack into resident
# binary rows ONCE, codebooks/bounds stay broadcast, and a query batch is
# a map over cached blob rows (partition-pruned by cell for IVF-PQ) plus
# the usual shortlist -> exact-re-rank tail. Raw vectors deliberately stay
# COLD (the compressed routes exist so the resident set is codes, not
# floats — SCALE.md byte math); the exact re-rank reads them with the same
# id join as the batch paths, which is an id-bucket-pruned lookup of
# O(Q * candidate_factor * k) rows at scale.
# ---------------------------------------------------------------------------

CODE_BLOB_SCHEMA = "part long, n_vectors long, blob binary"


def _collect_wave(idx, new_rows: DataFrame):
    """Driver-side wave materialization shared by every refresh path
    but the graph route's: select (id, vec[, attr codes]), toPandas
    capped at ``idx.wave_row_cap`` rows (the one-ingest-wave bound is
    ENFORCED — an oversized wave raises :class:`WaveCapExceeded`
    instead of OOMing the driver), return (ids int64, X float64, attrs
    or None) — or None for an empty wave. Cold-corpus routes take the
    attribute codes from their post-append corpus ``idx._train`` by id
    join and reset the strategy histogram (it recomputes from that
    corpus); self-contained routes read the codes off ``new_rows`` and
    advance the histogram by the wave (:func:`_bump_hist_with_wave`)."""
    attr_source = (
        idx._train
        if idx._attr_cols is not None and idx._COLD_CORPUS else None
    )
    rows = new_rows.select(
        F.col(idx._id_col).alias("id"),
        F.col(idx._vec_col).alias("vec"),
        *(
            _attr_code_exprs(new_rows, idx._attr_cols)
            if idx._attr_cols is not None and attr_source is None else ()
        ),
    )
    if attr_source is not None:
        # LEFT join: the precondition checks ("train is the POST-APPEND
        # corpus; ids unique in it") then read off the collected wave
        # itself — a missing train id surfaces as a NULL attr code (the
        # build-side code is never null: NULL attrs map to a sentinel),
        # a duplicated train id as a duplicated wave id. No second
        # action over new_rows, and the two causes report distinctly.
        rows = rows.join(
            attr_source.select(
                F.col(idx._id_col).alias("id"),
                *_attr_code_exprs(attr_source, idx._attr_cols),
            ),
            "id",
            "left",
        )
        idx._attr_hist = None  # contents changed; histogram is stale
    cap = int(getattr(idx, "wave_row_cap", WAVE_ROW_CAP))
    wave = rows.limit(cap + 1).toPandas()  # bounded collect, ONE action
    _require_wave_cap(idx, len(wave), cap)
    if attr_source is not None and len(wave):
        if wave["__attr0"].isna().any():
            # enforced loudly: the id-join would otherwise silently drop
            # the missing rows from the serving blobs forever while the
            # snapshot advances
            raise ValueError(
                "refresh(new_rows, train): some wave ids are missing "
                "from the passed train relation — train must be the "
                "POST-APPEND cold corpus containing every wave row "
                "(its attribute columns ride the id-join into the "
                "resident blobs)"
            )
        if wave["id"].duplicated().any():
            raise ValueError(
                "refresh(new_rows, train): DUPLICATE ids in the "
                "collected wave — either new_rows carries the same id "
                "twice, or train has duplicate rows for some wave ids "
                "(the attribute id-join would multiply those rows into "
                "the resident blobs). Ids must be unique on BOTH sides "
                "(id-primary-key)"
            )
    if len(wave) == 0:
        return None
    ids = wave["id"].to_numpy(dtype=np.int64)
    X = np.stack(wave["vec"].to_numpy()).astype(np.float64)
    return ids, X, _stack_attrs(wave)


def _bump_hist_with_wave(idx, attrs) -> None:
    """Advance a self-contained class's strategy histogram by the
    wave's attribute tuple counts (wave ids are NEW, and the histogram
    counts distinct ids per tuple) — no rescan of a source relation
    that is stale or gone after restore. Cold-corpus classes recompute
    from their post-append corpus instead (reset in
    :func:`_collect_wave`)."""
    if idx._COLD_CORPUS or idx._attr_cols is None or attrs is None:
        return
    hist = dict(idx._attribute_histogram())
    uniq, counts = np.unique(attrs, axis=0, return_counts=True)
    for tup, cnt in zip(uniq, counts):
        key = tuple(int(v) for v in tup)
        hist[key] = hist.get(key, 0) + int(cnt)
    idx._attr_hist = hist


def _id_sorted(fields) -> tuple:
    """One blob payload ``(ids, *mats[, attrs])`` with every per-row
    field in id order — a merged blob then byte-equals a cold pack over
    the union relation."""
    order = np.argsort(fields[0], kind="stable")
    return tuple(f[order] for f in fields)


def _flat_compact_blobs(idx) -> None:
    """Merge the resident flat-route blob relation back to ``n_serve``
    blobs (round 13): repeated waves each append a small blob
    (:func:`_keyed_refresh`); every per-batch scan then pays one
    unpickle + small kernel per blob row. Run at the snapshot FOLD
    (every ``max_generations`` waves — amortized corpus-sized, exactly
    like the fold's full base write): payloads concatenate id-sorted
    within each of ``n_serve`` partitions, parts keyed by the
    partition's min part (disjoint groups of unique parts stay
    unique)."""

    def merge(batches):
        payloads, parts = [], []
        for pdf in batches:
            for p, blob in zip(pdf["part"], pdf["blob"]):
                payloads.append(pickle.loads(bytes(blob)))
                parts.append(int(p))
        if not payloads:
            return
        # field-generic: (ids, codes[, attrs]) on PQ/SQ, (ids, P, X
        # [, attrs]) on PCA — concatenate every field, id-sorted
        n_fields = len(payloads[0])
        ids = np.concatenate([pl[0] for pl in payloads])
        order = np.argsort(ids, kind="stable")
        payload = tuple(
            [ids[order]]
            + [
                np.concatenate([pl[f] for pl in payloads], axis=0)[order]
                for f in range(1, n_fields)
            ]
        )
        yield pd.DataFrame(
            {
                "part": [int(ids.min())],  # min merged id: globally unique
                "n_vectors": [len(ids)],
                "blob": [pickle.dumps(payload,
                                      protocol=pickle.HIGHEST_PROTOCOL)],
            }
        )

    _compact_resident(idx, merge)
    setattr(idx, idx._COUNT, idx.blobs.count())
    idx._blobs_severed = True


def _keyed_refresh(idx, ids, keys, mats, attrs) -> None:
    """The one wave merge of :meth:`_ResidentBlobIndex.refresh`:
    ``keys`` is each wave row's blob key from the route's ``_encode``
    (``None`` on a flat route: the wave becomes ONE fresh ``part``,
    ``max + 1`` — unique, so the generation-claim resolve on ``part``
    stays sound) and ``mats`` its tuple of per-row payload matrices
    (raw X on Cell/RPT, residual codes on IVF-PQ, PQ/SQ codes, PCA
    (projection, raw)). The rows merge into only the affected keys'
    resident blobs (a key with no blob row yet, every fresh part among
    them, is created from the wave alone); every other blob carries
    over. Per-blob payloads are id-sorted ``(ids, *mats[, attrs])``
    arrays, so a merged blob byte-equals a cold pack over the union
    relation. Flat routes scan every blob with per-blob shortlists, so
    appending a blob is their wave-sized refresh (recall is monotone in
    blob count); the snapshot fold compacts the blob count back
    (:func:`_flat_compact_blobs`)."""
    spark = idx._spark
    key_col = idx._KEY
    flat = keys is None
    if flat:
        keys = np.full(len(ids), int(
            idx.blobs.agg(F.coalesce(F.max(key_col), F.lit(-1)))
            .collect()[0][0]
        ) + 1)
    fields = (ids, *mats) + (() if attrs is None else (attrs,))
    order = np.argsort(keys, kind="stable")
    affected, starts = np.unique(keys[order], return_index=True)
    affected = [int(c) for c in affected]
    add = {
        c: tuple(f[ix] for f in fields)
        for c, ix in zip(affected, np.split(order, starts[1:]))
    }
    # a fresh flat part is known to be missing: no lookup job
    present = set() if flat else {
        int(r[key_col])
        for r in idx.blobs.filter(F.col(key_col).isin(affected))
        .select(key_col).collect()
    }
    plans = []
    if present:
        # recycle the previous call's broadcasts first (the same
        # posture as the query paths): the prior wave's merge was
        # materialized by its eager localCheckpoint, so its broadcast is
        # consumed — a long pure-maintain stream must not accumulate one
        # per wave
        idx._release_broadcasts()
        bc = spark.sparkContext.broadcast(add)
        idx._live_bcs.append(bc)

        def merge(batches):
            for pdf_b in batches:
                keys_o, nvec_o, blob_o = [], [], []
                for key, blob in zip(pdf_b[key_col], pdf_b["blob"]):
                    payload = _id_sorted([
                        np.concatenate([old, new], axis=0)
                        for old, new in zip(
                            pickle.loads(blob), bc.value[int(key)],
                            strict=True,
                        )
                    ])
                    keys_o.append(int(key))
                    nvec_o.append(len(payload[0]))
                    blob_o.append(
                        pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)
                    )
                yield pd.DataFrame(
                    {key_col: keys_o, "n_vectors": nvec_o, "blob": blob_o}
                )

        plans.append(
            idx.blobs.filter(F.col(key_col).isin(sorted(present)))
            .mapInPandas(merge, idx._SCHEMA)
        )
    missing = [c for c in affected if c not in present]
    if missing:
        plans.append(spark.createDataFrame(
            [
                (c, int(len(add[c][0])), bytearray(pickle.dumps(
                    _id_sorted(add[c]), protocol=pickle.HIGHEST_PROTOCOL,
                )))
                for c in missing
            ],
            idx._SCHEMA,
        ))
    _swap_segment(idx, reduce(DataFrame.unionByName, plans), affected)
    _bump_hist_with_wave(idx, attrs)


def _nearest_cell(X, C) -> np.ndarray:
    """Row position in the id-sorted centroid matrix ``C`` of each row
    of ``X``'s nearest centroid — identical math to the build-side
    assignment (the GEMM form)."""
    d = (X * X).sum(1)[:, None] - 2.0 * X @ C.T + (C * C).sum(1)[None, :]
    return d.argmin(axis=1)


def _collect_remove_ids(idx, ids) -> "np.ndarray | None":
    """Bounded driver intake of a remove wave's ids — a DataFrame with
    an ``id`` column, or any iterable of ints; the ingest wave cap
    applies (a takedown list is a wave, not a corpus). The cap is
    checked AFTER dedup (round 15 review): takedown feeds routinely
    re-deliver the same ids, and a list that is under the cap once
    collapsed must not be rejected on its raw row count."""
    cap = int(getattr(idx, "wave_row_cap", WAVE_ROW_CAP))
    if isinstance(ids, DataFrame):
        col = "id" if "id" in ids.columns else ids.columns[0]
        pdf = (
            ids.select(F.col(col).alias("id")).distinct()
            .limit(cap + 1).toPandas()
        )
        _require_wave_cap(idx, len(pdf), cap)
        arr = np.unique(pdf["id"].to_numpy(dtype=np.int64))
    else:
        arr = np.unique(np.asarray([int(i) for i in ids], dtype=np.int64))
        _require_wave_cap(idx, len(arr), cap)
    return arr if len(arr) else None


def _subtract_removed_ledger(idx, hist: dict) -> dict:
    """Re-apply resident removes to a histogram recomputed from a STALE
    source (round 15 review): the lazy recompute sources (``_train`` /
    ``_assigned`` / ``_projected``) still contain the removed rows —
    remove() never rewrites the cold corpus — so a recompute would
    silently resurrect the removed ids' tuple counts and skew the
    filtered-query strategy rule. The ledger (id -> tuple) accumulates
    for the handle's lifetime; restored handles take their histogram
    from the manifest (already decremented, sources None), so the
    ledger only matters on live handles."""
    ledger = getattr(idx, "_removed_tuple_ledger", None)
    return _subtract_tuples(hist, ledger.values()) if ledger else hist


def _subtract_tuples(hist: dict, tuples) -> dict:
    """A copy of ``hist`` with one id less per attribute tuple in
    ``tuples`` (ids are unique, so distinct-id counts subtract)."""
    hist = dict(hist)
    for t in tuples:
        left = hist.get(t, 0) - 1
        if left > 0:
            hist[t] = left
        else:
            hist.pop(t, None)
    return hist


def _resident_remove(idx, ids) -> int:
    """Remove rows by id from a resident blob relation (round 15,
    VERDICT r14 item 3) — the delete half of the ingest lifecycle for
    every maskable serving class (Cell / RPT keyed routes; IVF-PQ
    compressed cells; PQ / SQ / PCA flat parts). The reference has no
    deletes at all ('no deletes and no updates', SURVEY §1.3); this is
    engine-extension capability, completing takedown/GDPR flows without
    a cold rebuild + re-warm.

    Mechanics: ONE scan over the resident blobs finds and masks the
    doomed rows (there is no materialized id->key map, and boundary
    REPLICAS of a doomed id must all go, so the scan is the honest
    cost); affected keys' masked blobs land as a checkpointed segment
    on the standard stack (byte/count-bounded compaction applies), and
    a FULLY-emptied key's blob row drops from the resident relation.
    The affected keys queue for the next incremental snapshot, which
    snapshot claims them, and an emptied key with no generation row
    restores as removed (:func:`_resolve_generations`'s existing
    claimed-but-absent semantics — no snapshot-format change). The
    attribute strategy histogram decrements by the removed rows' tuple
    counts (ids are unique, so per-tuple distinct-id counts subtract
    exactly).

    Removed ids are RETIRED, not recyclable: ids are the primary key
    (reference global_offset semantics), and on the compressed routes
    the cold re-rank corpus still holds the dead rows until its own
    compaction — re-inserting a removed id before that would join two
    corpus rows per id. Returns the number of rows removed (replica
    copies counted)."""
    spark = idx._spark
    key_col = idx._KEY
    doomed = _collect_remove_ids(idx, ids)
    if doomed is None:
        return 0
    # key-identity guard (round 15 review): remove() replaces affected
    # blobs BY KEY, so duplicate keys (a pre-round-15 flat pack or
    # snapshot used non-unique informational part keys) would silently
    # drop a colliding unaffected blob. Current packs key flat blobs by
    # their min id (globally unique); refuse loudly on legacy relations.
    dup = (
        idx.blobs.groupBy(key_col).count()
        .filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise SnapshotIntegrityError(
            f"resident blob relation carries duplicate {key_col!r} keys "
            "(a pre-round-15 flat pack/snapshot used non-unique "
            "informational part keys) — remove() keys affected blobs by "
            f"{key_col} and would silently drop a colliding unaffected "
            "blob. Rebuild the handle cold from its source relation "
            "(which re-keys uniquely), then remove"
        )
    idx._release_broadcasts()
    bc = spark.sparkContext.broadcast(doomed)
    idx._live_bcs.append(bc)
    attred = idx._attr_cols is not None
    interm = f"{key_col} long, n_vectors long, blob binary, removed binary"

    def drop(batches):
        for pdf_b in batches:
            keys_o, nvec_o, blob_o, rem_o = [], [], [], []
            for key, blob in zip(pdf_b[key_col], pdf_b["blob"]):
                payload = pickle.loads(blob)
                hit = np.isin(payload[0], bc.value)
                if not hit.any():
                    continue  # unaffected: carries over via lazy filter
                keep = ~hit
                n = len(payload[0])
                # every per-row field masks on axis 0 (ids, codes/X/P,
                # attrs); model arrays never ride in payloads
                masked = tuple(
                    f[keep]
                    if isinstance(f, np.ndarray) and len(f) == n
                    else f
                    for f in payload
                )
                # side-channel the removed IDS (not just a count): the
                # histogram counts DISTINCT ids per tuple, and with
                # boundary replicas one doomed id masks out of several
                # blobs — the driver dedups before decrementing
                removed = (
                    payload[0][hit],
                    payload[-1][hit] if attred else None,
                )
                keys_o.append(int(key))
                nvec_o.append(int(keep.sum()))
                blob_o.append(
                    pickle.dumps(masked, protocol=pickle.HIGHEST_PROTOCOL)
                )
                rem_o.append(
                    pickle.dumps(removed, protocol=pickle.HIGHEST_PROTOCOL)
                )
            yield pd.DataFrame(
                {key_col: keys_o, "n_vectors": nvec_o, "blob": blob_o,
                 "removed": rem_o}
            )

    out = idx.blobs.mapInPandas(drop, interm).localCheckpoint(eager=True)
    try:
        aff_rows = out.select(key_col, "removed").collect()
        if not aff_rows:
            return 0
        affected = sorted(int(r[key_col]) for r in aff_rows)
        n_removed = 0
        seen_tuples: "dict[int, tuple] | None" = {} if attred else None
        for r in aff_rows:
            rem_ids, rem_attrs = pickle.loads(bytes(r["removed"]))
            n_removed += int(len(rem_ids))
            if seen_tuples is not None and rem_attrs is not None:
                for rid, tup in zip(rem_ids, rem_attrs):
                    seen_tuples[int(rid)] = tuple(
                        int(v) for v in np.atleast_1d(tup)
                    )
        if seen_tuples is not None:
            # materialize the histogram BEFORE extending the ledger: a
            # never-computed histogram recomputes lazily through
            # _subtract_removed_ledger, and recording this remove's ids
            # first would subtract them twice
            hist = idx._attribute_histogram()
            ledger = dict(getattr(idx, "_removed_tuple_ledger", {}) or {})
            ledger.update(seen_tuples)
            idx._removed_tuple_ledger = ledger
            idx._attr_hist = _subtract_tuples(hist, seen_tuples.values())
        _swap_segment(
            idx,
            out.filter(F.col("n_vectors") > 0)
            .select(key_col, "n_vectors", "blob"),
            affected,
        )
    finally:
        out.unpersist()
    return n_removed


_RANKED_SCHEMA = "qid long, rank int, id long, dist double"


class _Batch(NamedTuple):
    """One collected query micro-batch of the shared query path."""

    pdf: pd.DataFrame  # (qid, vec[, __k<i> constraint keys]) rows
    qids: np.ndarray  # int64 qid of each row position
    Q: np.ndarray  # float64 query matrix, one row per position
    dup: bool  # some qid repeats: its rows answer independently


def _boost(n_match: int, n_corpus: int) -> int:
    """Inverse-match-rate boost of a filtered group's probe count or
    beam patience, at most 8x (the operators/filtered strategy rule)."""
    return min(8, math.ceil(1.0 / (max(n_match, 1) / n_corpus)))


def _rank_topk(cands: DataFrame, k: int, dedupe: bool) -> DataFrame:
    """Top-k per qid by (dist, id) of a (qid, id, dist) candidate
    relation. ``dedupe`` first keeps each (qid, id)'s best distance —
    boundary replicas of one id, or the rows of a repeated qid, each
    answered independently: min-merging their candidates equals
    min-merging the rows' own top-k lists, since an id in the merged
    top-k is in the top-k of the row that scored it best."""
    from pyspark.sql import Window

    if dedupe:
        cands = cands.groupBy("qid", "id").agg(F.min("dist").alias("dist"))
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "id", "dist")
    )


def _position_frame(spark, b: _Batch, pos, extra=()) -> DataFrame:
    """The batch rows ``pos`` as a (qid, pos, vec[, extra]) relation —
    the broadcast query side of the probe, exact-join and re-rank
    stages, which key by row position and carry the row's real qid."""
    sub = b.pdf.iloc[pos][["vec", *extra]].copy()
    sub.insert(0, "pos", np.asarray(pos, dtype=np.int64))
    sub.insert(0, "qid", b.qids[pos])
    sub["vec"] = sub["vec"].map(list)  # ndarray cells -> plain lists
    return spark.createDataFrame(sub)


def _group_of_position(n: int, groups) -> np.ndarray:
    """Row position -> index of its group (-1: no group)."""
    gid = np.full(n, -1, dtype=np.int64)
    for gi, g in enumerate(groups):
        gid[g[1]] = gi
    return gid


def _positions_by_group(ix, gid) -> list:
    """Split the sorted row positions ``ix`` visiting one blob by their
    group: ``[(group index, positions)]`` in one stable sort, so a
    row-unique batch stays O(n log n) per blob."""
    order = np.argsort(gid[ix], kind="stable")
    ix, g = ix[order], gid[ix][order]
    cuts = np.flatnonzero(np.diff(g)) + 1
    return [
        (int(g[start]), part)
        for start, part in zip(np.r_[0, cuts], np.split(ix, cuts))
    ]


def _plan(acc: dict, every: list, groups, n: int) -> tuple:
    """A probe plan: (blob key -> sorted row positions, the positions
    that visit every blob, row position -> group)."""
    return (
        {key: np.asarray(sorted(set(ix)), dtype=np.int64)
         for key, ix in acc.items()},
        np.sort(np.concatenate(every)) if every
        else np.empty(0, dtype=np.int64),
        _group_of_position(n, groups),
    )


def _probe_plan(idx, b: _Batch, groups, nprobe, n_corpus: int):
    """Which rows visit which blobs on the centroid-routed hooks (graph
    with ``nprobe``, Cell, IVF-PQ): rows of exact groups visit every
    blob; the other rows probe their nearest routing-table entries
    (:func:`_nearest_keys`) at ``nprobe`` boosted by the LARGEST inverse
    match rate among their groups. ``nprobe=None`` needs no plan: every
    row visits every blob."""
    if nprobe is None:
        return None
    probing = [(ix, n) for _, ix, exact, n in groups if not exact]
    acc: dict = {}
    if probing:
        pos = np.sort(np.concatenate([ix for ix, _ in probing]))
        keys, C = idx._routing_matrix()
        n = nprobe * max(_boost(m, n_corpus) for _, m in probing)
        for p, near in zip(pos, _nearest_keys(b.Q[pos], keys, C, n)):
            for key in near:
                acc.setdefault(int(key), []).append(int(p))
    return _plan(acc, [g[1] for g in groups if g[2]], groups, len(b.Q))


def _nearest_keys(Q, keys, C, n: int) -> list:
    """Per query row, the keys of its ``n`` nearest routing entries by
    (l2sq, key) — bit-identical to a knn_join over the routing table:
    the same float64 differences, the same strict left-to-right fold
    (functions.distance._seq_sum), the same (dist, id) order. Blocked
    over query rows so a block's difference tensor stays ~32 MB."""
    from vector_index_spark.functions.distance import _seq_sum

    step = max(1, (1 << 22) // max(C.size, 1))
    out = []
    for lo in range(0, len(Q), step):
        D = Q[lo : lo + step, None, :] - C[None, :, :]
        d = _seq_sum((D * D).reshape(-1, C.shape[1])).reshape(len(D), len(C))
        out.extend(keys[np.lexsort((keys, row))[:n]] for row in d)
    return out


def _visiting(plan, key, groups) -> list:
    """``[(group index, row positions)]`` of the rows that visit blob
    ``key`` under a probe plan (``None``: every row visits every blob)."""
    if plan is None:
        return [(gi, g[1]) for gi, g in enumerate(groups)]
    asg, every, gid = plan
    ix = asg.get(int(key))
    if len(every):
        ix = every if ix is None else np.union1d(ix, every)
    if ix is None or len(ix) == 0:
        return []
    return _positions_by_group(ix, gid)


def _masks(attrs, here, groups) -> list:
    """``[(group index, row positions, corpus mask)]`` of the groups
    visiting one blob (``here``), without those whose mask matches no
    blob row; an unmasked group's mask is ``None``."""
    from vector_index_spark.operators.filtered import conjunction_mask

    out = []
    for gi, gq in here:
        allow = groups[gi][0]
        mask = None if allow is None else conjunction_mask(attrs, allow)
        if mask is None or mask.any():
            out.append((gi, gq, mask))
    return out


def _probed(idx, plan) -> DataFrame:
    """The resident blobs a probe plan visits: every blob unless every
    visiting row was routed — in-memory cache batches carry per-column
    stats, so the isin prunes unprobed blobs without any exchange."""
    if plan is None or len(plan[1]):
        return idx.blobs
    return idx.blobs.filter(F.col(idx._KEY).isin(sorted(plan[0])))


class PqServingIndex(_ResidentBlobIndex):
    """Warm PQ serving: the (id, codes array<int>) relation packs into
    ``n_serve`` resident (ids, code-matrix) blobs; a query batch broadcasts
    its ADC lookup tables and scans every cached blob — no per-batch
    re-read of the code relation. Candidates re-rank exactly against the
    cold raw corpus (same tail as :func:`~vector_index_spark.index.pq.
    pq_knn`; parity asserted in tests/test_serving.py).

    ``attr_col`` (optional) names one INTEGRAL attribute column of
    ``train`` — or a sequence for conjunction filtering — packed
    offset-aligned into the code blobs (one build-side id equi-join);
    ``query(allowed=...)`` then masks the resident code arrays BEFORE
    the ADC scan, so every shortlist slot is a matching row. Because
    this route scans EVERY blob (no cell pruning), the masked scan's
    candidate coverage equals the unfiltered route's — filtered recall
    does not decay with selectivity and no probe boost is needed; a
    selective filter still switches to exact brute force over the
    matching cold-corpus subset (operators/filtered strategy rule)."""

    _KEY, _SCHEMA = "part", CODE_BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_parts", "n_blobs"
    _HIST_SOURCE = "_train"
    _ARRAYS = (("codebooks.npy", "_books"),)
    _COLD_CORPUS = _QUANTIZED = True
    _FILTER_BRANCH = "masked_scan"

    def __init__(
        self,
        encoded: DataFrame,
        train: DataFrame,
        codebooks,
        id_col: str = "id",
        vec_col: str = "vec",
        attr_col: "str | list[str] | None" = None,
    ):
        super().__init__(encoded.sparkSession, attr_col)
        self._train, self._id_col, self._vec_col = train, id_col, vec_col
        self._books = codebooks
        self.blobs = (
            _code_relation(encoded.select("id", "codes"), self)
            .repartition(self._n_serve)
            .mapInPandas(
                _pack_flat(
                    lambda pdf: (
                        np.stack(pdf["codes"].to_numpy()).astype(np.int32),
                    )
                ),
                CODE_BLOB_SCHEMA,
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    @property
    def _dimension(self) -> int:
        m, _, sub = self._books.shape
        return int(m * sub)

    def _encode(self, X):
        """Refresh hook (flat route): the wave encodes with the FROZEN
        codebooks (never refit on append — the snapshot contract) and
        lands as one new blob."""
        return None, (_pq_codes(X, self._books),)

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query window serving in ONE masked pass over the resident
        code blobs (round 11): narrow windows ride one non-equi
        broadcast join against the cold corpus (exact); the rest share a
        single ADC scan where each window group's range mask applies
        BEFORE its shortlist — no distinct-window cap; a
        row-unique-window batch costs one pass."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Multi-tenant serving in ONE masked pass (round 11): small
        tenants ride one equality-join exact pass against the cold
        corpus, the rest share a single ADC scan with per-tenant masks —
        no distinct-tenant cap."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        candidate_factor: int,
    ) -> DataFrame:
        """PQ hook of the shared query path: ONE ADC pass over every
        resident code blob answers ALL groups — the per-query LUTs build
        once for the whole batch (identical construction to
        pq._pq_knn_batch), each blob unpickles once, and each group
        gathers approx distances only over its masked rows for its own
        query positions (total work <= the unfiltered batch scan's).
        Candidates key by ROW POSITION; the exact re-rank scores each
        row only against its own vector."""
        m, ncent, sub_d = self._books.shape
        tables = np.empty((len(b.Q), m, ncent))
        for s in range(m):
            seg = b.Q[:, s * sub_d : (s + 1) * sub_d]
            tables[:, s, :] = (
                (seg[:, None, :] - self._books[s][None, :, :]) ** 2
            ).sum(axis=2)
        ncand = candidate_factor * k
        bc = self._spark.sparkContext.broadcast(
            (tables, [g[:2] for g in groups])
        )
        self._live_bcs.append(bc)

        def scan(batches):
            b_tables, bg = bc.value
            bm = b_tables.shape[1]
            for pdf_b in batches:
                for blob in pdf_b["blob"]:
                    payload = pickle.loads(blob)
                    ids, codes64 = payload[0], payload[1].astype(np.int64)
                    for _, ix, mask in _masks(
                        payload[2] if len(payload) > 2 else None,
                        _visiting(None, None, bg), bg,
                    ):
                        # in-kernel mask BEFORE the ADC scan: every
                        # shortlist slot is a matching row
                        g_ids = ids if mask is None else ids[mask]
                        g_codes = codes64 if mask is None else codes64[mask]
                        approx = np.zeros((len(g_ids), len(ix)))
                        for s in range(bm):
                            approx += b_tables[ix, s, :][:, g_codes[:, s]].T
                        kk = min(ncand, len(g_ids))
                        # blob rows are id-sorted, so a stable argsort
                        # yields the engine's (approx, id) tie order
                        part = np.argsort(approx, axis=0, kind="stable")[:kk]
                        sel = part.T.reshape(-1)
                        yield pd.DataFrame(
                            {"pos": np.repeat(ix, kk), "id": g_ids[sel]}
                        )

        cands = (
            self.blobs.mapInPandas(scan, "pos long, id long")
            .dropDuplicates(["pos", "id"])
        )
        pos = np.concatenate([g[1] for g in groups])
        # candidate volume is bounded by Q * ncand * n_blobs (known here);
        # broadcast small batches so the corpus never shuffles per batch
        return self._rerank(
            cands, b, pos, k,
            broadcast_cands=len(pos) * ncand * self._n_serve <= 2_000_000,
        )

    def query(
        self,
        test: DataFrame,
        k: int,
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        allowed=None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """ADC top-``candidate_factor * k`` shortlist over every resident
        code blob, exact re-rank against the cold corpus. ``allowed``
        masks the resident codes before the scan; a selective filter
        (``auto_boost``) answers exactly over the matching cold-corpus
        rows instead. Returns (qid, rank, id, dist); the shared path,
        :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )


class SqServingIndex(_ResidentBlobIndex):
    """Warm SQ8 serving: uint8 code matrices resident per blob; a query
    batch broadcasts its query matrix, each blob dequantizes transiently
    and runs one GEMM + per-blob top-ncand, and candidates re-rank exactly
    against the cold raw corpus (the :func:`~vector_index_spark.index.sq.
    sq_knn` tail; parity asserted in tests/test_serving.py).

    ``attr_col`` / ``query(allowed=...)``: same filtered-serving contract
    as :class:`PqServingIndex` — attributes ride a build-side id join
    into the blobs, the resident mask applies BEFORE the dequantized
    GEMM (full-blob coverage, so no probe boost is needed), and a
    selective filter switches to exact brute force over the matching
    cold-corpus subset."""

    _KEY, _SCHEMA = "part", CODE_BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_parts", "n_blobs"
    _HIST_SOURCE = "_train"
    _ARRAYS = (("mins.npy", "_mins"), ("span.npy", "_span"))
    _COLD_CORPUS = _QUANTIZED = True
    _FILTER_BRANCH = "masked_scan"

    def __init__(
        self,
        encoded: DataFrame,
        train: DataFrame,
        mins,
        maxs,
        id_col: str = "id",
        vec_col: str = "vec",
        attr_col: "str | list[str] | None" = None,
    ):
        super().__init__(encoded.sparkSession, attr_col)
        self._train, self._id_col, self._vec_col = train, id_col, vec_col
        self._mins = np.asarray(mins, dtype=np.float64)
        self._span = np.where(
            np.asarray(maxs, dtype=np.float64) > self._mins,
            np.asarray(maxs, dtype=np.float64) - self._mins, 1.0,
        )
        dim = len(self._mins)
        self.blobs = (
            _code_relation(encoded.select("id", "codes"), self)
            .repartition(self._n_serve)
            .mapInPandas(
                _pack_flat(
                    lambda pdf: (
                        np.frombuffer(b"".join(pdf["codes"]), dtype=np.uint8)
                        .reshape(len(pdf), dim).copy(),
                    )
                ),
                CODE_BLOB_SCHEMA,
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    @property
    def _dimension(self) -> int:
        return len(self._mins)

    def _encode(self, X):
        """Refresh hook (flat route): the wave encodes with the FROZEN
        min/span bounds (never refit on append — a refit would silently
        re-scale every existing code; identical math to sq.encode_sq)
        and lands as one new blob."""
        return None, (np.clip(
            np.rint((X - self._mins[None, :]) / self._span[None, :] * 255.0),
            0, 255,
        ).astype(np.uint8),)

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query window serving in ONE masked pass over the resident
        uint8 blobs (round 11): narrow windows ride one non-equi
        broadcast join against the cold corpus (exact); the rest share a
        single dequantize + grouped-GEMM pass (one distance matrix per
        blob, each window group selecting its masked columns) — no
        distinct-window cap."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Multi-tenant serving in ONE masked pass (round 11): small
        tenants on one equality-join exact pass against the cold corpus,
        the rest on a single dequantize + grouped-GEMM pass with
        per-tenant masks — no distinct-tenant cap."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        candidate_factor: int,
    ) -> DataFrame:
        """SQ hook of the shared query path: one dequantize + grouped-GEMM
        pass over every resident uint8 blob answers ALL groups — each
        blob dequantizes ONCE (identical math to sq._sq_knn_batch),
        :func:`grouped_masked_topk_frame` computes one distance matrix
        per blob, and each group selects its top-ncand from its mask's
        columns. Candidates key by ROW POSITION; the exact re-rank
        scores each row only against its own vector."""
        ncand = candidate_factor * k
        bc = self._spark.sparkContext.broadcast(
            (b.Q, self._mins, self._span, [g[:2] for g in groups])
        )
        self._live_bcs.append(bc)

        def scan(batches):
            from vector_index_spark.index.cellscan import (
                grouped_masked_topk_frame,
            )

            bQ, b_mins, b_span, bg = bc.value
            pos_ids = np.arange(len(bQ), dtype=np.int64)
            for pdf_b in batches:
                for blob in pdf_b["blob"]:
                    payload = pickle.loads(blob)
                    kg = [
                        (ix, mask) for _, ix, mask in _masks(
                            payload[2] if len(payload) > 2 else None,
                            _visiting(None, None, bg), bg,
                        )
                    ]
                    if not kg:
                        continue
                    X = payload[1].astype(np.float64)
                    X = X / 255.0 * b_span[None, :] + b_mins[None, :]
                    f = grouped_masked_topk_frame(
                        pos_ids, bQ, payload[0], X, kg, ncand
                    )
                    yield pd.DataFrame({"pos": f["qid"], "id": f["id"]})

        cands = (
            self.blobs.mapInPandas(scan, "pos long, id long")
            .dropDuplicates(["pos", "id"])
        )
        pos = np.concatenate([g[1] for g in groups])
        return self._rerank(
            cands, b, pos, k,
            broadcast_cands=len(pos) * ncand * self._n_serve <= 2_000_000,
        )

    def query(
        self,
        test: DataFrame,
        k: int,
        candidate_factor: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        allowed=None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Dequantized-GEMM top-``candidate_factor * k`` shortlist over
        every resident uint8 blob, exact re-rank against the cold
        corpus; ``allowed`` as on :meth:`PqServingIndex.query`. Returns
        (qid, rank, id, dist); the shared path, :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )


class IvfPqServingIndex(_ResidentBlobIndex):
    """Warm IVF-PQ serving — the route a 100 TB deployment actually
    serves (SCALE.md byte math: probes touch ~100-1000x fewer bytes than
    raw scans). Per-cell (ids, code-matrix) blobs sit resident with the
    centroid matrix and residual codebooks; a query batch costs routing
    against the checkpointed centroid table, an ADC map over PROBED cached
    cells only (batch-stat pruned — no exchange on the index side), the
    global shortlist window, and the exact re-rank against the cold raw
    corpus. Tail is identical to :func:`~vector_index_spark.index.ivfpq.
    ivfpq_knn` (parity asserted in tests/test_serving.py).

    ``attr_col`` (optional) names an INTEGRAL attribute column of
    ``train`` (a label / category / dictionary code — encode strings
    upstream); the per-cell blobs then carry the code rows' attributes
    offset-aligned with the ids, and :meth:`query`'s ``allowed`` value
    set serves FILTERED searches: candidates are masked on the resident
    attribute arrays BEFORE the ADC scoring (so every shortlist slot is
    a matching row — filtered recall does not decay with selectivity),
    nprobe is boosted by the inverse match rate under broad filters,
    and a selective filter falls back to exact brute force over the
    (small, by definition) matching subset of the cold corpus — the
    operators/filtered strategy rule on a resident histogram."""

    # residual codes only collide WITHIN a cell (round 13, ADVICE):
    # the near-dup multiplicity probe scopes duplicate groups by cell
    _multiplicity_key = "cell"
    _KEY, _SCHEMA = "cell", CELL_BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_cells", "n_cells"
    _HIST_SOURCE = "_train"
    _ARRAYS = (("centroids.npy", "_C"), ("codebooks.npy", "_books"))
    _ROUTED = _COLD_CORPUS = _QUANTIZED = True

    def __init__(
        self,
        encoded: DataFrame,
        centroids: DataFrame,
        codebooks,
        train: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        attr_col: "str | list[str] | None" = None,
    ):
        from vector_index_spark.index.ivf import centroid_matrix

        super().__init__(encoded.sparkSession, attr_col)
        self._train, self._id_col, self._vec_col = train, id_col, vec_col
        self._books = codebooks
        self.blobs = (
            _code_relation(
                encoded.select(
                    F.col("centroid_id").alias("cell"), "id", "codes"
                ),
                self,
            )
            .groupBy("cell")
            .applyInPandas(
                _pack_keyed("cell", "codes", np.int32), CELL_BLOB_SCHEMA
            )
            .repartition(self._n_serve)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._cents_kv = centroids.select(
            F.col("centroid_id").alias("id"), "vec"
        ).localCheckpoint(eager=True)
        self._C = centroid_matrix(centroids)

    @property
    def _dimension(self) -> int:
        return int(self._C.shape[1])

    def _encode(self, X):
        """Refresh hook: the wave encodes with the EXISTING centroids
        and codebooks (neither refits on append — the cell layout's
        never-refit contract, builder.append_to_index's ivf_cell rule,
        and PQ's frozen-codebook snapshot contract): each row routes to
        its nearest cell and its residual against that centroid encodes
        with the existing books. Cell ids are the rows of the driver
        centroid matrix ``_C`` (the scan indexes it the same way)."""
        cells = _nearest_cell(X, self._C)
        return cells, (_pq_codes(X - self._C[cells], self._books),)

    def query(
        self,
        test: DataFrame,
        k: int,
        nprobe: int = 4,
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        allowed: "list[int] | None" = None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Top-k for a (micro-)batch against the resident code blobs.
        Returns (qid, rank, id, dist).

        ``allowed`` (requires ``attr_col`` at construction) restricts
        neighbors to matching rows — a flat value set for one attribute,
        one value set per attribute for a conjunction. With
        ``auto_boost`` the operators/filtered strategy rule runs against
        a resident attribute histogram: a selective filter switches to
        exact brute force over the matching subset of the COLD corpus
        (the predicate pushes into that scan; the subset is small by the
        rule), a broad one masks candidates on the resident attribute
        arrays before ADC scoring with nprobe boosted by the inverse
        match rate. ``auto_boost=False`` runs the masked probe at
        exactly ``nprobe`` (parity testing). The shared path,
        :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            nprobe=nprobe, candidate_factor=candidate_factor,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        nprobe: int = 4,
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Multi-tenant warm serving on the COMPRESSED route: each query
        row carries its own attribute value(s) (``qattr_col``, aligned
        with ``attr_col``) and its neighbors must match them exactly —
        ServingIndex.query_by_attribute's contract over resident code
        blobs instead of raw matrices. SMALL tenants (under
        fallback_factor*k matching rows) all go through ONE
        equality-join exact kNN against the cold corpus (the
        attribute_knn plan — the tiny query side broadcasts, the corpus
        never shuffles); the rest probe their routed cells with
        per-tenant equality masks applied to the resident attribute
        arrays BEFORE ADC scoring, nprobe boosted by the LARGEST inverse
        match rate among probing tenants (capped at the cell count),
        then the usual shortlist + exact re-rank. Returns (qid, rank,
        id, dist)."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            nprobe=nprobe, candidate_factor=candidate_factor,
        )

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        nprobe: int = 4,
        candidate_factor: int = 8,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query WINDOW serving on the COMPRESSED route (round 8):
        each query row carries its own half-open ``[lo_col, hi_col)``
        interval over this index's single attribute —
        :meth:`ServingIndex.query_by_window`'s contract over resident
        code blobs. Narrow-window queries all resolve through ONE
        non-equi broadcast join against the cold corpus; the rest probe
        their routed cells with per-window range masks on the resident
        attribute arrays BEFORE ADC scoring, nprobe boosted by the
        largest inverse match rate. Returns (qid, rank, id, dist)."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            nprobe=nprobe, candidate_factor=candidate_factor,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        nprobe: int, candidate_factor: int,
    ) -> DataFrame:
        """IVF-PQ hook of the shared query path: the rows probe their
        routed cells at the boosted nprobe (:func:`_probe_plan`); in
        each probed cell every group's mask applies to the resident
        attribute arrays BEFORE ADC scoring over the rows' residual LUTs
        (identical math to the ivfpq scan; groups sharing a cell share
        its unpickle), then the per-row shortlist window (min approx per
        (row, id) across replicas, as ivfpq_knn) and the positional
        exact re-rank against the cold corpus."""
        from pyspark.sql import Window

        plan = _probe_plan(self, b, groups, nprobe, n_corpus)
        ncand = candidate_factor * k
        bc = self._spark.sparkContext.broadcast(
            (b.Q, [g[:2] for g in groups], self._C, self._books, plan)
        )
        self._live_bcs.append(bc)

        def scan(batches):
            bQ, bg, bC, books, b_plan = bc.value
            bm, ncent, sub_d = books.shape
            for pdf_b in batches:
                for cell, blob in zip(pdf_b["cell"], pdf_b["blob"]):
                    here = _visiting(b_plan, cell, bg)
                    if not here:
                        continue
                    payload = pickle.loads(blob)
                    ids, codes = payload[0], payload[1]
                    for _, gq, mask in _masks(
                        payload[2] if len(payload) > 2 else None, here, bg,
                    ):
                        g_ids = ids if mask is None else ids[mask]
                        g_codes = (
                            codes if mask is None else codes[mask]
                        ).astype(np.int64)
                        # the probing rows' residuals against THIS cell's
                        # centroid, one broadcasted subtraction per subspace
                        R = bQ[gq] - bC[int(cell)][None, :]
                        lut = np.empty((len(gq), bm, ncent))
                        for s in range(bm):
                            seg = R[:, s * sub_d : (s + 1) * sub_d]
                            lut[:, s, :] = (
                                (seg[:, None, :] - books[s][None, :, :]) ** 2
                            ).sum(-1)
                        # approx[i, p] = sum_s lut[p, s, codes[i, s]]
                        approx = np.zeros((len(g_ids), len(gq)))
                        for s in range(bm):
                            approx += lut[:, s, g_codes[:, s]].T
                        kk = min(ncand, len(g_ids))
                        # per-(row, cell) top-ncand in the batch path's
                        # exact (approx, id) lexsort order — ties
                        # (identical codes) resolve to the same set
                        for p in range(len(gq)):
                            sel = np.lexsort((g_ids, approx[:, p]))[:kk]
                            yield pd.DataFrame(
                                {
                                    "pos": np.full(kk, gq[p]),
                                    "id": g_ids[sel],
                                    "approx": approx[sel, p],
                                }
                            )

        cands = (
            _probed(self, plan)
            .mapInPandas(scan, "pos long, id long, approx double")
            .groupBy("pos", "id")
            .agg(F.min("approx").alias("approx"))
        )
        wa = Window.partitionBy("pos").orderBy(
            F.col("approx").asc(), F.col("id").asc()
        )
        shortlist = (
            cands.withColumn("arank", F.row_number().over(wa))
            .filter(F.col("arank") <= ncand)
            .select("pos", "id")
        )
        pos = np.sort(np.concatenate([g[1] for g in groups]))
        return self._rerank(
            shortlist, b, pos, k,
            broadcast_cands=len(pos) * ncand <= 2_000_000,
        )


LEAF_BLOB_SCHEMA = "leaf long, n_vectors long, blob binary"


class RptServingIndex(_ResidentBlobIndex):
    """Warm serving for the RP-tree route: the ``assigned`` relation of
    :func:`~vector_index_spark.index.rpt.assign_rpt` packs into resident
    (leaf, ids, matrix) blobs; the tree itself (normals, thresholds —
    kilobytes) stays resident on the driver, so a query batch costs a
    driver-side best-first probe walk, a GEMM map over the probed cached
    leaves (batch-stat pruned like every serving class), and the small
    (dist, id) merge. Answers are byte-identical to
    :func:`~vector_index_spark.index.rpt.rpt_knn` — the SAME
    `_probe_leaves` walk picks the probe sets and the SAME
    `gemm_topk_frame` kernel scores each leaf (asserted in
    tests/test_serving.py). Leaves partition the corpus (no replicas),
    so no dedup step is needed before the ranking window."""

    _KEY, _SCHEMA = "leaf", LEAF_BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_leaves", "n_leaves"
    _HIST_SOURCE = "_assigned"
    _ARRAYS = (("normals.npy", "_W"), ("thresholds.npy", "_T"))

    def __init__(
        self,
        assigned: DataFrame,
        normals,
        thresholds,
        attr_col: "str | list[str] | None" = None,
    ):
        super().__init__(assigned.sparkSession, attr_col)
        self._W = np.asarray(normals, dtype=np.float64)
        self._T = np.asarray(thresholds, dtype=np.float64)
        self._assigned = assigned if self._attr_cols is not None else None
        cols = [F.col("leaf"), F.col("id"), F.col("vec")]
        if self._attr_cols is not None:
            # attr columns live on the assigned relation (attach them
            # upstream; leaves partition the corpus so no join is needed)
            cols.extend(_attr_code_exprs(assigned, self._attr_cols))
        self.blobs = (
            assigned.select(*cols)
            .groupBy("leaf")
            .applyInPandas(
                _pack_keyed("leaf", "vec", np.float64), LEAF_BLOB_SCHEMA
            )
            .repartition(self._n_serve)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    @property
    def _dimension(self) -> int:
        return int(self._W.shape[1])

    @property
    def _depth(self) -> int:
        return int(np.log2(len(self._W) + 1))

    def _encode(self, X):
        """Refresh hook: the wave walks the FROZEN tree
        (normals/thresholds never refit on append — a refit would
        re-leaf every existing row) to its leaves with the exact
        :func:`~vector_index_spark.index.rpt._leaves` math; blob rows
        carry the raw vectors (leaves partition the corpus, no
        replicas)."""
        from vector_index_spark.index.rpt import _leaves

        return _leaves(X, self._W, self._T, self._depth), (X,)

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        probes: "int | None" = None,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query window serving in ONE masked pass over the resident
        leaf blobs (round 11): broad window groups probe their boosted
        leaf sets, narrow groups scan EVERY leaf (raw vectors are
        resident and leaves partition the corpus, so full coverage is
        exact — no cold-corpus pass needed), all groups sharing each
        leaf's unpickle and one grouped-GEMM kernel call — no
        distinct-window cap. ``probes`` defaults scale-aware
        (:func:`vector_index_spark.index.rpt.default_probes`)."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            probes=probes,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        probes: "int | None" = None,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Multi-tenant serving in ONE masked pass (round 11): small
        tenants scan every resident leaf with their equality mask
        (exact), large tenants probe boosted leaf sets — no
        distinct-tenant cap (the tenant analogue of
        :meth:`query_by_window`)."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost, probes=probes,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        probes: "int | None",
    ) -> DataFrame:
        """RPT hook of the shared query path: ONE pass over the resident
        leaf blobs answers ALL groups. Each row of a non-exact group
        takes the driver-side best-first probe walk (the same
        `_probe_leaves` as rpt_knn), its probe count boosted under
        ``auto_boost`` by its filter's inverse match rate; exact groups
        visit EVERY leaf — raw vectors are resident and leaves partition
        the corpus, so the masked GEMM over full leaf coverage is exact.
        All groups visiting a leaf share its unpickle and one
        `grouped_masked_topk_frame` call (THE `gemm_topk_frame` kernel
        when one group visits); distances are final (no re-rank tail on
        this route)."""
        from vector_index_spark.index.rpt import _probe_leaves

        n_leaves = 2 ** self._depth
        if probes is None:
            probes = _rpt_default_probes(n_leaves)
        acc: dict = {}
        for allow, ix, exact, n_match in groups:
            if exact:
                continue
            eff = probes
            if auto_boost and allow is not None:
                eff = min(n_leaves, probes * _boost(n_match, n_corpus))
            for pos in ix:
                # sorted-set normalization matches rpt_knn's probe UDF
                for leaf in sorted(set(_probe_leaves(
                    b.Q[pos], self._W, self._T, self._depth, eff
                ))):
                    acc.setdefault(int(leaf), []).append(int(pos))
        plan = _plan(acc, [g[1] for g in groups if g[2]], groups, len(b.Q))
        bc = self._spark.sparkContext.broadcast(
            (b.qids, b.Q, [g[:2] for g in groups], plan)
        )
        self._live_bcs.append(bc)

        def search(batches):
            from vector_index_spark.index.cellscan import (
                grouped_masked_topk_frame,
            )

            q_ids, q_mat, b_groups, b_plan = bc.value
            for pdf_b in batches:
                frames = []
                for leaf, blob in zip(pdf_b["leaf"], pdf_b["blob"]):
                    here = _visiting(b_plan, leaf, b_groups)
                    if not here:
                        continue
                    payload = pickle.loads(blob)
                    kg = [
                        (gq, mask) for _, gq, mask in _masks(
                            payload[2] if len(payload) > 2 else None,
                            here, b_groups,
                        )
                    ]
                    if kg:
                        frames.append(
                            grouped_masked_topk_frame(
                                q_ids, q_mat, payload[0], payload[1], kg, k,
                            )
                        )
                yield (
                    pd.concat(frames, ignore_index=True)
                    if frames
                    else pd.DataFrame({"qid": [], "id": [], "dist": []})
                )

        return _rank_topk(
            _probed(self, plan).mapInPandas(search, RESULT_SCHEMA), k, b.dup
        )

    def query(
        self,
        test: DataFrame,
        k: int,
        probes: "int | None" = None,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 100_000,
        allowed=None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """``allowed`` (requires ``attr_col`` at construction) restricts
        neighbors to matching rows (flat value set, or one set per
        attribute for a conjunction). Leaves PRUNE the corpus, so a
        broad filter boosts the probe count by the inverse match rate
        (filtered recall holds as selectivity falls); a selective filter
        visits EVERY leaf — with the raw vectors resident and full leaf
        coverage the masked GEMM is exact. The shared path,
        :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost, probes=probes,
        )


class PcaServingIndex(_ResidentBlobIndex):
    """Warm serving for the PCA filter-and-refine route: the ``projected``
    relation (id, vec, pvec — raw vector co-located with its reduction,
    the route's DiskANN-style layout) packs into resident
    (ids, reduced-matrix, raw-matrix) blobs; the basis (mean, components)
    stays on the driver. A query batch broadcasts its projected query
    matrix and runs THE shared `pca_shortlist_refine` kernel over every
    cached blob — identical math to the batch route, so results are
    byte-identical whenever the candidate coverage matches; at partial
    coverage the candidate set is blob- vs Arrow-batch-granular (same
    contract as the PQ/SQ serving classes; recall-floored in tests)."""

    # blob payload = (ids, reduced, RAW[, attrs]) — the raw vectors sit
    # at field 2 (Cell/RPT carry them at 1); see _blob_id_vecs
    _RAW_VEC_FIELD = 2
    _KEY, _SCHEMA = "part", CODE_BLOB_SCHEMA
    _PENDING, _COUNT = "_pending_snapshot_parts", "n_blobs"
    _HIST_SOURCE = "_projected"
    _ARRAYS = (("mean.npy", "_mean"), ("components.npy", "_comp"))
    _FILTER_BRANCH = "masked_scan"

    def __init__(
        self,
        projected: DataFrame,
        mean,
        components,
        attr_col: "str | list[str] | None" = None,
    ):
        super().__init__(projected.sparkSession, attr_col)
        self._mean = np.asarray(mean, dtype=np.float64)
        self._comp = np.asarray(components, dtype=np.float64)
        self._projected = projected if self._attr_cols is not None else None
        cols = [F.col("id"), F.col("vec"), F.col("pvec")]
        if self._attr_cols is not None:
            # attr columns live on the projected relation (attach them
            # upstream — it already co-locates vec with pvec)
            cols.extend(_attr_code_exprs(projected, self._attr_cols))
        self.blobs = (
            projected.select(*cols)
            .repartition(self._n_serve)
            .mapInPandas(
                _pack_flat(
                    lambda pdf: tuple(
                        np.stack(pdf[c].to_numpy()).astype(np.float64)
                        for c in ("pvec", "vec")
                    )
                ),
                CODE_BLOB_SCHEMA,
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    @property
    def _dimension(self) -> int:
        return len(self._mean)

    def _encode(self, X):
        """Refresh hook (flat route): the wave projects with the FROZEN
        basis (mean/components never refit on append — a refit would
        silently re-project every existing row; identical math to
        pca.project_pca) and lands as one new (ids, reduced, raw)
        blob."""
        return None, ((X - self._mean[None, :]) @ self._comp.T, X)

    def query_by_window(
        self,
        test: DataFrame,
        k: int,
        lo_col: str = "lo",
        hi_col: str = "hi",
        candidate_factor: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Per-query window serving in ONE masked pass over the resident
        (reduced, raw) blobs (round 11): narrow window groups run a
        masked grouped GEMM over the resident RAW matrices (full blob
        coverage -> exact, no cold-corpus pass), broad groups shortlist
        in the reduced space under their masks and refine against the
        co-resident raw rows inside the same blob visit — no
        distinct-window cap."""
        return self._query(
            "window", test, k, {"lo_col": lo_col, "hi_col": hi_col},
            qid_col, vec_col, max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )

    def query_by_attribute(
        self,
        test: DataFrame,
        k: int,
        qattr_col="attr",
        candidate_factor: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        auto_boost: bool = True,
    ) -> DataFrame:
        """Multi-tenant serving in ONE masked pass (round 11): small
        tenants run the masked exact GEMM over the resident raw
        matrices, large tenants shortlist reduced-space under their
        masks and refine in-blob — no distinct-tenant cap."""
        return self._query(
            "attr", test, k, {"qattr_col": qattr_col}, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )

    def _kernel_batch(
        self, b, groups, k: int, n_corpus: int, auto_boost: bool,
        candidate_factor: int,
    ) -> DataFrame:
        """PCA hook of the shared query path: ONE pass over the resident
        (ids, reduced, raw) blobs answers ALL groups. Exact groups ride
        one grouped masked GEMM over the RAW matrix (full coverage ->
        exact); every other group runs THE `pca_shortlist_refine` kernel
        over its masked rows — reduced-space shortlist, then the exact
        refine against the co-resident raw rows in the SAME blob visit
        (the filter-and-refine layout pays off because vec and pvec were
        packed together). Distances are final; no re-rank tail."""
        PQ_ = (b.Q - self._mean[None, :]) @ self._comp.T
        bc = self._spark.sparkContext.broadcast((
            b.qids, b.Q, (b.Q * b.Q).sum(axis=1), PQ_,
            (PQ_ * PQ_).sum(axis=1), [g[:3] for g in groups],
        ))
        self._live_bcs.append(bc)
        ncand = candidate_factor * k

        def scan(batches):
            from vector_index_spark.index.cellscan import (
                grouped_masked_topk_frame,
            )
            from vector_index_spark.index.pca import pca_shortlist_refine

            q_ids, bQ, qsq, bPQ, pqsq, bg = bc.value
            for pdf_b in batches:
                for blob in pdf_b["blob"]:
                    payload = pickle.loads(blob)
                    ids, P, X = payload[0], payload[1], payload[2]
                    masked = _masks(
                        payload[3] if len(payload) > 3 else None,
                        _visiting(None, None, bg), bg,
                    )
                    eg = [(gq, m) for gi, gq, m in masked if bg[gi][2]]
                    if eg:
                        yield grouped_masked_topk_frame(
                            q_ids, bQ, ids, X, eg, k
                        )
                    for gi, gq, m in masked:
                        if bg[gi][2]:
                            continue
                        g_ids, g_P, g_X = (
                            (ids, P, X) if m is None else (ids[m], P[m], X[m])
                        )
                        yield pca_shortlist_refine(
                            q_ids[gq], bQ[gq], qsq[gq], bPQ[gq], pqsq[gq],
                            g_ids, g_P, lambda uniq, g_X=g_X: g_X[uniq],
                            k, ncand,
                        )

        return _rank_topk(
            self.blobs.mapInPandas(scan, RESULT_SCHEMA), k, b.dup
        )

    def query(
        self,
        test: DataFrame,
        k: int,
        candidate_factor: int = 4,
        qid_col: str = "qid",
        vec_col: str = "vec",
        max_queries_per_batch: int = 65_536,
        allowed=None,
        auto_boost: bool = True,
    ) -> DataFrame:
        """``allowed`` (requires ``attr_col`` at construction) restricts
        neighbors to matching rows (flat value set, or one set per
        attribute for a conjunction). The mask applies to the resident
        reduced matrix BEFORE the shortlist, so every shortlist slot is
        a matching row (this route scans every blob — no probe boost
        needed); a selective filter switches to a masked exact GEMM over
        the resident RAW matrices (full coverage -> exact). The shared
        path, :meth:`_query`."""
        return self._query(
            "query", test, k, allowed, qid_col, vec_col,
            max_queries_per_batch, auto_boost,
            candidate_factor=candidate_factor,
        )
