"""Disk persistence for trained ANN indexes (IVF / IVF-PQ), plus the
two-phase publish helpers the served streaming ER gate
(streaming/linkage.py) lands its batches with.

The round-4 gap: every trained index (coarse k-means codebook, PQ
subspace codebooks, encoded corpus) lived only in the session-scoped
``IndexCache`` — a fresh session had to retrain before it could serve.
This module serializes the whole index to parquet so a cold session
loads and serves directly:

- ``coarse_codebook``  — K rows ``(cid, cent array<double>)``;
- ``pq_codebooks``     — M·ksub rows ``(m, code, cent array<double>)``;
- ``inverted_lists``   — the encoded corpus **partitioned by
  ``ivf_cid``**: the on-disk layout IS the inverted-file structure, so
  a probe of ``nprobe`` lists is a partition-pruned scan (PartitionFilters
  in the plan — the scan never touches unprobed lists' files), which is
  the point of IVF at 100 TB;
- ``manifest.json``    — params (k, m, ksub, dim, version) so a loader
  can refuse an incompatible layout instead of mis-serving.

Codebooks are K-bounded / D·ksub-bounded — the same bounded-collect
discipline as training itself — so load cost is one tiny parquet read
plus the (lazy) partitioned-scan definition.

RE-SAVE ATOMICITY (r5 advisory): each ``save_ann_index`` writes a fresh
versioned data directory (``v1``, ``v2``, …) and flips the root
``manifest.json`` to it LAST (``os.replace`` — atomic on POSIX). A
reader that resolved the manifest before the flip keeps scanning the
old version's files, which are never modified; a crash mid-save leaves
an orphaned half-written ``v{N+1}`` that the next save simply
overwrites (the manifest still points at ``v{N}``). After the flip the
saver garbage-collects superseded versions under TWO guards: the new
version's immediate predecessor is always kept (readers that resolved
the manifest just before the flip), and any OLDER version is deleted
only once it has been superseded for at least ``gc_grace_seconds``
(default ``ANN_GC_GRACE_SECONDS``) — a ``_superseded`` timestamp is
stamped into a version the first save that orphans it, so a
long-running lazy reader two saves behind keeps its files for the
grace window. Readers that may scan longer than the grace window must
re-resolve the manifest (``load_ann_index``) before each action.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col

from .util import local_frame

INDEX_FORMAT_VERSION = 1

# How long a superseded version survives after it stops being the
# manifest's predecessor (see module docstring's GC contract).
ANN_GC_GRACE_SECONDS = 900.0

_VDIR_RE = re.compile(r"^v(\d+)$")


def _manifest(path: str) -> dict | None:
    try:
        with open(f"{path}/manifest.json") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def save_ann_index(
    path: str,
    coarse: list[tuple[int, list[float]]],
    pq_codebooks: list[list[list[float]]] | None,
    encoded: DataFrame,
    gc_grace_seconds: float = ANN_GC_GRACE_SECONDS,
) -> None:
    """Persist a trained (IVF or IVF-PQ) index under ``path``.

    ``encoded`` must carry ``ivf_cid`` (list assignment); for IVF-PQ it
    also carries ``pq_code``. The frame is rewritten partitioned by
    ``ivf_cid`` — at production scale prefer a coalesce sized so each
    list lands in O(few) files.

    Crash-safe for concurrent readers: data lands in a FRESH versioned
    subdirectory and the manifest flips to it last (module docstring)."""
    spark = encoded.sparkSession
    prev_manifest = _manifest(path)
    prev_match = _VDIR_RE.match((prev_manifest or {}).get("data_dir", ""))
    prev_n = int(prev_match.group(1)) if prev_match else 0
    vdir = f"v{prev_n + 1}"
    root = f"{path}/{vdir}"
    local_frame(
        spark,
        [(int(cid), [float(v) for v in cent]) for cid, cent in coarse],
        "cid int, cent array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/coarse_codebook")
    if pq_codebooks is not None:
        rows = [
            (i, j, [float(v) for v in cent])
            for i, cb in enumerate(pq_codebooks)
            for j, cent in enumerate(cb)
        ]
        local_frame(
            spark, rows, "m int, code int, cent array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/pq_codebooks")
    encoded.write.mode("overwrite").partitionBy("ivf_cid").parquet(
        f"{root}/inverted_lists"
    )
    dim = len(coarse[0][1]) if coarse else 0
    manifest = {
        "version": INDEX_FORMAT_VERSION,
        "data_dir": vdir,
        "k": len(coarse),
        "dim": dim,
        "m": len(pq_codebooks) if pq_codebooks is not None else 0,
        "ksub": len(pq_codebooks[0]) if pq_codebooks else 0,
        "has_pq": pq_codebooks is not None,
    }
    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, f"{path}/manifest.json")
    # GC: keep the new version + its immediate predecessor (grace window
    # for readers that resolved the old manifest just before the flip);
    # anything older is stamped with a `_superseded` timestamp on the
    # first save that orphans it and deleted only once that stamp is
    # older than gc_grace_seconds — a reader two saves behind (the r6
    # ADVICE long-running-lazy-DataFrame case) keeps its files for the
    # grace window. Readers slower than the window must re-resolve the
    # manifest between actions.
    now = time.time()
    keep = {vdir, f"v{prev_n}"}
    for entry in os.listdir(path):
        if not _VDIR_RE.match(entry) or entry in keep:
            continue
        full = os.path.join(path, entry)
        tomb = os.path.join(full, "_superseded")
        superseded_at = None
        try:
            with open(tomb) as fh:
                superseded_at = float(fh.read().strip())
        except (OSError, ValueError):
            # missing OR corrupt/unreadable tomb: (re)stamp it with now
            # — a corrupt stamp must restart the grace clock, never
            # freeze it (an unrestamped bad tomb would make the version
            # immortal, the r7 review finding).
            superseded_at = now
            try:
                with open(tomb, "w") as fh:
                    fh.write(repr(now))
            except OSError:
                pass
        if now - superseded_at >= gc_grace_seconds:
            shutil.rmtree(full, ignore_errors=True)


def load_ann_index(
    spark: SparkSession, path: str
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]] | None, DataFrame]:
    """Load a persisted index: ``(coarse, pq_codebooks, encoded)``.

    Codebooks collect driver-side (bounded by construction); the
    encoded corpus returns as the LAZY partition-pruned scan — serving
    filters ``ivf_cid.isin(probe_ids)`` reach the scan as
    PartitionFilters, so only the probed lists' files are read."""
    with open(f"{path}/manifest.json") as fh:
        manifest = json.load(fh)
    if manifest.get("version") != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"ANN index at {path} has format version "
            f"{manifest.get('version')}; this loader reads {INDEX_FORMAT_VERSION}"
        )
    root = os.path.normpath(os.path.join(path, manifest.get("data_dir", ".")))
    coarse = [
        (int(r["cid"]), [float(v) for v in r["cent"]])
        for r in spark.read.parquet(f"{root}/coarse_codebook")
        .orderBy("cid")
        .collect()
    ]
    if len(coarse) != manifest["k"]:
        raise ValueError(
            f"coarse codebook has {len(coarse)} centroids, manifest says "
            f"{manifest['k']}"
        )
    pq_cbs: list[list[list[float]]] | None = None
    if manifest["has_pq"]:
        rows = (
            spark.read.parquet(f"{root}/pq_codebooks").orderBy("m", "code").collect()
        )
        pq_cbs = [[] for _ in range(manifest["m"])]
        for r in rows:
            pq_cbs[int(r["m"])].append([float(v) for v in r["cent"]])
        if any(len(cb) != manifest["ksub"] for cb in pq_cbs):
            raise ValueError("pq codebook shape does not match manifest")
    encoded = spark.read.parquet(f"{root}/inverted_lists").withColumn(
        "ivf_cid", col("ivf_cid").cast("int")
    )
    return coarse, pq_cbs, encoded


def publish_staged_partitions(
    stage: str, dst_root: str, partition_prefix: str, batch_prefix: str
) -> int:
    """Phase 2 of an idempotent batch-keyed append over a
    hive-partitioned layout: move every staged partition file into its
    destination partition dir under a DETERMINISTIC name
    (``{batch_prefix}{i:05d}.parquet``, sorted staged order), then
    prune any leftover ``batch_prefix`` files NOT produced by this
    publish.

    Each ``os.replace`` is atomic and OVERWRITES the same-named file a
    previous (crashed) replay published — a replay never removes the
    batch's previously-published rows before re-adding them (the r6
    ADVICE finding against the delete-then-move order); the pruning
    pass only reconciles replays whose file layout changed shape, and
    runs AFTER the new files are in place. Cross-FILE visibility is
    still not transactional — a concurrent reader during an append can
    observe a half-published batch; quiesce reads during streaming
    appends for full consistency. On HDFS the moves map to
    ``FileSystem.rename``; on object stores use a manifest commit (the
    pattern Delta/Iceberg formalize). Returns files published."""
    published: dict[str, set[str]] = {}
    count = 0
    for part_dir in sorted(os.listdir(stage)):
        src_dir = os.path.join(stage, part_dir)
        if not (part_dir.startswith(partition_prefix) and os.path.isdir(src_dir)):
            continue
        dst_dir = os.path.join(dst_root, part_dir)
        os.makedirs(dst_dir, exist_ok=True)
        names: set[str] = set()
        files = [
            f for f in sorted(os.listdir(src_dir)) if not f.startswith(("_", "."))
        ]
        for i, f in enumerate(files):
            dst_name = f"{batch_prefix}{i:05d}.parquet"
            os.replace(os.path.join(src_dir, f), os.path.join(dst_dir, dst_name))
            names.add(dst_name)
            count += 1
        published[part_dir] = names
    if os.path.isdir(dst_root):
        for part_dir in os.listdir(dst_root):
            full = os.path.join(dst_root, part_dir)
            if not (part_dir.startswith(partition_prefix) and os.path.isdir(full)):
                continue
            keep = published.get(part_dir, set())
            for f in os.listdir(full):
                if f.startswith(batch_prefix) and f not in keep:
                    os.remove(os.path.join(full, f))
    return count


def prune_batch_partition_files(
    dst_root: str, partition_prefix: str, batch_prefix: str
) -> int:
    """Remove every ``batch_prefix`` file from a hive-partitioned
    layout — the REPLAY-RESET half of a read-then-publish batch step: a
    consumer that READS the layout before publishing its batch (the
    served ER gate) must first erase its own batch's previous partial
    publish, or the replay reads its own output and computes different
    results than the clean run did (r7 review finding). A publish-only
    appender does not need this — the deterministic-name overwrite of
    :func:`publish_staged_partitions` converges without it."""
    removed = 0
    if not os.path.isdir(dst_root):
        return removed
    for part_dir in os.listdir(dst_root):
        full = os.path.join(dst_root, part_dir)
        if not (part_dir.startswith(partition_prefix) and os.path.isdir(full)):
            continue
        for f in os.listdir(full):
            if f.startswith(batch_prefix):
                os.remove(os.path.join(full, f))
                removed += 1
    return removed
