"""The ``batch=<id>`` store layout shared by every foreachBatch twin
(the exactly-once-without-a-transaction-log pattern): writer, readers
and maintenance.

Both sides of the contract live here — in ONE module, because each is
retry-safety-critical:

- ``write_batch`` lands a micro-batch's state under a ``batch=<id>``
  directory with mode=overwrite, so a retried micro-batch rewrites its
  own paths byte-for-byte instead of appending a duplicate;
- ``read_batch_store`` excludes the current batch id, so a retry
  recomputes against exactly the pre-batch index instead of seeing its
  own half-written partition (``read_batch_store_before`` is the AS-OF
  variant for state a batch's output depends on);
- ``read_sum_merged`` is the keyed SUM-merge read of the count stores
  (Count-Min cells, DDSketch/PSI bins, chi-square/Benford/KS counts,
  tf/dl partials, transition pairs): per-batch partials combine by
  addition, so the merged table equals the batch reduce over the union
  of arrived rows. Writers that read nothing make retries idempotent by
  the overwrite alone; re-delivery under a NEW batch id would
  double-count — the standard SUM-store contract.

Folding (the maintenance that stops a long-lived stream accumulating
one directory per micro-batch) uses a GENERATIONAL POINTER so that
readers racing the fold are always consistent:

- folded rows live in underscore-prefixed ``_fold-<g>`` dirs —
  invisible to any bare directory listing or Spark scan;
- ``_fold_pointer.json`` (replaced atomically by rename, never removed)
  names the current generation and the cumulative set of delta dirs it
  absorbed. A reader resolves the pointer ONCE and reads
  [pointer's fold dir] + [delta dirs not absorbed by it]: with the old
  pointer it sees old fold + all deltas (correct — the new generation
  isn't referenced yet); with the new pointer it sees new fold +
  surviving deltas (correct — absorbed deltas are excluded whether or
  not their dirs are deleted yet). No interleaving double-counts or
  loses rows;
- the PREVIOUS generation dir AND the deltas absorbed by the CURRENT
  generation are kept as grace copies until the next fold, so a reader
  that resolved the old pointer still finds every directory it listed —
  the consistency bound is one full fold cycle, plenty for a reader
  that materializes promptly (document: don't hold a lazy plan across
  two maintenance folds);
- crash recovery is sweep-only: un-pointed ``_fold-*`` dirs and
  grace-expired absorbed deltas are deletable at any time (their
  content is fully present in the pointed-to generation), and the next
  fold call does so.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def atomic_write_json(path: str, obj: dict) -> None:
    """Marker/pointer files must never be observable half-written (a
    truncated pointer would wedge every reader). Write + fsync + rename:
    the fsync matters — journaled filesystems can commit the rename
    before the data blocks, and a power loss would then leave an EMPTY
    committed file, exactly the torn pointer this helper exists to rule
    out. The shared helper for every store that needs it."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def load_centroids(path: str) -> list[list[float]]:
    """Read a frozen-geometry file written by ensure_frozen_centroids."""
    with open(path) as f:
        return json.load(f)["centroids"]


def ensure_frozen_centroids(
    store_dir: str, centroids_path: str, train
) -> list[list[float]]:
    """Train-once frozen-geometry discipline, shared by every streaming
    vector store (index + semantic dedup — r6 review finding: the block
    had been duplicated and a fix already had to land twice in lockstep).

    If ``centroids_path`` exists its geometry is authoritative — every
    later batch and query must use it so the store stays
    self-consistent as it grows. Otherwise ``train()`` is called once
    and the result persisted. Stores are SINGLE-WRITER (one foreachBatch
    driver owns store_dir): two concurrent trainers' geometries would
    disagree, a caller contract violation, so only THIS pid's orphaned
    tmp (a crashed earlier attempt in this process slot) is swept —
    removing other pids' in-flight tmps would crash their
    atomic_write_json mid-rename. The fsync'd write matters: a plain
    tmp+rename can commit an EMPTY file on power loss (journaled fs
    orders the rename before the data blocks), wedging every later
    batch and query."""
    if os.path.exists(centroids_path):
        return load_centroids(centroids_path)
    cents = train()
    os.makedirs(store_dir, exist_ok=True)
    try:
        os.remove(f"{centroids_path}.tmp-{os.getpid()}")
    except OSError:
        pass
    atomic_write_json(centroids_path, {"centroids": cents})
    return load_centroids(centroids_path)


def _pointer_path(path: str) -> str:
    return os.path.join(path, "_fold_pointer.json")


def _read_pointer(path: str) -> dict:
    if os.path.isfile(os.path.join(path, "_fold_manifest.json")):
        # pre-generational layout (manifest-swap folding): its crash
        # states are not decodable under pointer semantics — reading the
        # deltas as-is could double-count a half-committed fold. Refuse
        # loudly instead of corrupting silently.
        raise ValueError(
            f"store at {path} uses the retired _fold_manifest.json "
            "layout; rebuild the store (it is derived state) before "
            "reading it with this version"
        )
    pp = _pointer_path(path)
    if not os.path.isfile(pp):
        return {"gen": 0, "dir": None, "folded": [], "just_folded": []}
    with open(pp) as f:
        return json.load(f)


def write_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write ``df`` as micro-batch ``batch_id`` of the store at ``path``:
    ``path/batch=<batch_id>`` with mode=overwrite, the idempotent half
    of the retry contract. ``partition_by`` nests further partition
    columns inside the batch directory."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(os.path.join(path, f"batch={batch_id}"))


def read_batch_store(
    spark: SparkSession, path: str, schema: str, exclude_batch: int
) -> DataFrame:
    """All rows of a batch-partitioned store EXCEPT ``exclude_batch``'s
    (empty DataFrame of ``schema`` if the store doesn't exist yet).
    Resolves the fold pointer once — see the module docstring for why
    this is race-free against a concurrent fold."""
    return _read_batch_store(spark, path, schema, exclude_batch, before=False)


def read_batch_store_before(
    spark: SparkSession, path: str, schema: str, before_batch: int
) -> DataFrame:
    """AS-OF read: only rows from batches STRICTLY BELOW ``before_batch``.

    ``read_batch_store``'s exclude-current contract is enough for
    commutative merges (SUM/MAX — later rows change nothing the retry
    writes), but NOT for state a retried batch's own output DEPENDS on:
    a boundary join that saw a later batch's state would rewrite
    ``batch=<id>`` with DIFFERENT content, breaking overwrite
    idempotence (the r7 streaming-transitions retry bug). Fold
    interplay: folded generations are assumed strictly older than any
    retryable batch — guaranteed under Structured Streaming, where only
    the NEWEST batch can retry and ``fold_batch_store`` keeps it as a
    delta."""
    return _read_batch_store(spark, path, schema, before_batch, before=True)


def read_sum_merged(
    spark: SparkSession,
    path: str,
    schema: str,
    key_cols: tuple[str, ...],
    count_cols: tuple[str, ...],
    exclude_batch: int = -1,
) -> DataFrame:
    """SUM-merge read of a keyed count store: one row per ``key_cols``
    value with every ``count_cols`` column summed (as long) over all
    batches except ``exclude_batch``. Empty ``key_cols`` gives the
    one-row global total."""
    raw = read_batch_store(spark, path, schema, exclude_batch)
    return raw.groupBy(*key_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in count_cols]
    )


def _read_batch_store(
    spark: SparkSession, path: str, schema: str, pivot: int, *, before: bool
) -> DataFrame:
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    ptr = _read_pointer(path)
    absorbed = set(ptr["folded"])
    delta_dirs = [
        e
        for e in os.listdir(path)
        if e.startswith("batch=") and e not in absorbed
    ]
    parts = []
    if delta_dirs:
        cond = (
            F.col("batch") < pivot if before else F.col("batch") != pivot
        )
        parts.append(
            spark.read.schema(schema + ", batch long")
            .option("basePath", path)
            .parquet(*[os.path.join(path, e) for e in delta_dirs])
            .filter(cond)
            .drop("batch")
        )
    if ptr["dir"] and os.path.isdir(os.path.join(path, ptr["dir"])):
        # folded generations hold only strictly-old batches, which can
        # never be the excluded (current/retrying) id — no filter needed
        parts.append(
            spark.read.schema(schema).parquet(os.path.join(path, ptr["dir"]))
        )
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fold_batch_store(
    spark: SparkSession, path: str, schema: str, keep_last: int = 1
) -> int:
    """Maintenance: absorb all but the newest ``keep_last`` ``batch=<id>``
    delta directories into the next fold generation. Returns the number
    of delta directories absorbed this call.

    The newest ids stay as deltas — a retry of the CURRENT batch must
    still find its own partition distinct from history (the
    exclude-current read contract), and folded rows are always
    strictly-old so the exclusion can never need to reach them.

    Crash-safe by construction: the pointer flip (atomic rename) is the
    ONLY commit point. Before it, the new generation dir is unreferenced
    (a crash orphans it; the next call sweeps it). After it, absorbed
    delta dirs and the grandparent generation are garbage whose deletion
    is idempotent (the next call finishes sweeping). Run from a single
    maintenance job, never concurrently with itself.
    """
    if keep_last < 1:
        # keep_last=0 would fold the current (possibly retrying) batch
        # into a generation the exclude-current read filter can never
        # reach — the exact double-count the contract rules out
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if not os.path.isdir(path):
        return 0
    ptr = _read_pointer(path)
    _sweep(path, ptr)
    absorbed = set(ptr["folded"])
    deltas = sorted(
        (int(e.split("=", 1)[1]), e)
        for e in os.listdir(path)
        if e.startswith("batch=") and e not in absorbed
    )
    to_fold = deltas[: max(0, len(deltas) - keep_last)]
    if not to_fold:
        return 0
    fold_names = [e for _, e in to_fold]
    sources = [os.path.join(path, e) for e in fold_names]
    folded = (
        spark.read.schema(schema + ", batch long")
        .option("basePath", path)
        .parquet(*sources)
        .drop("batch")
    )
    if ptr["dir"] and os.path.isdir(os.path.join(path, ptr["dir"])):
        folded = folded.unionByName(
            spark.read.schema(schema).parquet(os.path.join(path, ptr["dir"]))
        )
    # materialize BEFORE any deletion — and the write itself is the
    # materialization (nothing is deleted until after the pointer flip)
    gen = ptr["gen"] + 1
    new_dir = f"_fold-{gen}"
    folded.write.mode("overwrite").parquet(os.path.join(path, new_dir))
    # prune the absorbed list to dirs still on disk: exclusion is only
    # needed while a dir is listable, so dead entries are pure growth —
    # without this the pointer (parsed on every read) accumulates one
    # entry per micro-batch ever folded, re-creating the unbounded
    # metadata folding exists to eliminate
    alive = {e for e in os.listdir(path) if e.startswith("batch=")}
    atomic_write_json(
        _pointer_path(path),
        {
            "gen": gen,
            "dir": new_dir,
            "folded": sorted((absorbed & alive) | set(fold_names)),
            "just_folded": fold_names,
            "prev_dir": ptr["dir"],
        },
    )  # ← the commit point
    _sweep(path, _read_pointer(path))
    return len(to_fold)


def _sweep(path: str, ptr: dict) -> None:
    """Delete everything the current pointer makes garbage: absorbed
    delta dirs PAST their one-fold grace (a reader that resolved the
    previous pointer still lists the just-absorbed ones), and _fold-*
    generations other than the pointed-to one and its grace
    predecessor. Every delete is idempotent — this runs at the start
    AND end of every fold, so any crash point is swept eventually."""
    keep = {ptr.get("dir"), ptr.get("prev_dir")}
    expendable = set(ptr["folded"]) - set(ptr.get("just_folded", []))
    for e in os.listdir(path):
        p = os.path.join(path, e)
        if e.startswith("_fold-") and e not in keep:
            shutil.rmtree(p, ignore_errors=True)
        elif e in expendable and os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif ".tmp-" in e and os.path.isfile(p):
            # atomic_write_json tmp orphaned by a crash before its
            # rename — never referenced by anything, sweep it
            try:
                os.remove(p)
            except OSError:
                pass
