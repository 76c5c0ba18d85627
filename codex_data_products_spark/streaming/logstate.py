"""Log-structured state shared by every incremental (IVM) maintainer —
the one place that knows the on-disk log format and the streaming
drain loop.

Layout. A maintained table is a directory of append-only partitions:

  * ``<table>/batch=<k>/`` — the rows batch k added (parquet). A batch
    writes only its own ``batch=`` dirs; readers list them and read
    by EXPLICIT path and schema pinned to ``upto`` (``_log_union``), so
    a crashed future attempt's partition is never read or probed.
  * ``<table>_removed/batch=<k>/`` (each maintainer names its own
    tombstone root) — the ids batch k retracted. An insert-only batch
    writes no tombstone dir at all; every reader treats an absent dir
    as empty (``_write_tombstones``).
  * ``<table>/compact=<c>/`` — a consolidation of everything through
    batch c: the tombstone-filtered union, every row re-labeled to
    batch c. Readers trust it only once its ``_SUCCESS`` marker exists
    (Spark writes it last), so a torn compaction is invisible and a
    restart simply overwrites it. ``_log_union`` takes the highest
    complete floor ``c <= upto`` and layers only the ``batch=`` dirs
    above it on top; superseded dirs are garbage whose presence never
    changes a snapshot, removed by ``_gc_log_dirs``. Every compaction
    overwrite reads a ``localCheckpoint`` (``_compact_floor``): a
    re-compaction at the same ``upto`` reads its own target as floor,
    and the overwrite deletes the target first.

Strictly-older tombstone rule (``_live_rows``): a tombstone written at
batch k kills the rows of its id from batches STRICTLY before k. A
batch that re-signs, repairs or re-adds an id therefore keeps its own
batch's row while killing every older one, and remove-then-re-add
composes as two batches. Keys are one column (``doc_id``/``vec_id``)
or an endpoint pair (``doc_a``, ``doc_b`` — a pair dies when either
endpoint is tombstoned). The tombstone aggregate is release-grain, so
it broadcasts; the corpus-scale row log streams through and never
shuffles (plan-guarded in tests/test_plans.py). Compaction applies the
tombstones at or below its floor and drops them: surviving rows carry
the floor's batch label, which no tombstone at or below it can reach.

Replay contract: every write is keyed by the batch id (a maintainer
either writes ``batch=<k>`` dirs or reads ``v=k`` and overwrites
``v=k+1``), and batch k reads only state strictly below what it
writes. A foreachBatch replay of a crashed attempt (state written,
checkpoint not committed) therefore overwrites the same dirs with the
same content — ``drain`` needs no coordination beyond Spark's own.

Combined add+remove batches: see ``COMBINED_BATCH_CONTRACT``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMBINED_BATCH_CONTRACT = """Shared combined add+remove batch contract
(all six remove-capable IVM maintainers: apply_cluster_batch,
apply_emb_batch, apply_substring_batch, apply_vocab_batch,
apply_ann_batch, apply_pq_batch) — ATOMIC REPLACE:

1. Removes apply to the state strictly BEFORE the batch: tombstones
   written at batch k kill only strictly-earlier rows, and every
   retraction/repair slice reads the pre-batch snapshot.
2. Adds land at batch k and SURVIVE the batch's own tombstones (the
   strictly-older rule), so an id in both adds and removes is replaced
   atomically — old rows and all state derived from them retract, new
   rows and their derived state land, in one batch.
3. Corollary (the cross-family parity gate,
   tests/test_streaming.py::test_combined_batch_equals_remove_then_add):
   a combined batch at k yields the same head snapshot as a
   remove-only batch at k followed by an add-only batch at k+1.
"""

# the endpoint-pair key of the pair logs: tombstones carry doc_id
PAIR = ("doc_a", "doc_b")


# --- Hadoop FS (driver-side metadata calls only) -----------------------------


def _hadoop(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — the one Hadoop-FS entry point."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop(spark, path)
    return bool(fs.exists(p))


def _children(spark: SparkSession, root: str) -> list[str]:
    """Names of ``root``'s entries; [] when ``root`` does not exist."""
    fs, p = _hadoop(spark, root)
    if not fs.exists(p):
        return []
    return [status.getPath().getName() for status in fs.listStatus(p)]


def _batch_ids(
    spark: SparkSession, root: str, upto: int | None = None
) -> list[int]:
    """Sorted k of ``root``'s ``batch=<k>`` dirs with k <= ``upto``."""
    names = _children(spark, root)
    ids = [int(n[6:]) for n in names if n.startswith("batch=")]
    return sorted(k for k in ids if upto is None or k <= upto)


def _delete(spark: SparkSession, path: str) -> None:
    fs, p = _hadoop(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """JVM-native empty frame, ONE empty partition (round 11).
    ``createDataFrame([], schema)`` builds a defaultParallelism-
    partition Python RDD whose every action pays a Python worker
    round-trip per partition — 6-7 s of fixed cost per batch for an
    EMPTY tombstone write. A ``range(0)`` projection is pure JVM."""
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    return spark.range(0, 0, 1, 1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
    )


def _long_frame(spark: SparkSession, **cols: list[int]) -> DataFrame:
    """Arrow-backed local relation of long columns: ONE JVM-side batch,
    no Python-RDD partitions (see ``_empty``) and no py4j per-element
    literal conversion (an exploded lit(ids) measured 65 s at 10⁵ ids)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({c: pd.array(v, dtype="int64") for c, v in cols.items()}),
        schema=", ".join(f"{c} long" for c in cols),
    )


# --- reads -------------------------------------------------------------------


def _log_union(
    spark: SparkSession,
    root: str,
    schema: str,
    upto: int | None = None,
) -> DataFrame:
    """Union of a log's complete compact floor and its ``batch=<k>``
    partitions above it with k <= ``upto`` (all when None), read by
    explicit path with an explicit schema. Adds ``log_batch`` (the
    floor's rows carry c) so readers can order rows against
    tombstones."""
    full = schema + ", log_batch long"
    batch_dirs: list[int] = []
    floor = -1
    for name in _children(spark, root):
        if name.startswith("batch="):
            batch_dirs.append(int(name[6:]))
        elif name.startswith("compact="):
            c = int(name[8:])
            if (upto is None or c <= upto) and _exists(
                spark, f"{root}/{name}/_SUCCESS"
            ):
                floor = max(floor, c)
    parts = [(f"compact={floor}", floor)] if floor >= 0 else []
    parts += [
        (f"batch={k}", k)
        for k in sorted(batch_dirs)
        if k > floor and (upto is None or k <= upto)
    ]
    if not parts:
        return _empty(spark, full)
    frames = [
        spark.read.schema(schema)
        .parquet(f"{root}/{part}")
        .withColumn("log_batch", F.lit(k).cast("long"))
        for part, k in parts
    ]
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out


def _live_rows(
    spark: SparkSession,
    rows: DataFrame,
    removed_root: str,
    upto: int | None,
    key: str | tuple[str, str] = "doc_id",
    keep_log_batch: bool = False,
) -> DataFrame:
    """``rows`` (a ``_log_union`` frame) minus the tombstones under
    ``removed_root`` through ``upto``, by the strictly-older rule.
    ``key`` is the id column, or ``PAIR`` for the pair logs."""
    tomb = "doc_id" if isinstance(key, tuple) else key
    rem = _log_union(spark, removed_root, f"{tomb} long", upto)
    rmax = rem.groupBy(tomb).agg(F.max("log_batch").alias("rb"))
    for side in key if isinstance(key, tuple) else (key,):
        side_max = rmax if side == tomb else rmax.withColumnRenamed(tomb, side)
        rows = (
            rows.join(F.broadcast(side_max), side, "left")
            .filter(F.col("rb").isNull() | (F.col("rb") <= F.col("log_batch")))
            .drop("rb")
        )
    return rows if keep_log_batch else rows.drop("log_batch")


def _tombstoned_log(
    spark: SparkSession,
    rows_root: str,
    removed_root: str,
    schema: str,
    upto: int | None = None,
    key: str | tuple[str, str] = "doc_id",
    keep_log_batch: bool = False,
) -> DataFrame:
    """The live rows of one log at ``upto``: ``_log_union`` then
    ``_live_rows``."""
    rows = _log_union(spark, rows_root, schema, upto)
    return _live_rows(spark, rows, removed_root, upto, key, keep_log_batch)


# --- writes ------------------------------------------------------------------


def _overwrite(frame: DataFrame, path: str, partition_by: str | None) -> None:
    writer = frame.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def _write_batch(
    frame: DataFrame, root: str, k: int, partition_by: str | None = None
) -> None:
    """Overwrite ``root/batch=<k>`` — batch k's own log partition."""
    _overwrite(frame, f"{root}/batch={k}", partition_by)


def _write_tombstones(
    spark: SparkSession, rem: DataFrame | None, root: str, k: int
) -> None:
    """Write batch k's tombstone dir — or, for an insert-only batch
    (``rem`` None), write NOTHING (round 11: saves a job per batch and
    keeps every later log union one scan node narrower). Deleting a
    leftover dir keeps replay over a crashed older attempt idempotent."""
    if rem is not None:
        _write_batch(rem.coalesce(1), root, k)
    else:
        _delete(spark, f"{root}/batch={k}")


def _remove_frame(
    spark: SparkSession,
    remove,
    col: str = "doc_id",
) -> tuple[DataFrame, bool]:
    """Normalize a maintainer's ``remove`` argument — ``None``, an id
    list/tuple, or a one-column DataFrame — into a distinct
    ``(col long)`` frame plus a cheap known-nonempty flag. A DataFrame
    input is localCheckpointed so the emptiness probe and every
    downstream broadcast read one materialization; the ids never visit
    the driver (10⁵+ retractions stay distributed)."""
    if remove is None:
        return _empty(spark, f"{col} long"), False
    if isinstance(remove, DataFrame):
        if col in remove.columns:
            src = col
        elif len(remove.columns) == 1:
            src = remove.columns[0]
        else:
            raise ValueError(
                f"remove frame has no '{col}' column and is ambiguous "
                f"(columns={remove.columns}); pass a one-column id "
                f"frame or one carrying '{col}'"
            )
        rem = (
            remove.select(F.col(src).cast("long").alias(col))
            .distinct()
            .localCheckpoint()
        )
        return rem, not rem.isEmpty()
    ids = list(dict.fromkeys(int(d) for d in remove))
    if not ids:
        return _empty(spark, f"{col} long"), False
    return _long_frame(spark, **{col: ids}), True


# --- compaction and GC -------------------------------------------------------


def _compact_floor(
    frame: DataFrame,
    root: str,
    upto: int,
    partition_by: str | None = None,
    repartition: bool = False,
) -> None:
    """Overwrite ``root/compact=<upto>`` with ``frame`` through an
    eager localCheckpoint, which cuts the write's lineage from the
    files it replaces (see the module docstring). ``partition_by``
    keeps a partitioned log's directory layout; ``repartition`` first
    groups rows by that column (one writer task per partition dir)."""
    snap = frame.localCheckpoint()
    out = snap.repartition(partition_by) if repartition else snap
    _overwrite(out, f"{root}/compact={upto}", partition_by)
    snap.unpersist()


def _compact_log(
    spark: SparkSession,
    rows_root: str,
    removed_root: str,
    schema: str,
    upto: int,
    key: str | tuple[str, str] = "doc_id",
) -> None:
    """Consolidate one tombstoned log through ``upto`` into its compact
    floor. GC is the caller's: a tombstone root may be shared by
    several logs, so its dirs go only after every log reading it is
    consolidated."""
    _compact_floor(
        _tombstoned_log(spark, rows_root, removed_root, schema, upto, key),
        rows_root,
        upto,
    )


def _gc_log_dirs(
    spark: SparkSession, roots: tuple[str, ...], upto: int
) -> None:
    """Delete batch dirs <= upto and compact dirs < upto — garbage
    superseded by a completed ``compact=<upto>`` consolidation."""
    for root in roots:
        for name in _children(spark, root):
            dead = (
                name.startswith("batch=") and int(name[6:]) <= upto
            ) or (
                name.startswith("compact=") and int(name[8:]) < upto
            )
            if dead:
                _delete(spark, f"{root}/{name}")


def log_floor_ratio(
    spark: SparkSession, state_dir: str, tables: tuple[str, ...]
) -> float:
    """Un-compacted log bytes over compact-floor bytes, summed across
    the named log tables under ``state_dir`` — the self-managing
    compaction trigger (VERDICT r10 #3). Driver-side metadata only (a
    listing and a content summary per first-level dir), never a data
    read. 0.0 when nothing is un-compacted; inf when batch dirs exist
    with no floor yet (the first compaction establishes the floor)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    logs = floor = 0
    for t in tables:
        root = f"{state_dir}/{t}"
        fs, _ = _hadoop(spark, root)
        for name in _children(spark, root):
            size = fs.getContentSummary(Path(f"{root}/{name}")).getLength()
            if name.startswith("batch="):
                logs += size
            elif name.startswith("compact="):
                floor += size
    if logs == 0:
        return 0.0
    if floor == 0:
        return float("inf")
    return logs / floor


def compaction_due(
    spark: SparkSession,
    state_dir: str,
    tables: tuple[str, ...],
    threshold: float = 1.0,
) -> bool:
    """True when the maintainer should fold its logs: the un-compacted
    history has grown past ``threshold`` × the compact floor. At the
    default 1.0 the total state stays within ~2× of a fresh snapshot
    (floor + at-most-floor of logs + the triggering batch), without
    any operator-invoked compaction."""
    return log_floor_ratio(spark, state_dir, tables) >= threshold


# --- state format marker -----------------------------------------------------

# Round 11 changed the substring maintainer's persisted gram key (g: hex
# string -> binary(16) -> xxhash64 long) and the occ log's bucket
# column derives from it: resuming a dir written under an older format
# would fail at parquet read at best, or silently never match old grams
# against new keys in a mixed log at worst. The substring family is the
# only stamped one; the marker file pins its format.
_SUBSTRING_FORMAT_MARKER = "_FORMAT_V2_GRAM_LONG"


def _check_state_format(spark: SparkSession, state_dir: str) -> None:
    """Pass on a stamped substring state dir, stamp a fresh one, and
    fail fast on a dir holding gram/occ history without the marker."""
    marker = f"{state_dir}/{_SUBSTRING_FORMAT_MARKER}"
    fs, marker_path = _hadoop(spark, marker)
    if fs.exists(marker_path):
        return
    for sub in ("grams", "occ_delta"):
        if _exists(spark, f"{state_dir}/{sub}"):
            raise RuntimeError(
                f"substring state at {state_dir} has {sub}/ history but "
                f"no format marker {marker}. If the dir was written by "
                "round-11-or-later code (g long = xxhash64(token "
                "window), occ log bucketed by pmod(xxhash64(g), 64)), "
                "create that empty marker file to stamp it; otherwise "
                "re-bootstrap the state from the source corpus — old "
                "and new gram keys never match, so resuming an older "
                "dir would silently corrupt coverage."
            )
    fs.createNewFile(marker_path)


# --- streaming drain ---------------------------------------------------------


def available_now(writer):
    """Start a configured ``DataStreamWriter`` with the availableNow
    trigger — process everything the source holds now, in as many
    micro-batches as its rate limits make, then stop — and wait for it.
    Returns the finished query."""
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    fold: Callable[[DataFrame, int], None],
    compact: tuple | None = None,
) -> None:
    """availableNow foreachBatch drain of ``stream``: ``fold(batch,
    batch_id)`` per micro-batch, under the replay contract of the
    module docstring. ``compact = (state_dir, tables, ratio, run)``
    makes compaction self-managing: after each batch, when
    ``compaction_due(spark, state_dir, tables, ratio)``, the drain calls
    ``run(spark, batch_id)``; a None ``ratio`` disables it."""
    step = fold
    state_dir, tables, ratio, run = compact or (None, (), None, None)
    if ratio is not None:

        def step(batch: DataFrame, batch_id: int) -> None:
            fold(batch, batch_id)
            spark = batch.sparkSession
            if compaction_due(spark, state_dir, tables, ratio):
                run(spark, batch_id)

    available_now(
        stream.writeStream.foreachBatch(step).option(
            "checkpointLocation", checkpoint_dir
        )
    )
