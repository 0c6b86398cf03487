"""Multi-dimensional data layout: z-order clustering for scan pruning.

Parquet scans prune at file/row-group granularity from footer min-max
stats, so pruning quality is decided by HOW data is laid out at write
time, not by the reader. A linear sort clusters one column perfectly and
leaves every other column's min-max spanning the whole domain — a filter
on the second column reads everything. Interleaving the bits of two key
columns (Morton / z-order curve) makes file boundaries axis-aligned boxes
in (c1, c2) space, so range predicates on EITHER column (or both) overlap
only O(perimeter) of the files instead of all of them.

This is the single biggest 100 TB lever after partitioning: the same
query over the same bytes does 10-100× less IO purely from write-side
clustering. Delta/Iceberg expose this as ``OPTIMIZE ZORDER BY``; this
module is the engine-native equivalent: a z-value expression (pure
codegen — shifts and masks, no UDF) + ``repartitionByRange`` on it +
``sortWithinPartitions`` so both the file ranges AND the row groups
inside each file are z-clustered.

Normalization matters: interleaving RAW values lets the wider-domain
column's high bits dominate the curve (its 11th bit sits above every bit
of a 7-bit column), collapsing z-order back to a linear sort on one
column. ``write_zordered`` therefore first maps each column onto equal-
width buckets (``width_bucket`` over the column's min/max — one tiny
pre-aggregation), so both dimensions contribute the same number of
interleaved bits. Real lakehouse z-ordering (Delta OPTIMIZE ZORDER BY)
uses sampled *quantile* boundaries instead, which additionally absorbs
value skew; equal-width is the transparent version and exact for
uniform-ish key domains.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BITS = 16
_NORM_BITS = 8  # 256 buckets per dimension = 65536 z-cells, ample for file-level pruning


def z_value(c1: Column, c2: Column, bits: int = _BITS) -> Column:
    """Morton interleave of the low ``bits`` of two non-negative ints.

    Bit i of c1 lands at z-bit 2i, bit i of c2 at 2i+1 — a pure
    shift/mask/OR expression tree that whole-stage codegen flattens into
    straight-line JVM integer ops.
    """
    z = F.lit(0).cast("long")
    a = c1.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = c2.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        ).bitwiseOR(
            F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    return z


def write_zordered(
    df: DataFrame, path: str, col1: str, col2: str, n_files: int = 16
) -> None:
    """Write parquet clustered along the z-curve of (col1, col2).

    Each column is first normalized onto 2^_NORM_BITS equal-width buckets
    (min/max from one scalar pre-aggregation — at cluster scale a
    footer-stats lookup) so both dimensions contribute equally to the
    curve regardless of domain width. ``repartitionByRange`` on the
    z-value gives each output file a contiguous z-range (an axis-aligned
    box set in bucket space); ``sortWithinPartitions`` extends the
    clustering to row groups inside each file. One range shuffle — the
    same cost as any global sort.
    """
    bounds = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    ).first()
    n_buckets = 1 << _NORM_BITS
    # width_bucket returns n_buckets+1 for values equal to the column max;
    # unclamped, that index would wrap through the _NORM_BITS mask to z-cell
    # 0 and widen the lowest file's min-max stats. Clamp max-holders into
    # the top bucket instead.
    b1 = F.least(
        F.width_bucket(F.col(col1), F.lit(bounds.lo1), F.lit(bounds.hi1), F.lit(n_buckets)) - 1,
        F.lit(n_buckets - 1),
    )
    b2 = F.least(
        F.width_bucket(F.col(col2), F.lit(bounds.lo2), F.lit(bounds.hi2), F.lit(n_buckets)) - 1,
        F.lit(n_buckets - 1),
    )
    (
        df.withColumn("__z", z_value(b1, b2, bits=_NORM_BITS))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_linear(df: DataFrame, path: str, col1: str, n_files: int = 16) -> None:
    """Control layout: plain range-sort on one column (what naive ETL does)."""
    (
        df.repartitionByRange(n_files, col1)
        .sortWithinPartitions(col1)
        .write.mode("overwrite")
        .parquet(path)
    )


def files_overlapping(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    """(n_overlapping, n_total) parquet files whose [min, max] footer stats
    for ``col`` intersect [lo, hi] — the file-level IO a filtered scan pays.

    Uses pyarrow footer metadata directly: this is the same statistic the
    reader's pruning consults, measured without running a query.
    """
    import os

    import pyarrow.parquet as pq

    total = overlapping = 0
    paths = []
    for root, dirs, names in os.walk(path):  # flat AND partitioned layouts
        # never count renamed-aside compaction dirs as table content
        dirs[:] = [d for d in dirs if not d.endswith(".old")]
        paths.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    for fpath in sorted(paths):
        total += 1
        meta = pq.ParquetFile(fpath).metadata
        idx = meta.schema.to_arrow_schema().get_field_index(col)
        mn = min(meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups))
        mx = max(meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups))
        if mx >= lo and mn <= hi:
            overlapping += 1
    return overlapping, total


def compact_small_files(
    spark,
    df: DataFrame,
    work_dir: str,
    bucket_col: Column,
    schema,
    n_landing_files: int = 64,
) -> tuple[DataFrame, int, int]:
    """Small-files landing zone -> compacted bucket-partitioned parquet.

    Reproduces the reference's batch-source pathology and its cure in one
    operator: the S3 sink connector writes ONE JSON file per record
    (``flush.size=1``, IMPL:71), so the landing zone accumulates millions
    of tiny files whose open/footer overhead dominates any later scan.
    Compaction is the standard answer: read the landing files once, assign
    each row a bucket, and rewrite as parquet partitioned by bucket with
    exactly one file per bucket.

    Mechanics (each piece is the at-scale shape, not a local shortcut):

    * the landing write fans ``df`` over ``n_landing_files`` round-robin
      partitions — a bounded stand-in for per-record files; the read back
      uses the EXPLICIT ``schema`` (no inference pass — §4.1's free win).
    * the compaction's only shuffle is ``repartition(bucket)``: all rows
      of a bucket land in one task, so ``partitionBy(bucket)`` emits one
      file per bucket — file count goes from O(records) to O(buckets).
    * rows never visit the driver; returns (compacted df read back from
      parquet, landing file count, compacted file count) so callers can
      assert the file-count collapse.
    """
    import glob
    import os
    import shutil

    if os.path.exists(work_dir):
        shutil.rmtree(work_dir)
    landing = os.path.join(work_dir, "landing")
    compacted = os.path.join(work_dir, "compacted")
    df.repartition(n_landing_files).write.mode("overwrite").json(landing)
    n_landing = len(glob.glob(os.path.join(landing, "part-*")))
    reread = spark.read.schema(schema).json(landing).withColumn("bucket", bucket_col)
    (
        reread.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(compacted)
    )
    n_compacted = len(glob.glob(os.path.join(compacted, "bucket=*", "part-*")))
    return spark.read.parquet(compacted), n_landing, n_compacted


# ===========================================================================
# Incremental z-order maintenance (liquid-clustering-style).
#
# `write_zordered` re-sorts the WHOLE table per run — correct, but at 100 TB
# an append of 0.1% of the data cannot pay a full-table shuffle. The managed
# variant below keeps the table as explicit z-range partitions plus a tiny
# manifest (normalization bounds + partition cut points, fixed at creation),
# so maintenance after an append rewrites ONLY the partitions the new rows
# land in: cost O(delta + touched partitions), never O(table). This is the
# engine-native analogue of Delta Lake liquid clustering / incremental
# OPTIMIZE ZORDER.
# ===========================================================================

_MANIFEST = "_zorder_manifest.json"
_ZP = "__zp"  # partition-directory column
_ZC = "__z"  # stored z-value (kept so later compactions re-sort cheaply)


def _z_bucketed(df: DataFrame, m: dict) -> DataFrame:
    """Attach __z (from manifest bounds, clamped both ends) and __zp."""
    n_buckets = 1 << _NORM_BITS

    def bucket(col: str, lo, hi) -> Column:
        return F.greatest(
            F.least(
                F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(n_buckets)) - 1,
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )

    z = z_value(
        bucket(m["col1"], m["lo1"], m["hi1"]),
        bucket(m["col2"], m["lo2"], m["hi2"]),
        bits=_NORM_BITS,
    )
    out = df.withColumn(_ZC, z)
    pid = F.lit(0)
    for cut in m["cuts"]:
        pid = pid + F.when(F.col(_ZC) >= F.lit(cut), 1).otherwise(0)
    return out.withColumn(_ZP, pid.cast("int"))


def write_zordered_table(
    df: DataFrame, path: str, col1: str, col2: str, n_files: int = 16
) -> dict:
    """Create a managed z-ordered table: z-range partition dirs + manifest.

    Partition cut points come from approxQuantile over the z-values, so
    partitions are balanced even under value skew (the quantile variant of
    the equal-width normalization used by `write_zordered`). Bounds and
    cuts are FROZEN in the manifest: later appends normalize with the same
    parameters (out-of-range values clamp into the edge buckets), which is
    what keeps incremental maintenance local.
    """
    import json
    import os

    bounds = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    ).first()
    m = {
        "col1": col1,
        "col2": col2,
        "lo1": bounds.lo1,
        "hi1": bounds.hi1,
        "lo2": bounds.lo2,
        "hi2": bounds.hi2,
        "cuts": [],
        "n_files": n_files,
    }
    with_z = _z_bucketed(df, m)
    qs = [i / n_files for i in range(1, n_files)]
    m["cuts"] = sorted(set(with_z.stat.approxQuantile(_ZC, qs, 0.001)))
    (
        _z_bucketed(df, m)
        .repartition(n_files, F.col(_ZP))
        .sortWithinPartitions(_ZC)
        .write.mode("overwrite")
        .partitionBy(_ZP)
        .parquet(path)
    )
    with open(os.path.join(path, _MANIFEST), "w") as f:
        json.dump(m, f)
    return m


def read_zordered_table(spark, path: str) -> DataFrame:
    """Read a managed z-ordered table without its maintenance columns,
    running :func:`recover_zorder_table` first: a stale ``__zp=k.old``
    left by a crashed compaction would otherwise be read as a partition."""
    if recover_zorder_table(path):
        spark.catalog.refreshByPath(path)
    return spark.read.parquet(path).drop(_ZP, _ZC)


_COMMIT_MARKER = "_zcompact_commit"  # "_"-prefixed: invisible to parquet readers
_INTENT_MARKER = "_zcompact_intent"  # written before the swap: lists touched
# partitions that had NO live dir pre-swap, so uncommitted recovery can tell a
# promoted brand-new partition (must be rolled back by deletion — it has no
# ``.old``) from an original dir the crash reached before renaming aside.


def recover_zorder_table(path: str) -> int:
    """Restore table consistency after a crashed compaction. Idempotent;
    called at the start of every compaction.

    The compaction protocol (see ``compact_zorder_incremental``) makes the
    commit marker the decision point:

    - marker PRESENT: every touched partition was already swapped to its
      merged contents — ROLL FORWARD by deleting the remaining ``.old``
      copies (and the marker). The crash hit only the cleanup phase.
    - marker ABSENT: the swap may be partial — ROLL BACK every partition
      that has a ``.old`` copy (delete the half-swapped live dir if one
      exists, rename ``.old`` back), restoring the exact pre-compaction
      table so a retry with the same delta is duplicate-free.

    Either way no ``__zp=k.old`` directory survives recovery: a stale
    ``.old`` inside the table dir would otherwise be discovered by
    ``spark.read.parquet`` as a partition with value ``"k.old"`` — silently
    duplicating rows and flipping the partition column's inferred type to
    string. Returns the number of partitions rolled back or forward.
    """
    import os
    import shutil

    marker = os.path.join(path, _COMMIT_MARKER)
    committed = os.path.exists(marker)
    changed = 0
    intent = os.path.join(path, _INTENT_MARKER)
    if not committed and os.path.exists(intent):
        # Partitions listed here had no live dir when the swap started, so a
        # live dir now can only be the promoted staged copy — roll it back by
        # deletion (there is no ``.old`` to restore for it).
        with open(intent) as f:
            born_in_swap = [ln for ln in f.read().splitlines() if ln]
        for part in born_in_swap:
            live = os.path.join(path, f"{_ZP}={part}")
            if os.path.exists(live):
                shutil.rmtree(live)
                changed += 1
    for name in sorted(os.listdir(path)):
        if name.startswith(_ZP + "=") and name.endswith(".old"):
            old = os.path.join(path, name)
            live = os.path.join(path, name[: -len(".old")])
            if committed:  # swap complete: .old is garbage
                shutil.rmtree(old)
            else:  # swap may be partial: restore the previous contents
                if os.path.exists(live):
                    shutil.rmtree(live)
                os.rename(old, live)
            changed += 1
    if committed:
        os.remove(marker)
    if os.path.exists(intent):
        os.remove(intent)
    return changed


def compact_zorder_incremental(spark, path: str, delta: DataFrame) -> dict:
    """Merge appended rows into a managed z-ordered table, touching only
    the z-range partitions the delta lands in.

    The delta is z-assigned from the manifest, the existing rows of ONLY
    the touched partitions are read back (partition pruning on the
    directory column), and the merged partitions replace exactly those
    directories — every other partition's files stay byte-identical.
    Returns {"touched": k, "total": n} so callers can assert locality.

    Crash safety — a two-phase commit over directory renames:

    1. STAGE: merged partitions are fully materialized under
       ``<path>.tmpcompact`` (a sibling, outside the read path) BEFORE any
       live file is touched — the self-overwrite read/write race is
       impossible regardless of ``partitionOverwriteMode``.
    2. SWAP: every touched live dir is renamed aside to ``.old``, then
       every staged dir is renamed in. No ``.old`` is deleted yet.
    3. COMMIT: a ``_zcompact_commit`` marker is written (the atomic commit
       point), THEN all ``.old`` copies are deleted, THEN the marker.

    ``recover_zorder_table`` (run at the start of every compaction) uses
    the marker to decide direction: marker present -> the swap finished,
    roll forward (delete leftover ``.old``); marker absent -> the swap may
    be partial, roll back (restore every ``.old``), returning the exact
    pre-compaction table so re-running with the SAME delta is safe —
    without the marker a retry would union the delta into already-merged
    partitions a second time and duplicate rows.

    At 100 TB this is the difference between a daily OPTIMIZE that reads
    the whole table and one that reads a few percent: rewrite work scales
    with delta volume (times partition granularity), not table size. On an
    object store the marker becomes the table format's atomic commit
    (Delta/Iceberg snapshot swap); the stage-swap-commit shape is the same.
    """
    import json
    import os
    import shutil

    recover_zorder_table(path)
    with open(os.path.join(path, _MANIFEST)) as f:
        m = json.load(f)
    delta_z = _z_bucketed(delta, m)
    touched = sorted(r[_ZP] for r in delta_z.select(_ZP).distinct().collect())
    existing = spark.read.parquet(path).filter(F.col(_ZP).isin(touched))
    merged = existing.unionByName(delta_z)
    tmp = path.rstrip("/") + ".tmpcompact"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (
        merged.repartition(max(len(touched), 1), F.col(_ZP))
        .sortWithinPartitions(_ZC)
        .write.mode("overwrite")
        .partitionBy(_ZP)
        .parquet(tmp)
    )
    swaps = []  # (staged src, live dir, renamed-aside old)
    for part in touched:
        dirname = f"{_ZP}={part}"
        swaps.append(
            (
                os.path.join(tmp, dirname),
                os.path.join(path, dirname),
                os.path.join(path, dirname + ".old"),
            )
        )
    intent = os.path.join(path, _INTENT_MARKER)
    with open(intent, "w") as f:  # before any rename: record brand-new partitions
        f.write(
            "\n".join(
                str(p)
                for p, (_, live, _) in zip(touched, swaps)
                if not os.path.exists(live)
            )
        )
    for _, live, old in swaps:  # phase 2a: set every previous dir aside
        if os.path.exists(live):
            os.rename(live, old)
    for src, live, _ in swaps:  # phase 2b: promote every staged dir
        os.rename(src, live)
    marker = os.path.join(path, _COMMIT_MARKER)
    with open(marker, "w") as f:  # phase 3: commit point
        f.write("\n".join(str(p) for p in touched))
    for _, _, old in swaps:
        if os.path.exists(old):
            shutil.rmtree(old)
    os.remove(marker)
    os.remove(intent)
    shutil.rmtree(tmp)
    return {"touched": len(touched), "total": len(m["cuts"]) + 1}


# ===========================================================================
# Partitioned-store lifecycle (the IVF cell index, the MinHash bucket store).
#
# Both curation stores grow by appends that land one small fragment per
# touched leaf directory per arrival (the reference's ``flush.size=1``
# pathology, IMPL:71). The cure is the same for any store partitioned by
# ``part_cols``: compact only the fragmented leaves, stage the rewrite under
# ``<path>__compacting`` and swap it in leaf by leaf through an ``_old_``
# aside that the read-path sweep resolves after a crash. Single-writer
# contract: never run two maintenance jobs on one store at once.
#
# Unlike ``compact_zorder_incremental`` this needs no commit marker: every
# rewrite is a pure function of the rows already in the store, so after a
# crash the sweep restores readability and a rerun restores exactness.
# ===========================================================================

_ASIDE = "_old_"
_STAGED_SUFFIX = "__compacting"


def _leaf_glob(path: str, part_cols: list[str], aside: bool = False) -> str:
    *parents, leaf = part_cols
    return os.path.join(
        path,
        *[f"{c}=*" for c in parents],
        f"{_ASIDE if aside else ''}{leaf}=*",
    )


def _leaf_files(path: str, part_cols: list[str]) -> dict[str, list[str]]:
    """Relative leaf dir (``band=0/bh_part=3``) -> its sorted data files."""
    return {
        os.path.relpath(d, path): sorted(glob.glob(os.path.join(d, "part-*")))
        for d in glob.glob(_leaf_glob(path, part_cols))
    }


def _leaf_key(part_cols: list[str]) -> Column:
    """The relative leaf dir of each row, as a partition-column-only
    expression (so filters on it prune directories)."""
    return F.concat_ws(
        "/", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in part_cols]
    )


def store_recover(path: str, part_cols: list[str]) -> int:
    """Crash-recovery sweep: resolve every ``_old_<leaf col>=<v>`` aside a
    dead swap left behind. Until swept, Spark's partition inference sees
    the aside as a conflicting partition column and every plain reader
    fails (CONFLICTING_PARTITION_COLUMN_NAMES). If the live twin is
    missing the aside IS the leaf (rename it back); if both exist the
    aside is a stale pre-swap copy (delete it). A glob bounded by the
    partition depth, not a recursive walk, so it is cheap enough to run
    on every open. Idempotent. Returns the number of asides resolved."""
    resolved = 0
    for old in glob.glob(_leaf_glob(path, part_cols, aside=True)):
        live = os.path.join(
            os.path.dirname(old), os.path.basename(old).removeprefix(_ASIDE)
        )
        if os.path.exists(live):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, live)
        resolved += 1
    return resolved


def store_open(spark, path: str, part_cols: list[str]) -> DataFrame:
    """Open a partitioned store for reading: sweep, then refresh the
    session's shared file-listing cache (a sweep or an out-of-band copy
    changes files behind it, and a stale listing serves deleted files),
    then read."""
    store_recover(path, part_cols)
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def store_commit(
    path: str, part_cols: list[str], leaves: list[str], rows: DataFrame
) -> None:
    """Replace the leaf dirs ``leaves`` (relative, as ``_leaf_files``
    names them) with ``rows``: stage ``rows`` partitioned by
    ``part_cols`` under ``<path>__compacting``, then swap leaf by leaf. A
    listed leaf with no staged twin (its rows all left) is removed.

    Each swap renames the live leaf to its ``_old_`` aside before the
    staged leaf moves in, so a crash at any instant leaves the leaf's
    data on disk as the live dir, the aside, or both, and
    :func:`store_recover` restores a readable store. Concurrent readers
    may briefly miss a mid-swap leaf.

    Object-store mapping: POSIX rename is a stand-in here. On S3/GCS this
    sequence is one table-format transaction: Delta Lake ``OPTIMIZE`` /
    Iceberg ``rewrite_data_files`` write the new files beside the old and
    commit one log entry that swaps which files are live, so readers see
    wholly-old or wholly-new and uncommitted files are simply invisible
    (no sweep). When Delta is available
    (``streaming.pipeline.delta_available()``), this body becomes one
    ``REPLACE WHERE <leaf in leaves>`` commit; the planning that picks
    ``leaves`` is unchanged.
    """
    staged = path + _STAGED_SUFFIX
    shutil.rmtree(staged, ignore_errors=True)
    rows.write.mode("overwrite").partitionBy(*part_cols).parquet(staged)
    for leaf in leaves:
        live = os.path.join(path, leaf)
        new = os.path.join(staged, leaf)
        old = os.path.join(
            os.path.dirname(live), _ASIDE + os.path.basename(live)
        )
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(live):
            os.rename(live, old)
        if os.path.exists(new):
            os.rename(new, live)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)
    rows.sparkSession.catalog.refreshByPath(path)


def store_compact(
    spark,
    path: str,
    part_cols: list[str],
    id_col: str,
    target_rows_per_file: int,
) -> tuple[DataFrame, int, int, int]:
    """Compact the fragmented leaves of a partitioned store in place.

    A leaf with more files than ``ceil(rows / target_rows_per_file)`` is
    rewritten into at most that many files; every other leaf keeps its
    files (mtimes preserved), so the job is O(touched leaves), never
    O(store). Per-leaf row counts come from the parquet footers (no Spark
    job); the rewrite's only shuffle is ``repartition(*part_cols, slot)``
    over the touched leaves' rows with ``slot = pmod(xxhash64(id),
    files_for_leaf)``. Hash slotting can merge slots within a task, so a
    file may exceed the target; the guarantee is the file-count ceiling.
    Rewritten leaves commit through :func:`store_commit`. Runs the sweep
    first, so every compaction is also a recovery point.

    Returns ``(store_df, n_files_before, n_files_after, n_leaves_rewritten)``.
    """
    import pyarrow.parquet as pq

    store_recover(path, part_cols)
    spark.catalog.refreshByPath(path)
    before = _leaf_files(path, part_cols)
    targets = {
        leaf: max(
            1,
            math.ceil(
                sum(pq.read_metadata(f).num_rows for f in files)
                / target_rows_per_file
            ),
        )
        for leaf, files in before.items()
    }
    touched = sorted(
        leaf for leaf, files in before.items() if len(files) > targets[leaf]
    )
    if touched:
        key = _leaf_key(part_cols)
        slots = F.create_map(
            *[F.lit(x) for leaf in touched for x in (leaf, targets[leaf])]
        )
        store_commit(
            path,
            part_cols,
            touched,
            spark.read.parquet(path)
            .filter(key.isin(touched))
            .withColumn("_slot", F.pmod(F.xxhash64(id_col), slots[key]))
            .repartition(
                sum(targets[leaf] for leaf in touched),
                *[F.col(c) for c in part_cols],
                F.col("_slot"),
            )
            .drop("_slot"),
        )
    n_before = sum(len(v) for v in before.values())
    n_after = sum(len(v) for v in _leaf_files(path, part_cols).values())
    return spark.read.parquet(path), n_before, n_after, len(touched)
