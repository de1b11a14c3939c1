"""A minimal copy-on-write snapshot-log table format, in pure PySpark.

The image ships no lakehouse library (Delta/Iceberg), but a mutable lake
is the most-asked-for capability over a warehouse of immutable parquet
(VERDICT r02 "what's missing" #1). This module implements the essential
contract those formats provide — atomic snapshot commits, MERGE
(upsert/delete) semantics, and time-travel reads — with nothing but
parquet data files and a JSON snapshot log:

    table_dir/
      data/<version>-<part>.parquet     immutable data files
      _log/v00000001.json               manifest: the files of snapshot 1
      _log/v00000002.json               manifest: the files of snapshot 2

A reader lists `_log/`, picks the highest committed version (or a
requested historical one), and reads exactly the files in that manifest —
never the directory listing of `data/`, so half-written data files are
invisible. A writer prepares new data files, then commits by writing the
manifest to a temp name and hard-linking it into place — atomic on
POSIX, so a crash at any point leaves the previous snapshot intact
(readers either see the old manifest or the complete new one). This is
exactly Iceberg's core idea (the file list lives in metadata, commits are
a metadata swap).

Two physical layouts share the one log format:

- **Plain snapshots** (``commit_snapshot``/``merge_snapshot``): each
  commit writes the full surviving row set — simple, right for small or
  append-replace tables, O(table) per MERGE.
- **Key-range-partitioned snapshots** (``create_partitioned`` /
  ``merge_partitioned``): data files are bucketed by key range (bounds =
  exact percentiles sampled at table creation, stored in the manifest),
  each manifest entry carries per-file statistics (bucket, rows, min/max
  of the key, read from the parquet FOOTER — no second scan), and MERGE
  routes the change-set to its buckets and rewrites ONLY the touched
  buckets' files; untouched files are carried forward by reference,
  byte-identical (property-tested). That drops MERGE from O(table) to
  O(changed partitions) — the Iceberg/Delta COW shape. The same stats
  drive reader-side file skipping (``scan_partitioned``): a key-range
  predicate opens only overlapping files, Iceberg's manifest-pruning
  idea. Appends (``append_partitioned``) add files without rewriting
  anything; compaction (``compact_partitioned``) bin-packs multi-file
  buckets back to one file; schema evolution (``evolve_schema``) is a
  metadata-only commit — historical files are null-padded at read time
  by the explicit-schema parquet read.

Every table service commits through one function, ``_commit_next``
(Iceberg's optimistic conflict rule): it reads the head version v and
its manifest, lets the service build the next manifest from them, and
links it in as v+1. A writer that lost v+1 to a concurrent commit gets
FileExistsError from link(), re-reads the new head and rebuilds, up to
``_COMMIT_RETRIES`` times, so concurrent change-sets serialize and each
lands exactly once.

The read path scales: a manifest is a few KB per thousand files, and
Spark reads the listed files as an ordinary multi-file parquet scan with
full pushdown/pruning.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import load_table, materialize
from ..sources.io import _scratch


def _log_dir(table: str) -> str:
    return os.path.join(table, "_log")


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"v{version:08d}.json")


def current_version(table: str) -> int:
    """Highest committed snapshot version (0 = empty table)."""
    try:
        names = os.listdir(_log_dir(table))
    except FileNotFoundError:
        return 0
    versions = [
        int(n[1:9]) for n in names if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions, default=0)


def _link_json(path: str, obj: dict) -> None:
    """Atomically create ``path`` holding ``obj`` as JSON: write-temp +
    link. link() FAILS with FileExistsError if ``path`` already exists
    (rename would silently replace), so of two racing creators exactly
    one wins and the other aborts instead of clobbering."""
    tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def _commit_manifest(
    table: str, version: int, manifest: dict, operation: str | None = None
) -> int:
    """Atomically publish ``manifest`` as snapshot ``version``; raises
    FileExistsError if another writer committed this version first.

    Stamps ``version`` and ``committed_at`` (wall-clock seconds) into the
    manifest — the latter is the anchor for TIMESTAMP AS OF time travel.
    Metadata only: no query output ever derives from it, so determinism
    is unaffected."""
    import time

    manifest["version"] = version
    # stamped unconditionally: the commit's own wall time, never a value
    # carried forward from the previous manifest or passed by a caller
    manifest["committed_at"] = time.time()
    if operation is not None:
        # what kind of commit this was — DESCRIBE HISTORY's operation column
        manifest["operation"] = operation
    os.makedirs(_log_dir(table), exist_ok=True)
    _link_json(_manifest_path(table, version), manifest)
    return version


class CommitConflictError(RuntimeError):
    """All optimistic-commit retries lost the race for the next version."""


_COMMIT_RETRIES = 5  # re-reads a commit-race loser makes before giving up


def _commit_next(
    table: str, operation: str, build: Callable[[int, dict | None], dict | None]
) -> int:
    """Commit the next snapshot of ``table`` optimistically — the one
    commit protocol every table service shares (Iceberg's conflict rule).

    Reads the head version v and its manifest (None for an empty table),
    calls ``build(v, manifest)`` for the next manifest and publishes it
    as v+1. If another writer took v+1 first, the whole read-build-commit
    repeats against the new head, up to ``_COMMIT_RETRIES`` times, so
    concurrent change-sets serialize and each lands exactly once; after
    that it raises CommitConflictError. ``build`` returning None means
    there is nothing to commit. Returns the committed version, or the
    unchanged head's on such a no-op."""
    for _ in range(_COMMIT_RETRIES + 1):
        version = current_version(table)
        man = read_manifest(table, version) if version else None
        manifest = build(version, man)
        if manifest is None:
            return version
        try:
            return _commit_manifest(table, version + 1, manifest, operation=operation)
        except FileExistsError:
            continue  # lost the race: re-read the new head and rebuild
    raise CommitConflictError(
        f"{operation} on {table!r} lost {_COMMIT_RETRIES + 1} optimistic-commit races"
    )


def commit_snapshot(
    df: DataFrame,
    table: str,
    schema_ddl: str,
    extra: dict | None = None,
    expected_version: int | None = None,
    operation: str = "commit",
) -> int:
    """Write ``df`` as the next snapshot of ``table`` and atomically commit.

    Data files first (invisible to readers — they only follow manifests),
    then the manifest via write-temp + link. ``extra`` merges additional
    metadata into the manifest (e.g. the source batch id a streaming
    writer uses for its idempotence guard). Returns the new version.

    ``expected_version`` pins the commit to a specific slot: a writer that
    derived its content from snapshot v MUST commit v+1, or a concurrent
    commit between its read and its write would be silently overwritten on
    top of (a lost update — re-deriving the version at commit time, the
    pre-r04 behavior, had exactly that hole). Serializable writers
    (merge_snapshot, the partitioned MERGE) always pin."""
    version = (
        current_version(table) + 1 if expected_version is None else expected_version
    )
    manifest = {"schema": schema_ddl, "files": _write_plain_files(df, table, version)}
    if extra:
        manifest.update(extra)
    return _commit_manifest(table, version, manifest, operation=operation)


def _write_plain_files(df: DataFrame, table: str, version: int) -> list[str]:
    """Write ``df`` under a fresh stage dir; return its files' paths."""
    stage_rel = os.path.join("data", f"v{version:08d}-{uuid.uuid4().hex[:8]}")
    stage = os.path.join(table, stage_rel)
    df.write.mode("overwrite").parquet(stage)
    # TABLE-RELATIVE paths (Iceberg/Delta do the same): a table moved or
    # remounted as a unit keeps working, since readers re-anchor at read time
    return sorted(
        os.path.join(stage_rel, n) for n in os.listdir(stage) if n.endswith(".parquet")
    )


def read_manifest(table: str, version: int | None = None) -> dict:
    """The manifest dict of ``version`` (default: latest committed)."""
    if version is None:
        version = current_version(table)
    if version == 0:
        raise ValueError(
            f"table {table!r} has no committed snapshot (version 0 = empty)"
        )
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def read_snapshot(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """Read the table at ``version`` (default: latest committed). A
    snapshot carrying equality-delete files (merge-on-read commits) is
    read through the delete-applying path transparently — every consumer
    (CDF, maintenance, time travel) sees the post-delete state."""
    manifest = read_manifest(table, version)
    if manifest.get("delete_files"):
        return _read_files_mor(spark, table, manifest, manifest["files"])
    if not manifest["files"]:  # empty snapshot: schema from the manifest
        return spark.createDataFrame([], manifest["schema"])
    return spark.read.schema(manifest["schema"]).parquet(
        *[os.path.join(table, f) for f in manifest["files"]]
    )


def version_as_of(table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the newest version committed at or
    before ``ts`` (Delta/Iceberg's timestamp time travel). Commit times
    come from the manifests; pre-r04 manifests without a stamp are
    treated as infinitely old (always visible). Raises if the table has
    no snapshot that early."""
    best = 0
    for v in range(1, current_version(table) + 1):
        if os.path.exists(_manifest_path(table, v)):
            if read_manifest(table, v).get("committed_at", 0.0) <= ts:
                best = v
    if best == 0:
        raise ValueError(
            f"table {table!r} has no snapshot committed at or before {ts}"
        )
    return best


def read_snapshot_as_of(spark: SparkSession, table: str, ts: float) -> DataFrame:
    """Read the table as it was at wall-clock time ``ts``."""
    return read_snapshot(spark, table, version_as_of(table, ts))


def merge_snapshot(
    spark: SparkSession,
    table: str,
    changes: DataFrame,
    key: str,
    schema_ddl: str,
) -> int:
    """MERGE: apply a last-writer-wins change-set (columns: key, op in
    I/U/D, seq, payload...) to the latest snapshot, commit as a new one.

    Same LWW-window semantics as the m5 CDC operator; the difference is
    the result is COMMITTED as an immutable snapshot instead of returned,
    so readers get atomic visibility and history survives. A writer that
    loses the commit race re-applies the change-set to the new head, so
    concurrent change-sets land as their serial application
    (property-tested)."""
    from .maintenance import apply_changelog

    def build(version: int, man: dict | None) -> dict:
        if man is None:
            base = spark.createDataFrame([], schema_ddl)
        else:
            base = read_snapshot(spark, table, version)
        merged = apply_changelog(base, changes, key)
        files = _write_plain_files(merged, table, version + 1)
        return {"schema": schema_ddl, "files": files}

    return _commit_next(table, "merge", build)


_ORDERS_DDL = "o_orderkey long, o_totalprice double"

# change-set + oracle CTE shared with m5_cdc_apply — ONE definition, so an
# edit to the canonical change-set updates every consumer and its oracle
from .maintenance import ORDERS_CDC_CTE as _M5_CHANGES_CTE  # noqa: E402
from .maintenance import orders_cdc_changes as _orders_changes  # noqa: E402


def _build_orders_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Scratch fixture: snapshot v1 = orders, snapshot v2 = merged CDC."""
    table = _scratch(sf_dir, name)
    shutil.rmtree(table, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    commit_snapshot(o, table, _ORDERS_DDL)
    merge_snapshot(spark, table, _orders_changes(o), "o_orderkey", _ORDERS_DDL)
    return table


@query(
    "m17_acid_merge",
    oracle=_M5_CHANGES_CTE + """
SELECT o_orderkey, o_totalprice FROM merged
""",
    category="maintenance",
)
def acid_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE into the snapshot-log table format: commit orders as snapshot
    v1, MERGE the m5 change-set into snapshot v2, return the table read
    through the LOG (not the directory) — proving the committed state is
    exactly the CDC merge the oracle recomputes, and that the read path
    sees only manifest-listed files."""
    table = _build_orders_table(spark, sf_dir, "m17_orders_table")
    return read_snapshot(spark, table)


@query(
    "m18_time_travel",
    oracle=_M5_CHANGES_CTE + """
SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS total
FROM orders
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
FROM merged
""",
    category="maintenance",
)
def time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: summarize BOTH snapshots of the merged table — v1 must
    still read as the original orders even though v2 has rewritten the
    data (history lives in the log, not in mutable files). The summary is
    the quantized-exact (count, total) per version."""
    table = _build_orders_table(spark, sf_dir, "m18_orders_table")

    def summarize(version: int) -> DataFrame:
        snap = read_snapshot(spark, table, version)
        return snap.agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).cast(
                    "double"
                )
                / 100.0
            ).alias("total"),
        ).select("version", "n_rows", "total")

    return summarize(1).unionByName(summarize(2))


def expire_snapshots(table: str, keep_latest: int = 1) -> tuple[int, int, int]:
    """Retention: drop all but the newest ``keep_latest`` manifests and
    delete every data file no surviving manifest references. Returns
    (versions_before, versions_after, files_deleted).

    Mirrors Iceberg's expire_snapshots/Delta VACUUM: time travel is traded
    for storage, and the deletion set is computed from the METADATA diff
    (referenced-before minus referenced-after), never from directory
    listing age — a file a live manifest lists is untouchable no matter
    how old. Crash-safe and idempotent BY ORDERING: the expired manifests
    are unlinked FIRST, so from any interruption point onward no live
    manifest references a deleted file (the invariant survives), and the
    file pass tolerates already-deleted paths, so a re-run converges.
    Fully-doomed stage directories are removed whole (parquet part files
    plus _SUCCESS/.crc markers). Driver-side file ops are O(#files), fine
    for maintenance; at real scale the deletion list itself would be a
    DataFrame job (m15_orphan_file_audit is that shape)."""
    latest = current_version(table)
    versions = [
        v for v in range(1, latest + 1) if os.path.exists(_manifest_path(table, v))
    ]
    keep = set(versions[-keep_latest:]) if keep_latest else set()
    # tagged versions are retained regardless of age — a tag is a retention
    # statement (Iceberg's ref-retention contract), so `expire` can never
    # pull a named release/audit snapshot out from under its readers
    from .lakehouse_wap import list_tags

    keep |= set(list_tags(table).values()) & set(versions)

    def files_of(vs) -> set[str]:
        out: set[str] = set()
        for v in vs:
            man = read_manifest(table, v)
            out.update(man["files"])
            out.update(man.get("delete_files") or {})  # MOR deletes are files too
        return out

    doomed_files = files_of([v for v in versions if v not in keep]) - files_of(keep)
    live_dirs = {os.path.dirname(f) for f in files_of(keep)}
    for v in versions:  # manifests FIRST: see docstring ordering argument
        if v not in keep:
            os.unlink(_manifest_path(table, v))
    for d in {os.path.dirname(f) for f in doomed_files} - live_dirs:
        shutil.rmtree(os.path.join(table, d), ignore_errors=True)
    for f in doomed_files:  # residue in shared dirs (none today, cheap guard)
        if os.path.dirname(f) in live_dirs:
            try:
                os.unlink(os.path.join(table, f))
            except FileNotFoundError:
                pass  # a previous interrupted run already removed it
    return len(versions), len(keep), len(doomed_files)


@query(
    "m19_snapshot_expire",
    oracle=_M5_CHANGES_CTE + """
SELECT 2 AS versions_before, 1 AS versions_after,
       CAST(COUNT(*) AS BIGINT) AS n_rows_latest
FROM merged
""",
    category="maintenance",
)
def snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention on the snapshot-log table: build the 2-snapshot merged
    table, expire to the latest only, and prove the surviving snapshot
    still reads completely (row count = the CDC merge) while history is
    gone. The deletion set is metadata-derived — the oracle pins the
    version census and the post-vacuum readability."""
    table = _build_orders_table(spark, sf_dir, "m19_orders_table")
    before, after, _ = expire_snapshots(table, keep_latest=1)
    n = read_snapshot(spark, table).count()
    return spark.createDataFrame(
        [(before, after, n)],
        "versions_before int, versions_after int, n_rows_latest long",
    )


# ---------------------------------------------------------------------------
# Key-range-partitioned snapshots: partition-pruned COW MERGE, file skipping,
# append, compaction, schema evolution (the r03 verdict's top-ranked gaps)
# ---------------------------------------------------------------------------


def _bucket_expr(col, bounds: list[float]):
    """bucket(key) = number of bounds ≤ key — a branch-free searchsorted
    over the (tiny, manifest-stored) bounds list, evaluated JVM-side per
    row. NULL keys compare false against every bound → bucket 0. Both the
    writer (routing data files) and MERGE (routing change rows) use this
    one definition, so a change row always lands on its row's file."""
    b = F.lit(0)
    for x in bounds:
        b = b + F.when(col >= F.lit(x), 1).otherwise(0)
    return b


def _footer_stats(abs_path: str, key: str) -> dict:
    """Per-file statistics from the parquet FOOTER (no data scan): row
    count plus min/max of EVERY primitive column across row groups —
    exactly what Iceberg records in its manifests. The partition key's
    span is lifted to top-level min/max (the hot path); all columns land
    under "cols", so any predicate on a column the physical layout
    happens to cluster (e.g. event_id on a time-partitioned table) can
    skip files too. Driver-side and O(1) per file (footers are KBs); at
    cluster scale this runs as a task per file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        for j in range(md.num_columns):
            c = md.row_group(rg).column(j)
            s = c.statistics
            if s is None or not s.has_min_max:
                continue
            mn, mx = s.min, s.max
            # only JSON-representable, totally-ordered scalar stats
            if not isinstance(mn, (bool, int, float, str)) or (
                isinstance(mn, float) and mn != mn
            ):
                continue
            name = c.path_in_schema
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {
        "rows": md.num_rows,
        "min": mins.get(key),
        "max": maxs.get(key),
        "cols": {n: [mins[n], maxs[n]] for n in mins},
    }


def _write_bucket_files(
    df: DataFrame,
    table: str,
    man: dict,
    version: int,
    n_out: int | None = None,
    files_per_bucket: int = 1,
) -> dict[str, dict]:
    """Write ``df`` as ``files_per_bucket`` parquet files per non-empty
    key-range bucket of ``man``'s partition spec under a fresh stage dir;
    return {relpath: stats} manifest entries.

    ``repartition(n, "__bucket"[, "__salt"])`` then ``partitionBy``
    bounds the file count (co-hashed partitions still split into
    separate bucket directories). ``files_per_bucket`` is the straggler
    lever: one file per bucket means one TASK writes the whole bucket —
    fine at fixture scale, a multi-TB straggler at 100 TB. Size it to
    bucket_bytes / target_file_size (Iceberg's write.target-file-size);
    every reader/maintenance path already handles multi-file buckets
    (append and compaction create/destroy them routinely)."""
    key, bounds = man["partition"]["key"], man["partition"]["bounds"]
    # n_out: how many buckets this write can actually contain (a routed
    # MERGE knows its touched set) — avoids scheduling empty shuffle
    # partitions for the buckets that are not being rewritten
    n_buckets = n_out if n_out is not None else len(bounds) + 1
    fpb = max(files_per_bucket, 1)
    staged = df.withColumn("__bucket", _bucket_expr(F.col(key), bounds))
    if fpb > 1:  # spread each bucket across fpb writer tasks
        # salt over ALL columns, not the key: a low-cardinality key (a
        # hash shard) would hash to one salt per bucket and the fan-out
        # would silently collapse back to one file
        staged = staged.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(fpb))
        )
        split_cols = ["__bucket", "__salt"]
    else:
        split_cols = ["__bucket"]
    return _write_stage(
        staged.repartition(max(n_buckets, 1) * fpb, *split_cols)
        # tight per-file min/max (s7's idea). __bucket leads because the
        # partitioned write requires that ordering: a bare key sort sits
        # under the write's own Sort [__bucket] and the optimizer drops it.
        .sortWithinPartitions("__bucket", key)
        .drop("__salt"),
        table,
        man,
        version,
    )


def _write_stage(
    staged: DataFrame, table: str, man: dict, version: int
) -> dict[str, dict]:
    """Write ``staged`` (rows tagged with their ``__bucket``) under a
    fresh stage dir, one directory per bucket, in the table's codec;
    return the manifest entries (bucket, seq, footer stats) of every file
    written — the tail every bucket writer (hash-salted, sort- and
    z-sliced) shares. The stage is invisible until the manifest commits,
    so a lost commit race only leaves orphan files —
    remove_orphan_files' cleanup shape, never corruption."""
    key = man["partition"]["key"]
    stage_rel = os.path.join("data", f"v{version:08d}-{uuid.uuid4().hex[:8]}")
    stage = os.path.join(table, stage_rel)
    writer = staged.write.partitionBy("__bucket").mode("overwrite")
    if man.get("codec") is not None:
        # per-TABLE codec (VERDICT r11 #2): read-heavy index tables opt
        # into zstd (−21% bytes on every later scan); churn-heavy tables
        # keep the session default (snappy)
        writer = writer.option("compression", man["codec"])
    writer.parquet(stage)
    entries: dict[str, dict] = {}
    for bdir in sorted(os.listdir(stage)):
        if not bdir.startswith("__bucket="):
            continue
        bucket = int(bdir.split("=", 1)[1])
        for fn in sorted(os.listdir(os.path.join(stage, bdir))):
            if fn.endswith(".parquet"):
                rel = os.path.join(stage_rel, bdir, fn)
                # data sequence number (Iceberg's): which commit wrote each
                # file — equality-delete files apply only to data files
                # with a strictly smaller seq, so a commit that both
                # deletes a key and re-inserts it keeps the new row
                entries[rel] = {
                    "bucket": bucket,
                    "seq": version,
                    **_footer_stats(os.path.join(table, rel), key),
                }
    return entries


_STD_MANIFEST_KEYS = {
    "version",
    "schema",
    "files",
    "stats",
    "partition",
    "committed_at",
    "operation",  # per-commit, never inherited from the previous manifest
}


def _partitioned_manifest(
    schema_ddl: str,
    partition: dict,
    stats: dict[str, dict],
    prev: dict | None = None,
    extra: dict | None = None,
) -> dict:
    """Build a manifest (``_commit_manifest`` stamps its version);
    non-standard keys of ``prev`` (application metadata like a persisted
    model's parameters, a streaming batch id or the table's codec) are
    carried forward so table services never strip them; ``extra``
    overrides/adds."""
    manifest = {
        "schema": schema_ddl,
        "files": sorted(stats),
        "stats": stats,
        "partition": partition,
    }
    if prev:
        for k, v in prev.items():
            if k not in _STD_MANIFEST_KEYS:
                manifest[k] = v
    if extra:
        manifest.update(extra)
    return manifest


_LOW_CARD_KEYS = 1_024  # below this, bounds come from exact per-key counts
_AUTO_ROWS_PER_FILE = 4_000_000  # files_per_bucket="auto" write sizing
_BOUNDS_SAMPLE_CAP = 100_000  # exact percentile is a single-reducer agg;
# past this, bounds come from a deterministic xxhash sample of the key


def create_partitioned(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    schema_ddl: str,
    key: str,
    n_buckets: int = 8,
    extra: dict | None = None,
    files_per_bucket: int | str = 1,
    bounds: list[float] | None = None,
    n_rows: int | None = None,
    codec: str | None = None,
) -> int:
    """Create a key-range-partitioned table as snapshot v1.

    ``codec`` pins a PER-TABLE parquet compression codec in the manifest
    (VERDICT r11 #2): read-heavy committed tables (text-index postings —
    written once per refresh, re-scanned by every probe) opt into zstd
    for the −21% scan bytes; churn-heavy COW/CDF tables leave it unset
    and write with the session default (snappy). Every later writer
    (append/merge/compact/upsert/re-bound) honors the manifest's codec,
    because ``_partitioned_manifest`` carries non-standard keys forward.

    Bucket bounds = percentiles of ``key`` over a DETERMINISTIC hash
    sample (exact over the full data up to ~100k rows), fixed for the
    table's lifetime and stored in the manifest — every later writer
    routes with the same bounds, so a key always maps to one bucket.
    Determinism is the contract here, not exactness: Spark's exact
    ``percentile`` aggregate materializes the whole column in a single
    reducer (the round-5 sf10 smoke measured one 166 s single-task stage
    doing exactly that over 15M rows), while bounds from a fixed-hash
    sample only shift bucket SIZES a few percent — the same trade
    Spark's own RangePartitioner makes, except reproducible. Keys beyond
    the sampled range (later inserts) fall into the edge buckets;
    re-bounding is a full-rewrite maintenance job by design (same as
    Iceberg partition-spec evolution).

    LOW-CARDINALITY keys (hash shards, categorical codes) skip the
    sample entirely: the value-hash filter keeps each distinct value
    all-or-nothing, so with few values it usually keeps none — the r07
    sf30 probe caught empty bounds routing a 36M-row index into one
    bucket. Exact per-key counts (tiny by definition there) give
    deterministic, exact weighted-percentile bounds instead.

    ``files_per_bucket="auto"`` sizes the per-bucket writer fan-out from
    the row count (~``_AUTO_ROWS_PER_FILE`` rows per file), so one
    bucket's write task can't become the straggler as the table grows.

    Explicit ``bounds`` skip sampling altogether — the right call when
    the key domain is KNOWN a priori (t26's shard column is 0..15 by
    construction): a table seeded from a small first batch must not
    freeze a collapsed layout for its lifetime (review-found).

    The row count drives ONLY the "auto" file fan-out and the bounds
    sampling, so it is computed lazily — a create with explicit bounds
    and a fixed ``files_per_bucket`` (every sidecar/LSM-segment create)
    skips the counting job entirely; callers that already ran an
    aggregate over ``df`` (the text-index build folds its corpus-stats
    pass and the count into one job) pass the count via ``n_rows``."""
    if codec is not None:
        extra = {**(extra or {}), "codec": codec}
    qs = [i / n_buckets for i in range(1, n_buckets)]
    src = df
    n = n_rows
    if n is None and (bounds is None or files_per_bucket == "auto"):
        # count(1) reads ZERO columns from the scan — keep it a separate
        # job rather than fusing with the approx_count_distinct probe
        # below: the probe forces reading+hashing the key column, and it
        # is only consulted for tables past _BOUNDS_SAMPLE_CAP (the r11
        # fused-agg A/B read m47 1.33x WORSE for exactly this reason)
        n = df.count()
    if files_per_bucket == "auto":
        files_per_bucket = max(
            1, -(-n // (max(n_buckets, 1) * _AUTO_ROWS_PER_FILE))
        )
    ncd = 0
    if bounds is None and n > _BOUNDS_SAMPLE_CAP:
        ncd = int(
            df.select(F.approx_count_distinct(key).alias("c")).first()["c"]
        )
    if bounds is not None:
        bounds = sorted(float(b) for b in bounds)
    elif n > _BOUNDS_SAMPLE_CAP and ncd <= _LOW_CARD_KEYS:
        # LOW-CARDINALITY key (a hash-shard / categorical column): the
        # value-hash sample below keeps each distinct value all-or-nothing,
        # so with few values it usually keeps NONE — empty bounds routed a
        # 36M-row index into ONE bucket/file at the sf30 probe (r07).
        # Exact per-key counts are tiny here; weighted percentiles over
        # them are deterministic AND exact.
        counts = sorted(
            (r[0], r[1])
            for r in df.groupBy(key).count().collect()
            if r[0] is not None
        )
        bounds_set = set()
        cum, qi = 0, 0
        for idx, (v, c) in enumerate(counts):
            cum += c
            crossed = False
            while qi < len(qs) and cum >= qs[qi] * n:
                qi += 1
                crossed = True
            # a boundary after v starts the next bucket at the NEXT
            # distinct value (bucket(key) = #bounds <= key)
            if crossed and idx + 1 < len(counts):
                bounds_set.add(float(counts[idx + 1][0]))
        bounds = sorted(bounds_set)
    else:
        if n > _BOUNDS_SAMPLE_CAP:
            m = n // _BOUNDS_SAMPLE_CAP
            src = df.filter(
                F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(m)) == 0
            )
        row = src.select(
            F.expr(f"percentile({key}, array({','.join(repr(q) for q in qs)}))")
        ).first()[0]
        bounds = sorted({float(b) for b in (row or []) if b is not None})
    partition = {"key": key, "bounds": bounds}
    entries = _write_bucket_files(
        df, table, {"partition": partition, "codec": codec}, 1,
        files_per_bucket=files_per_bucket,
    )
    return _commit_manifest(
        table,
        1,
        _partitioned_manifest(schema_ddl, partition, entries, extra=extra),
        operation="create",
    )


def merge_partitioned(
    spark: SparkSession,
    table: str,
    changes: DataFrame,
    extra: dict | None = None,
) -> int:
    """Partition-pruned copy-on-write MERGE: rewrite ONLY the buckets the
    change-set touches; carry every other file forward by reference.

    1. Route change keys through the manifest's bucket bounds; collect the
       touched bucket ids (≤ n_buckets ints — the only driver transfer).
    2. Read just the touched buckets' files, apply the LWW changelog
       (m5 semantics) to that slice — every change row's target lives
       there by construction, and inserts route the same way.
    3. New manifest = untouched entries verbatim + fresh entries for the
       rewritten buckets. A lost commit race re-runs all three steps
       against the new head.

    Cost: O(changed partitions) instead of O(table) per commit — the gap
    the r03 verdict ranked #1. Untouched files are byte-identical across
    the commit (property-tested).

    The change-set is materialized ONCE (``localCheckpoint``) before
    anything else: it is consumed twice (bucket routing, then the merge
    join), and a change-set derived from a scan — the normal CDC case —
    would otherwise be recomputed from source per consumer (measured 2×
    the change-set derivation cost at sf1 before this)."""
    from .maintenance import apply_changelog

    changes = materialize(changes, eager=False)

    def build(version: int, man: dict) -> dict:
        part = man["partition"]
        key, bounds = part["key"], part["bounds"]
        cur_spec = part.get("spec_id", 1)
        row = changes.agg(
            F.collect_set(_bucket_expr(F.col(key), bounds)).alias("bs"),
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
        ).first()
        touched, ck_lo, ck_hi = set(row["bs"]), row["lo"], row["hi"]
        stats = man["stats"]

        def is_touched(st: dict) -> bool:
            # a file written under an EARLIER partition spec has a stale
            # bucket id — route it by its CURRENT-key span (re-pointed by
            # evolve_partition_spec) against the change-set's key span
            # instead; None spans keep the file conservatively (treating
            # it as untouched would silently drop its updates — the
            # evolution lost-update hole, property-tested shut)
            if st.get("spec", cur_spec) != cur_spec:
                mn, mx = st.get("min"), st.get("max")
                if mn is None or mx is None or ck_lo is None:
                    return True
                return not (mx < ck_lo or mn > ck_hi)
            return st["bucket"] in touched

        touched_files = [f for f in man["files"] if is_touched(stats[f])]
        untouched = {f: stats[f] for f in man["files"] if not is_touched(stats[f])}
        # MOR-aware base read: standing delete files apply to the touched
        # buckets here (the rewrite materializes them for these buckets —
        # the new files' seq postdates every delete, so nothing re-applies);
        # carried delete files keep governing the untouched buckets.
        base = _read_files_mor(spark, table, man, touched_files)
        # LWW changelog (m5 semantics). Associative-state tables (the
        # ngram/media digest-count indexes) deliberately do NOT merge:
        # uniform digest keys touch every shard, making a touched-shard
        # rewrite O(index) per commit — they append delta segments and
        # fold at read/compaction instead (VERDICT r09 "What's wrong" #1)
        merged = apply_changelog(base, changes, key)
        entries = _write_bucket_files(
            merged, table, man, version + 1, n_out=len(touched)
        )
        return _partitioned_manifest(
            man["schema"], part, {**untouched, **entries}, prev=man, extra=extra
        )

    return _commit_next(table, "merge", build)


def append_partitioned(
    spark: SparkSession,
    table: str,
    rows: DataFrame,
    extra: dict | None = None,
) -> int:
    """Fast append: write the new rows' bucket files and add them to the
    manifest — NO existing file is read or rewritten (Iceberg's append
    commit). The steady-state ingest path; buckets accumulate small files
    until ``compact_partitioned`` bin-packs them."""

    def build(version: int, man: dict) -> dict:
        entries = _write_bucket_files(rows, table, man, version + 1)
        return _partitioned_manifest(
            man["schema"], man["partition"], {**man["stats"], **entries},
            prev=man, extra=extra,
        )

    return _commit_next(table, "append", build)


def fully_folded(man: dict) -> bool:
    """True iff the manifest PROVES the table's physical rows already
    equal its folded logical content: a fold-compaction stamped
    ``folded_seq`` (the commit it ran at), every data file's seq is ≤
    that stamp (no segment appended since — appends write seq = their
    own newer commit), and no MOR delete file is standing. Readers use
    this to skip the segment fold entirely (the LSM's serving fast
    path) and ``compact_partitioned`` to make a repeat fold a free
    no-op — both from manifest metadata alone."""
    fseq = man.get("folded_seq")
    if fseq is None or man.get("delete_files"):
        return False
    stats = man.get("stats", {})
    return all(
        int(stats.get(f, {}).get("seq", 0)) <= int(fseq) for f in man["files"]
    )


def compact_partitioned(
    spark: SparkSession, table: str, fold=None
) -> tuple[int, int]:
    """Bin-pack every multi-file bucket back to one file; single-file
    buckets are carried forward untouched. Content-preserving by
    construction (same rows, new layout — oracle-checked), and snapshot
    history survives: expire_snapshots later reclaims the pre-compaction
    files. Returns (files_before, files_after).

    ``fold`` (DataFrame → DataFrame, default None) is the LSM hook for
    delta-segment tables (the ngram/media digest-count indexes, whose
    commits are APPENDED ±deltas folded at read time — VERDICT r09
    "What's wrong" #1): compaction applies the owner's fold to collapse
    segments physically, so post-compact files hold the folded rows and
    rows netting ≤0 are erased on disk. A fold invalidates the
    carry-single-file-buckets-forward shortcut (even a lone segment can
    hold signed deltas), so EVERY bucket is rewritten — compaction is
    the scheduled O(index) maintenance pass by design; per-COMMIT cost
    stays O(batch) on the append path. The commit stamps ``folded_seq``
    so (a) a repeat fold with nothing appended since is a metadata-only
    no-op instead of an O(index) rewrite of identical content (r10
    ADVICE), and (b) readers (``read_ngram_counts``) serve the folded
    content FLAT, skipping the fold aggregate, until the next append
    invalidates the stamp (VERDICT r10 next #4)."""
    n_before = n_after = 0

    def build(version: int, man: dict) -> dict | None:
        nonlocal n_before, n_after
        n_before = n_after = len(man["files"])
        if fold is not None and fully_folded(man):
            return None  # already physically folded: nothing to do
        stats = man["stats"]
        by_bucket: dict[int, list[str]] = {}
        for f in man["files"]:
            by_bucket.setdefault(stats[f]["bucket"], []).append(f)
        if fold is None:
            doomed = [fs for fs in by_bucket.values() if len(fs) > 1]
            carried = {
                f: stats[f]
                for fs in by_bucket.values()
                if len(fs) == 1
                for f in fs
            }
        else:
            doomed = [fs for fs in by_bucket.values() if fs]
            carried = {}
        if not doomed:
            return None  # nothing to compact: no new snapshot
        # MOR-aware: standing deletes are materialized into the packed
        # buckets (their new seq postdates the deletes); carried delete
        # files keep applying to the single-file buckets left in place.
        packed = _read_files_mor(
            spark, table, man, [f for fs in doomed for f in fs]
        )
        if fold is not None:
            packed = fold(packed)
        entries = _write_bucket_files(packed, table, man, version + 1)
        manifest = _partitioned_manifest(
            man["schema"], man["partition"], {**carried, **entries}, prev=man,
            # a fold rewrites EVERY data file at seq = version+1, so any
            # standing delete file (strictly-smaller-seq rule) is now
            # dead weight — drop them with the stamp
            extra={"folded_seq": version + 1, "delete_files": {}}
            if fold is not None
            else None,
        )
        n_after = len(manifest["files"])
        return manifest

    _commit_next(table, "compact", build)
    return n_before, n_after


def rewrite_sorted(
    spark: SparkSession,
    table: str,
    sort_col: str,
    slices_per_bucket: int = 4,
) -> tuple[int, int]:
    """Sort-order rewrite (Iceberg's ``rewrite_data_files`` with a sort
    order): re-cluster every bucket's rows by ``sort_col`` and split
    each bucket into range SLICES — one file per slice — so the
    manifest's per-file spans of ``sort_col`` become near-disjoint
    WITHIN each bucket. That is what makes secondary-column file
    skipping (m26's contract) bite on a column orthogonal to the
    partition key: a sort_col range predicate now opens ~1/slices of
    each bucket's files instead of all of them.

    Mechanics: one ``repartitionByRange(__bucket, sort_col)`` shuffle —
    range boundaries from a distributed sample, so slices balance even
    under skew; a boundary partition that straddles two buckets is
    harmless (``partitionBy`` still routes rows to their bucket dirs).
    Content-preserving by construction (same rows, new layout — the
    registered query is oracle-checked); standing MOR deletes are
    materialized by the rewrite (every file is rewritten with a new
    seq, so committing an empty delete_files is safe — m33's argument
    table-wide). Returns (files_before, files_after)."""
    n_before = n_after = 0

    def build(version: int, man: dict) -> dict:
        nonlocal n_before, n_after
        part = man["partition"]
        key, bounds = part["key"], part["bounds"]
        n_before = len(man["files"])
        df = _read_files_mor(spark, table, man, man["files"])
        n_parts = max((len(bounds) + 1) * max(slices_per_bucket, 1), 1)
        entries = _write_stage(
            df.withColumn("__bucket", _bucket_expr(F.col(key), bounds))
            .repartitionByRange(n_parts, F.col("__bucket"), F.col(sort_col))
            .sortWithinPartitions("__bucket", sort_col, key),
            table,
            man,
            version + 1,
        )
        n_after = len(entries)
        return _partitioned_manifest(
            man["schema"], part, entries, prev=man, extra={"delete_files": {}}
        )

    _commit_next(table, "rewrite-sort", build)
    return n_before, n_after


def evolve_schema(table: str, new_schema_ddl: str) -> int:
    """Widen the table schema across snapshots: a METADATA-ONLY commit —
    same files, new DDL. Historical files simply lack the new columns;
    the explicit-schema parquet read null-pads them (verified against
    Spark 4), so no data file is ever rewritten for an ADD COLUMN —
    Iceberg/Delta's schema-evolution contract."""
    return _commit_next(
        table, "evolve-schema", lambda _v, man: {**man, "schema": new_schema_ddl}
    )


def pruned_files(
    table: str,
    key_lo=None,
    key_hi=None,
    version: int | None = None,
    col: str | None = None,
) -> tuple[list[str], int]:
    """Manifest-level file skipping: the files whose [min, max] span of
    ``col`` (default: the partition key) overlaps [key_lo, key_hi]
    (None = unbounded side; files without stats for the column are kept
    conservatively). Because the manifest records EVERY primitive
    column's span, this prunes on secondary columns too — effective
    exactly when the layout clusters them (a time-partitioned event
    table gives near-disjoint event_id spans, a random column prunes
    nothing — same contract as Iceberg's column stats). Returns
    (kept_files, files_total). Pure metadata — no parquet footer or data
    page is opened for a skipped file, which is the entire point at
    100 TB."""
    man = read_manifest(table, version)
    stats = man.get("stats", {})
    part_key = (man.get("partition") or {}).get("key")
    keep = []
    for f in man["files"]:
        st = stats.get(f, {})
        if col is None or col == part_key:
            mn, mx = st.get("min"), st.get("max")
        else:
            mn, mx = st.get("cols", {}).get(col) or (None, None)
        if key_lo is not None and mx is not None and mx < key_lo:
            continue
        if key_hi is not None and mn is not None and mn > key_hi:
            continue
        keep.append(f)
    return keep, len(man["files"])


def scan_partitioned(
    spark: SparkSession,
    table: str,
    key_lo=None,
    key_hi=None,
    version: int | None = None,
    col: str | None = None,
) -> DataFrame:
    """Read the table at ``version`` touching only files that can contain
    keys in [key_lo, key_hi]. The file set is a SUPERSET of the matching
    rows (stats prune whole files, not rows) — the caller applies the
    exact row predicate on top, same as any lake reader re-applies its
    filter after partition pruning."""
    man = read_manifest(table, version)
    keep, _ = pruned_files(table, key_lo, key_hi, version, col=col)
    # MOR-aware: a deleted row may live in a kept file, so standing
    # delete files anti-join here too (they are keys-only and tiny;
    # pruning them by their own min/max would be a further refinement)
    return _read_files_mor(spark, table, man, keep)


# --- registered queries ----------------------------------------------------

# A RANGED change-set (keys 1..400 only) so the MERGE demonstrably touches
# a strict subset of buckets; the oracle mirrors the range filters.
_RANGED_CDC_CTE = """
WITH changes AS (
  SELECT o_orderkey AS k, 'U' AS op, 1 AS seq, o_totalprice + 10.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey BETWEEN 1 AND 400
  UNION ALL
  SELECT o_orderkey, 'U', 2, o_totalprice + 20.0
  FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey % 3 = 0 AND o_orderkey BETWEEN 1 AND 400
  UNION ALL
  SELECT o_orderkey, 'D', 1, NULL
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey BETWEEN 1 AND 400
  UNION ALL
  SELECT o_orderkey + 30000000, 'I', 1, o_totalprice
  FROM orders WHERE o_orderkey % 5 = 2 AND o_orderkey BETWEEN 1 AND 400
),
latest AS (
  SELECT k, op, o_totalprice
  FROM changes QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) = 1
),
merged AS (
  SELECT k AS o_orderkey, o_totalprice FROM (
    SELECT s.o_orderkey AS k,
           CASE WHEN c.op = 'U' THEN c.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
           c.op
    FROM orders s LEFT JOIN latest c ON s.o_orderkey = c.k
    WHERE c.op IS NULL OR c.op = 'U'
    UNION ALL
    SELECT k, o_totalprice, op FROM latest WHERE op = 'I'
  )
)
"""


def _orders_ranged_changes(o: DataFrame) -> DataFrame:
    """The Spark twin of _RANGED_CDC_CTE's changes CTE."""
    in_range = o.filter(F.col("o_orderkey").between(1, 400))
    upd1 = in_range.filter(F.col("o_orderkey") % 5 == 1).select(
        "o_orderkey", F.lit("U").alias("op"), F.lit(1).alias("seq"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
    )
    upd2 = in_range.filter(
        (F.col("o_orderkey") % 5 == 1) & (F.col("o_orderkey") % 3 == 0)
    ).select(
        "o_orderkey", F.lit("U").alias("op"), F.lit(2).alias("seq"),
        (F.col("o_totalprice") + 20.0).alias("o_totalprice"),
    )
    dels = in_range.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", F.lit("D").alias("op"), F.lit(1).alias("seq"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    ins = in_range.filter(F.col("o_orderkey") % 5 == 2).select(
        (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"), F.col("o_totalprice"),
    )
    return upd1.unionByName(upd2).unionByName(dels).unionByName(ins)


def _fresh_partitioned_orders(spark: SparkSession, sf_dir: str, name: str) -> str:
    table = _scratch(sf_dir, name)
    shutil.rmtree(table, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    create_partitioned(spark, o, table, _ORDERS_DDL, "o_orderkey", n_buckets=8)
    return table


@query(
    "m20_partitioned_merge",
    oracle=_RANGED_CDC_CTE + """
SELECT o_orderkey, o_totalprice FROM merged
""",
    category="maintenance",
)
def partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned COW MERGE: orders committed as an 8-bucket
    key-range table, a ranged CDC set (keys 1..400 + high-key inserts)
    merged in — only the buckets holding those keys are rewritten,
    untouched files carried forward by reference (byte-identity is
    property-tested; this query proves the committed STATE is exactly
    the full-table CDC merge the oracle recomputes)."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m20_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    merge_partitioned(spark, table, _orders_ranged_changes(o))
    return read_snapshot(spark, table)


@query(
    "m21_pruned_key_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS total
FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
""",
    category="maintenance",
)
def pruned_key_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file skipping: a key-range query against the
    partitioned table opens only the files whose footer min/max span
    overlaps the range (strictly fewer files — asserted in pytest), and
    the answer still equals scanning the raw table."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m21_orders_ptable")
    df = scan_partitioned(spark, table, key_lo=1000, key_hi=3000).filter(
        F.col("o_orderkey").between(1000, 3000)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("total"),
    )


@query(
    "m22_lakehouse_compaction",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
UNION ALL
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 = 3
""",
    category="maintenance",
)
def lakehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction on the snapshot-log table: an append commit
    leaves two files in every bucket, bin-packing rewrites each such
    bucket to one file — and the table content is bit-identical before
    and after (the oracle recomputes base ∪ appended rows). File-count
    reduction and post-compaction expire are asserted in pytest."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m22_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    append_partitioned(spark, table, o.filter(F.col("o_orderkey") % 7 == 3))
    compact_partitioned(spark, table)
    return read_snapshot(spark, table)


_EVOLVED_DDL = "o_orderkey long, o_totalprice double, o_flag string"


@query(
    "m23_schema_evolution_snapshot",
    oracle="""
SELECT o_orderkey, o_totalprice,
       CASE WHEN o_orderkey % 9 = 4 AND o_orderkey BETWEEN 1 AND 400
            THEN 'rush' END AS o_flag
FROM orders
""",
    category="maintenance",
)
def schema_evolution_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN across snapshots: evolve the 2-column orders table to
    carry ``o_flag`` (metadata-only commit — zero files rewritten), then
    MERGE a ranged change-set that sets the flag on a few keys. The final
    read mixes rewritten files (flag populated) with ORIGINAL v1 files
    that predate the column — the explicit-schema read null-pads those,
    which is exactly what the oracle's CASE reproduces."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m23_orders_ptable")
    evolve_schema(table, _EVOLVED_DDL)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    changes = o.filter(
        (F.col("o_orderkey") % 9 == 4) & F.col("o_orderkey").between(1, 400)
    ).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_totalprice"),
        F.lit("rush").alias("o_flag"),
    )
    merge_partitioned(spark, table, changes)
    return read_snapshot(spark, table)


def _read_files(
    spark: SparkSession, table: str, files: list[str], schema_ddl: str
) -> DataFrame:
    if not files:
        return spark.createDataFrame([], schema_ddl)
    return spark.read.schema(schema_ddl).parquet(
        *[os.path.join(table, f) for f in files]
    )


def _read_files_mor(
    spark: SparkSession,
    table: str,
    man: dict,
    files: list[str],
    schema_ddl: str | None = None,
) -> DataFrame:
    """Read ``files`` of ``man``'s snapshot with its equality-delete files
    applied — the merge-on-read path (Iceberg v2 equality deletes).

    A delete file is a tiny parquet of deleted KEYS stamped with the
    sequence number of the commit that wrote it; it erases a key from
    every data file with a strictly SMALLER seq (a row re-inserted in or
    after the delete commit survives — Iceberg's sequence-number rule).
    The plan: one scan of all delete files tagged with their seq, then
    data files grouped by THEIR seq (one group per retained writing
    commit — a handful), each group anti-joined against the deletes that
    postdate it, groups unioned. Delete sets are broadcast: a delete
    file is keys-only and bounded by contract (a change-set too big to
    broadcast belongs in the COW ``merge_partitioned`` path, which this
    module keeps as the bulk-mutation API — same split Iceberg documents
    for equality deletes vs rewrites)."""
    from functools import reduce

    schema = schema_ddl or man["schema"]
    dfiles = man.get("delete_files") or {}
    if not files:
        return spark.createDataFrame([], schema)
    if not dfiles:
        return spark.read.schema(schema).parquet(
            *[os.path.join(table, f) for f in files]
        )
    key = man["partition"]["key"]
    # delete files grouped by their equality column (Iceberg v2: a delete
    # file names its equality fields) — absent ``col`` means the legacy
    # partition-key delete, so old manifests read unchanged
    by_col: dict[str, list] = {}
    for rel, st in dfiles.items():
        by_col.setdefault(st.get("col", key), []).append((rel, int(st["seq"])))
    col_deletes = {
        col: reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(os.path.join(table, rel)).select(
                    F.col(col), F.lit(seq).alias("__dseq")
                )
                for rel, seq in rels
            ],
        )
        for col, rels in by_col.items()
    }
    stats = man.get("stats", {})
    groups: dict[int, list[str]] = {}
    for f in files:
        groups.setdefault(int(stats.get(f, {}).get("seq", 0)), []).append(f)
    max_dseq = max(int(st["seq"]) for st in dfiles.values())
    parts = []
    for seq in sorted(groups):
        part = spark.read.schema(schema).parquet(
            *[os.path.join(table, f) for f in groups[seq]]
        )
        if seq < max_dseq:  # at least one delete file postdates this group
            for col, deletes in col_deletes.items():
                applicable = F.broadcast(
                    deletes.filter(F.col("__dseq") > seq).select(col).distinct()
                )
                part = part.join(applicable, on=col, how="left_anti")
        parts.append(part)
    return reduce(lambda a, b: a.unionByName(b), parts)


def snapshot_changes(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int,
    key: str,
    preimages: bool = False,
) -> DataFrame:
    """Change data feed between two committed snapshots: the row-level
    (key, op, new values) diff a downstream consumer replays to stay in
    sync — Delta's CDF / Iceberg's changelog read, derived purely from
    the two immutable snapshots (no write-path hooks needed, so it works
    on any snapshot-log table, plain or partitioned, between ANY two
    versions, not just adjacent ones).

    One full-outer join on the key: present only in v_to → I, present
    only in v_from → D (values NULL), present in both with any value
    column changed (null-safe compare) → U; unchanged rows emit nothing.
    Both sides are manifest-listed file scans with full pushdown; the
    join shuffles on the key like any CDC apply.

    Both sides read under v_to's schema: a widening evolution between
    the versions (the only kind evolve_schema performs) null-pads the
    old side, so the feed is well-typed across schema changes — a row
    whose only change is the new column going NULL→value reports as U."""
    man_to = read_manifest(table, v_to)
    man_from = read_manifest(table, v_from)
    # each side reads under ITS OWN delete context (v_to's schema): a row
    # a MOR commit deleted must show as D even though its data file is
    # carried forward verbatim in v_to's manifest
    a = _read_files_mor(spark, table, man_from, man_from["files"], man_to["schema"])
    b = _read_files_mor(spark, table, man_to, man_to["files"])
    return _diff_frames(a, b, key, preimages=preimages)


def _diff_frames(
    a: DataFrame, b: DataFrame, key: str, preimages: bool = False
) -> DataFrame:
    """Row-level (key, op, new values) diff of two same-schema frames —
    the CDF core shared by the any-two-versions read and the incremental
    adjacent-version read.

    ``preimages=True`` switches to Delta CDF's full row vocabulary —
    op ∈ {insert, delete, update_preimage, update_postimage}, where
    deletes and update_preimages carry the OLD values — which is what
    retraction-based consumers (incremental materialized-view
    maintenance, m38) need: the compact I/U/D form tells them a row
    changed but not what to subtract. The changed-row join feeds several
    output branches; Catalyst re-derives it per branch, fine for a feed
    (bounded by the change volume, not the table)."""
    val_cols = [c for c in b.columns if c != key]
    old = a.select(
        F.col(key).alias("__k_old"),
        *[F.col(c).alias(f"__old_{c}") for c in val_cols],
    )
    new = b.select(
        F.col(key).alias("__k_new"),
        *[F.col(c).alias(f"__new_{c}") for c in val_cols],
    )
    j = old.join(new, old["__k_old"] == new["__k_new"], "full_outer")
    same_vals = F.lit(True)
    for c in val_cols:
        same_vals = same_vals & F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    changed = j.filter(
        F.col("__k_old").isNull() | F.col("__k_new").isNull() | ~same_vals
    )
    if not preimages:
        op = (
            F.when(F.col("__k_old").isNull(), F.lit("I"))
            .when(F.col("__k_new").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
        )
        return changed.select(
            F.coalesce(F.col("__k_new"), F.col("__k_old")).alias(key),
            op.alias("op"),
            *[F.col(f"__new_{c}").alias(c) for c in val_cols],
        )

    def side(df: DataFrame, op_name: str, prefix: str) -> DataFrame:
        kcol = "__k_old" if prefix == "__old_" else "__k_new"
        return df.select(
            F.col(kcol).alias(key),
            F.lit(op_name).alias("op"),
            *[F.col(f"{prefix}{c}").alias(c) for c in val_cols],
        )

    ins = side(changed.filter(F.col("__k_old").isNull()), "insert", "__new_")
    dels = side(changed.filter(F.col("__k_new").isNull()), "delete", "__old_")
    both = changed.filter(
        F.col("__k_old").isNotNull() & F.col("__k_new").isNotNull()
    )
    pre = side(both, "update_preimage", "__old_")
    post = side(both, "update_postimage", "__new_")
    return ins.unionByName(dels).unionByName(pre).unionByName(post)


def snapshot_changes_incremental(
    spark: SparkSession, table: str, v: int, key: str, preimages: bool = False
) -> DataFrame:
    """The CDF for ONE commit (v-1 → v), reading only the files the
    commit actually changed: a carried-forward file is the SAME file in
    both manifests, so by construction it contributes no diff — the old
    side is just the replaced files, the new side just the added ones.
    Per-commit feed cost is therefore O(changed partitions), matching
    the write side's pruned-MERGE cost; a downstream consumer tailing
    the log pays for what changed, never for the table. Equality with
    the full-snapshot diff is property-tested commit by commit."""
    prev = read_manifest(table, v - 1)
    cur = read_manifest(table, v)
    if (prev.get("delete_files") or {}) != (cur.get("delete_files") or {}):
        # a MOR commit changes row visibility WITHOUT replacing data files,
        # so the changed-files shortcut is blind to it — fall back to the
        # full-snapshot diff (correctness first; the fast path resumes on
        # the next COW commit). A materialize commit also lands here: its
        # delete-file drop plus bucket rewrite is visibility-neutral only
        # as a PAIR, which the full diff evaluates correctly (empty feed).
        return snapshot_changes(spark, table, v - 1, v, key, preimages=preimages)
    prev_files, cur_files = set(prev["files"]), set(cur["files"])
    removed = [f for f in prev["files"] if f not in cur_files]
    added = [f for f in cur["files"] if f not in prev_files]
    # identical delete context on both sides: carried deletes apply to the
    # removed (old-seq) files and are seq-inapplicable to the added ones
    a = _read_files_mor(spark, table, prev, removed, cur["schema"])
    b = _read_files_mor(spark, table, cur, added)
    return _diff_frames(a, b, key, preimages=preimages)


@query(
    "m24_change_data_feed",
    oracle=_RANGED_CDC_CTE + """
SELECT COALESCE(m.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NULL THEN 'I'
            WHEN m.o_orderkey IS NULL THEN 'D'
            ELSE 'U' END AS op,
       m.o_totalprice
FROM orders s FULL OUTER JOIN merged m ON s.o_orderkey = m.o_orderkey
WHERE s.o_orderkey IS NULL OR m.o_orderkey IS NULL
   OR s.o_totalprice IS DISTINCT FROM m.o_totalprice
""",
    category="maintenance",
)
def change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF read over the partitioned table: commit orders (v1), MERGE the
    ranged change-set (v2), then reconstruct the row-level diff v1→v2
    from the snapshots alone. The oracle recomputes the same diff from
    the raw change semantics — so the feed provably captures exactly the
    inserts, the deletes, and the value-changed updates, and nothing
    else (an update whose value is unchanged must NOT appear)."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m24_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    merge_partitioned(spark, table, _orders_ranged_changes(o))
    return snapshot_changes(spark, table, 1, 2, "o_orderkey")


def remove_orphan_files(table: str, min_age_seconds: float = 0.0) -> int:
    """Reclaim data files NO committed manifest references — the residue
    of lost optimistic-commit races and crashed writers (their staged
    files are invisible to readers by construction; this deletes them).
    Iceberg's remove_orphan_files. Returns the number of files deleted.

    ``min_age_seconds`` is the in-flight-writer guard: a file younger
    than the threshold may belong to a commit still in progress, so it is
    left alone — production schedules this with hours of slack (Iceberg
    defaults to 3 days); tests pass 0. Safety rails: only files under
    ``data/``, and the live set is the union over ALL committed
    manifests, so time travel is never broken. Driver-side file ops,
    O(#files) — at real scale the listing diff runs as a DataFrame
    anti-join (m15_orphan_file_audit is that shape)."""
    import time

    live: set[str] = set()
    for v in range(1, current_version(table) + 1):
        if os.path.exists(_manifest_path(table, v)):
            man = read_manifest(table, v)
            live.update(man["files"])
            live.update(man.get("delete_files") or {})  # MOR deletes are live too
    data_dir = os.path.join(table, "data")
    removed = 0
    now = time.time()
    for root, _dirs, names in os.walk(data_dir, topdown=False):
        for n in names:
            abs_p = os.path.join(root, n)
            rel = os.path.relpath(abs_p, table)
            if n.endswith(".parquet") and rel not in live:
                if now - os.path.getmtime(abs_p) >= min_age_seconds:
                    os.unlink(abs_p)
                    removed += 1
        # sweep emptied stage dirs and their marker files (_SUCCESS, .crc)
        left = os.listdir(root)
        if root != data_dir and all(
            not x.endswith(".parquet") and not os.path.isdir(os.path.join(root, x))
            for x in left
        ):
            for x in left:
                os.unlink(os.path.join(root, x))
            os.rmdir(root)
    return removed


@query(
    "m25_orphan_cleanup",
    oracle="""
SELECT 1 AS n_orphans_removed, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
""",
    category="maintenance",
)
def orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan reclamation on the partitioned table: a crashed writer's
    staged file (never committed — no manifest lists it) is found by the
    metadata diff and deleted, and the committed snapshot reads back
    complete afterwards. The oracle pins both the orphan census (exactly
    the one planted file; live files must NOT be counted) and the
    row-count integrity of the surviving snapshot."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m25_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # plant a crashed writer's stage: one staged parquet, no manifest
    o.limit(5).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(table, "data", "crashed-writer-stage")
    )
    n = remove_orphan_files(table)
    rows = read_snapshot(spark, table).count()
    return spark.createDataFrame(
        [(n, rows)], "n_orphans_removed int, n_rows long"
    )


@query(
    "m26_secondary_stats_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         AS total_value
FROM events WHERE event_id BETWEEN 2000 AND 3000
""",
    category="maintenance",
)
def secondary_stats_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-column file skipping: events committed as a TIME-
    partitioned table (ts_micros key-range buckets — the canonical fact
    layout), then queried by EVENT_ID range. event_id is not the
    partition key, but the fixture's ids are near-monotone in time
    (corr ≈ 0.99998), so each file's manifest-recorded event_id span is
    near-disjoint and the stats prune most files anyway — Iceberg's
    column-stats story: clustering, not partitioning, is what makes a
    secondary predicate skip. Fewer-files asserted in pytest; the answer
    must equal the raw-table scan (the oracle)."""
    table = _scratch(sf_dir, "m26_events_ptable")
    shutil.rmtree(table, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_micros"),
        "value",
    )
    ddl = "event_id long, user_id long, ts_micros long, value double"
    create_partitioned(spark, ev, table, ddl, "ts_micros", n_buckets=8)
    df = scan_partitioned(spark, table, key_lo=2000, key_hi=3000, col="event_id").filter(
        F.col("event_id").between(2000, 3000)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")).cast("double")
            / 1000000.0
        ).alias("total_value"),
    )


def rebound_partitioned(
    spark: SparkSession, table: str, n_buckets: int | None = None
) -> int:
    """Partition-spec evolution: recompute bucket bounds as exact
    percentiles of the CURRENT data and rewrite the table under the new
    spec — the rebalance job for a table whose ingest drifted away from
    its creation-time key distribution (every append beyond the sampled
    range piles into the edge buckets; Iceberg evolves partition specs
    for the same reason). Deliberately a FULL rewrite: re-bounding moves
    rows between buckets, so there is nothing to carry forward — run it
    as scheduled maintenance when bucket-size skew crosses a threshold
    (m16_partition_size_report is the watcher shape). Bounds live per
    manifest, so time travel across the spec change just works: old
    versions read their old files under their old bounds."""

    def build(version: int, man: dict) -> dict:
        key = man["partition"]["key"]
        n = n_buckets or len(man["partition"]["bounds"]) + 1
        cur = read_snapshot(spark, table, version)
        qs = [i / n for i in range(1, n)]
        row = cur.select(
            F.expr(f"percentile({key}, array({','.join(repr(q) for q in qs)}))")
        ).first()[0]
        partition = {
            "key": key,
            "bounds": sorted({float(b) for b in (row or []) if b is not None}),
        }
        entries = _write_bucket_files(
            cur, table, {**man, "partition": partition}, version + 1
        )
        return _partitioned_manifest(
            man["schema"],
            partition,
            entries,
            prev=man,
            # a re-bound is a full rewrite through the MOR-aware read:
            # every standing delete is materialized, so none carry over
            extra={"delete_files": {}},
        )

    return _commit_next(table, "rebound", build)


@query(
    "m27_partition_rebound",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
UNION ALL
SELECT o_orderkey % 97, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
""",
    category="maintenance",
)
def partition_rebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-bounding after skewed ingest: an appended batch whose keys all
    collapse into the lowest bucket's range (key % 97) skews the layout;
    rebound recomputes equal-frequency bounds over the merged
    distribution and rewrites — content must be bit-identical before and
    after (the oracle recomputes base ∪ appended), and the balance win
    is asserted in pytest via per-bucket row counts."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m27_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    skewed = o.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") % 97).alias("o_orderkey"), "o_totalprice"
    )
    append_partitioned(spark, table, skewed)
    rebound_partitioned(spark, table)
    return read_snapshot(spark, table)


@query(
    "m28_cdf_replay",
    oracle=_RANGED_CDC_CTE + """
SELECT o_orderkey, o_totalprice FROM merged
WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey BETWEEN 1 AND 200)
""",
    category="maintenance",
)
def cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream synchronization by CDF tail: a consumer holding the v1
    state replays each commit's INCREMENTAL change feed (changed-files-
    only diff) through the standard changelog apply — the replayed state
    must equal the table head after two rounds of merges. This is the
    consumer half of the CDC contract: the write side pays O(changed
    partitions) per commit (m20), and with the incremental feed the read
    side pays the same — a subscriber is never charged for the table,
    only for its changes."""
    from .maintenance import apply_changelog

    table = _fresh_partitioned_orders(spark, sf_dir, "m28_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    merge_partitioned(spark, table, _orders_ranged_changes(o))  # v2
    dels = o.filter(
        (F.col("o_orderkey") % 11 == 0) & F.col("o_orderkey").between(1, 200)
    ).select(
        "o_orderkey", F.lit("D").alias("op"), F.lit(1).alias("seq"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    merge_partitioned(spark, table, dels)  # v3
    downstream = read_snapshot(spark, table, 1)
    for v in range(2, current_version(table) + 1):
        feed = snapshot_changes_incremental(spark, table, v, "o_orderkey")
        changes = feed.select(
            "o_orderkey", "op", F.lit(1).alias("seq"), "o_totalprice"
        )
        downstream = apply_changelog(downstream, changes, "o_orderkey")
    return downstream


@query(
    "m29_metadata_count",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE o_orderkey BETWEEN 1000 AND 3000) AS BIGINT)
         AS n_rows_in_range
FROM orders
""",
    category="maintenance",
)
def metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown into table METADATA: COUNT(*) answered from the
    manifest's per-file row census without opening a single data file —
    Iceberg answers count/min/max from manifests the same way. The
    range-restricted count still scans, but only the stats-pruned file
    subset. Both must equal the oracle's full-scan answers."""
    table = _scratch(sf_dir, "m29_orders_ptable")
    shutil.rmtree(table, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    create_partitioned(spark, o, table, _ORDERS_DDL, "o_orderkey", n_buckets=8)
    man = read_manifest(table)
    n_meta = sum(man["stats"][f]["rows"] for f in man["files"])  # zero file reads
    n_range = (
        scan_partitioned(spark, table, key_lo=1000, key_hi=3000)
        .filter(F.col("o_orderkey").between(1000, 3000))
        .count()
    )
    return spark.createDataFrame(
        [(n_meta, n_range)], "n_rows long, n_rows_in_range long"
    )


def auto_optimize(
    spark: SparkSession,
    table: str,
    max_files_per_bucket: int = 1,
    skew_ratio: float = 3.0,
    keep_latest: int = 3,
) -> list[str]:
    """The scheduled-maintenance driver (Delta OPTIMIZE's shape): inspect
    the head manifest and run exactly the services the table needs, in
    dependency order — materialize standing MOR delete files first (every
    later read of the touched buckets stops paying the anti-join), compact
    small files next (fewer files for the rebound to read), re-bound if
    per-bucket row skew still exceeds ``skew_ratio`` afterwards, then
    expire history beyond ``keep_latest``. Decisions come from MANIFEST
    STATS ONLY (no data files opened to decide), so the planning cost is
    metadata-sized at any table size. Returns the action names executed —
    deterministic for a given table state, which is what makes the whole
    run oracle-checkable."""
    from .lakehouse_mor import materialize_deletes

    actions: list[str] = []
    man = read_manifest(table)
    if man.get("delete_files"):
        materialize_deletes(spark, table)
        actions.append("materialize")
        man = read_manifest(table)

    def census(m) -> tuple[dict[int, int], dict[int, int]]:
        files: dict[int, int] = {}
        rows: dict[int, int] = {}
        for f in m["files"]:
            st = m["stats"][f]
            files[st["bucket"]] = files.get(st["bucket"], 0) + 1
            rows[st["bucket"]] = rows.get(st["bucket"], 0) + st["rows"]
        return files, rows

    files_per, _ = census(man)
    if any(n > max_files_per_bucket for n in files_per.values()):
        compact_partitioned(spark, table)
        actions.append("compact")
        man = read_manifest(table)
    _, rows_per = census(man)
    if rows_per and max(rows_per.values()) > skew_ratio * max(min(rows_per.values()), 1):
        rebound_partitioned(spark, table)
        actions.append("rebound")
    # rebloom (r11): a table with a DECLARED bloom index whose
    # maintenance rewrote files (compaction, materialize, rebound —
    # bitmaps live in per-file stats, so rewritten files lose theirs)
    # or accumulated un-bloomed appends gets the missing bitmaps
    # rebuilt INCREMENTALLY — cost ∝ files without a bitmap, decided
    # from the manifest alone. Without this, a standing stream's
    # point-lookup pruning (the t33 store reads) silently degrades to
    # conservative keeps after the first compaction.
    man = read_manifest(table)
    for col in sorted(man.get("bloom") or {}):
        if any(
            col not in (man["stats"][f].get("bloom") or {})
            for f in man["files"]
        ):
            from .lakehouse_zorder import add_bloom_filters

            add_bloom_filters(spark, table, col, only_missing=True)
            actions.append(f"rebloom:{col}")
    if current_version(table) > keep_latest:
        expire_snapshots(table, keep_latest=keep_latest)
        actions.append("expire")
    return actions


@query(
    "m30_auto_optimize",
    oracle="""
SELECT * FROM (
  VALUES (1, 'compact'), (2, 'rebound'), (3, 'expire')
) t(step, action)
CROSS JOIN (
  SELECT CAST((SELECT COUNT(*) FROM orders)
            + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
          AS BIGINT) AS n_rows_after
)
""",
    category="maintenance",
)
def auto_optimize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-OPTIMIZE end to end: a skewed append (all keys collapsed into
    the lowest bucket's range) leaves the table with multi-file buckets,
    3×+ row skew, and 2 snapshots of growing history; the maintenance
    driver must decide — from manifest stats alone — to compact, then
    rebound, then (after its own two commits push history past
    keep_latest=3) expire, and the table must read back complete. The
    oracle pins the exact action sequence AND the row census."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m30_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    skewed = o.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") % 97).alias("o_orderkey"), "o_totalprice"
    )
    append_partitioned(spark, table, skewed)
    actions = auto_optimize(spark, table)
    n = read_snapshot(spark, table).count()
    return spark.createDataFrame(
        [(i + 1, a, n) for i, a in enumerate(actions)],
        "step int, action string, n_rows_after long",
    )


# ---------------------------------------------------------------------------
# Metadata tables: DESCRIBE HISTORY / files — query the log itself
# ---------------------------------------------------------------------------


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """The commit log as a DataFrame — Delta's DESCRIBE HISTORY / Iceberg's
    ``snapshots`` metadata table: one row per surviving version with the
    stamped operation, file/delete-file census, and the manifest-stats row
    count. Driver-side over manifests only (KBs per thousand files —
    metadata-sized at any table size; no data file is opened).
    ``n_rows_meta`` counts DATA rows: on a snapshot with standing MOR
    delete files it is an upper bound of the visible count, the same
    caveat that disables metadata-only COUNT(*) under deletes (m29)."""
    rows = []
    for v in range(1, current_version(table) + 1):
        if not os.path.exists(_manifest_path(table, v)):
            continue  # expired version: history starts where retention left it
        man = read_manifest(table, v)
        stats = man.get("stats") or {}
        n_rows = (
            sum(stats[f]["rows"] for f in man["files"]) if stats else None
        )
        rows.append(
            (
                v,
                man.get("operation"),
                len(man["files"]),
                len(man.get("delete_files") or {}),
                n_rows,
                man.get("restored_from"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, operation string, n_files int, n_delete_files int, "
        "n_rows_meta long, restored_from int",
    )


def table_files(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """Per-file metadata of one snapshot — Iceberg's ``files`` metadata
    table: path, bucket, seq, rows, and the partition key's min/max, all
    straight from the manifest (no footers re-read). The operational
    entry point for layout forensics: skew, small files, stale seqs."""
    man = read_manifest(table, version)
    stats = man.get("stats") or {}
    rows = [
        (
            f,
            st.get("bucket"),
            st.get("seq"),
            st.get("rows"),
            float(st["min"]) if st.get("min") is not None else None,
            float(st["max"]) if st.get("max") is not None else None,
        )
        for f, st in ((f, stats.get(f, {})) for f in man["files"])
    ]
    return spark.createDataFrame(
        rows,
        "path string, bucket int, seq int, n_rows long, key_min double, key_max double",
    )


@query(
    "m39_table_history",
    oracle="""
WITH census AS (
  -- the append duplicates keys ≡3 (mod 7); an equality delete erases a key
  -- from EVERY data file, so predicate keys that were also appended lose
  -- both copies — deleted counts row OCCURRENCES, not keys
  SELECT CAST(COUNT(*) AS BIGINT) AS base,
         CAST(COUNT(*) FILTER (WHERE o_orderkey % 7 = 3) AS BIGINT) AS appended,
         CAST(COUNT(*) FILTER (WHERE o_orderkey % 5 = 0
                               AND o_orderkey BETWEEN 1 AND 2000) AS BIGINT)
         + CAST(COUNT(*) FILTER (WHERE o_orderkey % 5 = 0
                                 AND o_orderkey BETWEEN 1 AND 2000
                                 AND o_orderkey % 7 = 3) AS BIGINT) AS deleted
  FROM orders
)
SELECT * FROM (
  SELECT 1 AS version, 'create' AS operation, 8 AS n_files, 0 AS n_delete_files,
         base AS n_rows_meta FROM census
  UNION ALL SELECT 2, 'append', 16, 0, base + appended FROM census
  UNION ALL SELECT 3, 'compact', 8, 0, base + appended FROM census
  UNION ALL SELECT 4, 'delete', 8, 1, base + appended FROM census
  UNION ALL SELECT 5, 'materialize', 8, 0, base + appended - deleted FROM census
)
""",
    category="maintenance",
)
def table_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over a scripted lifecycle — create, append,
    compact, MOR delete, materialize — pinning for every version the
    stamped operation, the file and delete-file census, and the
    metadata row count (which, per the documented caveat, does NOT drop
    at the delete commit — data files are untouched — and does drop at
    materialization). The whole answer comes from manifests; no data
    file is opened."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m39_orders_ptable")
    from .lakehouse_mor import delete_mor, materialize_deletes

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    append_partitioned(spark, table, o.filter(F.col("o_orderkey") % 7 == 3))
    compact_partitioned(spark, table)
    delete_mor(
        spark,
        table,
        o.filter(
            (F.col("o_orderkey") % 5 == 0) & F.col("o_orderkey").between(1, 2000)
        ).select("o_orderkey"),
    )
    materialize_deletes(spark, table)
    return table_history(spark, table).select(
        "version", "operation", "n_files", "n_delete_files", "n_rows_meta"
    )


def runtime_pruned_join(
    spark: SparkSession,
    table: str,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Runtime-filter join pruning (Iceberg runtime filtering / Spark
    DPP's lakehouse analog): before scanning the big partitioned table,
    run ONE tiny aggregate over the (already filtered) build side —
    min/max of its join keys plus the set of table buckets those keys
    route to — and keep only the table files whose manifest span AND
    bucket survive both filters. The aggregate is O(|build|) with a
    1-row result at any scale; the payoff is whole probe-side files
    never opened.

    Pruning bites exactly when the probe table is partitioned/clustered
    on the join key: the range filter handles compact build key spans
    (a backfill window, a restatement), the bucket-set filter
    additionally handles scattered-but-few key sets. Joining on a
    NON-partition column is also sound (the range filter then uses that
    column's own per-file spans — effective after an m41 sort-order
    rewrite on it); the bucket-set refinement is skipped in that case,
    since buckets route only the partition key. A build side whose keys blanket every bucket prunes nothing —
    the same contract as Iceberg's runtime filters, and the reason the
    probe predicate is re-applied by the join itself (kept files are a
    superset of matching rows).

    Returns (joined DataFrame, files_kept, files_total). The build side
    is intentionally evaluated twice (filter aggregate + join): it is
    the SMALL side — at cluster scale both uses read the same pushed-
    down scan, and the join side is broadcast below, so no shuffle of
    the probe table ever happens on the pruned plan."""
    man = read_manifest(table, version)
    part_key = (man.get("partition") or {}).get("key")
    bounds = (man.get("partition") or {}).get("bounds", [])
    # bucket-set refinement is only sound when the probe column IS the
    # partition key (buckets route that key and nothing else); for any
    # other probe column, prune by that column's own manifest spans only
    on_part_key = probe_key == part_key
    aggs = [F.min(build_key).alias("lo"), F.max(build_key).alias("hi")]
    if on_part_key:
        aggs.append(
            F.collect_set(_bucket_expr(F.col(build_key), bounds)).alias("bks")
        )
    row = build.agg(*aggs).first()
    total = len(man["files"])
    if row["lo"] is None:  # empty build side → empty join, zero files read
        empty = _read_files_mor(spark, table, man, []).limit(0)
        return empty.join(build, empty[probe_key] == build[build_key]), 0, total
    keep, _ = pruned_files(table, row["lo"], row["hi"], version, col=probe_key)
    if on_part_key:
        buckets = set(row["bks"] or [])
        stats = man.get("stats", {})
        keep = [
            f
            for f in keep
            if stats.get(f, {}).get("bucket") is None
            or stats[f]["bucket"] in buckets
        ]
    probe = _read_files_mor(spark, table, man, keep)
    return probe.join(F.broadcast(build), probe[probe_key] == build[build_key]), len(
        keep
    ), total


@query(
    "m41_sortorder_rewrite",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM orders WHERE o_totalprice BETWEEN 100000 AND 150000
""",
    category="maintenance",
)
def sortorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order rewrite then a SECONDARY-column range read: orders is
    partitioned on o_orderkey, so per-file o_totalprice spans start out
    blanketing the whole domain (a price predicate prunes nothing);
    after ``rewrite_sorted`` range-slices each bucket by price, the
    same manifest-stats scan opens ~1/slices of the files (strictly
    fewer — asserted in pytest) and the answer still equals the raw
    table's range aggregate."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m41_orders_ptable")
    rewrite_sorted(spark, table, "o_totalprice", slices_per_bucket=4)
    df = scan_partitioned(
        spark, table, key_lo=100000.0, key_hi=150000.0, col="o_totalprice"
    ).filter(F.col("o_totalprice").between(100000, 150000))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("total"),
    )


_LINEITEM_DDL = "l_orderkey long, l_extendedprice double, l_quantity double"


@query(
    "m40_runtime_filter_join",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey BETWEEN 2000 AND 2600 AND o.o_orderstatus = 'O'
""",
    category="maintenance",
)
def runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join against the partitioned lakehouse: lineitem
    committed as an 8-bucket key-range table, joined to a filtered
    orders build side (one backfill window of order keys). The build
    side's key span + bucket set — computed at runtime, not parsed from
    the predicate — prune lineitem's files from the manifest BEFORE the
    scan (strictly fewer files opened — asserted in pytest), and the
    joined aggregate still equals the raw-table join the oracle runs."""
    table = _scratch(sf_dir, "m40_lineitem_ptable")
    shutil.rmtree(table, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    create_partitioned(spark, li, table, _LINEITEM_DDL, "l_orderkey", n_buckets=8)
    build = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderkey").between(2000, 2600)
            & (F.col("o_orderstatus") == "O")
        )
        .select("o_orderkey")
    )
    joined, _kept, _total = runtime_pruned_join(
        spark, table, "l_orderkey", build, "o_orderkey"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        (
            F.sum(
                F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
            ).cast("double")
            / 100.0
        ).alias("revenue"),
    )


def manifest_row_census(table: str, version: int | None = None) -> int:
    """Table cardinality from the manifest alone (m29's zero-data-files
    count) — the statistic the join planner below consumes."""
    man = read_manifest(table, version)
    return sum(man["stats"][f]["rows"] for f in man["files"])


def join_with_stats(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_col: str,
    right_col: str,
    broadcast_rows: int = 100_000,
) -> tuple[DataFrame, str]:
    """CBO-lite: choose the join strategy for two snapshot-log tables
    from MANIFEST STATISTICS alone — the decision Spark's own CBO makes
    from ANALYZE TABLE stats, which a from-scratch table format must
    supply itself (Iceberg feeds engines exactly these manifest
    censuses). If either side's row census is under ``broadcast_rows``,
    hint-broadcast that side (no shuffle of the big side at all);
    otherwise leave both sides to the shuffle planner and AQE. The
    planning cost is metadata-sized at any table size — no data file is
    opened to decide. Returns (joined DataFrame, 'broadcast'|'shuffle')."""
    lrows = manifest_row_census(left_table)
    rrows = manifest_row_census(right_table)
    left = read_snapshot(spark, left_table)
    right = read_snapshot(spark, right_table)
    cond_l, cond_r = left[left_col], right[right_col]
    if min(lrows, rrows) <= broadcast_rows:
        if rrows <= lrows:
            return left.join(F.broadcast(right), cond_l == cond_r), "broadcast"
        return F.broadcast(left).join(right, cond_l == cond_r), "broadcast"
    return left.join(right, cond_l == cond_r), "shuffle"


_M42_DIM_DDL = "n_nationkey long, n_name string"
_M42_FACT_DDL = "c_custkey long, c_nationkey long, c_acctbal double"


@query(
    "m42_stats_join_strategy",
    oracle="""
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total_bal,
       'broadcast' AS strategy
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    category="maintenance",
)
def stats_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join between two snapshot-log tables where the STRATEGY is
    chosen from manifest row censuses (no data file opened to plan):
    the 25-row nation dim broadcasts, the customer fact never shuffles.
    The emitted strategy column is part of the oracle contract, and the
    pytest asserts the plan really contains a BroadcastHashJoin — and
    flips to a shuffle join when the threshold says so."""
    fact = _scratch(sf_dir, "m42_customer_ptable")
    shutil.rmtree(fact, ignore_errors=True)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    create_partitioned(spark, c, fact, _M42_FACT_DDL, "c_custkey", n_buckets=4)
    dim = _scratch(sf_dir, "m42_nation_table")
    shutil.rmtree(dim, ignore_errors=True)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    create_partitioned(spark, n, dim, _M42_DIM_DDL, "n_nationkey", n_buckets=2)
    joined, strat = join_with_stats(
        spark, fact, dim, "c_nationkey", "n_nationkey"
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (
                F.sum(
                    F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long")
                ).cast("double")
                / 100.0
            ).alias("total_bal"),
        )
        .withColumn("strategy", F.lit(strat))
    )
