"""Merge-on-read mutations for the snapshot-log table: equality deletes.

The partitioned lakehouse's MERGE (``lakehouse.merge_partitioned``) is
copy-on-write: a commit rewrites every touched bucket. That is the right
trade for bulk change-sets, but a trickle of deletes/upserts against a
100 TB table should not rewrite multi-GB buckets to remove a few rows —
Iceberg v2 and Delta deletion vectors solve this with MERGE-ON-READ: the
commit writes a tiny DELETE FILE (the deleted keys) instead of touching
any data file, and readers subtract it. This module adds that write path
on top of the same manifest format:

- ``delete_mor``    — commit = one keys-only parquet added to the
  manifest's ``delete_files``; ZERO data files read or written.
- ``upsert_mor``    — commit = new rows appended as ordinary bucket data
  files PLUS a delete file shadowing their keys in older files; cost is
  O(change-set) regardless of table size.
- ``materialize_deletes`` — the maintenance half: rewrite exactly the
  buckets holding deleted keys with the deletes applied, drop the delete
  files — after which reads stop paying the anti-join.
  ``lakehouse.auto_optimize`` schedules it first.

Sequence-number semantics (Iceberg's): every data file records the
commit (``seq``) that wrote it; a delete file applies to data files with
a strictly SMALLER seq. So an upsert's own rows are not shadowed by its
own delete file, and a key deleted then re-inserted survives — both
property-tested. The read side lives in ``lakehouse._read_files_mor``
and is applied transparently by ``read_snapshot``/``scan_partitioned``,
so time travel, CDF, file-skipping scans, and every maintenance job see
the post-delete state; ``snapshot_changes_incremental`` falls back to
the full diff across visibility-changing commits.

Scale contract: delete files are keys-only and broadcast on read — right
for the trickle-mutation regime this path exists for. A change-set too
large to broadcast belongs in the COW ``merge_partitioned`` path; the
two compose freely on one table (same manifests, same services).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import load_table, materialize
from .lakehouse import (
    _bucket_expr,
    _commit_next,
    _footer_stats,
    _fresh_partitioned_orders,
    _partitioned_manifest,
    _read_files_mor,
    _write_bucket_files,
    read_snapshot,
)


def _write_delete_file(
    spark: SparkSession, table: str, keys: DataFrame, key: str, version: int
) -> dict[str, dict]:
    """Write the distinct ``keys`` as ONE keys-only parquet under a fresh
    stage dir; return its manifest entry (seq = the committing version,
    ``col`` = the equality column — Iceberg v2 equality-delete files
    likewise name their equality fields — rows/min-max from the footer).
    coalesce(1): delete sets are small by this path's contract (see
    module docstring); a huge one belongs in the COW merge."""
    stage_rel = os.path.join(
        "data", f"v{version:08d}-{uuid.uuid4().hex[:8]}-deletes"
    )
    stage = os.path.join(table, stage_rel)
    keys.select(key).where(F.col(key).isNotNull()).distinct().coalesce(
        1
    ).write.mode("overwrite").parquet(stage)
    entries: dict[str, dict] = {}
    for fn in sorted(os.listdir(stage)):
        if fn.endswith(".parquet"):
            rel = os.path.join(stage_rel, fn)
            entries[rel] = {
                "seq": version,
                "col": key,
                **_footer_stats(os.path.join(table, rel), key),
            }
    return entries


def delete_mor(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    extra: dict | None = None,
    eq_col: str | None = None,
) -> int:
    """DELETE WHERE col IN (keys), merge-on-read: the commit adds one
    keys-only delete file and touches NO data file — O(delete-set) work
    for any table size (vs the COW path's O(touched buckets)). The
    equality column defaults to the partition key; ``eq_col`` names any
    other column (Iceberg v2 equality deletes carry their fields the
    same way) — the l36 text-index postings erasure deletes on
    ``doc_id`` while the table stays partitioned by term bucket. NULL
    keys are ignored; a key absent from the table is a no-op (no
    existence check at write time)."""
    keys = materialize(keys, eager=False)  # consumed once per attempt

    def build(version: int, man: dict) -> dict:
        key = eq_col or man["partition"]["key"]
        dentries = _write_delete_file(spark, table, keys, key, version + 1)
        return _partitioned_manifest(
            man["schema"],
            man["partition"],
            man["stats"],
            prev=man,
            extra={
                "delete_files": {**(man.get("delete_files") or {}), **dentries},
                **(extra or {}),
            },
        )

    return _commit_next(table, "delete", build)


def upsert_mor(
    spark: SparkSession,
    table: str,
    rows: DataFrame,
    extra: dict | None = None,
    eq_col: str | None = None,
    delete_keys: DataFrame | None = None,
) -> int:
    """UPSERT, merge-on-read: append ``rows`` as ordinary bucket data
    files and add a delete file of their keys in the SAME commit. The
    delete file's seq equals the new data files' seq, so (by the
    strictly-smaller rule) it shadows only OLDER copies of those keys —
    the appended rows survive their own shadow. ``eq_col`` generalizes
    the shadowed identity beyond the partition key: a re-crawled
    document's fresh postings shadow ALL its old postings by ``doc_id``
    in one atomic commit, whatever term buckets they sat in.
    ``delete_keys`` overrides the shadow set when it must be WIDER than
    the new rows' own keys — a re-crawled doc whose new text yields
    ZERO postings still needs its old postings shadowed (review-found
    hole). Commit cost is O(change-set): no existing file is read or
    rewritten."""
    rows = materialize(rows, eager=False)  # feeds data files AND delete keys
    if delete_keys is not None:
        delete_keys = materialize(delete_keys, eager=False)

    def build(version: int, man: dict) -> dict:
        dcol = eq_col or man["partition"]["key"]
        entries = _write_bucket_files(rows, table, man, version + 1)
        dentries = _write_delete_file(
            spark,
            table,
            delete_keys if delete_keys is not None else rows.select(dcol),
            dcol,
            version + 1,
        )
        return _partitioned_manifest(
            man["schema"],
            man["partition"],
            {**man["stats"], **entries},
            prev=man,
            extra={
                "delete_files": {**(man.get("delete_files") or {}), **dentries},
                **(extra or {}),
            },
        )

    return _commit_next(table, "upsert", build)


def materialize_deletes(spark: SparkSession, table: str) -> tuple[int, int]:
    """Fold standing delete files into the data: rewrite exactly the
    buckets holding deleted keys through the MOR read (deletes applied,
    new seq postdating every delete), carry all other files by
    reference, and commit with an EMPTY ``delete_files`` — safe because
    the bucket router confines a key's rows to its bucket, so a dropped
    delete file cannot have governed an untouched bucket. Returns
    (delete_files_removed, buckets_rewritten); (0, 0) without a commit
    when there is nothing to fold. This is the read-amplification
    reclaim job; ``auto_optimize`` runs it before compaction."""
    counts = (0, 0)

    def build(version: int, man: dict) -> dict | None:
        nonlocal counts
        counts = (0, 0)
        dfiles = man.get("delete_files") or {}
        if not dfiles:
            return None
        part = man["partition"]
        key, bounds = part["key"], part["bounds"]
        from functools import reduce

        stats = man["stats"]
        key_dfiles = [
            rel for rel, st in dfiles.items() if st.get("col", key) == key
        ]
        if len(key_dfiles) == len(dfiles):
            # all deletes are on the partition key: the router confines a
            # key's rows to its bucket, so only those buckets need folding
            del_keys = reduce(
                lambda a, b: a.unionByName(b),
                [
                    spark.read.parquet(os.path.join(table, rel)).select(key)
                    for rel in key_dfiles
                ],
            )
            touched = {
                r[0]
                for r in del_keys.select(
                    _bucket_expr(F.col(key), bounds).alias("b")
                )
                .distinct()
                .collect()
            }
        else:
            # some delete is on a NON-key column (e.g. the text index's
            # doc_id): its rows may sit in ANY bucket, so every bucket
            # holding a data file a delete can shadow (seq strictly
            # smaller than the newest delete) folds — the price of a
            # full reclaim, paid only when the maintenance job runs,
            # never on the read path
            max_dseq = max(int(st["seq"]) for st in dfiles.values())
            touched = {
                stats[f]["bucket"]
                for f in man["files"]
                if int(stats[f].get("seq", 0)) < max_dseq
            }
        touched_files = [f for f in man["files"] if stats[f]["bucket"] in touched]
        untouched = {
            f: stats[f] for f in man["files"] if stats[f]["bucket"] not in touched
        }
        folded = _read_files_mor(spark, table, man, touched_files)
        entries = _write_bucket_files(
            folded, table, man, version + 1, n_out=len(touched)
        )
        counts = (len(dfiles), len(touched))
        return _partitioned_manifest(
            man["schema"],
            part,
            {**untouched, **entries},
            prev=man,
            extra={"delete_files": {}},
        )

    _commit_next(table, "materialize", build)
    return counts


# --- registered queries ------------------------------------------------------

_DELETE_PRED = "o_orderkey % 5 = 0 AND o_orderkey BETWEEN 1 AND 2000"


def _delete_keys(o: DataFrame) -> DataFrame:
    return o.filter(
        (F.col("o_orderkey") % 5 == 0) & F.col("o_orderkey").between(1, 2000)
    ).select("o_orderkey")


def _upsert_rows(o: DataFrame) -> DataFrame:
    """Updated prices for keys ≡2 (mod 7) plus brand-new high keys —
    including keys the m33 scenario deleted first (≡0 mod 5 ∧ ≡2 mod 7),
    which the upsert must re-insert past the older delete."""
    upd = o.filter(F.col("o_orderkey") % 7 == 2).select(
        "o_orderkey", (F.col("o_totalprice") + 10.0).alias("o_totalprice")
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 3).select(
        (F.col("o_orderkey") + 30000000).alias("o_orderkey"), "o_totalprice"
    )
    return upd.unionByName(ins)


_UPSERT_CTE = """
WITH upserted AS (
  SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 2
  UNION ALL
  SELECT o_orderkey + 30000000, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 3
)
"""


@query(
    "m31_mor_delete",
    oracle=f"""
SELECT o_orderkey, o_totalprice FROM orders
WHERE NOT ({_DELETE_PRED})
""",
    category="maintenance",
)
def mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE: the commit writes one keys-only delete file
    and rewrites NOTHING (every v1 data file carried by reference —
    pytest-asserted), yet the table read through the log already shows
    the rows gone. The oracle recomputes the surviving set from the raw
    predicate."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m31_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    delete_mor(spark, table, _delete_keys(o))
    return read_snapshot(spark, table)


@query(
    "m32_mor_upsert",
    oracle=_UPSERT_CTE + """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 2
UNION ALL
SELECT o_orderkey, o_totalprice FROM upserted
""",
    category="maintenance",
)
def mor_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT: updated rows append as new bucket files while
    a same-commit delete file shadows their older copies (seq rule) — the
    write never reads the table. The read must show exactly one row per
    key: the new value for updated keys, the original elsewhere, plus the
    inserts."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m32_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    upsert_mor(spark, table, _upsert_rows(o))
    return read_snapshot(spark, table)


@query(
    "m33_mor_materialize",
    oracle=_UPSERT_CTE + f"""
SELECT o_orderkey, o_totalprice FROM orders
WHERE NOT ({_DELETE_PRED}) AND o_orderkey % 7 <> 2
UNION ALL
SELECT o_orderkey, o_totalprice FROM upserted
""",
    category="maintenance",
)
def mor_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MOR lifecycle: delete commit (v2), upsert commit (v3) —
    which re-inserts the deleted keys ≡2 (mod 7) past the older delete,
    the sequence-number subtlety — then materialize folds both delete
    files into rewritten buckets (v4, delete_files now empty:
    pytest-asserted along with untouched-file byte-identity). The head
    read must equal the MOR read before materialization, which is what
    the oracle recomputes from scratch."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m33_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    delete_mor(spark, table, _delete_keys(o))
    upsert_mor(spark, table, _upsert_rows(o))
    materialize_deletes(spark, table)
    return read_snapshot(spark, table)


@query(
    "m34_mor_cdf",
    oracle=f"""
SELECT o_orderkey, 'D' AS op, CAST(NULL AS DOUBLE) AS o_totalprice
FROM orders WHERE {_DELETE_PRED}
""",
    category="maintenance",
)
def mor_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across a merge-on-read commit: the delete commit
    replaced NO data file, so a naive changed-files diff would report an
    empty feed — the incremental reader detects the delete-context change
    and falls back to the full-snapshot diff, which must report exactly
    the deleted keys as D rows (and nothing else)."""
    from .lakehouse import snapshot_changes_incremental

    table = _fresh_partitioned_orders(spark, sf_dir, "m34_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    delete_mor(spark, table, _delete_keys(o))
    return snapshot_changes_incremental(spark, table, 2, "o_orderkey")


@query(
    "m35_mor_auto_optimize",
    oracle=f"""
SELECT * FROM (VALUES (1, 'materialize'), (2, 'expire')) t(step, action)
CROSS JOIN (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_after
  FROM orders WHERE NOT ({_DELETE_PRED})
)
""",
    category="maintenance",
)
def mor_auto_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_optimize on a table with standing MOR deletes (3 snapshots:
    create, two delete commits): the driver must decide — from manifest
    stats alone — to materialize (folding both delete files) and then
    expire the history its own commit pushed past keep_latest, skipping
    compact/rebound (each bucket still one balanced file). Action
    sequence and the post-maintenance row census are both oracle-pinned."""
    from .lakehouse import auto_optimize

    table = _fresh_partitioned_orders(spark, sf_dir, "m35_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    keys = _delete_keys(o)
    delete_mor(spark, table, keys.filter(F.col("o_orderkey") <= 1000))
    delete_mor(spark, table, keys.filter(F.col("o_orderkey") > 1000))
    actions = auto_optimize(spark, table, keep_latest=3)
    n = read_snapshot(spark, table).count()
    return spark.createDataFrame(
        [(i + 1, a, n) for i, a in enumerate(actions)],
        "step int, action string, n_rows_after long",
    )
