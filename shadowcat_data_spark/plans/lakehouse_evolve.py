"""Partition-spec EVOLUTION (LK20) — change the partition KEY in place.

Iceberg's headline metadata feature: a table partitioned by one column
can switch its spec so NEW writes route by a different column, while the
files already on disk stay exactly where they are — no rewrite, no
downtime, old snapshots untouched. The snapshot-log format supports it
with a single metadata-only commit because of two existing invariants:

1. Every file's stats entry records min/max of EVERY primitive column
   (``_footer_stats``), so the evolve commit can re-point the file-level
   ``min``/``max`` (the partition-pruning hot path) at the NEW key's
   span — all existing pruning paths (LK5 `pruned_files`, the box/bloom/
   routed tiers) remain sound without knowing evolution exists.
2. Bucket-routing paths are the ONLY ones that would mis-read a stale
   file (its ``bucket`` id refers to the old spec), so each stats entry
   is stamped with the ``spec`` it was written under, and
   ``merge_partitioned`` treats stale-spec files as touched whenever
   their NEW-key span overlaps the change-set's key span (conservative,
   metadata-only test — the lost-update hole a naive bucket-only routing
   would open is property-tested shut). Compaction migrates lazily: its
   rewrite re-routes rows through the CURRENT bucket expression, so
   compacted buckets come out under the new spec — Iceberg's
   "rewrite_data_files migrates old specs" behavior for free.

Cost at 100 TB: the evolve commit is O(#files) driver-side metadata (no
data movement); each subsequent MERGE pays one extra scalar (the change
key span) in the routing aggregate it already runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import load_table
from ..sources.io import _scratch
from .lakehouse import (
    _BOUNDS_SAMPLE_CAP,
    _commit_next,
    _partitioned_manifest,
    append_partitioned,
    create_partitioned,
    merge_partitioned,
    read_snapshot,
)


def evolve_partition_spec(
    spark: SparkSession,
    table: str,
    new_key: str,
    n_buckets: int = 8,
) -> int:
    """Metadata-only commit: the table's partition spec becomes
    (new_key, fresh sampled bounds, spec_id+1). Existing files are kept
    byte-identical (pytest-pinned); their stats entries get ``spec``
    stamped with the spec they were written under and their file-level
    min/max re-pointed at ``new_key``'s span from the column stats
    (None → conservative never-pruned when the footer had no span)."""

    def build(version: int, man: dict) -> dict:
        old = man["partition"]
        if old["key"] == new_key:
            raise ValueError(f"table already partitioned by {new_key!r}")
        old_spec = old.get("spec_id", 1)
        # fresh bounds for the new key, sampled from the live snapshot
        # (same determinism-over-exactness trade create_partitioned makes)
        df = read_snapshot(spark, table, version)
        qs = [i / n_buckets for i in range(1, n_buckets)]
        n = df.count()
        src = df
        if n > _BOUNDS_SAMPLE_CAP:
            m = n // _BOUNDS_SAMPLE_CAP
            src = df.filter(
                F.pmod(F.xxhash64(F.col(new_key).cast("string")), F.lit(m)) == 0
            )
        row = src.select(
            F.expr(f"percentile({new_key}, array({','.join(repr(q) for q in qs)}))")
        ).first()[0]
        bounds = sorted({float(b) for b in (row or []) if b is not None})
        stats2: dict[str, dict] = {}
        for f, st in man["stats"].items():
            st = dict(st)
            st["spec"] = st.get("spec", old_spec)
            span = (st.get("cols") or {}).get(new_key)
            st["min"], st["max"] = (span[0], span[1]) if span else (None, None)
            stats2[f] = st
        partition = {"key": new_key, "bounds": bounds, "spec_id": old_spec + 1}
        return _partitioned_manifest(man["schema"], partition, stats2, prev=man)

    return _commit_next(table, "evolve-spec", build)


# --- registered query --------------------------------------------------------

_ORDERS3_DDL = "o_orderkey long, o_custkey long, o_totalprice double"


@query(
    "m47_partition_evolution",
    oracle="""
WITH appended AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey <= 200
), unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  UNION ALL SELECT * FROM appended
), merged AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 7 = 2 THEN o_totalprice + 5.0
              ELSE o_totalprice END AS o_totalprice
  FROM unioned
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM merged
WHERE o_orderkey BETWEEN 100 AND 10000150
""",
    category="maintenance",
)
def partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full evolution lifecycle on one table: create partitioned by
    o_custkey → EVOLVE the spec to o_orderkey (metadata-only; the
    natural direction — a table clustered for customer analytics
    re-specs for key-upsert ingest) → append new rows (routed under the
    NEW spec) → MERGE an update whose keys live in OLD-spec files (the
    stale-overlap routing, not bucket ids, must find them — the
    lost-update hole evolution opens and this module closes,
    property-tested) → range-scan on the new key, which prunes old
    files by their re-pointed column spans and new files by bucket
    bounds. The aggregate equals the raw-SQL replay."""
    import shutil

    from .lakehouse import scan_partitioned

    table = _scratch(sf_dir, "m47_orders_etable")
    shutil.rmtree(table, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    create_partitioned(spark, o, table, _ORDERS3_DDL, "o_custkey", n_buckets=8)
    evolve_partition_spec(spark, table, "o_orderkey", n_buckets=8)
    appended = o.filter(F.col("o_orderkey") <= 200).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    append_partitioned(spark, table, appended)
    # update keys scattered across OLD-spec files AND the new appends;
    # the merge keys on the CURRENT (unique) partition key
    upd = (
        read_snapshot(spark, table)
        .filter(F.col("o_orderkey") % 7 == 2)
        .select(
            "o_orderkey",
            F.lit("U").alias("op"),
            F.lit(1).cast("long").alias("seq"),
            (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        )
    )
    merge_partitioned(spark, table, upd)
    df = scan_partitioned(spark, table, 100, 10_000_150).filter(
        F.col("o_orderkey").between(100, 10_000_150)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("total"),
    )
