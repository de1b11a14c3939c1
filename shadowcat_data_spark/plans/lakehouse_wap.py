"""Snapshot refs for the lakehouse: RESTORE, tags, write-audit-publish.

Three operational capabilities every managed table format grows once real
teams run it, built on the same snapshot-log manifests:

- **RESTORE** (Delta ``RESTORE TABLE … VERSION AS OF``): undo a bad
  commit by committing a COPY of an older manifest as the new head —
  append-only history, so the bad version stays inspectable and the
  restore is itself time-travelable. Pure metadata: zero data files
  move.
- **Tags** (Iceberg refs): durable names for versions (``release-3``,
  ``audit-2026Q3``). A tag is an atomically-created file in ``_refs/``;
  ``expire_snapshots`` treats tagged versions as retained, so a tag is
  a retention policy statement, not just a bookmark (Iceberg's
  tag-retention contract).
- **Write-audit-publish** (the Iceberg WAP pattern): a writer stages an
  append — data files written, manifest parked in ``_staged/``, fully
  INVISIBLE to readers — an audit job queries the staged view (base
  snapshot + staged files, through the normal MOR-aware read), and only
  a passing audit publishes the stage as a real commit. Publishing is a
  fast-append with the standard optimistic retry: staged files are
  base-version-agnostic (an append commutes with intervening commits),
  so the publish re-reads the head and re-attaches them. A failed audit
  discards the stage; its files become orphans that
  ``remove_orphan_files`` reclaims — bad data NEVER becomes visible.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import load_table, materialize
from . import lakehouse as _lh
from .lakehouse import (
    _commit_next,
    _fresh_partitioned_orders,
    _link_json,
    _orders_ranged_changes,
    _partitioned_manifest,
    _read_files_mor,
    _write_bucket_files,
    _RANGED_CDC_CTE,
    current_version,
    merge_partitioned,
    read_manifest,
    read_snapshot,
)


# --- RESTORE ---------------------------------------------------------------


def restore_snapshot(table: str, to_version: int) -> int:
    """Commit a copy of ``to_version``'s manifest as the new head — the
    table reads as it did then, while every intermediate version stays
    in the log (append-only undo; Delta RESTORE's semantics). Metadata
    only: the restored head references the OLD data files, which
    retention keeps alive exactly as long as this live manifest lists
    them. The copy records ``restored_from`` for lineage."""
    return _commit_next(
        table,
        "restore",
        lambda _v, _head: {
            **read_manifest(table, to_version),
            "restored_from": to_version,
        },
    )


# --- tags ------------------------------------------------------------------


def _refs_dir(table: str) -> str:
    return os.path.join(table, "_refs")


def tag_snapshot(table: str, name: str, version: int | None = None) -> int:
    """Name a version durably. Atomic create (write-temp + link): a second
    tagger of the same name fails instead of silently retargeting —
    retagging is an explicit delete + re-tag. Tagged versions survive
    ``expire_snapshots`` (see there)."""
    if version is None:
        version = current_version(table)
    read_manifest(table, version)  # must exist
    os.makedirs(_refs_dir(table), exist_ok=True)
    _link_json(os.path.join(_refs_dir(table), f"{name}.json"), {"version": version})
    return version


def list_tags(table: str) -> dict[str, int]:
    """All tags as {name: version}."""
    try:
        names = os.listdir(_refs_dir(table))
    except FileNotFoundError:
        return {}
    out: dict[str, int] = {}
    for n in sorted(names):
        if n.endswith(".json"):
            with open(os.path.join(_refs_dir(table), n)) as fh:
                out[n[:-5]] = json.load(fh)["version"]
    return out


def delete_tag(table: str, name: str) -> None:
    os.unlink(os.path.join(_refs_dir(table), f"{name}.json"))


def read_snapshot_by_tag(
    spark: SparkSession, table: str, name: str
) -> DataFrame:
    """Read the table at the tagged version."""
    return read_snapshot(spark, table, list_tags(table)[name])


# --- write-audit-publish ---------------------------------------------------


def _staged_dir(table: str) -> str:
    return os.path.join(table, "_staged")


def stage_append(spark: SparkSession, table: str, rows: DataFrame) -> str:
    """Write ``rows`` as ordinary bucket data files and park their
    manifest entries in ``_staged/<id>.json`` — NOTHING a reader follows
    references them, so the stage is invisible by construction. Returns
    the stage id for audit/publish/discard. The staged entries carry no
    seq yet; publish stamps the committing version (so standing MOR
    delete files, which predate it, never apply to the staged rows)."""
    man = read_manifest(table)
    stage_id = uuid.uuid4().hex[:12]
    # version tag in the stage path is only a filename hint; entries are
    # re-sequenced at publish time
    entries = _write_bucket_files(rows, table, man, current_version(table) + 1)
    for st in entries.values():
        st.pop("seq", None)
    os.makedirs(_staged_dir(table), exist_ok=True)
    with open(os.path.join(_staged_dir(table), f"{stage_id}.json"), "w") as fh:
        json.dump({"added_stats": entries, "base_version": man["version"]}, fh)
    return stage_id


def read_staged(spark: SparkSession, table: str, stage_id: str) -> DataFrame:
    """The audit view: the CURRENT head plus the staged files — exactly
    what the table would read as if the stage published now. Goes through
    the MOR-aware read, so standing delete files apply to the base rows
    (and, since they predate the stage, not to the staged ones)."""
    with open(os.path.join(_staged_dir(table), f"{stage_id}.json")) as fh:
        staged = json.load(fh)
    man = read_manifest(table)
    added = {
        f: {**st, "seq": man["version"] + 1}
        for f, st in staged["added_stats"].items()
    }
    synth = {**man, "stats": {**man["stats"], **added}}
    return _read_files_mor(
        spark, table, synth, man["files"] + sorted(added)
    )


def discard_staged(table: str, stage_id: str) -> None:
    """Reject the stage: drop its manifest. Its data files are now
    referenced by nothing — ordinary orphans for remove_orphan_files.
    The audit-failed data was never visible to any reader."""
    os.unlink(os.path.join(_staged_dir(table), f"{stage_id}.json"))


def publish_staged(table: str, stage_id: str) -> int:
    """Promote the stage to a real commit: head manifest + staged entries
    (re-stamped with the committing version as their seq). An append
    commutes with intervening commits — the staged files attach to
    WHATEVER the head is by publish time, Iceberg's fast-append — so a
    lost race re-reads and re-attaches, never re-writes. The staged
    manifest is consumed (unlinked) on success."""
    path = os.path.join(_staged_dir(table), f"{stage_id}.json")
    with open(path) as fh:
        staged = json.load(fh)

    def build(head: int, man: dict) -> dict:
        added = {
            f: {**st, "seq": head + 1} for f, st in staged["added_stats"].items()
        }
        return _partitioned_manifest(
            man["schema"], man["partition"], {**man["stats"], **added}, prev=man
        )

    v = _commit_next(table, "publish", build)
    os.unlink(path)
    return v


# --- registered queries ----------------------------------------------------


@query(
    "m36_restore_snapshot",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
""",
    category="maintenance",
)
def restore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE as undo: a CDC merge lands as v2, restore-to-v1 commits as
    v3, and the head must read EXACTLY the original orders again — while
    v2 stays in the log (the bad deploy remains inspectable; pinned in
    pytest along with tag-protected retention)."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m36_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    merge_partitioned(spark, table, _orders_ranged_changes(o))
    restore_snapshot(table, 1)
    return read_snapshot(spark, table)


@query(
    "m37_wap_publish",
    oracle=_RANGED_CDC_CTE + """
, batch AS (
  SELECT o_orderkey + 40000000 AS o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 1
),
bad_batch AS (
  SELECT o_orderkey, -o_totalprice AS o_totalprice FROM batch
)
SELECT o_orderkey, o_totalprice FROM merged
UNION ALL
SELECT o_orderkey, o_totalprice FROM bad_batch
WHERE (SELECT COUNT(*) FROM bad_batch b WHERE b.o_totalprice < 0) = 0
UNION ALL
SELECT o_orderkey, o_totalprice FROM batch
WHERE (SELECT COUNT(*) FROM batch b WHERE b.o_totalprice < 0) = 0
""",
    category="maintenance",
)
def wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish: each staged batch publishes only if its audit
    passes — no new negative-price rows relative to the current head,
    measured THROUGH THE STAGED VIEW (that is the entire point of WAP:
    the validator queries base∪stage as if published). On the fixture
    the corrupt (negated-price) batch fails and is discarded — provably
    never visible — and the clean batch passes; the head then MOVES
    under it (a CDC merge commits first) and the fast-append publish
    attaches the staged files to the new head instead of the audited
    base. The oracle models the audit branch itself (each batch included
    iff it contains no negatives), so the outcome is pinned for ANY
    input — including the degenerate empty/dirty fixtures the
    robustness probes feed in, where a vacuously-clean batch publishing
    is the correct WAP behavior."""
    table = _fresh_partitioned_orders(spark, sf_dir, "m37_orders_ptable")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    batch = o.filter(F.col("o_orderkey") % 13 == 1).select(
        (F.col("o_orderkey") + 40000000).alias("o_orderkey"), "o_totalprice"
    )

    def negatives(df: DataFrame) -> int:
        return df.filter(F.col("o_totalprice") < 0).count()

    def audit_and_resolve(stage_id: str) -> None:
        # pass ⇔ the stage introduces no negative rows beyond the head's
        # (for an append, exactly "the batch itself carries none" — which
        # is what the oracle's EXISTS-free guard recomputes)
        if negatives(read_staged(spark, table, stage_id)) == negatives(
            read_snapshot(spark, table)
        ):
            publish_staged(table, stage_id)
        else:
            discard_staged(table, stage_id)

    bad = stage_append(
        spark, table, batch.withColumn("o_totalprice", -F.col("o_totalprice"))
    )
    audit_and_resolve(bad)

    good = stage_append(spark, table, batch)
    # an unrelated writer commits between stage and audit/publish; the
    # fast-append retry must attach the stage to the NEW head
    merge_partitioned(spark, table, _orders_ranged_changes(o))
    audit_and_resolve(good)
    return read_snapshot(spark, table)


# --- incremental materialized-view maintenance over the CDF ----------------

_VIEW_CTE = """
WITH merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 1 AND o_orderkey BETWEEN 1 AND 400
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
  FROM orders
  UNION ALL
  SELECT o_orderkey + 30000000, o_totalprice FROM orders
  WHERE o_orderkey % 5 = 2 AND o_orderkey BETWEEN 1 AND 400
),
final AS (
  SELECT * FROM merged
  WHERE NOT (o_orderkey % 7 = 6 AND o_orderkey BETWEEN 1 AND 1000)
)
"""


@query(
    "m38_cdf_view_maintenance",
    oracle=_VIEW_CTE + """
SELECT CAST(o_orderkey % 10 AS INT) AS o_grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS total
FROM final GROUP BY o_orderkey % 10
""",
    category="maintenance",
)
def cdf_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the change feed:
    a per-group (count, total) summary is computed ONCE at v1, then kept
    in sync across a COW update+insert commit (v2) and a merge-on-read
    delete commit (v3) purely by folding each commit's PREIMAGE feed into
    the view — +postimage/+insert, −preimage/−delete — never re-reading
    the fact table. This is the retraction algebra Delta CDF's
    update_preimage rows exist for: the compact I/U/D feed (m24) cannot
    maintain a SUM because it does not say what to subtract. The view's
    measures are exactly-associative quantized partials (the m10
    argument), so fold order is immaterial. Per-commit cost is
    O(feed) + O(view) — at 100 TB the view is group-cardinality-sized
    and the feed is the commit's change volume; the fact table is never
    touched after v1. The result must equal the oracle's from-scratch
    aggregate of the final state."""
    from ..plans.lakehouse_mor import delete_mor
    from ..sources.io import _scratch
    import shutil

    table = _scratch(sf_dir, "m38_orders_ptable")
    shutil.rmtree(table, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.select(
        "o_orderkey",
        (F.col("o_orderkey") % 10).cast("int").alias("o_grp"),
        "o_totalprice",
    )
    ddl = "o_orderkey long, o_grp int, o_totalprice double"
    _lh.create_partitioned(spark, base, table, ddl, "o_orderkey", n_buckets=8)

    # the materialized view: quantized-exact partials per group, v1 state
    def as_view(df: DataFrame) -> DataFrame:
        return df.groupBy("o_grp").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).alias(
                "cents"
            ),
        )

    view = materialize(as_view(read_snapshot(spark, table)), eager=True)

    # v2: COW merge — updates (+10 on keys ≡1 mod 5 in 1..400) and inserts
    in_range = o.filter(F.col("o_orderkey").between(1, 400))
    upd = in_range.filter(F.col("o_orderkey") % 5 == 1).select(
        "o_orderkey", F.lit("U").alias("op"), F.lit(1).alias("seq"),
        (F.col("o_orderkey") % 10).cast("int").alias("o_grp"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
    )
    ins = in_range.filter(F.col("o_orderkey") % 5 == 2).select(
        (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
        (F.col("o_orderkey") % 10).cast("int").alias("o_grp"),
        F.col("o_totalprice"),
    )
    merge_partitioned(spark, table, upd.unionByName(ins))

    # v3: MOR delete — keys ≡6 mod 7 in 1..1000 (inserted keys are out of range)
    doomed = (
        read_snapshot(spark, table)
        .filter((F.col("o_orderkey") % 7 == 6) & F.col("o_orderkey").between(1, 1000))
        .select("o_orderkey")
    )
    delete_mor(spark, table, doomed)

    # fold each commit's preimage feed into the view — the fact table is
    # never re-read; a group whose count reaches zero leaves the view
    sign = (
        F.when(F.col("op").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("op").isin("delete", "update_preimage"), F.lit(-1))
    )
    for v in range(2, current_version(table) + 1):
        feed = _lh.snapshot_changes_incremental(
            spark, table, v, "o_orderkey", preimages=True
        )
        delta = feed.select(
            "o_grp",
            sign.alias("n"),
            (sign * F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).alias(
                "cents"
            ),
        ).groupBy("o_grp").agg(
            F.sum("n").alias("n"), F.sum("cents").alias("cents")
        )
        view = materialize(
            view.unionByName(delta)
            .groupBy("o_grp")
            .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
            .filter(F.col("n") > 0),
            eager=True,
            iterative=True,
        )
    return view.select(
        "o_grp",
        "n",
        (F.col("cents").cast("double") / 100.0).alias("total"),
    )
