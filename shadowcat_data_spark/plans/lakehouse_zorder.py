"""Multi-dimensional data layout + membership-based file skipping.

Two classic lakehouse maintenance features the snapshot-log table format
was still missing, both pure layers over the existing manifests:

- **Z-order clustering** (Delta ``OPTIMIZE ... ZORDER BY``, Iceberg's
  z-order sort rewrite): re-cluster each partition bucket along the
  bit-interleaved rank of N columns so that every output file covers a
  small axis-aligned BOX in N-dim value space. The existing per-file
  min/max column spans (``_footer_stats``) then prune on ANY of the
  z-columns — unlike a linear sort (m41), which buys skipping on one
  column and leaves every other span blanketing the domain. The curve
  is computed from quantile bin codes (``bits`` bits per column) so it
  is insensitive to value magnitudes and skew, matching how Delta
  computes z-cubes from range-partition ids.
- **Bloom-filter file skipping** (Parquet bloom filters / Delta bloom
  index, lifted to the MANIFEST so no footer needs opening): a
  maintenance commit computes one small bloom bitmap per data file over
  a chosen column and stores it in the file's stats entry; a point
  lookup then opens only the files whose bloom MAY contain a probed
  key. This is the layout-free complement to z-order: min/max spans
  prune ranges on clustered columns, blooms prune point predicates on
  scattered high-cardinality columns (the GDPR-delete / id-lookup
  shape), with false positives re-filtered by the exact predicate and
  false negatives impossible.

Scale notes (100 TB): the z-order rewrite is ONE range-shuffle over the
rewritten data — identical cost shape to m41's sort rewrite; bin bounds
come from one deterministic hash-sample aggregate (the create_partitioned
bounds discipline — no single-reducer exact percentile). The bloom build
is one scan whose hash positions fold into 64-bit words executor-side
(grouped bit-OR), so the driver transfer is #files × bitmap bytes — the
same O(#files) metadata budget the manifest itself costs. Probing hashes a handful of literals through one tiny Spark job so
the probe-side hash is bit-identical to the build side's JVM xxhash64 —
no Python reimplementation to drift.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import load_table
from ..sources.io import _scratch
from .lakehouse import (
    _BOUNDS_SAMPLE_CAP,
    _bucket_expr,
    _commit_next,
    _partitioned_manifest,
    _read_files_mor,
    _write_stage,
    create_partitioned,
    read_manifest,
)

# --- Z-order clustering ----------------------------------------------------


def _sampled_bounds(df: DataFrame, cols: list[str], n_bins: int) -> dict[str, list[float]]:
    """Per-column quantile bin bounds from ONE aggregate over a
    deterministic hash sample (exact below ~100k rows) — the same
    determinism-over-exactness trade ``create_partitioned`` documents:
    sampled bounds only shift bin populations a few percent, while an
    exact percentile is a single-reducer materialization of every
    column. Duplicate quantiles collapse, so a low-cardinality column
    simply gets fewer (still correct) bins."""
    n = df.count()
    src = df
    if n > _BOUNDS_SAMPLE_CAP:
        m = n // _BOUNDS_SAMPLE_CAP
        src = df.filter(
            F.pmod(F.xxhash64(F.col(cols[0]).cast("string")), F.lit(m)) == 0
        )
    qs = ",".join(repr(i / n_bins) for i in range(1, n_bins))
    row = src.select(
        *[
            F.expr(f"percentile({c}, array({qs}))").alias(c)
            for c in cols
        ]
    ).first()
    return {
        c: sorted({float(b) for b in (row[c] or []) if b is not None})
        for c in cols
    }


def _zvalue_expr(cols: list[str], bounds: dict[str, list[float]], bits: int):
    """Bit-interleaved z-value of the per-column bin codes, built from
    JVM shift/mask expressions (whole-stage-codegen'd — no UDF). Column
    j's bit i lands at interleaved position ``i * n_cols + (n_cols-1-j)``
    so all columns contribute equally at every scale of the curve."""
    n_cols = len(cols)
    codes = [_bucket_expr(F.col(c), bounds[c]).cast("long") for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, code in enumerate(codes):
            z = z + F.shiftleft(
                F.shiftright(code, i).bitwiseAND(F.lit(1)),
                i * n_cols + (n_cols - 1 - j),
            )
    return z


def rewrite_zorder(
    spark: SparkSession,
    table: str,
    cols: list[str],
    bits: int = 4,
    slices_per_bucket: int = 4,
) -> tuple[int, int]:
    """Z-order rewrite: re-cluster every bucket's rows along the z-curve
    of ``cols`` and split each bucket into ``slices_per_bucket`` files,
    so each file's manifest entry spans a small box in the ``cols``
    space and ``pruned_files_box`` can skip files on ANY combination of
    those columns. Content-preserving by construction (same rows, new
    layout — the registered query is oracle-checked); standing MOR
    deletes are materialized exactly as in ``rewrite_sorted`` (every
    file gets a fresh seq). One range shuffle; bounds from one sampled
    aggregate. Returns (files_before, files_after)."""
    if not cols:
        raise ValueError("rewrite_zorder needs at least one column")
    n_before = n_after = 0

    def build(version: int, man: dict) -> dict:
        nonlocal n_before, n_after
        part = man["partition"]
        key, bounds = part["key"], part["bounds"]
        n_before = len(man["files"])
        df = _read_files_mor(spark, table, man, man["files"])
        zbounds = _sampled_bounds(df, cols, 1 << bits)
        n_parts = max((len(bounds) + 1) * max(slices_per_bucket, 1), 1)
        entries = _write_stage(
            df.withColumn("__bucket", _bucket_expr(F.col(key), bounds))
            .withColumn("__z", _zvalue_expr(cols, zbounds, bits))
            .repartitionByRange(n_parts, F.col("__bucket"), F.col("__z"))
            .sortWithinPartitions("__bucket", "__z", key)
            .drop("__z"),
            table,
            man,
            version + 1,
        )
        n_after = len(entries)
        return _partitioned_manifest(
            man["schema"],
            part,
            entries,
            prev=man,
            extra={
                "delete_files": {},
                "zorder": {"cols": list(cols), "bits": bits},
            },
        )

    _commit_next(table, "rewrite-zorder", build)
    return n_before, n_after


def pruned_files_box(
    table: str,
    preds: dict[str, tuple],
    version: int | None = None,
) -> tuple[list[str], int]:
    """Multi-column manifest skipping: keep the files whose per-column
    [min, max] span overlaps EVERY predicate's [lo, hi] box side (None =
    unbounded side; a file missing stats for a column survives that
    column conservatively). Pure metadata, like ``pruned_files`` — the
    intersection semantics are what a z-ordered layout turns into
    near-minimal file sets, but the function is sound on any layout
    (kept files are always a superset of matching rows)."""
    man = read_manifest(table, version)
    stats = man.get("stats", {})
    part_key = (man.get("partition") or {}).get("key")
    keep = []
    for f in man["files"]:
        st = stats.get(f, {})
        ok = True
        for col, (lo, hi) in preds.items():
            if col == part_key:
                mn, mx = st.get("min"), st.get("max")
            else:
                mn, mx = st.get("cols", {}).get(col) or (None, None)
            if lo is not None and mx is not None and mx < lo:
                ok = False
                break
            if hi is not None and mn is not None and mn > hi:
                ok = False
                break
        if ok:
            keep.append(f)
    return keep, len(man["files"])


def pruned_files_points(
    table: str,
    col: str,
    values: list,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Per-VALUE span skipping for a point-IN set: keep a file only if
    at least one probed value falls inside its [min, max] span of
    ``col`` (files without stats survive conservatively). Strictly
    tighter than boxing the set to [min(values), max(values)] — a
    locality-free id set (the t33 re-crawl trigger's doc_ids) boxes to
    nearly the whole key domain and prunes nothing, while the per-value
    check still skips every file whose span contains NO probed id. On a
    key-range-bucketed layout with sorted-within-file spans this prunes
    like a bloom index without needing one built; when a bloom IS built
    the two intersect in ``pruned_files_routed``. Pure metadata, one
    ``bisect`` per file over the sorted probe list."""
    import bisect

    man = read_manifest(table, version)
    stats = man.get("stats", {})
    part_key = (man.get("partition") or {}).get("key")
    try:
        vs = sorted(values)
    except TypeError:  # mixed-type probe literals: stay conservative
        return list(man["files"]), len(man["files"])
    keep = []
    for f in man["files"]:
        st = stats.get(f, {})
        if col == part_key:
            mn, mx = st.get("min"), st.get("max")
        else:
            mn, mx = st.get("cols", {}).get(col) or (None, None)
        if mn is not None and mx is not None:
            try:
                i = bisect.bisect_left(vs, mn)
                if i >= len(vs) or vs[i] > mx:
                    continue  # no probed value inside this file's span
            except TypeError:
                pass  # stats type mismatch: keep conservatively
        keep.append(f)
    return keep, len(man["files"])


def scan_box(
    spark: SparkSession,
    table: str,
    preds: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """MOR-aware read of only the files whose stats box overlaps
    ``preds``; the caller re-applies the exact row predicate (kept files
    are a superset of matching rows — the same contract every lake
    reader honors after pruning)."""
    man = read_manifest(table, version)
    keep, _ = pruned_files_box(table, preds, version)
    return _read_files_mor(spark, table, man, keep)


# --- Bloom-filter file skipping --------------------------------------------


def _rel_file(uri: str, table: str) -> str:
    return os.path.relpath(urlparse(uri).path, os.path.abspath(table))


def _hash_positions(col, m_bits: int, k: int) -> list:
    """The k bloom bit positions of ``col`` — xxhash64 over the string
    form with seed s per hash. Build and probe BOTH evaluate this same
    JVM expression, so the two sides can never disagree."""
    return [
        F.pmod(
            F.xxhash64(col.cast("string"), F.lit(s)), F.lit(m_bits)
        ).alias(f"p{s}")
        for s in range(k)
    ]


def _col_ddl_type(schema_ddl: str, col: str) -> str:
    for item in schema_ddl.split(","):
        parts = item.strip().split()
        if len(parts) >= 2 and parts[0] == col:
            return " ".join(parts[1:])
    return "string"


def add_bloom_filters(
    spark: SparkSession,
    table: str,
    col: str,
    bits_per_key: int = 10,
    k: int = 3,
    only_missing: bool = False,
) -> int:
    """Maintenance commit: one bloom bitmap per data file over ``col``,
    stored in the manifest (METADATA-ONLY — data files untouched,
    pinned by pytest). The bitmap width is one power of two sized from
    the LARGEST per-file NDV (``bits_per_key`` bits per distinct key →
    ~1% false positives at k=3), so every file meets the target rate;
    clamped to [2^10, 2^22] bits = 128 B–512 KB per file. The build is
    one distributed scan: k hash positions per row, deduped per file,
    collect_set bounded by the bitmap width — the only driver transfer
    is #files × bitmap, the manifest's own metadata budget.

    ``only_missing=True`` is the INCREMENTAL maintenance mode (the
    ``auto_optimize`` rebloom step): scan only the files without a
    bitmap for ``col`` — the ones compaction or a MOR materialize
    rewrote, or recent appends — REUSING the table's committed (m, k)
    so old and new bitmaps stay probe-compatible. Cost ∝ rewritten
    bytes, not table bytes. The trade: a new file denser than the
    original sizing degrades its false-positive rate gracefully (never
    correctness); a periodic full rebuild re-sizes."""

    def build(version: int, man: dict) -> dict | None:
        files = man["files"]
        params = (man.get("bloom") or {}).get(col)
        if only_missing and params is not None:
            files = [
                f
                for f in files
                if col not in (man["stats"][f].get("bloom") or {})
            ]
        if not files:
            # zero-file table (or nothing missing in incremental mode):
            # nothing to index and nothing to prune — the maintenance
            # service correctly does nothing (same contract as
            # auto-OPTIMIZE on empty input); the probe side conservatively
            # keeps all files lacking bloom params
            return None
        df = (
            spark.read.schema(man["schema"])
            .parquet(*[os.path.join(table, f) for f in files])
            .select(F.col(col), F.input_file_name().alias("__file"))
            .where(F.col(col).isNotNull())
        )
        if only_missing and params is not None:
            m_bits, n_hashes = int(params["m"]), int(params["k"])
        else:
            n_hashes = k
            max_ndv = (
                df.groupBy("__file")
                .agg(F.approx_count_distinct(col).alias("n"))
                .agg(F.max("n"))
                .first()[0]
                or 1
            )
            m_bits = 1 << min(
                max(int(max_ndv * bits_per_key).bit_length(), 10), 22
            )
        # pack bits EXECUTOR-side: positions fold into 64-bit words with a
        # grouped bit-OR, so the driver receives ≤ #files × (m_bits/64)
        # longs — exactly the #files × bitmap manifest budget. (Collecting
        # raw positions was one int64 PER SET BIT — a 64× blow-up that
        # peaked at ~32 MB/file at m=2^22.)
        rows = (
            df.select(
                "__file", F.explode(F.array(*_hash_positions(F.col(col), m_bits, n_hashes))).alias("p")
            )
            .distinct()
            .select(
                "__file",
                F.shiftright(F.col("p"), 6).alias("w"),
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("b"),
            )
            .groupBy("__file", "w")
            .agg(F.bit_or("b").alias("bits"))
            .collect()
        )
        words: dict[str, int] = {}
        for r in rows:
            f = _rel_file(r["__file"], table)
            # JVM longs are signed; bit 63 arrives negative — mask to u64
            word = int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
            words[f] = words.get(f, 0) | (word << (int(r["w"]) * 64))
        bitmaps = {f: f"{bm:x}" for f, bm in words.items()}
        stats = {f: dict(st) for f, st in man["stats"].items()}
        for f in files:
            blooms = dict(stats[f].get("bloom") or {})
            blooms[col] = {"bits": bitmaps.get(f, "0")}
            stats[f]["bloom"] = blooms
        bloom = {**(man.get("bloom") or {}), col: {"m": m_bits, "k": n_hashes}}
        return {**man, "stats": stats, "bloom": bloom}

    return _commit_next(table, "add-bloom", build)


def pruned_files_bloom(
    spark: SparkSession,
    table: str,
    col: str,
    values: list,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Keep only the files whose bloom bitmap MAY contain one of the
    probed ``values`` (all k bits set for that value). False negatives
    are impossible by bloom construction; false positives are
    re-filtered by the caller's exact predicate. Files with no bloom for
    ``col`` (committed after the index, or never indexed) are kept
    conservatively.

    Probe-side hashing runs on the DRIVER (``functions.xxh64``, parity
    pytest-pinned against the JVM): string/int values hash in
    microseconds, where the old literal-DataFrame job fanned the probe
    set into defaultParallelism empty tasks on every point lookup (r11
    profile) — a per-trigger cost for t33's pruned store reads. The fast
    path is gated on the COLUMN's DDL type matching the probe value type
    (integral col + int probes, or string col + str probes); any other
    pairing falls back to the one-job JVM path, whose cast+hash is exact
    by construction. Probes that path cannot type as the column (a mixed
    list such as ``[3, "x"]``, ints on a double column, any non-str probe
    on a string column) raise ``ValueError`` naming the column and its
    type."""
    man = read_manifest(table, version)
    total = len(man["files"])
    params = (man.get("bloom") or {}).get(col)
    if params is None:
        return list(man["files"]), total
    if not values:
        return [], total
    m_bits, k = int(params["m"]), int(params["k"])
    vtype = _col_ddl_type(man["schema"], col).lower()
    # Fast path only when str(v) provably equals the build side's
    # cast(col as string): integral column probed with ints, or string
    # column probed with strs (ADVICE r11: an int probe on a double
    # column would hash "3" where the build hashed "3.0" — a silent
    # false NEGATIVE, i.e. wrong results, where bloom false positives
    # are merely re-filtered). Any other (vtype, value-type) pairing
    # takes the exact JVM cast+hash below.
    _INTEGRAL = {"tinyint", "byte", "smallint", "short", "int", "integer", "bigint", "long"}
    fast_ok = (
        vtype in _INTEGRAL
        and all(isinstance(v, int) and not isinstance(v, bool) for v in values)
    ) or (vtype == "string" and all(isinstance(v, str) for v in values))
    if fast_ok:
        from ..functions.xxh64 import pmod64, xxh64_int, xxh64_string

        # == pmod(xxhash64(cast(v as string), lit(s)), m_bits): the int
        # literal s chains as Spark's IntegerType hash step
        want = [
            tuple(
                pmod64(xxh64_int(s, xxh64_string(str(v))), m_bits)
                for s in range(k)
            )
            for v in values
        ]
    else:  # type mismatch or exotic value types: the exact JVM cast+hash
        kinds = ", ".join(sorted({type(v).__name__ for v in values}))
        mistyped = ValueError(
            f"bloom probe values for column {col!r} ({vtype}) must all be "
            f"{vtype} values; got {kinds}"
        )
        if vtype == "string":
            # some probe is not a str: the literal DataFrame would hash
            # str(v) ("3.0" for 3.0) where the caller's predicate also
            # matches the column's "3" — a silent false negative
            raise mistyped
        try:
            probe = spark.createDataFrame([(v,) for v in values], f"v {vtype}")
        except TypeError as exc:  # e.g. [3, "x"] on a long column
            raise mistyped from exc
        pos = probe.select(*_hash_positions(F.col("v"), m_bits, k)).collect()
        want = [tuple(int(r[f"p{s}"]) for s in range(k)) for r in pos]
    stats = man.get("stats", {})
    keep = []
    for f in man["files"]:
        entry = (stats.get(f, {}).get("bloom") or {}).get(col)
        if entry is None:
            keep.append(f)
            continue
        bm = int(entry["bits"], 16)
        if any(all(bm >> p & 1 for p in ps) for ps in want):
            keep.append(f)
    return keep, total


def scan_point(
    spark: SparkSession,
    table: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """MOR-aware read of only the bloom-surviving files for a point-IN
    lookup on ``col``; the caller applies the exact ``isin`` predicate
    on top (bloom false positives are whole files, never wrong rows)."""
    man = read_manifest(table, version)
    keep, _ = pruned_files_bloom(spark, table, col, values, version)
    return _read_files_mor(spark, table, man, keep)


# --- unified scan routing over the pruning tiers (r05 verdict #5) -----------


def pruned_files_routed(
    spark: SparkSession,
    table: str,
    range_preds: dict[str, tuple] | None = None,
    point_preds: dict[str, list] | None = None,
    version: int | None = None,
) -> tuple[list[str], int, dict[str, int]]:
    """ONE scan-planning entry point over every pruning tier the manifest
    supports — the m42 CBO pattern applied to scans. Callers hand it the
    predicate SHAPES (range boxes and point-IN sets); it consults the
    manifest's metadata to decide which strategies apply, and INTERSECTS
    every applicable one:

    - range predicates → min/max span boxes (LK5/LK17 stats, which a
      z-order rewrite makes near-minimal but are sound on any layout);
    - point predicates → the PER-VALUE span check (a file survives only
      if some probed value sits inside its [min, max] —
      ``pruned_files_points``, strictly tighter than the value set's
      bounding box), PLUS the bloom bitmaps (LK18) when the manifest
      carries a bloom index for that column.

    Each tier keeps a superset of the files holding matching rows, so
    the intersection does too — and it is BY CONSTRUCTION no larger than
    the best single strategy, which is the routing guarantee the caller
    wants without naming a strategy (pytest-pinned). Pure metadata except
    the bloom probe's literal-hashing job (a handful of rows). Returns
    (kept_files, files_total, per-strategy kept counts for EXPLAIN-style
    introspection)."""
    man = read_manifest(table, version)
    total = len(man["files"])
    keep = set(man["files"])
    report: dict[str, int] = {}
    if range_preds:
        box, _ = pruned_files_box(table, range_preds, version)
        keep &= set(box)
        report["box"] = len(box)
    for col, values in (point_preds or {}).items():
        if not values:
            return [], total, {f"span:{col}": 0}
        span, _ = pruned_files_points(table, col, values, version)
        keep &= set(span)
        report[f"span:{col}"] = len(span)
        if (man.get("bloom") or {}).get(col):
            bl, _ = pruned_files_bloom(spark, table, col, values, version)
            keep &= set(bl)
            report[f"bloom:{col}"] = len(bl)
    return [f for f in man["files"] if f in keep], total, report


def scan_routed(
    spark: SparkSession,
    table: str,
    range_preds: dict[str, tuple] | None = None,
    point_preds: dict[str, list] | None = None,
    version: int | None = None,
) -> DataFrame:
    """MOR-aware read of only the files surviving ``pruned_files_routed``;
    the caller applies the exact predicates on top (pruning false
    positives are whole files, never wrong rows)."""
    man = read_manifest(table, version)
    keep, _, _ = pruned_files_routed(spark, table, range_preds, point_preds, version)
    return _read_files_mor(spark, table, man, keep)


# --- registered queries ----------------------------------------------------

_ORDERS3_DDL = "o_orderkey long, o_custkey long, o_totalprice double"


def _fresh_orders_3col(
    spark: SparkSession, sf_dir: str, name: str, files_per_bucket: int = 1
) -> str:
    import shutil

    table = _scratch(sf_dir, name)
    shutil.rmtree(table, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    create_partitioned(
        spark, o, table, _ORDERS3_DDL, "o_orderkey", n_buckets=8,
        files_per_bucket=files_per_bucket,
    )
    return table


@query(
    "m44_zorder_rewrite",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM orders
WHERE o_custkey BETWEEN 100 AND 400 AND o_totalprice BETWEEN 50000 AND 150000
""",
    category="maintenance",
)
def zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite then a TWO-column box read: orders is partitioned
    on o_orderkey, so per-file spans of o_custkey AND o_totalprice both
    start out blanketing their domains (neither predicate prunes
    anything, and an m41 linear sort could fix only one of them); after
    ``rewrite_zorder`` the same manifest-stats scan skips files on the
    conjunction of both predicates (strictly fewer on each axis —
    asserted in pytest) and the answer still equals the raw table's box
    aggregate."""
    table = _fresh_orders_3col(spark, sf_dir, "m44_orders_ztable")
    rewrite_zorder(spark, table, ["o_custkey", "o_totalprice"], bits=4)
    df = scan_box(
        spark,
        table,
        {"o_custkey": (100, 400), "o_totalprice": (50000.0, 150000.0)},
    ).filter(
        F.col("o_custkey").between(100, 400)
        & F.col("o_totalprice").between(50000.0, 150000.0)
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


@query(
    "m46_routed_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM orders
WHERE o_custkey IN (19, 74, 133) AND o_totalprice BETWEEN 20000 AND 120000
""",
    category="maintenance",
)
def routed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified scan routing: one table carries ALL THREE pruning tiers
    (partition-key min/max stats, z-ordered secondary-column spans, a
    bloom index on o_custkey), and a mixed predicate — point-IN on the
    bloom-indexed column AND a range on a z-column — is planned through
    ``pruned_files_routed``, which intersects every applicable tier
    instead of making the caller pick one. The kept set is no larger
    than the best single strategy (pytest-pinned with strictly-fewer
    assertions); the aggregate still equals the raw table's, proving the
    composed pruning never drops a matching row."""
    table = _fresh_orders_3col(
        spark, sf_dir, "m46_orders_rtable", files_per_bucket=4
    )
    rewrite_zorder(spark, table, ["o_custkey", "o_totalprice"], bits=4)
    add_bloom_filters(spark, table, "o_custkey")
    keys = [19, 74, 133]
    df = scan_routed(
        spark,
        table,
        range_preds={"o_totalprice": (20000.0, 120000.0)},
        point_preds={"o_custkey": keys},
    ).filter(
        F.col("o_custkey").isin(keys)
        & F.col("o_totalprice").between(20000.0, 120000.0)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("total"),
    )


@query(
    "m45_bloom_point_lookup",
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM orders
WHERE o_custkey IN (19, 74, 133)
GROUP BY o_custkey
ORDER BY o_custkey
""",
    category="maintenance",
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed point lookup on a NON-partition column: orders is
    partitioned on o_orderkey and split 4 files/bucket, so a customer's
    orders are scattered and min/max spans of o_custkey cannot prune;
    after ``add_bloom_filters`` the lookup opens only the files whose
    bloom may contain one of the probed customers (strictly fewer than
    all — asserted in pytest, along with the absent-key case reading
    almost nothing) and the per-customer aggregate still equals the raw
    table's."""
    table = _fresh_orders_3col(
        spark, sf_dir, "m45_orders_btable", files_per_bucket=4
    )
    add_bloom_filters(spark, table, "o_custkey")
    keys = [19, 74, 133]
    df = scan_point(spark, table, "o_custkey", keys).filter(
        F.col("o_custkey").isin(keys)
    )
    return (
        df.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
                ).cast("double")
                / 100.0
            ).alias("total"),
        )
        .orderBy("o_custkey")
    )


@query(
    "m49_bloom_lifecycle",
    oracle="""
SELECT * FROM (
  VALUES (1, 'materialize'), (2, 'compact'), (3, 'rebloom:o_custkey'),
         (4, 'expire')
) t(step, action)
CROSS JOIN (
  SELECT CAST((SELECT COUNT(*) FROM orders)
            + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 3)
            - (SELECT COUNT(*) FROM orders
               WHERE o_orderkey IN (7, 1007, 2007))
          AS BIGINT) AS n_rows_after,
         0 AS n_unbloomed
)
""",
    category="maintenance",
)
def bloom_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom index's MAINTENANCE lifecycle end to end (r11): bitmaps
    live in per-file stats, so compaction/materialize rewrites and plain
    appends leave files without them — and point-lookup pruning (m45,
    the t33 store reads) silently degrades to conservative keeps until
    someone rebuilds. A bloomed orders table takes an un-bloomed append
    and a MOR delete; one ``auto_optimize`` pass must then decide — from
    manifest stats alone — to materialize the delete, compact the
    multi-file buckets, REBLOOM the files those rewrites left bitmap-less
    (incrementally: only un-bloomed files scanned, committed (m, k)
    params reused so old and new bitmaps stay probe-compatible), and
    expire history. The oracle pins the exact action sequence, the
    surviving row census, and that ZERO files end un-bloomed; the
    deleted keys' absence from a post-maintenance point lookup rides the
    same census (keys 7/1007/2007 are ≢ 3 mod 7, so the appended copies
    are untouched)."""
    from .lakehouse import auto_optimize, read_snapshot
    from .lakehouse_mor import delete_mor

    table = _fresh_orders_3col(
        spark, sf_dir, "m49_orders_btable", files_per_bucket=2
    )
    add_bloom_filters(spark, table, "o_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # un-bloomed append (same key distribution — no skew, no rebound)
    from .lakehouse import append_partitioned

    append_partitioned(spark, table, o.filter(F.col("o_orderkey") % 7 == 3))
    delete_mor(
        spark, table,
        spark.createDataFrame([(7,), (1007,), (2007,)], "o_orderkey long"),
    )
    actions = auto_optimize(spark, table, keep_latest=3)
    man = read_manifest(table)
    n_unbloomed = sum(
        1
        for f in man["files"]
        if "o_custkey" not in (man["stats"][f].get("bloom") or {})
    )
    n = read_snapshot(spark, table).count()
    return spark.createDataFrame(
        [(i + 1, a, n, n_unbloomed) for i, a in enumerate(actions)],
        "step int, action string, n_rows_after long, n_unbloomed int",
    )
