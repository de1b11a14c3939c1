"""Driver-side XXH64 ≡ JVM ``F.xxhash64`` — the invariant the r11 probe
optimization rests on.

``pruned_postings`` / ``_term_upper_bounds`` / ``pruned_files_bloom``
compute probe bucket ids and bloom bit positions on the driver
(``functions.xxh64``) instead of launching a literal-DataFrame Spark job
per probe. Build side still hashes in the JVM, so ANY divergence between
the two implementations mis-routes a probe to the wrong files. These
tests pin byte-exact parity over every shape the repo uses: strings
(empty, 1-byte, multibyte UTF-8, lengths spanning the 4/8/32-byte
algorithm boundaries), the int/long chain steps, pmod semantics on
negative hashes, and the composed bloom-position formula."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from shadowcat_data_spark.functions.xxh64 import (
    pmod64,
    to_signed,
    xxh64_int,
    xxh64_long,
    xxh64_string,
)


def _tokens() -> list[str]:
    rng = random.Random(0xC0FFEE)
    alphabet = string.ascii_lowercase + string.digits + "éü中🚀-_"
    toks = ["", "a", "ab", "abc", "abcd", "join", "filter", "customer"]
    # exercise every tail-length class: <4, <8, 8..31, >=32 bytes
    toks += [
        "".join(rng.choice(alphabet) for _ in range(n))
        for n in list(range(1, 40)) + [63, 64, 65, 127, 200]
    ]
    return toks


def test_xxh64_string_matches_jvm(spark):
    toks = _tokens()
    rows = spark.createDataFrame([(t,) for t in toks], "tok string").select(
        "tok",
        F.xxhash64("tok").alias("h"),
        F.pmod(F.xxhash64("tok"), F.lit(16)).alias("b16"),
        F.pmod(F.xxhash64("tok"), F.lit(13)).alias("b13"),
    ).collect()
    assert len(rows) == len(toks)
    for r in rows:
        h = xxh64_string(r["tok"])
        assert to_signed(h) == r["h"], repr(r["tok"])
        assert pmod64(h, 16) == r["b16"], repr(r["tok"])
        # non-power-of-two modulus exercises the signed-pmod conversion
        assert pmod64(h, 13) == r["b13"], repr(r["tok"])


def test_xxh64_chain_steps_match_jvm(spark):
    toks = _tokens()[:24]
    rows = spark.createDataFrame([(t,) for t in toks], "tok string").select(
        "tok",
        *[F.xxhash64(F.col("tok"), F.lit(s)).alias(f"i{s}") for s in range(3)],
        F.xxhash64(F.col("tok"), F.lit(1 << 40)).alias("l"),
    ).collect()
    for r in rows:
        h = xxh64_string(r["tok"])
        for s in range(3):  # IntegerType literal step (bloom seed s)
            assert to_signed(xxh64_int(s, h)) == r[f"i{s}"], (r["tok"], s)
        assert to_signed(xxh64_long(1 << 40, h)) == r["l"]


def test_xxh64_long_and_cast_string_match_jvm(spark):
    vals = [0, 1, -1, 7, -5, 2**40, -(2**40), 2**62, -(2**62)]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v",
        F.xxhash64("v").alias("h"),
        F.xxhash64(F.col("v").cast("string")).alias("hs"),
    ).collect()
    for r in rows:
        assert to_signed(xxh64_long(r["v"])) == r["h"], r["v"]
        # pruned_files_bloom hashes str(v) for int values — must equal
        # the JVM's cast(long as string) hash
        assert to_signed(xxh64_string(str(r["v"]))) == r["hs"], r["v"]


def test_bloom_positions_match_hash_positions_expr(spark):
    """The composed driver-side bloom formula == the JVM ``_hash_positions``
    expression the BUILD side commits, for string and long key columns."""
    from shadowcat_data_spark.plans.lakehouse_zorder import _hash_positions

    m_bits, k = 1 << 12, 3
    vals = [17, 50022, 999999999999, 0]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", *_hash_positions(F.col("v"), m_bits, k)
    ).collect()
    for r in rows:
        got = tuple(
            pmod64(xxh64_int(s, xxh64_string(str(r["v"]))), m_bits)
            for s in range(k)
        )
        assert got == tuple(int(r[f"p{s}"]) for s in range(k)), r["v"]
    srows = spark.createDataFrame(
        [(t,) for t in ["", "alpha", "doc-42", "中文"]], "v string"
    ).select("v", *_hash_positions(F.col("v"), m_bits, k)).collect()
    for r in srows:
        got = tuple(
            pmod64(xxh64_int(s, xxh64_string(r["v"])), m_bits)
            for s in range(k)
        )
        assert got == tuple(int(r[f"p{s}"]) for s in range(k)), repr(r["v"])


def test_bloom_probe_python_vs_jvm_path(spark, tmp_path):
    """End-to-end over BOTH probe routes. Fast path: int probes on a long
    column (driver-side hash; expression-level parity is pinned above).
    JVM fallback: float probes on a DOUBLE column — the type gate
    (ADVICE r11: str(3) vs cast-string "3.0" would be a silent false
    negative) routes any non-(integral+int / string+str) pairing to the
    literal-DataFrame job, which casts with the column's real DDL type.
    Both routes must prune files yet never drop a true match."""
    from shadowcat_data_spark.plans.lakehouse import create_partitioned
    from shadowcat_data_spark.plans.lakehouse_zorder import (
        add_bloom_filters,
        pruned_files_bloom,
        scan_point,
    )

    df = spark.range(0, 2000).select(
        F.col("id").alias("u"), (F.col("id") % 7).alias("g")
    )
    table = str(tmp_path / "bloomed")
    create_partitioned(spark, df, table, "u long, g long", "u", n_buckets=4)
    add_bloom_filters(spark, table, "u")
    probes = [3, 1777, 50022]
    fast, total = pruned_files_bloom(spark, table, "u", probes)
    assert total > 1 and len(fast) < total  # fast path actually prunes
    got = sorted(
        r["u"]
        for r in scan_point(spark, table, "u", probes)
        .filter(F.col("u").isin(probes))
        .collect()
    )
    assert got == [3, 1777]  # 50022 absent from the table

    # fallback route: double column, float probes (gate: not integral+int)
    dfd = spark.range(0, 2000).select(
        (F.col("id") + 0.5).alias("x"), (F.col("id") % 7).alias("g")
    )
    tabled = str(tmp_path / "bloomed_double")
    create_partitioned(spark, dfd, tabled, "x double, g long", "g", n_buckets=4)
    add_bloom_filters(spark, tabled, "x")
    fprobes = [3.5, 1777.5, 50022.5]
    fb, totald = pruned_files_bloom(spark, tabled, "x", fprobes)
    assert totald > 1 and len(fb) < totald  # fallback prunes too
    gotd = sorted(
        r["x"]
        for r in scan_point(spark, tabled, "x", fprobes)
        .filter(F.col("x").isin(fprobes))
        .collect()
    )
    assert gotd == [3.5, 1777.5]  # no false negatives via the JVM route


def test_bloom_probe_type_mismatch_routes_to_jvm(spark, tmp_path):
    """ADVICE r11 (medium): an int probe against a DOUBLE column must NOT
    take the driver fast path — str(3) is "3" while the build side hashed
    cast(3.0 as string) = "3.0", a silent false negative. With the type
    gate the pairing routes to the JVM path, which fails loudly on the
    type verification (the pre-fast-path behavior) instead of silently
    pruning true matches."""
    import pytest

    from shadowcat_data_spark.plans.lakehouse import create_partitioned
    from shadowcat_data_spark.plans.lakehouse_zorder import (
        add_bloom_filters,
        pruned_files_bloom,
    )

    dfd = spark.range(0, 200).select(
        (F.col("id") + 0.0).alias("x"), (F.col("id") % 3).alias("g")
    )
    table = str(tmp_path / "bloomed_mismatch")
    create_partitioned(spark, dfd, table, "x double, g long", "g", n_buckets=2)
    add_bloom_filters(spark, table, "x")
    with pytest.raises(Exception):  # loud, not a silent wrong answer
        pruned_files_bloom(spark, table, "x", [3, 50022])


def test_bloom_probe_mixed_types_name_the_column(spark, tmp_path):
    """A probe list mixing value types (``[3, "x"]``) has no exact cast to
    the column's type. It must fail with a ValueError that names the
    column and its type, on an integral and on a string column alike (a
    string column would otherwise hash str(3) and could miss "03")."""
    import pytest

    from shadowcat_data_spark.plans.lakehouse import create_partitioned
    from shadowcat_data_spark.plans.lakehouse_zorder import (
        add_bloom_filters,
        pruned_files_bloom,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("u"), F.col("id").cast("string").alias("s")
    )
    table = str(tmp_path / "bloomed_mixed")
    create_partitioned(spark, df, table, "u long, s string", "u", n_buckets=2)
    add_bloom_filters(spark, table, "u")
    add_bloom_filters(spark, table, "s")
    for col, vtype in (("u", "long"), ("s", "string")):
        with pytest.raises(ValueError, match=rf"'{col}' \({vtype}\).*int, str"):
            pruned_files_bloom(spark, table, col, [3, "x"])
