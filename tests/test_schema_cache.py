"""load_table's fixture-schema memo (r11): schema inference is skipped on
a filesystem-identical re-load and re-runs when the fixture changes.

The memo caches METADATA only (the inferred StructType, keyed on the file
set's sizes+mtimes). These tests pin the three contracts: (1) a cache hit
serves the identical schema and identical rows, (2) a REGENERATED fixture
(same path, new bytes) is re-inferred — never served a stale schema, and
(3) the events nanos/micros timestamp normalization still applies on the
cached path."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from shadowcat_data_spark import session as S

SF = "/root/testdata/sf0.001"


def test_cache_hit_same_schema_and_rows(spark, tmp_path):
    sf = str(tmp_path)
    shutil.copy(f"{SF}/region.parquet", f"{sf}/region.parquet")
    path = f"{sf}/region.parquet"
    S._SCHEMA_CACHE.pop(path, None)
    a = S.load_table(spark, sf, "region")
    assert path in S._SCHEMA_CACHE  # miss populated the memo
    b = S.load_table(spark, sf, "region")  # hit: explicit-schema read
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_regenerated_fixture_reinfers(spark, tmp_path):
    sf = str(tmp_path)
    shutil.copy(f"{SF}/region.parquet", f"{sf}/region.parquet")
    path = f"{sf}/region.parquet"
    S._SCHEMA_CACHE.pop(path, None)
    old = S.load_table(spark, sf, "region")
    assert S._SCHEMA_CACHE[path][1] == old.schema
    # regenerate the fixture with a DIFFERENT schema at the same path
    spark.range(3).select(
        F.col("id").alias("r_regionkey"), F.lit(1.5).alias("extra")
    ).toPandas().to_parquet(path)
    fresh = S.load_table(spark, sf, "region")
    assert "extra" in fresh.columns  # re-inferred, not served stale
    assert S._SCHEMA_CACHE[path][1] == fresh.schema


def test_nonlocal_path_never_cached():
    # VERDICT r11 #3: on hdfs://, s3a://, etc. os.walk yields nothing, so
    # a signature built there would "match" forever and pin a stale
    # schema. _fs_sig must return None (memo bypass) for any URI-scheme
    # or unstattable path — never an empty-but-equal tuple.
    assert S._fs_sig("hdfs://nn/warehouse/t.parquet") is None
    assert S._fs_sig("s3a://bucket/t.parquet") is None
    assert S._fs_sig("/no/such/local/path.parquet") is None


def test_same_size_preserved_mtime_replacement_reinfers(spark, tmp_path):
    # ADVICE r11: a fixture replaced by a same-size file with preserved
    # timestamps (cp -p / rsync -a) must not serve a stale schema. The
    # signature folds in the file's last 16 bytes (parquet footer tail),
    # which moves when content or schema changes even at equal size.
    sf = str(tmp_path)
    shutil.copy(f"{SF}/region.parquet", f"{sf}/region.parquet")
    path = f"{sf}/region.parquet"
    st = os.stat(path)
    sig_a = S._fs_sig(path)
    # same size + identical (atime, mtime), different trailing bytes
    with open(path, "r+b") as fh:
        fh.seek(st.st_size - 5)
        tail = fh.read(5)
        fh.seek(st.st_size - 5)
        fh.write(bytes(b ^ 0xFF for b in tail))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    sig_b = S._fs_sig(path)
    assert os.stat(path).st_size == st.st_size
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    assert sig_a != sig_b  # the memo key moves → re-inference, not a hit


def test_events_normalization_survives_cache(spark):
    path = f"{SF}/events.parquet"
    S._SCHEMA_CACHE.pop(path, None)
    a = S.load_table(spark, SF, "events")
    b = S.load_table(spark, SF, "events")  # cached path
    assert dict(a.dtypes)["ts"] == "timestamp"
    assert dict(b.dtypes)["ts"] == "timestamp"
    ra = a.select(F.max("ts")).first()[0]
    rb = b.select(F.max("ts")).first()[0]
    assert ra == rb


def _dir_table(root) -> str:
    """A directory-style parquet table with two partition directories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = os.path.join(str(root), "t.parquet")
    for part, vals in (("p=1", [1, 2, 3]), ("p=2", [4, 5, 6])):
        os.makedirs(os.path.join(table, part))
        pq.write_table(pa.table({"x": vals}), os.path.join(table, part, "part-0.parquet"))
    return table


def test_dir_sig_sees_file_moved_between_partitions(tmp_path):
    # ADVICE r12: the directory branch keyed files on basename alone, so a
    # file moved to another partition directory (same name, size, mtime)
    # left the signature unchanged.
    table = _dir_table(tmp_path)
    src = os.path.join(table, "p=2", "part-0.parquet")
    os.makedirs(os.path.join(table, "p=3"))
    sig_a = S._fs_sig(table)
    os.rename(src, os.path.join(table, "p=3", "part-0.parquet"))  # keeps mtime
    assert S._fs_sig(table) != sig_a


def test_dir_sig_sees_same_size_preserved_mtime_rewrite(tmp_path):
    # the single-file footer-tail check, applied to every file of a table
    table = _dir_table(tmp_path)
    path = os.path.join(table, "p=1", "part-0.parquet")
    st = os.stat(path)
    sig_a = S._fs_sig(table)
    with open(path, "r+b") as fh:
        fh.seek(st.st_size - 5)
        tail = fh.read(5)
        fh.seek(st.st_size - 5)
        fh.write(bytes(b ^ 0xFF for b in tail))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert S._fs_sig(table) != sig_a


def test_local_files_shared_by_l5_size_gate(tmp_path):
    # l5's 256 MB materialization gate sizes its input through the same
    # local-path detection as the schema memo: a file's size, a table
    # directory's total, "infinite" for URI-scheme and missing paths.
    from shadowcat_data_spark.pipeline import text as T

    table = _dir_table(tmp_path)
    files = S.local_files(table)
    assert [os.path.relpath(f, table) for f in files] == [
        os.path.join("p=1", "part-0.parquet"),
        os.path.join("p=2", "part-0.parquet"),
    ]
    assert S.local_files(files[0]) == [files[0]]
    assert S.local_files("s3a://bucket/t.parquet") is None
    assert S.local_files(str(tmp_path / "missing.parquet")) is None
    assert T._input_bytes(table) == sum(os.stat(f).st_size for f in files)
    assert T._input_bytes(files[0]) == os.stat(files[0]).st_size
    for unknown in ("hdfs://nn/docs.parquet", str(tmp_path / "missing.parquet")):
        assert T._input_bytes(unknown) >= T._L5_MAT_MIN_BYTES
    assert T._input_bytes(f"{SF}/documents.parquet") < T._L5_MAT_MIN_BYTES
