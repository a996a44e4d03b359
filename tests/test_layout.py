"""Z-order write layout: the property that matters is FILE-LEVEL
LOCALITY IN BOTH DIMENSIONS — every file covers a bounded rectangle of
(a, b) space, so parquet min/max stats prune for predicates on either
column.  A single-key sort gives locality only in that key: each file
spans the FULL range of the other dimension."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from compile_time_data_contracts_spark.sources.layout import (
    write_zordered,
    zorder_value,
)


def _file_ranges(path: str, cols: tuple[str, str]):
    """(min, max) of each column per parquet file."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        t = pq.read_table(f, columns=list(cols))
        if t.num_rows == 0:
            continue
        out.append(
            tuple(
                (
                    min(t.column(c).to_pylist()),
                    max(t.column(c).to_pylist()),
                )
                for c in cols
            )
        )
    return out


def test_zorder_value_interleaves_bits(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], "a long, b long")
    z = df.select(zorder_value(F.col("a"), F.col("b"), 4).alias("z")).first()["z"]
    # a bits at even positions, b bits at odd:
    # a=1010 -> positions 2,6 ... wait: a bit i -> 2i; a=0b1010 has bits 1,3
    # -> z bits 2,6; b=0b0110 has bits 1,2 -> z bits 3,5
    assert z == (1 << 2) | (1 << 6) | (1 << 3) | (1 << 5)


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    # uniform 64x64 grid
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
    )
    zdir = str(tmp_path / "zorder")
    write_zordered(grid, zdir, "a", "b", bits=6, n_files=16)
    zranges = _file_ranges(zdir, ("a", "b"))
    assert len(zranges) >= 8

    # single-key layout for contrast: sorted by a only
    ldir = str(tmp_path / "linear")
    (
        grid.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    lranges = _file_ranges(ldir, ("a", "b"))

    def avg_width(ranges, dim):
        return sum(hi - lo for ((alo, ahi), (blo, bhi)) in ranges
                   for lo, hi in [((alo, ahi), (blo, bhi))[dim]]) / len(ranges)

    # z-order: BOTH dims bounded well below the global range (63)
    assert avg_width(zranges, 0) < 32
    assert avg_width(zranges, 1) < 32
    # linear: the sort key is tight but the other dim spans ~everything
    assert avg_width(lranges, 0) < 16
    assert avg_width(lranges, 1) > 48

    # and the z-ordered table still holds exactly the same rows
    back = spark.read.parquet(zdir)
    assert back.count() == 64 * 64
    assert back.select(F.sum("a"), F.sum("b")).first() == grid.select(
        F.sum("a"), F.sum("b")
    ).first()


def test_zorder_value_roundtrip_random_pairs(spark):
    """Deinterleaving the Morton code must recover (a, b) exactly for
    random 16-bit pairs — the bit math has no collisions or drops."""
    import random

    rng = random.Random(3)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select(
        "a", "b", zorder_value(F.col("a"), F.col("b"), 16).alias("z")
    ).collect()

    def deinterleave(z):
        a = b = 0
        for i in range(16):
            a |= ((z >> (2 * i)) & 1) << i
            b |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    for r in rows:
        assert deinterleave(r["z"]) == (r["a"], r["b"])
    # codes are unique for distinct pairs (bijection)
    assert len({r["z"] for r in rows}) == len({(a, b) for a, b in pairs})


def test_compact_parquet_unpartitioned(spark, tmp_path):
    from compile_time_data_contracts_spark.sources.layout import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(10000).withColumn("v", F.col("id") * 2).repartition(
        40
    ).write.parquet(p)
    import glob as g

    assert len(g.glob(p + "/*.parquet")) == 40
    before = spark.read.parquet(p)
    chk = before.agg(
        F.count("*").alias("n"), F.sum(F.hash("id", "v")).alias("h")
    ).first()
    stats = compact_parquet(spark, p, target_file_bytes=1 << 30)
    assert stats["partitions_compacted"] == 1
    assert stats["files_after"] == 1
    after = spark.read.parquet(p)
    got = after.agg(
        F.count("*").alias("n"), F.sum(F.hash("id", "v")).alias("h")
    ).first()
    assert (got.n, got.h) == (chk.n, chk.h)


def test_compact_parquet_partitioned_skips_compact_dirs(spark, tmp_path):
    """Only fragmented partitions rewrite; already-compact partitions
    stay byte-identical."""
    import os

    from compile_time_data_contracts_spark.sources.layout import compact_parquet

    p = str(tmp_path / "part")
    # partition a=0 fragmented (20 files), partition a=1 single-file
    spark.range(5000).withColumn("a", F.lit(0)).repartition(20).write.partitionBy(
        "a"
    ).parquet(p)
    spark.range(5000, 6000).withColumn("a", F.lit(1)).coalesce(
        1
    ).write.mode("append").partitionBy("a").parquet(p)

    def state(d):
        out = {}
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[f] = (st.st_size, st.st_mtime_ns)
        return out

    keep = state(os.path.join(p, "a=1"))
    chk = spark.read.parquet(p).agg(F.count("*").alias("n"), F.sum("id").alias("s")).first()
    stats = compact_parquet(spark, p, target_file_bytes=1 << 30, partitioned=True)
    assert stats["partitions_compacted"] == 1
    assert state(os.path.join(p, "a=1")) == keep
    got = spark.read.parquet(p).agg(F.count("*").alias("n"), F.sum("id").alias("s")).first()
    assert (got.n, got.s) == (chk.n, chk.s)
