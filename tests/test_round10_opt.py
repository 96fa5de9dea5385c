# Round-10 OPTIMIZATION regression tests: the changes are
# performance-only, so these pin the *mechanisms* (single-partition
# metadata writes, scale-adaptive compute spread; the dedup→append
# signature-reuse handshake is in test_dedup_index.py) while the
# oracle suite pins that results never moved.

import glob

import pytest
from pyspark.sql import functions as F


def test_tiny_df_is_one_partition_and_roundtrips(ctx, tmp_path):
    from renoir_spark.util import tiny_df

    rows = [(i, [0.5] * 4) for i in range(16)]
    df = tiny_df(ctx.spark, rows, "cell long, unit array<double>")
    assert df.rdd.getNumPartitions() == 1
    out = str(tmp_path / "cells")
    df.write.mode("overwrite").parquet(out)
    # one task => one data file, at any core count
    assert len(glob.glob(out + "/part-*")) == 1
    back = ctx.spark.read.parquet(out)
    assert back.count() == 16
    # empty frames take the same path (hive-root resets)
    edf = tiny_df(ctx.spark, [], "id long, __bk long")
    assert edf.rdd.getNumPartitions() <= 1 or edf.count() == 0


def test_spread_for_compute_is_noop_when_already_wide(ctx):
    from renoir_spark.datapipe import _spread_for_compute

    target = ctx.spark.sparkContext.defaultParallelism
    # a 1-split scan shape (the real call-site case: one parquet file)
    narrow = ctx.spark.range(0, 1000, 1, 1)
    wide = ctx.spark.range(0, 1000, 1, max(target, 2))
    assert _spread_for_compute(narrow).rdd.getNumPartitions() >= target
    # already at/above parallelism: returned UNCHANGED (no new exchange)
    assert _spread_for_compute(wide) is wide


def test_cell_partitioned_width_caps_at_cells_and_conf(ctx):
    from renoir_spark.datapipe import _cell_partitioned

    df = ctx.spark.range(100).withColumn("c", F.col("id") % 5)
    sp = int(ctx.spark.conf.get("spark.sql.shuffle.partitions"))
    assert _cell_partitioned(df, "c", 3).rdd.getNumPartitions() == 3
    assert (
        _cell_partitioned(df, "c", 10 ** 6).rdd.getNumPartitions() == sp
    )


def test_decode_image_columns_projection(ctx):
    """decode_image(columns=...) keeps ONLY the listed input columns
    plus every decoded field, and decodes identically to the default
    all-columns form."""
    df = ctx.spark.createDataFrame(
        [(i, "x%d" % i, ("blob %d" % i).encode()) for i in range(8)],
        "doc_id long, extra string, content binary",
    )
    full = ctx.from_df(df).decode_image(n_features=8)
    slim = ctx.from_df(df).decode_image(n_features=8,
                                        columns=["doc_id"])
    assert set(slim.df.columns) == {
        "doc_id", "image_width", "image_height", "image_channels",
        "image_format", "image_features",
    }
    a = sorted(
        (r["doc_id"], r["image_width"], tuple(r["image_features"]))
        for r in full.df.collect()
    )
    b = sorted(
        (r["doc_id"], r["image_width"], tuple(r["image_features"]))
        for r in slim.df.collect()
    )
    assert a == b


def test_sample_frames_columns_projection(ctx):
    """sample_frames(columns=...) keeps ONLY the listed input columns
    plus the frame fields, and samples identically to the default
    all-columns form."""
    df = ctx.spark.createDataFrame(
        [(i, "x%d" % i, ("vid %d" % i).encode()) for i in range(6)],
        "doc_id long, extra string, content binary",
    )
    full = ctx.from_df(df).sample_frames(num_frames=3)
    slim = ctx.from_df(df).sample_frames(num_frames=3, columns=["doc_id"])
    assert set(slim.df.columns) == {"doc_id", "frame_idx", "frame_features"}
    a = sorted(
        (r["doc_id"], r["frame_idx"], tuple(r["frame_features"]))
        for r in full.df.collect()
    )
    b = sorted(
        (r["doc_id"], r["frame_idx"], tuple(r["frame_features"]))
        for r in slim.df.collect()
    )
    assert a == b


def test_sq8_staging_releases_cache_on_unpersist(ctx):
    """The SQ8 family persists ONE narrow (id, vec) relation across its
    stats/encode/rerank passes; unpersist() must release it (the _retain
    contract), and results must match the DuckDB-mirrored shape of a
    fresh call."""
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(40)]
    emb = ctx.from_df(ctx.spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))
    qs = ctx.from_df(ctx.spark.createDataFrame(
        rows[:3], "vec_id long, embedding array<double>"))
    jsc = ctx.spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    out = emb.ann_cosine(qs, method="sq8", k=2, rerank=6, dim=8)
    got = sorted((r["qid"], r["rank"], r["vec_id"]) for r in out.df.collect())
    assert len(got) == 6 and len(out._retained) == 1
    assert jsc.getPersistentRDDs().size() == n0 + 1
    out.unpersist()
    assert out._retained == []
    assert jsc.getPersistentRDDs().size() == n0
