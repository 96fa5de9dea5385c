# Round-11 OPTIMIZATION regression tests: performance-only changes, so
# these pin the *mechanisms* (the scan-shape guard on the partition
# probe, the columns= typo guard, the build-failure cache release;
# the parameter-checked append handshake is in test_dedup_index.py)
# while the oracle suite pins that results never moved.

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ #
# _spread_for_compute: the .rdd partition probe only runs on plans
# with no upstream exchange (ADVICE round 10 — under AQE, .rdd on an
# exchange-shaped Dataset EXECUTES the upstream stages at plan-build
# time without reusing the result)
# ------------------------------------------------------------------ #

def test_plan_shape_guard_classifies_plans(ctx):
    from renoir_spark.datapipe import _plan_is_scan_shaped

    base = ctx.spark.range(0, 100, 1, 1)
    # scan / filter / project / union: probe-safe
    assert _plan_is_scan_shaped(base)
    assert _plan_is_scan_shaped(base.filter("id > 3").select("id"))
    assert _plan_is_scan_shaped(base.union(base))
    # exchange-shaped: aggregate, join, window, repartition, distinct
    agg = base.groupBy((F.col("id") % 3).alias("g")).count()
    assert not _plan_is_scan_shaped(agg)
    assert not _plan_is_scan_shaped(base.join(agg, base.id == agg.g))
    assert not _plan_is_scan_shaped(base.repartition(4))
    assert not _plan_is_scan_shaped(base.distinct())
    assert not _plan_is_scan_shaped(base.orderBy("id"))


def test_spread_skips_exchange_shaped_inputs_unchanged(ctx):
    from renoir_spark.datapipe import _spread_for_compute

    # a narrow aggregate output would previously be probed via .rdd
    # (executing the aggregate eagerly); now it is returned as-is
    agg = (
        ctx.spark.range(0, 1000, 1, 1)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
    )
    assert _spread_for_compute(agg) is agg
    # scan-shaped single-split input still spreads to parallelism
    narrow = ctx.spark.range(0, 1000, 1, 1)
    target = ctx.spark.sparkContext.defaultParallelism
    assert _spread_for_compute(narrow).rdd.getNumPartitions() >= target


# ------------------------------------------------------------------ #
# columns= typo guard (ADVICE round 10)
# ------------------------------------------------------------------ #

def test_decode_columns_typo_raises_with_names(ctx):
    src = ctx.from_df(
        ctx.spark.createDataFrame(
            [(1, b"x")], "doc_id long, content binary"
        )
    )
    with pytest.raises(ValueError, match="decode_image.*doc_idd"):
        src.decode_image(columns=["doc_idd"])
    with pytest.raises(ValueError, match="sample_frames.*nope"):
        src.sample_frames(columns=["nope"])
    # valid projections keep working
    assert "doc_id" in src.decode_image(columns=["doc_id"]).df.columns


# ------------------------------------------------------------------ #
# ann_index_build: the staged cache is released even when a WRITE
# fails, not only when seed/stats fail (ADVICE round 10)
# ------------------------------------------------------------------ #

def test_ann_build_write_failure_releases_cache(ctx, tmp_path, monkeypatch):
    import renoir_spark.ann_index as ai

    emb = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, [float(i % 7)] * 8) for i in range(32)],
            "vec_id long, embedding array<double>",
        )
    )

    def boom(*a, **k):
        raise IOError("disk full (simulated)")

    monkeypatch.setattr(ai, "_write_codes", boom)
    jsc = ctx.spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(IOError):
        ai.ann_index_build(emb, str(tmp_path / "annidx"), dim=8,
                           n_cells=4)
    assert jsc.getPersistentRDDs().size() == before  # no leaked persist
