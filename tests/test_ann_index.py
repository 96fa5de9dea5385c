"""Persisted ANN index (ann_index module): build/load/query round trip,
equivalence with the direct IVF+SQ8 operator, and the partition-pruning
contract (a probe touches only its cells' parquet directories)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import fail_after_prune, layout, persisted_rdds


@pytest.fixture(scope="module")
def idx_path(ctx, sf_dir, tmp_path_factory):
    emb = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("annidx") / "idx")
    emb.ann_index_build(path, n_cells=16)
    return path


def test_index_query_equals_direct_ivf_sq8(ctx, sf_dir, idx_path):
    emb = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet")
    queries = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 8"
    )
    idx = ctx.ann_index(idx_path)
    got = sorted(map(tuple, idx.query(queries, k=3, nprobe=4, rerank=12).df.collect()))
    want = sorted(map(tuple, emb.ann_cosine(
        queries, method="ivf_sq8", k=3, n_cells=16, nprobe=4, rerank=12
    ).df.collect()))
    assert got == want and len(got) > 0


def test_index_partition_pruning(ctx, sf_dir, idx_path):
    # one query, nprobe=2: the codes scan must carry a 2-value
    # partition filter — the partition filter IS the inverted-file
    # lookup (the reader lists only those hive directories).
    import re

    queries = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id = 3"
    )
    idx = ctx.ann_index(idx_path)
    res = idx.query(queries, k=2, nprobe=2, rerank=6)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "__cell" in pf.group(1), plan
    in_list = re.search(r"IN \(([^)]*)\)", pf.group(1))
    assert in_list and len(in_list.group(1).split(",")) == 2, pf.group(1)
    total = [d for d in os.listdir(f"{idx_path}/codes") if d.startswith("__cell=")]
    assert len(total) == 16


def test_index_artifact_layout_and_codes_dtype(ctx, spark, sf_dir, idx_path):
    for part in ["meta", "grid", "cells", "codes"]:
        assert os.path.isdir(f"{idx_path}/{part}")
    codes = spark.read.parquet(f"{idx_path}/codes")
    dt = dict(codes.dtypes)
    # int, not smallint: append-mode out-of-grid codes must not wrap
    assert dt["__codes"] == "array<int>"
    lo, hi = codes.select(
        F.min(F.array_min("__codes")), F.max(F.array_max("__codes"))
    ).first()
    assert 0 <= lo and hi <= 255
    cells = spark.read.parquet(f"{idx_path}/cells")
    assert cells.count() == 16


def test_index_load_cold_session_meta(ctx, spark, sf_dir, idx_path):
    idx = ctx.ann_index(idx_path)
    assert idx.meta["id_col"] == "vec_id"
    assert idx.meta["vec_col"] == "embedding"
    assert idx.meta["n_cells"] == 16 and len(idx.units) == 16


def test_empty_corpus_index_queries_empty(ctx, spark, tmp_path):
    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty = emb.filter("vec_id < 0")
    path = str(tmp_path / "emptyidx")
    empty.ann_index_build(path, n_cells=16)
    idx = ctx.ann_index(path)
    res = idx.query(emb.filter("vec_id < 4"), k=3, nprobe=2, rerank=6).df
    assert res.count() == 0
    assert res.columns == ["qid", "vec_id", "cos", "rank"]


def test_append_vectors_visible_frozen_grid(ctx, spark, tmp_path):
    """append assigns new vectors to existing cells against the frozen
    build grid — an appended exact duplicate of a query must win
    rank 1 with cos ≈ 1."""
    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    build = emb.filter("vec_id % 4 != 0")
    path = str(tmp_path / "appidx")
    build.ann_index_build(path, n_cells=16)
    idx = ctx.ann_index(path)
    # clone vector 1 (a build member) under a fresh id and append it
    from pyspark.sql import functions as F

    clone = emb.filter("vec_id = 1").map(
        vec_id=F.lit(999_999).cast("long"), embedding=F.col("embedding")
    )
    idx.append(clone)
    res = idx.query(emb.filter("vec_id = 1"), k=1, nprobe=3, rerank=10).df
    top = res.collect()[0]
    assert top.vec_id == 999999 and abs(top.cos - 1.0) < 1e-9


def test_append_far_out_of_grid_matches_oracle(ctx, spark, tmp_path):
    """A vector tens of thousands of grid-widths outside the frozen
    build grid encodes to SQ8 codes ≫ 32767 — exactly the value range
    that silently wrapped when ``__codes`` was smallint. The widened
    int codes must agree bit-for-bit with the DuckDB mirror (which
    computes the unclamped formula in doubles) on the full qa12 shape:
    build → append(out-of-grid) → query."""
    import duckdb
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001/embeddings.parquet"
    emb = ctx.stream_parquet(src)
    huge = emb.filter("vec_id = 1").map(
        vec_id=F.lit(888888).cast("long"),
        embedding=F.transform(
            "embedding", lambda x: (x * F.lit(40000.0) + F.lit(7000.0)).cast("float")
        ),
        label=F.col("label"),
    )
    aug_path = str(tmp_path / "emb_aug")
    emb.df.unionByName(huge.df).write.parquet(aug_path)

    idx_path = str(tmp_path / "oobidx")
    emb.ann_index_build(idx_path, n_cells=16)
    idx = ctx.ann_index(idx_path)
    idx.append(ctx.stream_parquet(aug_path).filter("vec_id = 888888"))
    queries = ctx.stream_parquet(aug_path).filter("vec_id IN (888888, 1, 2)")
    got = idx.query(queries, k=3, nprobe=3, rerank=10).df

    # appended codes really are out of smallint range (the edge is live)
    codes = spark.read.parquet(f"{idx_path}/codes")
    assert codes.select(F.max(F.array_max("__codes"))).first()[0] > 32767

    from renoir_spark.datapipe import sql_ann_cosine_ivf_sq8

    build = "(SELECT * FROM emb_aug WHERE vec_id != 888888)"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW emb_aug AS SELECT * FROM read_parquet('{aug_path}/*.parquet')"
    )
    sql = sql_ann_cosine_ivf_sq8(
        "emb_aug", "vec_id IN (888888, 1, 2)", k=3, n_cells=16,
        nprobe=3, rerank=10, seed_expr=build, stats_expr=build,
    )
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    want = sorted(tuple(dict(zip(dcols, r))[c] for c in sorted(dcols))
                  for r in res.fetchall())
    have = sorted(tuple(r.asDict()[c] for c in sorted(got.columns))
                  for r in got.collect())
    assert sorted(got.columns) == sorted(dcols)
    assert have == want and len(have) == 9


def test_append_into_empty_index_rejected(ctx, spark, tmp_path):
    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "appempty")
    emb.filter("vec_id < 0").ann_index_build(path, n_cells=16)
    idx = ctx.ann_index(path)
    with pytest.raises(ValueError):
        idx.append(emb.filter("vec_id < 4"))


def test_wide_probe_semijoin_dpp_equivalent(ctx, spark, tmp_path):
    """A probe touching more than PROBE_LITERAL_MAX cells must switch
    from the literal IN partition filter to a broadcast semi-join whose
    DYNAMIC partition pruning prunes the codes scan — and return exactly
    what the direct in-memory operator returns with the same params."""
    import re

    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "wideidx")
    emb.ann_index_build(path, n_cells=100)
    idx = ctx.ann_index(path)
    queries = emb.filter("vec_id < 40")  # 40 x nprobe=8 >> 64 cells
    res = idx.query(queries, k=3, nprobe=8, rerank=12)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any("dynamicpruning" in p for p in pf), plan[:4000]
    assert not re.search(r"__cell#\d+L? IN \(", " ".join(pf)), pf

    got = sorted(map(tuple, res.df.collect()))
    want = sorted(map(tuple, emb.ann_cosine(
        queries, method="ivf_sq8", k=3, n_cells=100, nprobe=8, rerank=12
    ).df.collect()))
    assert got == want and len(got) > 0


def test_stats_and_compact_roundtrip(ctx, spark, tmp_path):
    """Appends accumulate a file per touched cell; compact restores the
    ~one-file-per-directory layout without changing a single query
    result (codes rewritten as stored, centroids/grid untouched)."""
    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "cidx")
    emb.filter("vec_id % 3 != 0").ann_index_build(path, n_cells=8)
    idx = ctx.ann_index(path)
    idx.append(emb.filter("vec_id % 3 = 0 AND vec_id % 2 = 0"))
    idx.append(emb.filter("vec_id % 3 = 0 AND vec_id % 2 = 1"))
    st = idx.stats()
    assert st["vectors"] == 500 and st["cells"] == 8
    files_before = st["files"]
    queries = emb.filter("vec_id < 6")
    before = sorted(map(tuple, idx.query(queries, k=3, nprobe=3).df.collect()))

    idx.compact()
    st2 = idx.stats()
    assert st2["vectors"] == 500
    assert st2["files"] < files_before
    after = sorted(map(tuple, idx.query(queries, k=3, nprobe=3).df.collect()))
    assert after == before and len(after) > 0


def test_match_and_dedup_batch_semantic(ctx, spark, tmp_path):
    """Incremental SemDeDup loop: a batch vector whose rank-1 indexed
    neighbor scores cos >= threshold is dropped (scaled copies have
    cosine exactly 1 with their originals); novel directions survive
    and can then be appended."""
    from pyspark.sql import functions as F

    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "semidx")
    emb.map("vec_id", "embedding").ann_index_build(path, n_cells=8)
    idx = ctx.ann_index(path)

    dup = emb.filter("vec_id IN (3, 7)").map(
        vec_id=F.col("vec_id") + 900000,
        embedding=F.transform("embedding", lambda x: x * F.lit(2.0)),
    )
    novel = emb.filter("vec_id = 11").map(
        vec_id=F.lit(950000).cast("long"),
        embedding=F.transform(
            F.reverse(F.col("embedding")), lambda x: x.cast("double")
        ),
    )
    batch = dup.merge(novel)
    pairs = idx.match_batch(batch, threshold=0.95, nprobe=3).df.collect()
    assert {(r.batch_id, r.corpus_id) for r in pairs} == {
        (900003, 3), (900007, 7),
    }
    assert all(abs(r.cos - 1.0) < 1e-6 for r in pairs)

    kept = idx.dedup_batch(batch, threshold=0.95, nprobe=3)
    assert [r.vec_id for r in kept.df.collect()] == [950000]
    # the ingest loop closes: append survivors (double vectors coerce
    # to the index's float storage type), and a RE-ARRIVING copy of the
    # survivor (fresh id — ANN excludes identical ids by design) now
    # matches the appended row
    idx.append(kept)
    rearrival = novel.map(
        vec_id=F.lit(951000).cast("long"), embedding=F.col("embedding")
    )
    re = idx.match_batch(rearrival, threshold=0.95, nprobe=3).df.collect()
    assert {r.corpus_id for r in re} == {950000}


def test_auto_dial_n_cells_sqrt_rule(ctx, spark, tmp_path):
    """n_cells=None sizes cells by the sqrt rule (500 vectors -> 23
    cells) and queries still match an explicitly-pinned build of the
    same size bit-for-bit."""
    emb = ctx.stream_parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = str(tmp_path / "auto")
    emb.ann_index_build(auto, n_cells=None)
    idx = ctx.ann_index(auto)
    assert idx.meta["n_cells"] == 23  # ceil(sqrt(500))
    pinned = str(tmp_path / "pinned")
    emb.ann_index_build(pinned, n_cells=23)
    q = emb.filter("vec_id < 6")
    got = sorted(map(tuple, idx.query(q, k=3, nprobe=3).df.collect()))
    want = sorted(map(tuple,
                      ctx.ann_index(pinned).query(q, k=3, nprobe=3).df.collect()))
    assert got == want and len(got) > 0


# ------------------------------------------------------------------ #
# tombstones: delete -> probe misses, compact/rebuild fold
# ------------------------------------------------------------------ #

def _ring(ctx, n):
    """2-d ring vectors: deterministic, distinct neighborhoods."""
    import math

    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0)]) for i in range(n)]
    return ctx.from_df(
        ctx.spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    )


def test_ann_index_tombstone_roundtrip(ctx, tmp_path):
    from renoir_spark.ann_index import ann_index_load

    emb = _ring(ctx, 40)
    path = str(tmp_path / "aidx")
    emb.ann_index_build(path, n_cells=4, dim=2)
    idx = ann_index_load(ctx.spark, path)
    q = emb.filter("vec_id = 10")
    top = sorted(
        (r.rank, r.vec_id)
        for r in idx.query(q, k=3, nprobe=4, rerank=12).collect_vec()
    )
    # ring neighbors 9 and 11 tie at rank 1/2 (id tiebreak), then 8
    assert [v for _, v in top] == [9, 11, 8]
    # delete the query vector and one of its nearest neighbors
    idx.delete_batch(emb.filter("vec_id IN (10, 11)"))
    assert idx.stats()["tombstones"] == 2
    top2 = sorted(
        (r.rank, r.vec_id)
        for r in idx.query(q, k=3, nprobe=4, rerank=12).collect_vec()
    )
    top2 = [v for _, v in top2]
    assert len(top2) == 3 and 10 not in top2 and 11 not in top2
    # 11's slot backfills with the next ring neighbor, k stays full
    assert top2 == [9, 8, 12]
    # compact folds; results unchanged, counters reset
    idx.compact()
    st = idx.stats()
    assert st["tombstones"] == 0 and st["vectors"] == 38
    assert [r.vec_id for r in
            idx.query(q, k=3, nprobe=4, rerank=12).collect_vec()] == top2


def test_ann_index_rebuild_folds_tombstones(ctx, tmp_path):
    from renoir_spark.ann_index import ann_index_load

    emb = _ring(ctx, 30)
    path = str(tmp_path / "ridx")
    emb.ann_index_build(path, n_cells=4, dim=2)
    idx = ann_index_load(ctx.spark, path)
    idx.delete_batch(emb.filter("vec_id < 5"))
    idx2 = idx.rebuild(n_cells=4)
    st = idx2.stats()
    assert st["vectors"] == 25 and st["tombstones"] == 0
    got = {r.vec_id for r in
           idx2.query(emb.filter("vec_id = 20"), k=5).collect_vec()}
    assert got.isdisjoint({0, 1, 2, 3, 4})


# ------------------------------------------------------------------ #
# on-disk format and legacy read paths, pinned
# ------------------------------------------------------------------ #

ANN_FORMAT = {
    "meta": ("struct<id_col:string,vec_col:string,n_cells:bigint,"
             "dim:bigint,id_type:string,vec_type:string>", []),
    "grid": ("struct<__mins:array<double>,__scales:array<double>>", []),
    "cells": ("struct<cell:bigint,unit:array<double>>", []),
    "codes": ("struct<vec_id:bigint,embedding:array<float>,"
              "__codes:array<int>,__gen:int,__cell:int>", ["__cell"]),
    "tombstones": ("struct<vec_id:bigint,__cell:int>", ["__cell"]),
}


def test_ann_on_disk_format_and_legacy_reads(ctx, tmp_path):
    from renoir_spark.util import free_local_checkpoint

    emb = _ring(ctx, 20)
    idx = emb.ann_index_build(str(tmp_path / "fmt"), n_cells=4, dim=2)
    q = emb.filter("vec_id IN (3, 4)")
    # no delete ever ran: no tombstones/ directory — it still probes,
    # reports stats and compacts
    assert layout(ctx.spark, idx.path) == {
        k: v for k, v in ANN_FORMAT.items() if k != "tombstones"
    }
    assert idx.query(q, k=2).df.count() == 4
    assert idx.stats()["tombstones"] == 0
    idx.compact()
    assert not os.path.exists(f"{idx.path}/tombstones")
    idx.delete_batch(q)
    assert layout(ctx.spark, idx.path) == ANN_FORMAT
    assert not {r.vec_id for r in idx.query(q, k=2).df.collect()} & {3, 4}

    # codes written before the __gen column existed count as build rows
    codes = ctx.spark.read.parquet(f"{idx.path}/codes").drop("__gen")
    pinned = codes.localCheckpoint(eager=True)
    pinned.write.mode("overwrite").partitionBy("__cell").parquet(
        f"{idx.path}/codes")
    free_local_checkpoint(pinned)
    assert "__gen" not in ctx.spark.read.parquet(f"{idx.path}/codes").columns
    drift = ctx.ann_index(idx.path).stats()["drift"]
    assert drift["build"]["n"] == 20 and drift["appended"] is None


# ------------------------------------------------------------------ #
# failure-clean staging: a mid-query failure leaks no persisted
# relation and surfaces the original exception
# ------------------------------------------------------------------ #

def test_query_failure_releases_staged(ctx, tmp_path, monkeypatch):
    emb = _ring(ctx, 20)
    idx = emb.ann_index_build(str(tmp_path / "q"), n_cells=4, dim=2)
    n0 = persisted_rdds(ctx.spark)
    fail_after_prune(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        idx.query(emb.filter("vec_id < 3"), k=2)
    assert persisted_rdds(ctx.spark) == n0
