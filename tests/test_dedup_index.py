"""Persisted dedup indexes (renoir_spark/dedup_index.py — MinHash,
exact and perceptual-hash kinds over the index_core contract):
build → load → dedup_batch / match_batch / append, the
partition-pruning plan contract that makes small increments cheap
against a large index, tombstone takedowns and compaction, the
dedup → append signature handshake, the pinned on-disk format, and
failure-clean staging. Bit-exact result parity vs DuckDB is covered by
tests/test_oracle.py (qa07, qa08, qa11, qa47, qa53, qa54); these are
the behavioral edges."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import fail_after_prune, layout, persisted_rdds


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(ctx, spark, rows):
    return ctx.from_df(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "spark plans shuffle exchanges between stages for wide ops"),
    (3, "completely unrelated content about cooking pasta al dente"),
]
# 10 = near-copy of 1, 11 = fresh, 12 = near-copy of 2
BATCH = [
    (10, "the quick brown fox jumps over the lazy dog again and again!"),
    (11, "entirely novel document with its own words and phrasing here"),
    (12, "spark plans shuffle exchanges between stages for wide ops"),
]


@pytest.fixture(scope="module")
def idx_path(ctx, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("didx") / "index")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8
    )
    return path


def test_dedup_batch_drops_near_dups_keeps_fresh(ctx, spark, idx_path):
    idx = ctx.dedup_index(idx_path)
    surv = idx.dedup_batch(_docs(ctx, spark, BATCH), threshold=0.7)
    assert sorted(r.doc_id for r in surv.df.collect()) == [11]


def test_match_batch_pairs(ctx, spark, idx_path):
    idx = ctx.dedup_index(idx_path)
    pairs = idx.match_batch(_docs(ctx, spark, BATCH), threshold=0.7).df
    got = {(r.batch_id, r.corpus_id) for r in pairs.collect()}
    assert got == {(10, 1), (12, 2)}
    exact = next(r for r in pairs.collect() if r.batch_id == 12)
    assert exact.jac == 1.0


def test_cold_load_meta(ctx, idx_path):
    idx = ctx.dedup_index(idx_path)
    m = idx.meta
    assert m["id_col"] == "doc_id" and m["text_col"] == "text"
    assert m["num_hashes"] == 12 and m["bands"] == 4
    assert m["bucket_dirs"] == 8 and m["id_type"] == "bigint"


def test_empty_batch(ctx, spark, idx_path):
    idx = ctx.dedup_index(idx_path)
    empty = _docs(ctx, spark, CORPUS).filter("doc_id < 0")
    assert idx.match_batch(empty).df.count() == 0
    assert idx.dedup_batch(empty).df.count() == 0


def test_empty_corpus_index_keeps_all(ctx, spark, tmp_path):
    path = str(tmp_path / "emptyidx")
    _docs(ctx, spark, CORPUS).filter("doc_id < 0").dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8
    )
    idx = ctx.dedup_index(path)
    surv = idx.dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in surv.df.collect()) == [10, 11, 12]


def test_append_makes_increment_visible(ctx, spark, tmp_path):
    path = str(tmp_path / "incidx")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8
    )
    idx = ctx.dedup_index(path)
    batch = _docs(ctx, spark, BATCH)
    surv = idx.dedup_batch(batch, threshold=0.7)
    idx.append(surv)
    # the same batch re-deduped now hits its own appended survivor too
    surv2 = idx.dedup_batch(batch, threshold=0.7)
    assert surv2.df.count() == 0
    # and a copy of the appended doc 11 is caught (exact copy — this
    # pins append visibility, not LSH recall, which band count dials)
    redo = _docs(ctx, spark, [
        (20, "entirely novel document with its own words and phrasing here"),
    ])
    assert idx.dedup_batch(redo, threshold=0.7).df.count() == 0


def test_rebuild_is_idempotent(ctx, spark, tmp_path):
    path = str(tmp_path / "rebuild")
    corpus = _docs(ctx, spark, CORPUS)
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=8)
    ctx.dedup_index(path).append(_docs(ctx, spark, BATCH))
    # rebuild resets the data roots — the appended batch must be gone
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=8)
    surv = ctx.dedup_index(path).dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in surv.df.collect()) == [11]


def test_posting_scan_partition_pruned(ctx, spark, idx_path):
    """The index read under a batch probe must carry the batch's __bk
    set as a PartitionFilter — directory-level pruning, not a row
    filter over every posting file."""
    idx = ctx.dedup_index(idx_path)
    plan = _executed(
        idx.match_batch(_docs(ctx, spark, BATCH[:1]), threshold=0.7).df
    )
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "/buckets" in l]
    assert scans, plan
    for s in scans:
        assert "PartitionFilters" in s
        assert "__bk" in s.split("PartitionFilters")[1].split("]")[0]


def test_string_ids(ctx, spark, tmp_path):
    """id dtype flows from the corpus through meta to every read schema
    (the ANN-index string-id lesson, applied here by construction)."""
    path = str(tmp_path / "strid")
    rows = [(f"doc-{i}", t) for i, t in CORPUS]
    s = ctx.from_df(spark.createDataFrame(rows, "doc_id string, text string"))
    s.dedup_index_build(path, text_col="text", id_col="doc_id",
                        bucket_dirs=8)
    idx = ctx.dedup_index(path)
    assert idx.meta["id_type"] == "string"
    brows = [(f"b-{i}", t) for i, t in BATCH]
    b = ctx.from_df(spark.createDataFrame(brows, "doc_id string, text string"))
    surv = idx.dedup_batch(b, threshold=0.7)
    assert sorted(r.doc_id for r in surv.df.collect()) == ["b-11"]


# ------------------------------------------------------------------ #
# exact mode
# ------------------------------------------------------------------ #

def test_exact_mode_roundtrip(ctx, spark, tmp_path):
    path = str(tmp_path / "exidx")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8,
        mode="exact")
    idx = ctx.dedup_index(path)
    assert idx.meta["mode"] == "exact"
    assert type(idx).__name__ == "ExactDedupIndex"
    # 12 is an exact copy of corpus doc 2; 10 is only a NEAR copy of 1
    surv = idx.dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in surv.df.collect()) == [10, 11]
    pairs = idx.match_batch(_docs(ctx, spark, BATCH)).df.collect()
    assert [(r.batch_id, r.corpus_id, r.jac) for r in pairs] == [(12, 2, 1.0)]
    # append survivors: an exact copy of appended doc 10 is now caught
    idx.append(surv)
    redo = _docs(ctx, spark, [(20, BATCH[0][1])])
    assert idx.dedup_batch(redo).df.count() == 0


def test_exact_mode_null_text_survives(ctx, spark, tmp_path):
    path = str(tmp_path / "exnull")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8,
        mode="exact")
    idx = ctx.dedup_index(path)
    b = ctx.from_df(spark.createDataFrame(
        [(30, None)], "doc_id long, text string"))
    assert [r.doc_id for r in idx.dedup_batch(b).df.collect()] == [30]
    assert idx.match_batch(b).df.count() == 0


def test_exact_mode_key_scan_partition_pruned(ctx, spark, tmp_path):
    path = str(tmp_path / "exprune")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8,
        mode="exact")
    idx = ctx.dedup_index(path)
    plan = _executed(
        idx.match_batch(_docs(ctx, spark, BATCH[:1])).df
    )
    # (path substrings are truncated in plan strings — match the scan
    # by its partition filter, the only parquet scan in this plan)
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "PartitionFilters" in l]
    assert scans, plan
    for s in scans:
        assert "__bk" in s.split("PartitionFilters")[1].split("]")[0]


def test_unknown_mode_rejected(ctx, spark, tmp_path):
    with pytest.raises(ValueError):
        _docs(ctx, spark, CORPUS).dedup_index_build(
            str(tmp_path / "bad"), text_col="text", id_col="doc_id",
            mode="fuzzy")


# ------------------------------------------------------------------ #
# compaction
# ------------------------------------------------------------------ #

def _parquet_files(root):
    import glob

    return glob.glob(f"{root}/**/*.parquet", recursive=True)


@pytest.mark.parametrize("mode", ["minhash", "exact"])
def test_compact_shrinks_files_preserves_results(ctx, spark, tmp_path,
                                                 mode):
    path = str(tmp_path / f"cidx_{mode}")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=4, mode=mode)
    idx = ctx.dedup_index(path)
    # several appends accumulate one file per touched dir per append
    for i in range(3):
        idx.append(_docs(ctx, spark, [
            (100 + i, f"filler increment number {i} with fresh words"),
        ]))
    before = idx.dedup_batch(_docs(ctx, spark, BATCH))
    ids_before = sorted(r.doc_id for r in before.df.collect())
    n_before = len(_parquet_files(path))

    idx.compact()

    n_after = len(_parquet_files(path))
    assert n_after < n_before
    after = ctx.dedup_index(path).dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in after.df.collect()) == ids_before


@pytest.mark.parametrize("mode", ["minhash", "exact"])
def test_stats(ctx, spark, tmp_path, mode):
    path = str(tmp_path / f"stidx_{mode}")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=4, mode=mode)
    idx = ctx.dedup_index(path)
    s = idx.stats()
    assert s["mode"] == mode and s["docs"] == 3 and s["files"] > 0
    if mode == "minhash":
        assert s["postings"] == 3 * 4  # docs × bands
    idx.append(_docs(ctx, spark, [(50, "one more unique document text")]))
    s2 = idx.stats()
    assert s2["docs"] == 4 and s2["files"] > s["files"]
    idx.compact()
    assert ctx.dedup_index(path).stats()["docs"] == 4


def test_wide_probe_semijoin_dpp_layout_invariant(ctx, spark, tmp_path):
    """bucket_dirs dials only the pruning layout, never the result: a
    128-directory index probed by a big batch (> PROBE_LITERAL_MAX
    touched buckets → broadcast semi-join + dynamic partition pruning)
    must dedup identically to a 16-directory index (literal path) over
    the same corpus."""
    import re

    from pyspark.sql import functions as F

    docs = ctx.stream_parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    wide = corpus.dedup_index_build(
        str(tmp_path / "wide"), bucket_dirs=128
    )
    narrow = corpus.dedup_index_build(
        str(tmp_path / "narrow"), bucket_dirs=16
    )
    out_w = wide.dedup_batch(batch, threshold=0.7)
    plan = out_w.df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any("dynamicpruning" in p for p in pf), plan[:4000]

    got_w = sorted(r.doc_id for r in out_w.df.select("doc_id").collect())
    got_n = sorted(
        r.doc_id
        for r in narrow.dedup_batch(batch, threshold=0.7)
        .df.select("doc_id").collect()
    )
    assert got_w == got_n and 0 < len(got_w) <= batch.df.count()


def test_exact_wide_probe_semijoin_matches_literal(ctx, spark, tmp_path):
    """Exact-mode index: same layout invariance + DPP assertion for the
    sha2-key relation."""
    import re

    docs = ctx.stream_parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs  # every even doc matches itself exactly

    wide = corpus.dedup_index_build(
        str(tmp_path / "wide"), bucket_dirs=256, mode="exact"
    )
    narrow = corpus.dedup_index_build(
        str(tmp_path / "narrow"), bucket_dirs=8, mode="exact"
    )
    pairs_w = wide.match_batch(batch)
    plan = pairs_w.df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any("dynamicpruning" in p for p in pf), plan[:4000]

    got_w = sorted(map(tuple, pairs_w.df.collect()))
    got_n = sorted(map(tuple, narrow.match_batch(batch).df.collect()))
    assert got_w == got_n and len(got_w) >= corpus.df.count()


# ------------------------------------------------------------------ #
# Index tombstones: build -> delete -> probe misses, compact folds
# ------------------------------------------------------------------ #

def _tomb_text(i):
    return "tombstone corpus document %d content body" % i


def _doc_rows(ctx, n=40):
    return ctx.spark.createDataFrame(
        [(i, _tomb_text(i % 10)) for i in range(n)],
        "doc_id long, text string",
    )


def _decoded(ctx, df):
    return (
        ctx.from_df(df)
        .map(doc_id=F.col("doc_id"),
             content=F.encode(F.col("text"), "UTF-8"))
        .decode_image(n_features=48)
    )


@pytest.mark.parametrize("kind,n,gone,batch,before,after", [
    # texts repeat %10; the batch's dup rows copy text `gone` (and 7)
    ("minhash", 40, 3,
     [(100, _tomb_text(3)), (101, _tomb_text(7)),
      (102, "completely different text with no match at all")],
     {102}, {100, 102}),   # 100 un-suppressed, 101 still drops
    ("exact", 20, 5,
     [(200, _tomb_text(5)), (201, "nothing like the corpus whatsoever")],
     {201}, {200, 201}),
    ("phash", 20, 8,
     [(300, _tomb_text(8)), (301, "totally novel media payload")],
     {301}, {300, 301}),
], ids=["minhash", "exact", "phash"])
def test_dedup_kind_tombstone_roundtrip(ctx, tmp_path, kind, n, gone,
                                        batch, before, after):
    from renoir_spark.dedup_index import dedup_index_load, phash_index_load

    path = str(tmp_path / kind)
    batch = ctx.spark.createDataFrame(batch, "doc_id long, text string")
    if kind == "phash":
        corpus, batch = _decoded(ctx, _doc_rows(ctx, n)), _decoded(ctx, batch)
        corpus.phash_index_build(path, id_col="doc_id", bits=48,
                                 bucket_dirs=8)
        idx, count_key = phash_index_load(ctx.spark, path), "items"
    else:
        corpus, batch = ctx.from_df(_doc_rows(ctx, n)), ctx.from_df(batch)
        corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                                 bucket_dirs=8, mode=kind)
        idx, count_key = dedup_index_load(ctx.spark, path), "docs"

    def survivors():
        return {r.doc_id for r in idx.dedup_batch(batch).collect_vec()}

    assert survivors() == before
    # delete EVERY copy of text `gone`'s duplicate set
    idx.delete_batch(corpus.filter(f"doc_id % 10 = {gone}"))
    assert idx.stats()["tombstones"] == n // 10
    assert survivors() == after
    # compact folds the tombstones into the physical layout
    rows_before = idx.stats()[count_key]
    idx.compact()
    st = idx.stats()
    assert st["tombstones"] == 0
    assert st[count_key] == rows_before - n // 10
    assert survivors() == after


# ------------------------------------------------------------------ #
# PhashIndex: persisted media dedup (mechanics beyond the qa47 oracle)
# ------------------------------------------------------------------ #

def test_phash_index_probe_partition_pruned(ctx, tmp_path):
    # the 100 TB probe contract, same as DedupIndex: a small batch's
    # posting read must carry the batch's __bk set as a PARTITION
    # filter (directory pruning), not a row filter over every file
    lo, hi = 0.1, 0.9
    corpus = ctx.from_df(ctx.spark.createDataFrame(
        [(i, [hi if (i >> j) & 1 else lo for j in range(8)])
         for i in range(16)],
        "doc_id long, image_features array<float>",
    ))
    idx = corpus.phash_index_build(
        str(tmp_path / "pruned"), features_col="image_features",
        bits=8, bands=4, bucket_dirs=8,
    )
    batch = ctx.from_df(ctx.spark.createDataFrame(
        [(100, [hi, lo, hi, lo, hi, lo, hi, lo])],
        "doc_id long, image_features array<float>",
    ))
    plan = _executed(idx.match_batch(batch, max_hamming=1).df)
    # the only parquet scan in a match_batch plan IS the postings read
    # (the batch side is a LocalTableScan); pytest's deep tmp_path can
    # truncate the Location string, so don't key on the path
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan
    for s in scans:
        assert "PartitionFilters" in s
        assert "__bk" in s.split("PartitionFilters")[1].split("]")[0]


def test_phash_index_roundtrip_mechanics(ctx, tmp_path):
    from renoir_spark.dedup_index import phash_index_load

    lo, hi = 0.1, 0.9
    base = [hi, lo] * 4
    corpus = ctx.from_df(ctx.spark.createDataFrame(
        [(1, base), (2, [lo, hi] * 4)],
        "doc_id long, image_features array<float>",
    ))
    idx = corpus.phash_index_build(
        str(tmp_path / "pidx"), features_col="image_features",
        bits=8, bands=4, bucket_dirs=4,
    )
    st = idx.stats()
    assert st["mode"] == "phash" and st["items"] == 2
    assert st["postings"] == 2 * 4  # one row per (item, band)
    # reload from disk: same verdicts
    idx = phash_index_load(ctx.spark, str(tmp_path / "pidx"))
    batch = ctx.from_df(ctx.spark.createDataFrame(
        [(10, base),            # exact signature match -> dropped
         (11, [lo] * 8),        # constant features: sig 11111111 (all
                                # >= mean) -> hamming 4 from base -> kept
         (12, None)],           # no decoded evidence -> kept
        "doc_id long, image_features array<float>",
    ))
    pairs = idx.match_batch(batch, max_hamming=1).df.collect()
    assert {(r.batch_id, r.corpus_id, r.hamming) for r in pairs} == {(10, 1, 0)}
    s1 = idx.dedup_batch(batch, max_hamming=1)
    assert sorted(r.doc_id for r in s1.df.collect()) == [11, 12]
    # append survivors: a copy of 11's features now drowns
    idx.append(s1)
    assert idx.stats()["items"] == 3  # NULL-featured 12 contributes none
    batch2 = ctx.from_df(ctx.spark.createDataFrame(
        [(20, [lo] * 8)], "doc_id long, image_features array<float>",
    ))
    assert idx.dedup_batch(batch2, max_hamming=1).df.count() == 0
    # compact keeps verdicts
    idx.compact()
    assert idx.dedup_batch(batch2, max_hamming=1).df.count() == 0
    # empty batch short-circuits (no index scan)
    empty = batch.filter("doc_id < 0")
    assert idx.dedup_batch(empty).df.count() == 0


# ------------------------------------------------------------------ #
# dedup → append signature-reuse handshake
# ------------------------------------------------------------------ #

def test_append_handshake_rejects_param_mismatch(ctx, tmp_path):
    # path match alone is not enough — an index REBUILT at the same
    # path with different signature params must not ingest a sig
    # computed under the old params
    from renoir_spark.dedup_index import (
        dedup_index_build,
        dedup_index_load,
    )

    rows = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, "alpha beta gamma delta %d" % (i % 5)) for i in range(40)],
            "doc_id long, text string",
        )
    )
    corpus = ctx.from_df(rows.df.filter("doc_id % 2 = 0"))
    batch = ctx.from_df(rows.df.filter("doc_id % 2 = 1"))

    path = str(tmp_path / "idx")
    dedup_index_build(corpus, path, text_col="text", id_col="doc_id",
                      bucket_dirs=4)
    idx = dedup_index_load(ctx.spark, path)
    surv = idx.dedup_batch(batch, threshold=0.7)
    assert getattr(surv, "_index_sig", None) is not None

    # rebuild the SAME path with different signature params: the stale
    # handshake must be rejected (append recomputes under the new meta)
    dedup_index_build(corpus, path, text_col="text", id_col="doc_id",
                      num_hashes=8, bands=2, shingle_n=2, bucket_dirs=4)
    idx2 = dedup_index_load(ctx.spark, path)

    sentinel = object()
    got = idx2._sig_for_append(surv, lambda: sentinel)
    assert got is sentinel  # fell back to compute(), not the stale sig

    # and the live index still accepts its own handshake
    surv2 = idx2.dedup_batch(batch, threshold=0.7)
    assert surv2._index_sig[0] == path
    assert surv2._index_sig[1] == idx2._sig_token()
    got2 = idx2._sig_for_append(surv2, lambda: sentinel)
    assert got2 is surv2._index_sig[2]


def _media_rows(ctx, ids):
    return ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, "media item %d body" % (i % 7)) for i in ids],
            "doc_id long, text string",
        ).withColumn("content", F.encode("text", "UTF-8"))
    )


def test_phash_append_after_dedup_does_not_redecode(ctx, tmp_path):
    """The documented ingest loop (dedup_batch → append) must decode
    each increment exactly once: the append derives the survivors' sig
    from the cached batch sig instead of re-running the codec."""
    from renoir_spark import multimodal
    from renoir_spark.dedup_index import phash_index_load

    marker = str(tmp_path / "decodes.txt")

    def codec(data, n_features=None):
        with open(marker, "a") as f:
            f.write("1\n")
        return multimodal._decode_image_fake(
            bytes(data), n_features or 8
        )

    def n_decodes():
        try:
            with open(marker) as f:
                return sum(1 for _ in f)
        except OSError:
            return 0

    multimodal.register_codec("image", codec)
    try:
        corpus = _media_rows(ctx, range(20)).decode_image(n_features=16)
        # half novel content, half duplicating the corpus: the append
        # must band only the novel survivors — without re-decoding
        b1 = ctx.from_df(
            ctx.spark.createDataFrame(
                [(100 + i, "novel item %d body" % i) for i in range(15)]
                + [(200 + i, "media item %d body" % (i % 7))
                   for i in range(10)],
                "doc_id long, text string",
            ).withColumn("content", F.encode("text", "UTF-8"))
        ).decode_image(n_features=16)
        path = str(tmp_path / "pidx")
        corpus.phash_index_build(path, id_col="doc_id", bits=16,
                                 bands=4, bucket_dirs=4)
        idx = phash_index_load(ctx.spark, path)
        s1 = idx.dedup_batch(b1)
        n_surv = s1.df.count()
        assert 0 < n_surv < 25        # real drops AND real survivors
        n_after_dedup = n_decodes()
        idx.append(s1)
        assert n_decodes() == n_after_dedup, (
            "append re-ran the decode codec for the increment"
        )
        # and the appended postings are exactly the survivors'
        assert idx.stats()["items"] == 20 + n_surv
    finally:
        multimodal.reset_codecs()


def test_dedup_append_handshake_equals_recompute(ctx, tmp_path):
    """Appending survivors via the cached-sig handshake must leave the
    index byte-equivalent (same posting/shingle ROWS) to appending a
    handshake-stripped copy of the same survivors."""
    from renoir_spark.dedup_index import dedup_index_load

    docs = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, "handshake doc %d words body extra" % (i % 9))
             for i in range(45)],
            "doc_id long, text string",
        )
    )
    corpus = docs.filter("doc_id % 3 != 0")
    b1 = docs.filter("doc_id % 3 = 0")

    def run(strip_handshake, sub):
        path = str(tmp_path / sub)
        corpus.dedup_index_build(path, text_col="text",
                                 id_col="doc_id", bucket_dirs=4)
        idx = dedup_index_load(ctx.spark, path)
        s1 = idx.dedup_batch(b1, threshold=0.7)
        if strip_handshake:
            del s1._index_sig
        idx.append(s1)
        bk = idx._read("buckets")
        sh = idx._read("shingles")
        return (
            sorted(map(tuple, bk.select("bidx", "bhash", "id").collect())),
            sorted(
                (r["id"], tuple(sorted(r["sh"])))
                for r in sh.select("id", "sh").collect()
            ),
        )

    assert run(False, "with_hs") == run(True, "no_hs")


# ------------------------------------------------------------------ #
# on-disk format and legacy read paths, pinned per kind
# ------------------------------------------------------------------ #

_MH_META = ("struct<id_col:string,text_col:string,num_hashes:bigint,"
            "bands:bigint,shingle_n:bigint,bucket_dirs:bigint,"
            "id_type:string,mode:string>")
# relation directory -> (schema as read back, hive partition columns)
FORMAT = {
    "minhash": {
        "meta": (_MH_META, []),
        "buckets": ("struct<bidx:int,bhash:bigint,id:bigint,__bk:int>",
                    ["__bk"]),
        "shingles": ("struct<id:bigint,sh:array<string>,__sk:int>",
                     ["__sk"]),
        "tombstones": ("struct<id:bigint,__tk:int>", ["__tk"]),
    },
    "exact": {
        "meta": (_MH_META, []),
        "keys": ("struct<id:bigint,key:string,__bk:int>", ["__bk"]),
        "tombstones": ("struct<id:bigint,__tk:int>", ["__tk"]),
    },
    "phash": {
        "meta": ("struct<id_col:string,features_col:string,bits:bigint,"
                 "bands:bigint,bucket_dirs:bigint,id_type:string,"
                 "mode:string>", []),
        "postings": ("struct<bidx:int,bval:bigint,id:bigint,ph:bigint,"
                     "__bk:int>", ["__bk"]),
        "tombstones": ("struct<id:bigint,__tk:int>", ["__tk"]),
    },
}


def _format_index(ctx, tmp_path, kind):
    """A small index of ``kind`` plus a batch holding one duplicate."""
    if kind == "phash":
        feats = ctx.from_df(ctx.spark.createDataFrame(
            [(i, [0.9 if (i >> j) & 1 else 0.1 for j in range(8)])
             for i in range(12)],
            "doc_id long, image_features array<float>",
        ))
        idx = feats.phash_index_build(str(tmp_path / kind), bits=8,
                                      bands=4, bucket_dirs=4)
        return idx, feats.filter("doc_id IN (3, 4)")
    docs = ctx.from_df(ctx.spark.createDataFrame(
        [(i, "format pin doc %d body words" % (i % 5)) for i in range(12)],
        "doc_id long, text string",
    ))
    idx = docs.dedup_index_build(str(tmp_path / kind), bucket_dirs=4,
                                 mode=kind)
    return idx, docs.filter("doc_id IN (3, 4)")


@pytest.mark.parametrize("kind", ["minhash", "exact", "phash"])
def test_on_disk_format_and_no_tombstones_dir(ctx, tmp_path, kind):
    idx, batch = _format_index(ctx, tmp_path, kind)
    want = FORMAT[kind]
    # no delete ever ran: no tombstones/ directory (the layout of every
    # index built before delete support) — it still probes, reports
    # stats and compacts
    assert layout(ctx.spark, idx.path) == {
        k: v for k, v in want.items() if k != "tombstones"
    }
    assert idx.match_batch(batch).df.count() > 0
    assert idx.stats()["tombstones"] == 0
    idx.compact()
    assert not os.path.exists(f"{idx.path}/tombstones")
    assert idx.match_batch(batch).df.count() > 0
    idx.delete_batch(batch)
    assert layout(ctx.spark, idx.path) == want
    hits = {r.corpus_id for r in idx.match_batch(batch).df.collect()}
    assert not hits & {3, 4}


def test_legacy_meta_without_mode_loads_minhash(ctx, tmp_path):
    from renoir_spark.dedup_index import DedupIndex, dedup_index_load

    idx, batch = _format_index(ctx, tmp_path, "minhash")
    meta = ctx.spark.read.parquet(f"{idx.path}/meta").drop("mode")
    meta = ctx.spark.createDataFrame(meta.collect(), meta.schema)
    meta.coalesce(1).write.mode("overwrite").parquet(f"{idx.path}/meta")
    assert "mode" not in ctx.spark.read.parquet(f"{idx.path}/meta").columns
    old = dedup_index_load(ctx.spark, idx.path)
    assert type(old) is DedupIndex and old.meta["mode"] == "minhash"
    assert old.stats()["mode"] == "minhash"
    assert sorted(map(tuple, old.match_batch(batch).df.collect())) == \
        sorted(map(tuple, idx.match_batch(batch).df.collect()))


# ------------------------------------------------------------------ #
# failure-clean staging: a mid-operator failure leaks no persisted
# relation and surfaces the original exception
# ------------------------------------------------------------------ #

@pytest.mark.parametrize("kind", ["minhash", "exact", "phash"])
def test_match_batch_failure_releases_staged(ctx, tmp_path, monkeypatch,
                                             kind):
    idx, batch = _format_index(ctx, tmp_path, kind)
    n0 = persisted_rdds(ctx.spark)
    fail_after_prune(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        idx.match_batch(batch)
    assert persisted_rdds(ctx.spark) == n0


def test_append_failure_releases_staged(ctx, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    idx, _ = _format_index(ctx, tmp_path, "minhash")
    fresh = _docs(ctx, ctx.spark, BATCH)
    real = DataFrameWriter.parquet
    calls = []

    def second_write_fails(self, *a, **k):
        # the first (postings) write materializes the staged signature
        calls.append(1)
        if len(calls) > 1:
            raise IOError("disk full (injected)")
        return real(self, *a, **k)

    n0 = persisted_rdds(ctx.spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
    with pytest.raises(IOError, match="injected"):
        idx.append(fresh)
    assert len(calls) == 2
    assert persisted_rdds(ctx.spark) == n0
