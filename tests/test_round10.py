# Round-10 regression tests: the ADVICE r9 fixes + the unified
# auto-dial staged probe (VERDICT r9 #2).
#
# 1. _staged_probe: every count/width auto-dial (dedup_phash,
#    dedup_embedding_ivf, mine_contrastive_pairs, diversity_sample,
#    ann_index_build) stages the narrow input relation BEFORE probing,
#    so a decode-fed call runs the codec ONCE — counted executor-side
#    through a file-appending codec.
# 2. _staged_probe releases the cache when the probe raises.
# 3. sql_corpus_report validates phash_bits against fs_exprs and
#    treats an all-NULL fs row as UNDECODED (m=0, ph NULL), mirroring
#    the Python side's isNotNull & size>0 guard.

import os

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ #
# decode-once: auto-dialed calls over a decode stage
# ------------------------------------------------------------------ #

def _counting_codec(path):
    from renoir_spark import multimodal

    def codec(data, n_features=None):
        # one appended line per decoded row, across all worker
        # processes (O_APPEND short-line writes)
        with open(path, "a") as f:
            f.write("1\n")
        return multimodal._decode_image(
            bytes(data), n_features=n_features or 8
        )

    return codec


def _decoded_docs(ctx, n=60):
    df = ctx.spark.createDataFrame(
        [(i, ("doc %d " % i) * 3) for i in range(n)],
        "doc_id long, text string",
    ).withColumn(
        "content", F.encode(F.col("text"), "UTF-8")
    )
    return ctx.from_df(df).decode_image(n_features=8)


def _decode_count(path):
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for _ in f)


def test_diversity_sample_autodial_decodes_once(ctx, tmp_path):
    from renoir_spark import multimodal

    cnt = str(tmp_path / "decodes_dvs.log")
    try:
        multimodal.register_codec("image", _counting_codec(cnt))
        s = _decoded_docs(ctx, 60)
        out = s.diversity_sample(
            vec_col="image_features", id_col="doc_id",
            n_cells=None, per_cell=5,
        ).collect_vec()
        assert len(out) > 0
        # count dial + seed collect + assignment + quota window all
        # read the staged narrow relation: exactly one codec pass
        assert _decode_count(cnt) == 60
    finally:
        multimodal.reset_codecs()


def test_contrastive_autodial_decodes_once(ctx, tmp_path):
    from renoir_spark import multimodal

    cnt = str(tmp_path / "decodes_mcp.log")
    try:
        multimodal.register_codec("image", _counting_codec(cnt))
        s = _decoded_docs(ctx, 60)
        out = s.mine_contrastive_pairs(
            vec_col="image_features", id_col="doc_id",
            n_cells=None, target_cell_size=20,
        ).collect_vec()
        assert isinstance(out, list)
        assert _decode_count(cnt) == 60
    finally:
        multimodal.reset_codecs()


def test_ann_index_build_autodial_decodes_once(ctx, tmp_path):
    from renoir_spark import multimodal
    from renoir_spark.ann_index import ann_index_build

    cnt = str(tmp_path / "decodes_idx.log")
    try:
        multimodal.register_codec("image", _counting_codec(cnt))
        s = _decoded_docs(ctx, 60)
        idx = ann_index_build(
            s, str(tmp_path / "idx"),
            vec_col="image_features", id_col="doc_id", n_cells=None,
            dim=8,
        )
        assert idx.meta["n_cells"] >= 1
        # dial count + seed + SQ8 stats + codes write: one codec pass
        assert _decode_count(cnt) == 60
    finally:
        multimodal.reset_codecs()


# ------------------------------------------------------------------ #
# _staged_probe: cache released on probe failure
# ------------------------------------------------------------------ #

def test_staged_probe_unpersists_on_failure(spark):
    from renoir_spark.datapipe import _staged_probe

    narrow = spark.range(10).select(F.col("id"))

    class Boom(RuntimeError):
        pass

    holder = {}

    def probe(d):
        holder["staged"] = d
        raise Boom("dial validation failed")

    with pytest.raises(Boom):
        _staged_probe(narrow, probe)
    assert holder["staged"].storageLevel.useMemory is False


def test_dedup_phash_width_error_releases_cache(ctx):
    # the width-check ValueError rides the same release path
    df = ctx.spark.createDataFrame(
        [(1, [0.5, 0.7]), (2, [0.1, 0.9])],
        "id long, features array<float>",
    )
    with pytest.raises(ValueError, match="narrowest codec emits 2"):
        ctx.from_df(df).dedup_phash("features", "id", bands=4)


# ------------------------------------------------------------------ #
# sql_corpus_report: phash_bits validation + all-NULL fs = undecoded
# ------------------------------------------------------------------ #

def test_sql_corpus_report_validates_phash_bits():
    from renoir_spark.prep import sql_corpus_report

    fs = ["0.5", "0.25", "0.75", "0.125"]
    with pytest.raises(ValueError, match="phash_bits=0"):
        sql_corpus_report("documents", "doc_id", "text",
                          fs_exprs=fs, phash_bits=0)
    with pytest.raises(ValueError, match="phash_bits=5"):
        sql_corpus_report("documents", "doc_id", "text",
                          fs_exprs=fs, phash_bits=5)
    # in-range passes
    assert "mstats" in sql_corpus_report(
        "documents", "doc_id", "text", fs_exprs=fs, phash_bits=4
    )


def test_corpus_report_all_null_fs_parity(ctx):
    """A codec that models decode FAILURE as NULL features must agree
    between the Python card (NULL array -> undecoded) and the SQL
    mirror (all-NULL fs elements -> undecoded)."""
    import duckdb

    from renoir_spark.prep import sql_corpus_report

    n = 10
    rows = [(i, "sample text %d here" % i) for i in range(n)]
    df = ctx.spark.createDataFrame(rows, "doc_id long, text string")
    feats = F.when(
        F.col("doc_id") % 2 == 0,
        F.array(*[
            ((F.col("doc_id") * (j + 1)) % 5).cast("float")
            for j in range(4)
        ]),
    )
    card = {
        r["metric"]: r["value"]
        for r in ctx.from_df(df.withColumn("features", feats))
        .corpus_report("doc_id", "text", features_col="features",
                       phash_bits=4)
        .df.collect()
    }

    values = ", ".join("(%d, 'sample text %d here')" % (i, i)
                       for i in range(n))
    fs = [
        f"CASE WHEN doc_id % 2 = 0 THEN ((doc_id * {j + 1}) % 5) "
        "ELSE NULL END"
        for j in range(4)
    ]
    sql = sql_corpus_report(
        f"(SELECT * FROM (VALUES {values}) t(doc_id, text))",
        "doc_id", "text", fs_exprs=fs, phash_bits=4,
    )
    oracle = {m: v for m, v in duckdb.sql(sql).fetchall()}

    assert card["media_decoded_rate"] == pytest.approx(0.5)
    assert oracle["media_decoded_rate"] == pytest.approx(
        card["media_decoded_rate"])
    assert oracle["phash_dup_rate"] == pytest.approx(
        card["phash_dup_rate"])


# ------------------------------------------------------------------ #
# Image-text alignment gate (the CLIP-score quality filter)
# ------------------------------------------------------------------ #

def _captioned(ctx, n=30, n_features=8):
    from pyspark.sql import functions as F

    df = ctx.spark.createDataFrame(
        [(i, "the quick brown document number %d" % i) for i in range(n)],
        "doc_id long, text string",
    )
    # every third caption is WRONG (misaligned pair)
    cap = F.when(F.col("doc_id") % 3 != 0, F.col("text")).otherwise(
        F.concat(F.lit("unrelated caption "), F.col("doc_id").cast("string"))
    )
    return (
        ctx.from_df(df)
        .map(doc_id=F.col("doc_id"), text=F.col("text"), caption=cap,
             content=F.encode(F.col("text"), "UTF-8"))
        .decode_image(n_features=n_features)
    )


def test_align_score_planted_pairs(ctx):
    s = _captioned(ctx).embed_text("caption", n_features=8).align_score()
    by_id = {r.doc_id: r.align_cos for r in s.collect_vec()}
    # fake joint space: matching caption == content bytes -> cosine 1.0
    assert all(by_id[i] == 1.0 for i in by_id if i % 3 != 0)
    # wrong captions land at md5-chance cosine, never exactly 1.0
    assert all(by_id[i] < 1.0 for i in by_id if i % 3 == 0)


def test_align_filter_threshold_gate(ctx):
    kept = _captioned(ctx).align_filter(
        text_col="caption", features_col="image_features",
        min_cos=0.995, n_features=8,
    ).collect_vec()
    ids = {r.doc_id for r in kept}
    assert ids == {i for i in range(30) if i % 3 != 0}
    assert all(r.align_cos == 1.0 for r in kept)


def test_align_filter_null_caption_and_null_features_drop(ctx):
    from pyspark.sql import functions as F

    df = ctx.spark.createDataFrame(
        [(1, "alpha text", "alpha text"),
         (2, "beta text", None),        # no caption: no score
         (3, None, "gamma caption")],   # NULL text -> content b'' still
        "doc_id long, text string, caption string",
    )
    s = (
        ctx.from_df(df)
        .map(doc_id=F.col("doc_id"), caption=F.col("caption"),
             content=F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
        .decode_image(n_features=8)
        .align_filter(text_col="caption", features_col="image_features",
                      min_cos=-1.0, n_features=8)
    )
    ids = {r.doc_id for r in s.collect_vec()}
    assert 2 not in ids          # NULL caption dropped, not scored 0
    assert 1 in ids


def test_align_filter_quantile_band_matches_sql(ctx, tmp_path):
    import duckdb

    from renoir_spark.multimodal import sql_align_filter

    n = 40
    rows = [(i, "band doc %d words here" % i) for i in range(n)]
    src = ctx.spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F

    cap = F.concat(F.lit("cap "), F.col("doc_id").cast("string"))
    s = (
        ctx.from_df(src)
        .map(doc_id=F.col("doc_id"), caption=cap,
             content=F.encode(F.col("text"), "UTF-8"))
        .decode_image(n_features=8)
        .align_filter(text_col="caption", features_col="image_features",
                      lo=0.25, hi=0.75, n_features=8)
    )
    got = sorted((r.doc_id, r.align_cos) for r in s.collect_vec())

    values = ", ".join("(%d, 'band doc %d words here')" % (i, i)
                       for i in range(n))
    sql = sql_align_filter(
        f"(SELECT * FROM (VALUES {values}) t(doc_id, text))",
        "text", "'cap ' || doc_id", "doc_id, align_cos",
        n_features=8, lo=0.25, hi=0.75,
    )
    exp = sorted((r[0], round(r[1], 6)) for r in duckdb.sql(sql).fetchall())
    assert got == exp
    assert 0 < len(got) < n  # the band actually selects a middle slice


def test_align_filter_requires_a_selection(ctx):
    with pytest.raises(ValueError, match="min_cos"):
        _captioned(ctx).align_filter(text_col="caption")


def test_text_embed_codec_registry_contract(ctx):
    from renoir_spark import multimodal

    def fixed_tower(text, n_features=None):
        return [1.0] * (n_features or 8)

    try:
        multimodal.register_codec("text_embed", fixed_tower)
        rows = (
            _captioned(ctx, n=6)
            .embed_text("caption", n_features=8)
            .collect_vec()
        )
        assert all(list(r.text_embedding) == [1.0] * 8 for r in rows)
    finally:
        multimodal.reset_codecs()
    # defaults restored: matching captions score 1.0 again
    s = _captioned(ctx, n=6).embed_text("caption", n_features=8).align_score()
    assert any(r.align_cos == 1.0 for r in s.collect_vec())


# ------------------------------------------------------------------ #
# dedup_minhash_stream bucket_cap: bounded state under boilerplate flood
# ------------------------------------------------------------------ #

def test_streaming_minhash_bucket_cap_bounds_state_same_verdicts(ctx):
    import datetime

    from renoir_spark.streaming import dedup_minhash_stream, run_to_completion

    t0 = datetime.datetime(2024, 1, 1)
    boiler = "all rights reserved this page is copyright of example corp"

    def run(cap):
        ch = ctx.stream_channel("doc_id long, ts timestamp, text string")
        # a boilerplate flood: 300 identical docs (every band floods its
        # bucket — the worst case) across two micro-batches
        rows = [(i, t0 + datetime.timedelta(seconds=i), boiler)
                for i in range(300)]
        ch.push(rows[:150])
        ch.push(rows[150:])
        s = ch.stream(max_files_per_trigger=1)
        telem = []
        out = run_to_completion(
            dedup_minhash_stream(
                s, "text", "doc_id", ts_col="ts", delay="1 hour",
                threshold=0.7, state_groups=1, bucket_cap=cap,
            ).df,
            output_mode="append", telemetry=telem,
        )
        verdicts = {(r.doc_id, r.bidx): r.matched for r in out}
        peak = telem[0].get("state_bytes_peak", 0) if telem else 0
        return verdicts, peak

    v_cap, b_cap = run(8)
    v_off, b_off = run(None)
    # identical verdicts: in a flooded bucket the newest entries match
    # a true duplicate just as well as the evicted ones did
    assert v_cap == v_off
    # every doc after the first is matched in every band
    assert sum(1 for (i, b), m in v_cap.items() if b == 0 and m) == 299
    # and the capped state is a fraction of the unbounded one
    assert 0 < b_cap < b_off / 3
