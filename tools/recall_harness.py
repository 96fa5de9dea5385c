"""Recall instrumentation for the approximate ANN family.

Measures recall@k of ``ann_cosine(method='lsh')``, ``'ivf'`` and
``'sq8'`` against the exact brute-force baseline on the embeddings
table, sweeping the scale dials (``n_planes`` for LSH,
``nprobe``/``n_cells`` for IVF, ``rerank`` for SQ8, and the
composed two-level ``ivf_sq8`` stack). The numbers feed docs/SCALING.md so
the 100 TB sizing guidance ships with measurements instead of prose
(VERDICT r2 next-round item 9).

Recall@k here = |approx_topk ∩ exact_topk| / k averaged over queries —
the standard ANN-benchmarks definition.

Usage:
    python tools/recall_harness.py [sf_dir] [--markdown]
"""
from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 5
N_QUERIES = 32


def _topk_sets(df):
    """{query_id: set(neighbor ids)} from an ann_cosine result frame."""
    out: dict = {}
    for r in df.collect():
        d = r.asDict()
        qid = d.get("query_id", d.get("qid"))
        nid = d.get("neighbor_id", d.get("vec_id", d.get("nid")))
        out.setdefault(qid, set()).add(nid)
    return out


def recall(approx: dict, exact: dict, k: int) -> float:
    tot = sum(len(approx.get(q, set()) & nb) / min(k, len(nb))
              for q, nb in exact.items())
    return round(tot / max(len(exact), 1), 4)


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv and not argv[0].startswith("-") else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    markdown = "--markdown" in argv

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("recall_harness")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from renoir_spark import StreamContext

    ctx = StreamContext(spark)
    emb = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet")
    queries = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet").filter(
        f"vec_id < {N_QUERIES}"
    )

    t0 = time.perf_counter()
    exact = _topk_sets(emb.ann_cosine(queries, method="brute", k=K).df)
    brute_s = round(time.perf_counter() - t0, 2)
    rows = []

    for n_planes, n_tables in (
        (4, 1), (6, 1), (8, 1), (10, 1),
        (6, 4), (6, 8), (6, 16), (8, 16),
    ):
        t0 = time.perf_counter()
        approx = _topk_sets(
            emb.ann_cosine(
                queries, method="lsh", k=K,
                n_planes=n_planes, n_tables=n_tables,
            ).df
        )
        rows.append((
            f"lsh n_planes={n_planes} n_tables={n_tables}"
            f" (2^{n_planes}={2**n_planes} buckets/table)",
            recall(approx, exact, K),
            round(time.perf_counter() - t0, 2),
        ))

    for rerank in (K, 2 * K, 4 * K, 10 * K):
        t0 = time.perf_counter()
        approx = _topk_sets(
            emb.ann_cosine(queries, method="sq8", k=K, rerank=rerank).df
        )
        rows.append((
            f"sq8 rerank={rerank} (8-bit codes, exact re-score)",
            recall(approx, exact, K),
            round(time.perf_counter() - t0, 2),
        ))

    for n_cells, nprobe in ((16, 1), (16, 2), (16, 4), (16, 8), (64, 8)):
        t0 = time.perf_counter()
        approx = _topk_sets(
            emb.ann_cosine(
                queries, method="ivf", k=K, n_cells=n_cells, nprobe=nprobe
            ).df
        )
        rows.append((
            f"ivf n_cells={n_cells} nprobe={nprobe}",
            recall(approx, exact, K),
            round(time.perf_counter() - t0, 2),
        ))

    for nprobe, rerank in ((4, 2 * K), (8, 2 * K), (8, 4 * K)):
        t0 = time.perf_counter()
        approx = _topk_sets(
            emb.ann_cosine(
                queries, method="ivf_sq8", k=K,
                n_cells=16, nprobe=nprobe, rerank=rerank,
            ).df
        )
        rows.append((
            f"ivf_sq8 n_cells=16 nprobe={nprobe} rerank={rerank}",
            recall(approx, exact, K),
            round(time.perf_counter() - t0, 2),
        ))

    # --- persisted-index semantic dedup: catch rate vs nprobe --------
    # Plant near-duplicates that are NOT trivially co-cell (one dim
    # sign-flipped: cos ≈ 1 − 2·x_j²/|x|²) plus reversed novels, and
    # measure what fraction of the TRUE duplicates (brute-force top-1
    # cos ≥ threshold) AnnIndex.dedup_batch drops at each nprobe — the
    # probe-width dial of the incremental SemDeDup loop (suite qa28).
    import tempfile

    from pyspark.sql import functions as F

    T = 0.9
    corpus = emb.map("vec_id", "embedding")
    dups = emb.filter("vec_id < 64").map(
        vec_id=F.col("vec_id") + 700000,
        embedding=F.transform(
            "embedding",
            lambda x, j: F.when(
                j.cast("long") == F.col("vec_id") % 64, -x
            ).otherwise(x),
        ),
    )
    novel = emb.filter("vec_id >= 64 AND vec_id < 96").map(
        vec_id=F.col("vec_id") + 800000,
        embedding=F.transform(
            F.reverse(F.col("embedding")), lambda x: x.cast("double")
        ),
    )
    batch = dups.merge(novel)
    top1 = _topk_sets  # noqa: F841  (sets unused; we need cos values)
    truth = {
        r.qid: r.cos
        for r in corpus.ann_cosine(batch, method="brute", k=1).df.collect()
    }
    true_dups = {q for q, c in truth.items() if c >= T}
    idx_path = os.path.join(tempfile.mkdtemp(prefix="recall_semdedup_"),
                            "idx")
    corpus.ann_index_build(idx_path, n_cells=16)
    idx = ctx.ann_index(idx_path)
    batch_ids = {r.vec_id for r in batch.df.select("vec_id").collect()}
    for nprobe in (1, 2, 4, 8):
        t0 = time.perf_counter()
        kept = {
            r.vec_id
            for r in idx.dedup_batch(batch, threshold=T, nprobe=nprobe)
            .df.select("vec_id").collect()
        }
        dropped = batch_ids - kept
        catch = round(len(dropped & true_dups) / max(len(true_dups), 1), 4)
        false_drops = len(dropped - true_dups)
        rows.append((
            f"index dedup_batch nprobe={nprobe} thr={T} "
            f"(catch of {len(true_dups)} true dups; "
            f"{false_drops} false drops)",
            catch,
            round(time.perf_counter() - t0, 2),
        ))

    # --- centroid-drift detection (AnnIndex.stats drift block) -------
    # The rebuild trigger: append an in-distribution increment and a
    # SHIFTED one and report the measured appended/build mean
    # distance-to-centroid ratio for each. A ratio ~1 says the frozen
    # Voronoi cells still fit; a big ratio is the "rebuild now" number
    # recall can't report on its own. The demo corpus is CLUSTERED
    # (8 modes: base direction + 5% jitter) — on a truly uniform corpus
    # the metric is honestly flat, because frozen centroids fit uniform
    # appends exactly as well as rebuilt ones would.
    bases = [r.embedding for r in
             emb.df.orderBy("vec_id").limit(8).collect()]
    base_tbl = ctx.spark.createDataFrame(
        [(i, [float(x) for x in b]) for i, b in enumerate(bases)],
        "bid long, base array<double>",
    )
    # a second, DISJOINT set of modes (reversed-negated bases): the
    # "new domain" whose arrival shifts the distribution — cos to every
    # build mode is low, but the mass is itself clustered, exactly the
    # case a retrain exists for
    rev_tbl = ctx.spark.createDataFrame(
        [(i, [-float(x) for x in reversed(b)]) for i, b in enumerate(bases)],
        "bid long, base array<double>",
    )

    def clustered(src, id_off, tbl=base_tbl):
        return ctx.from_df(
            src.df.withColumn("bid", F.col("vec_id") % 8)
            .join(F.broadcast(tbl), "bid")
            .select(
                (F.col("vec_id") + id_off).alias("vec_id"),
                F.zip_with(
                    "base", "embedding",
                    lambda b, x: b + F.lit(0.05) * x.cast("double"),
                ).alias("embedding"),
            )
        )

    drift_path = os.path.join(
        tempfile.mkdtemp(prefix="recall_drift_"), "idx")
    clustered(emb.filter("vec_id < 400"), 0).ann_index_build(
        drift_path, n_cells=8)
    didx = ctx.ann_index(drift_path)
    didx.append(clustered(emb.filter("vec_id >= 400"), 900000))
    rows.append((
        "index stats drift: in-distribution append (mean_ratio)",
        didx.stats()["drift"]["mean_ratio"], 0.0,
    ))
    shifted = clustered(emb.filter("vec_id < 200"), 950000, rev_tbl)
    didx.append(shifted)
    rows.append((
        "index stats drift: SHIFTED append, 8 new modes (mean_ratio)",
        didx.stats()["drift"]["mean_ratio"], 0.0,
    ))

    # --- rebuild: the ACTION the drift signal triggers ----------------
    # Shifted-distribution queries against the drifted index, before and
    # after AnnIndex.rebuild(): pre-rebuild, every centroid is a frozen
    # build-era mode, so a shifted query's probed cells need not hold
    # its true neighbors (same-mode shifted rows scatter across
    # build-mode cells); rebuild re-seeds centroids from a hash sample
    # of the FULL corpus — the shifted modes get cells of their own —
    # re-fits the grid, and re-dials n_cells. Recall is compared at a
    # MATCHED cell count (rebuild(n_cells=8)) so the isolated variable
    # is centroid PLACEMENT, not probe fraction, then the auto-dialed
    # rebuild is reported too.
    full_corpus = ctx.from_df(
        clustered(emb.filter("vec_id < 400"), 0).df
        .unionByName(clustered(emb.filter("vec_id >= 400"), 900000).df)
        .unionByName(shifted.df)
    )
    qshift = shifted.filter("vec_id < 950032")
    exact_shift = _topk_sets(
        full_corpus.ann_cosine(qshift, method="brute", k=K).df
    )
    def _largest_cell(idx):
        return (
            idx._read("codes")
            .groupBy("__cell").count().agg(F.max("count")).first()[0]
        )

    pre = _topk_sets(didx.query(qshift, k=K, nprobe=2).df)
    rows.append((
        "index rebuild: shifted-query recall PRE-rebuild (8 cells, nprobe=2)",
        recall(pre, exact_shift, K), 0.0,
    ))
    # the drift damage at this size is cell IMBALANCE, not recall: the
    # whole new domain crowds into whichever frozen cells sit nearest
    # (which incidentally KEEPS its rows co-located — recall stays high
    # — while the largest cell balloons, and probe/verify cost is
    # quadratic in the largest probed cell: the qa32 pinned-cell regime
    # arriving through data drift instead of a bad argument)
    rows.append((
        "index rebuild: largest-cell population PRE-rebuild "
        "(700 vecs, 8 frozen cells)",
        _largest_cell(didx), 0.0,
    ))
    import shutil

    refined_path = drift_path + "_refined"
    shutil.copytree(drift_path, refined_path)  # same drifted index twice
    t0 = time.perf_counter()
    ridx = didx.rebuild()  # the default auto-dialed retrain
    rb_s = round(time.perf_counter() - t0, 2)
    rows.append((
        f"index rebuild: largest-cell population POST-rebuild "
        f"(auto-dial {didx.meta['n_cells']}->{ridx.meta['n_cells']} cells, "
        f"hash-sampled re-seed)",
        _largest_cell(ridx), rb_s,
    ))
    post = _topk_sets(ridx.query(qshift, k=K, nprobe=4).df)
    rows.append((
        "index rebuild: shifted-query recall POST-rebuild (nprobe=4)",
        recall(post, exact_shift, K), 0.0,
    ))
    # post-rebuild, a FRESH append from the shifted distribution fits
    # the retrained centroids: the rebuild-now number falls two orders
    # of magnitude back toward 1 (hash-sampled seeds cover mass
    # proportionally, not mode-by-mode, so a few of the 8 new modes may
    # stay centroid-less — the residual above 1; the refine= rows below
    # close it deterministically)
    ridx.append(clustered(emb.filter("vec_id >= 200 AND vec_id < 400"),
                          960000, rev_tbl))
    rows.append((
        "index rebuild: mean_ratio of a fresh shifted-mode append "
        "POST-rebuild",
        ridx.stats()["drift"]["mean_ratio"], 0.0,
    ))
    # --- refined rebuild (r7 verdict #6): deterministic Lloyd over ---
    # the hash sample after seeding. Hash seeds cover mass
    # proportionally (several of the 16 modes may share a seed while
    # others get none) — the measured residual above; Lloyd moves the
    # centroids onto the modes while staying reproducible (fixed sample
    # order, fixed-order float64 — no RNG). Measured sweep: refine=1
    # fixes recall but not the ratio (3.42), refine=2 closes both
    # (1.10) and is converged (refine=4 identical).
    t0 = time.perf_counter()
    rfx = ctx.ann_index(refined_path).rebuild(refine=2)
    rf_s = round(time.perf_counter() - t0, 2)
    rows.append((
        "index rebuild+refine=2: largest-cell population "
        f"(same drifted index, {rfx.meta['n_cells']} cells)",
        _largest_cell(rfx), rf_s,
    ))
    post_rf = _topk_sets(rfx.query(qshift, k=K, nprobe=4).df)
    rows.append((
        "index rebuild+refine=2: shifted-query recall (nprobe=4)",
        recall(post_rf, exact_shift, K), 0.0,
    ))
    rfx.append(clustered(emb.filter("vec_id >= 200 AND vec_id < 400"),
                         960000, rev_tbl))
    rows.append((
        "index rebuild+refine=2: mean_ratio of a fresh shifted-mode "
        "append",
        rfx.stats()["drift"]["mean_ratio"], 0.0,
    ))

    n = emb.df.count()
    hdr = (f"recall@{K} vs exact brute force, {N_QUERIES} queries over "
           f"{n} vectors ({sf_dir}); brute = {brute_s}s")
    if markdown:
        print(f"<!-- generated by tools/recall_harness.py -->")
        print(f"_{hdr}_\n")
        print("| configuration | recall@5 | wall s |")
        print("|---|---|---|")
        for name, rec, secs in rows:
            print(f"| {name} | {rec} | {secs} |")
    else:
        print(hdr)
        for name, rec, secs in rows:
            print(f"{name:45s} recall={rec:<8} {secs}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
