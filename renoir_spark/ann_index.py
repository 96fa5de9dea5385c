"""Persisted ANN index — the "build once, query many" form of the
IVF + SQ8 stack (`datapipe.ann_cosine_ivf_sq8`).

`ann_cosine_*` re-derives centroids, quantization grid, and codes on
every call; at 100 TB that re-encoding dominates the query cost, so
production similarity serving persists the index artifact and amortizes
the corpus scan across every subsequent query batch. This module writes
exactly the artifact the datapipe docstrings promise — ``(id, cell,
codes, vec)`` bucketed by cell — and serves query batches against it
with PARTITION PRUNING doing the work of the inverted file: a query
batch probing ``p`` distinct cells reads only those ``p`` parquet
partitions, never the corpus. The layout, tombstone and compaction
contract shared with the dedup indexes is in
:mod:`~renoir_spark.index_core`; this kind's relations:

    grid/        one row: __mins, __scales (the SQ8 per-dim [min,max] grid)
    cells/       n_cells rows: cell id + unit centroid
    codes/       corpus: id, vec (fp32 for the exact rerank), __codes
                 (SQ8, ints 0..255 in-grid — parquet bit-packs to ~1
                 B/dim; int not smallint so out-of-grid APPENDED vectors
                 can't overflow), __gen (0 = build, 1 = appended),
                 hive-partitioned by __cell
    tombstones/  (id, __cell): hive-partitioned by the deleted row's
                 cell, so a probe prunes it with its own probed-cell
                 filter

Query results are IDENTICAL to ``ann_cosine(method="ivf_sq8")`` with
the same parameters: the same seeded centroids (smallest-id vectors of
the build corpus), the same codec, the same rounded-cos + id tie-break
candidate rule, the same exact fp32 rerank — so the existing
``sql_ann_cosine_ivf_sq8`` DuckDB oracle verifies the full
save → load → query round trip bit-exactly (suite query qa06).

Scale notes (100 TB): build is one bounded driver collect (n_cells
seed rows), one map-side-combined stats aggregate, and ONE
encode+assign pass over the corpus (Arrow block-matrix cell assignment
+ JVM codec expressions, no shuffle) feeding a partitioned write.
Query never touches unprobed partitions (the index_core probe
contract over the probed cells). The rerank joins the candidate list
(|queries| × rerank rows, broadcast) against the SAME pruned scan, so
fp32 vectors of unprobed cells are never read either.

Reference parity: renoir has no persisted-index operator; this is part
of the beyond-reference similarity-search layer (SURVEY.md §2.12) in
the idiom of FAISS's IVF,SQ8 index files (public knowledge),
re-expressed as parquet + partition pruning instead of a custom format.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import functions as F

from .datapipe import (
    _cosine,
    _exact_rerank_topk,
    _ivf_assign,
    _ivf_probe,
    _ivf_seed_units,
    _lloyd_refine_units,
    _sq8_candidates,
    _sq8_codes,
    _sq8_stats,
    _sq8_xhat,
    auto_cells,
    md5_int31,
)
from .index_core import PersistedIndex, _load_meta, _Staged
from .util import free_local_checkpoint, prune_partitions, tiny_df

_GRID = "__mins array<double>, __scales array<double>"


class AnnIndex(PersistedIndex):
    """Handle over a persisted IVF+SQ8 index directory. Construct via
    :func:`ann_index_build` or :func:`ann_index_load`."""

    MODE = "ivf_sq8"
    RELATIONS = {
        "codes": ("{id_col} {id_type}, {vec_col} {vec_type}, "
                  "__codes array<int>, __gen int, __cell long", "__cell"),
    }
    TOMBSTONES = ("{id_col} {id_type}, __cell long", "__cell")

    def __init__(self, spark, path: str, meta: dict, units: list):
        super().__init__(spark, path, meta)
        self.units = units

    @property
    def _id(self) -> str:
        return self.meta["id_col"]

    @property
    def _dirs(self) -> int:
        return max(self.meta["n_cells"], 1)

    def _grid(self):
        return self.spark.read.schema(_GRID).parquet(f"{self.path}/grid")

    # -------------------------------------------------------------- #
    def query(self, queries, *, k: int = 3, nprobe: int = 4,
              rerank: int = 12):
        """Top-k cosine neighbors from the persisted index for every
        row of ``queries`` (a Stream carrying the index's id/vec
        columns). Returns a Stream of (qid, id, cos, rank) — identical
        to ``ann_cosine(method="ivf_sq8")`` over the build corpus with
        the same parameters."""
        id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
        qdt = dict(queries.df.dtypes)
        if not self.units:
            # index built over an empty corpus: no cells to probe (the
            # probe kernel cannot shape a 0-centroid matrix) — the
            # result is empty with the contract schema
            return queries._new(
                self.spark.createDataFrame(
                    [],
                    f"qid {qdt[id_col]}, {id_col} {self.meta['id_type']}, "
                    "cos double, rank long",
                )
            )
        with _Staged() as stage:
            # staged because TWO consumers execute it: the probed-cell
            # partition collect below AND the final candidate/rerank
            # plan — unpersisted, the batch's upstream lineage (often
            # an opaque Arrow stage: the probe itself is mapInPandas,
            # and composed callers feed decode/transform chains) runs
            # TWICE per query call. Batch-sized, not corpus-sized.
            q = stage(_ivf_probe(
                queries.df.select(
                    F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
                ),
                self.units, nprobe=nprobe,
                out_schema=(f"qid {qdt[id_col]}, qvec {qdt[vec_col]}, "
                            "__cell long"),
            ))
            # The probed-cell set IS the index lookup (the index_core
            # probe contract: literal cell filter or DPP semi-join).
            codes, cells = prune_partitions(
                self._read("codes"), "__cell", q.select("__cell")
            )
            # tombstoned ids must not occupy candidate/top-k slots (a
            # post-top-k filter would silently under-return k) —
            # anti-join the DELETED set out of the pruned scan. The
            # tombstone read is pruned by the SAME probed cells: the
            # literal cell list is reused when the codes prune
            # collected one, else the same DPP semi-join shape.
            tombs = self._tombstones()
            if tombs is not None:
                if cells is not None:
                    tombs = tombs.filter(F.col("__cell").isin(cells))
                else:
                    tombs = tombs.join(
                        F.broadcast(
                            q.select("__cell").distinct()
                            .filter(F.col("__cell") >= F.lit(-(1 << 63)))
                        ),
                        "__cell", "left_semi",
                    )
                codes = codes.join(
                    tombs.select(id_col), id_col, "left_anti"
                )
            enc = (
                codes.crossJoin(F.broadcast(self._grid()))
                .select(
                    id_col, "__cell",
                    F.col(vec_col).alias("cvec"),
                    _sq8_xhat().alias("__xhat"),
                )
            )
            cand = _sq8_candidates(
                enc.select(id_col, "__cell", "__xhat"), q,
                id_col=id_col, rerank=rerank,
                join=lambda c, bq: c.join(bq, "__cell"),
            )
            corpus = queries._new(
                enc.select(F.col(id_col), F.col("cvec").alias(vec_col))
            )
            return stage.retain(_exact_rerank_topk(
                corpus, cand, vec_col=vec_col, id_col=id_col, k=k
            ))

    # -------------------------------------------------------------- #
    def append(self, stream) -> None:
        """Ingest new vectors into the persisted index — the FAISS
        ``add`` analog: centroids and the SQ8 grid stay FROZEN at their
        build-time values (new vectors assign to existing cells and
        encode against the build grid; out-of-grid components encode
        beyond [0, 255] by the same unclamped formula the oracle runs),
        and the codes land in the same hive layout in append mode.
        Queries then see build ∪ appended. Rebuild when the appended
        volume shifts the distribution enough that frozen centroids
        stop balancing cells — the same re-train trade every IVF
        deployment makes."""
        if not self.units:
            # no cells exist to assign to; an empty increment is a
            # well-defined no-op (cold-start pipelines), actual data
            # needs a rebuild
            if stream.df.isEmpty():
                return
            raise ValueError(
                "AnnIndex.append: cannot append into an index built "
                "over an empty corpus (no cells to assign to) — rebuild"
            )
        # storage dtype is fixed at build time: appending a wider vector
        # type (array<double> into a float index) would write parquet
        # files later reads reject (PARQUET_COLUMN_DATA_TYPE_MISMATCH) —
        # coerce to the index's vec_type up front
        vec = F.col(self.meta["vec_col"]).cast(self.meta["vec_type"])
        _write_codes(self, stream.df.withColumn(self.meta["vec_col"], vec),
                     self._grid(), mode="append", gen=1)

    def _tombstone_rows(self, df):
        """One maintenance scan of the codes recovers each deleted id's
        cell: the (id, cell) tombstones land hive-partitioned by cell,
        so every probe prunes the tombstone read with the SAME
        probed-cell filter as the codes scan (:meth:`query`)."""
        id_col = self.meta["id_col"]
        keys = df.select(F.col(id_col)).distinct()
        return self._read("codes").join(keys, id_col, "left_semi").select(
            id_col, "__cell"
        )

    # -------------------------------------------------------------- #
    def match_batch(self, batch, *, threshold: float = 0.9,
                    nprobe: int = 4, rerank: int = 12):
        """Semantic near-duplicate PAIRS between ``batch`` vectors and
        the indexed corpus: (batch_id, corpus_id, cos) where the
        batch vector's RANK-1 indexed neighbor has cosine ≥ threshold —
        the embedding analog of :meth:`DedupIndex.match_batch`. Cheaper
        than an all-hits scan by construction: only the top neighbor
        can decide a dedup verdict, and rank 1 carries the maximum
        cosine."""
        top = self.query(batch, k=1, nprobe=nprobe, rerank=rerank)
        return top._new(top.df.filter(
            F.col("cos") >= F.lit(float(threshold))
        ).select(
            F.col("qid").alias("batch_id"),
            F.col(self.meta["id_col"]).alias("corpus_id"),
            "cos",
        ))

    def dedup_batch(self, batch, *, threshold: float = 0.9,
                    nprobe: int = 4, rerank: int = 12):
        """Batch rows with NO indexed semantic near-duplicate (rank-1
        cosine < threshold) — incremental SemDeDup: dedup the
        increment against the accumulated corpus without re-encoding
        it, then :meth:`append` the survivors. Same loop as
        :meth:`DedupIndex.dedup_batch`, in embedding space."""
        return self._dedup(batch, self.match_batch(
            batch, threshold=threshold, nprobe=nprobe, rerank=rerank
        ))

    # -------------------------------------------------------------- #
    def _counts(self) -> dict:
        # stored rows, tombstoned included — the delta vs live rows is
        # the compaction signal
        return {"vectors": self._read("codes").count()}

    def stats(self, *, drift_sample: int = 1024) -> dict:
        """Diagnostic scan: indexed vector count, data-file count (the
        compaction signal), and the CENTROID-DRIFT signal (the rebuild
        trigger). A full scan of the codes relation plus two bounded
        samples, an explicit maintenance call, never a query-path cost.

        Drift: :meth:`append` freezes centroids and grid at build-time
        values, so recall silently degrades once appended data shifts
        away from the build distribution. ``drift`` reports
        ``1 − cos(vec, assigned centroid)`` — mean/p50/p90/p99 over a
        deterministic hash-ordered sample of ≤ ``drift_sample`` rows
        per generation, SALTED by the index's current row count so the
        sample rotates as the index grows (a fixed lowest-hash sample
        would go blind to drift concentrated in newer rows; same index
        state ⇒ same count ⇒ same sample ⇒ repeatable numbers) — for
        the build corpus and the appended rows,
        plus ``mean_ratio`` (appended/build). A ratio near 1 means
        appends still fit the build-time Voronoi cells; a climbing
        ratio is the measured form of "time to rebuild" (measured on a
        shifted append in tools/recall_harness.py). ``appended`` is
        None while nothing has been appended."""
        out = super().stats()
        out["cells"] = self.meta["n_cells"]
        out["drift"] = {"build": None, "appended": None, "mean_ratio": None}
        n = out["vectors"]
        if not self.units or n == 0:
            return out
        id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
        codes = self._read("codes")
        cells = self.spark.createDataFrame(
            [(i, u) for i, u in enumerate(self.units)],
            "__cell long, __unit array<double>",
        )
        # pre-round-6 layouts have no __gen column → NULL → build rows
        gen = F.coalesce(F.col("__gen"), F.lit(0))
        for key, pred in (("build", gen == 0), ("appended", gen >= 1)):
            sample = (
                codes.filter(pred)
                .select(id_col, vec_col, "__cell")
                .orderBy(md5_int31(F.concat_ws(
                    "|", F.col(id_col).cast("string"), F.lit(str(n))
                )), F.col(id_col))
                .limit(int(drift_sample))
            )
            dist = F.lit(1.0) - _cosine(F.col(vec_col), F.col("__unit"))
            agg = (
                sample.join(F.broadcast(cells), "__cell")
                .select(dist.alias("__d"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.avg("__d"), 6).alias("mean"),
                    F.round(F.expr("percentile(__d, 0.5)"), 6).alias("p50"),
                    F.round(F.expr("percentile(__d, 0.9)"), 6).alias("p90"),
                    F.round(F.expr("percentile(__d, 0.99)"), 6).alias("p99"),
                )
                .collect()[0]
            )
            if agg["n"]:
                out["drift"][key] = {
                    "n": agg["n"], "mean": agg["mean"], "p50": agg["p50"],
                    "p90": agg["p90"], "p99": agg["p99"],
                }
        b, a = out["drift"]["build"], out["drift"]["appended"]
        if b and a and b["mean"]:
            out["drift"]["mean_ratio"] = round(a["mean"] / b["mean"], 3)
        return out

    def rebuild(self, *, n_cells: Optional[int] = None,
                refine: int = 0) -> "AnnIndex":
        """Re-derive centroids, SQ8 grid, and cell layout from EVERY
        currently indexed fp32 vector (build + all appended
        generations) and rewrite the index in place — the FAISS
        ``retrain`` analog, and the ACTION the drift signal in
        :meth:`stats` triggers: :meth:`append` freezes centroids and
        grid at build-time values, so once ``stats()["drift"]
        ["mean_ratio"]`` climbs, the frozen Voronoi cells no longer
        fit the appended mass and recall decays (measured in
        tools/recall_harness.py). Rebuilding re-seeds centroids from
        the FULL corpus (shifted appends get cells of their own),
        re-fits the quantization grid over the full value range, and
        rewrites the codes cell-clustered; appended rows become
        generation-0 build rows of the new index, so the drift
        baseline resets too.

        Centroids re-seed from a deterministic HASH-ordered uniform
        sample of the full corpus (``seed_order="hash"``), not the
        smallest-id rule: low ids are build-era rows by construction,
        so smallest-id seeds would hand the retrain right back to the
        stale distribution — the hash sample covers build and appended
        mass in proportion (the measured recall restoration in
        tools/recall_harness.py depends on this).

        ``n_cells=None`` (the default) auto-dials to ``max(16, ⌈√N⌉)``
        over the REBUILT corpus — the dial widens as appends
        accumulate instead of inheriting a stale build-time pin. Pass
        an int to pin it.

        ``refine=k``: k deterministic Lloyd iterations over the hash
        sample after seeding (see :func:`ann_index_build`). Hash
        seeds cover mass proportionally, not mode-by-mode, which is
        the measured residual (mean_ratio ~3.5, recall 0.97 in
        tools/recall_harness.py); refinement moves centroids onto the
        modes while keeping the retrain reproducible — measured:
        refine=1 restores recall to 1.00, refine=2 also closes the
        fresh-append mean_ratio to 1.10 and is converged. Default 0 so
        ``rebuild(n)`` stays content-equal to a fresh
        ``seed_order="hash"`` build (the auditability invariant
        tests/test_round7.py pins); the refined invariant holds too —
        ``rebuild(n, refine=k)`` ≡ fresh build with ``refine=k``.

        Scale: one full read of the stored fp32 vectors, pinned by an
        eager localCheckpoint (the overwrite deletes the very files
        being read — lazy lineage would read-after-delete), then the
        standard build pass: bounded seed collect, one map-side
        stats aggregate, ONE encode+assign pass, cell-clustered
        partitioned write. No all-pairs work anywhere.

        Returns the rebuilt handle; ``self`` is stale after this call
        (its meta/units describe the overwritten layout)."""
        from .context import StreamContext

        id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
        # tombstones fold in: a rebuild re-derives everything from the
        # LIVE rows only, and the cleared tombstone relation resets the
        # per-probe anti-join cost (same contract as compact)
        tombs = self._tombstones()
        live = self._read("codes").select(id_col, vec_col)
        if tombs is not None:
            live = live.join(
                tombs.select(id_col).distinct(), id_col, "left_anti"
            )
        rows = live.localCheckpoint(eager=True)
        try:
            out = ann_index_build(
                StreamContext(self.spark).from_df(rows), self.path,
                vec_col=vec_col, id_col=id_col, n_cells=n_cells,
                dim=self.meta["dim"], seed_order="hash", refine=refine,
            )
            if tombs is not None:
                self._reset("tombstones")
            return out
        finally:
            free_local_checkpoint(rows)


def _write_codes(idx, df, grid, *, mode: str, gen: int = 0) -> None:
    """One encode+assign pass → ``idx``'s codes relation, clustered on
    the cell (PersistedIndex._write).

    ``gen`` stamps the rows' generation (0 = build corpus, 1 =
    appended): the drift diagnostic in :meth:`AnnIndex.stats` compares
    appended vectors' fit against the frozen build-time centroids to
    the build corpus's own fit. Indexes written before the column
    existed read back NULL (explicit-schema parquet reads tolerate a
    missing column) and count as build rows."""
    id_col, vec_col = idx.meta["id_col"], idx.meta["vec_col"]
    enc = (
        _ivf_assign(
            df.select(F.col(id_col), F.col(vec_col).alias("cvec")),
            idx.units, id_schema=f"{id_col} {idx.meta['id_type']}",
        )
        .crossJoin(F.broadcast(grid))
        .select(
            id_col,
            F.col("cvec").alias(vec_col),
            # Codes are 0..255 for in-grid vectors; int (not smallint)
            # because APPEND-mode vectors outside the frozen grid encode
            # beyond [0, 255] by the same unclamped formula on both
            # engines, and a far-out-of-grid component would silently
            # wrap a smallint (ANSI off) and break oracle parity.
            # Parquet bit-packs small values, so in-grid storage cost
            # is unchanged.
            F.transform(
                _sq8_codes(F.col("cvec")), lambda c: c.cast("int")
            ).alias("__codes"),
            F.lit(int(gen)).alias("__gen"),
            "__cell",
        )
    )
    idx._write("codes", enc, mode)


def ann_index_build(stream, path: str, *, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_cells: Optional[int] = None,
                    dim: int = 64, seed_order: str = "id",
                    refine: int = 0) -> AnnIndex:
    """Build and persist the IVF+SQ8 index for ``stream`` at ``path``.
    One corpus pass: Arrow cell assignment + JVM SQ8 encode, written
    hive-partitioned by cell. See the module docstring for the layout
    and scale shape.

    ``n_cells`` is the quadratic-work dial: pinned while the corpus
    grows k×, every cell holds k× vectors and a k×-bigger query batch
    does k² in-cell work (measured 12.4× wall at 10× data with 16
    pinned cells vs 2.1× with cells scaled — docs/SCALING.md). The
    DEFAULT ``n_cells=None`` auto-dials to ``max(16, ⌈√N⌉)`` (the
    standard IVF sizing rule, one count pass at build) so per-cell
    population grows only as √N — a default build stays scale-safe at
    100 TB; pass an explicit int to pin it (the suite does, for
    oracle determinism — static DuckDB oracles can't follow a
    data-dependent cell count, except qa35's scalar-subquery form).

    ``seed_order``: ``"id"`` (default) seeds centroids from the
    smallest-id vectors — the rule every DuckDB oracle mirrors;
    ``"hash"`` seeds from a deterministic hash-ordered uniform sample
    (distribution-covering — what :meth:`AnnIndex.rebuild` uses; an
    index built this way answers queries identically given its cells,
    but the STANDARD sql_ann_cosine_ivf_sq8 oracle cannot re-derive
    its centroids).

    ``refine``: number of DETERMINISTIC Lloyd iterations over a
    hash-ordered uniform sample (spherical k-means: assign by the same
    rounded-dot rule the index uses, re-center on the mean, unit-
    normalize; empty cells keep their seed). Raw seeds cover mass
    proportionally, not mode-by-mode — refinement moves centroids to
    the modes, closing the residual drift ratio a hash-sampled rebuild
    leaves (measured in tools/recall_harness.py). Fully reproducible:
    the sample is hash-ordered and the arithmetic is fixed-order
    float64, so the same corpus always yields the same centroids —
    unlike a randomized k-means retrain. Oracle note: refined
    centroids are not re-derivable by the static SQL ``cells`` CTE, so
    suite-pinned builds keep ``refine=0``."""
    spark = stream.df.sparkSession
    dtypes = dict(stream.df.dtypes)
    # decode-once (the datapipe._staged_probe discipline), EVERY path:
    # the optional √N dial, the seed collect, the SQ8 stats pass and
    # the codes write all read the same staged narrow (id, vec)
    # relation — unpersisted, a PINNED-cells build ran that upstream
    # lineage three separate times (seed collect, stats collect,
    # encode+write; four with the dial). Released before return — the
    # build is eager, every consumer runs inside this block — and on
    # ANY failure, the writes included.
    with _Staged() as stage:
        df = stage(stream.df.select(F.col(id_col), F.col(vec_col)))
        if n_cells is None:
            n_cells = auto_cells(df.count())
        units = _ivf_seed_units(df, vec_col, id_col, n_cells,
                                order=seed_order)
        if refine:
            units = _lloyd_refine_units(
                df, units, vec_col, id_col, n_cells, iters=int(refine)
            )
        # run the stats aggregate ONCE and pin its 1-row result on the
        # driver: the same row feeds both the encode broadcast and the
        # grid/ write — without this the unpersisted aggregate would
        # scan the corpus twice (once under enc.write, once for grid)
        srow = _sq8_stats(df, vec_col, dim).collect()[0]
        grid = tiny_df(spark, [(srow["__mins"], srow["__scales"])], _GRID)
        idx = AnnIndex(spark, path, {
            "id_col": id_col,
            "vec_col": vec_col,
            "n_cells": n_cells,
            "dim": dim,
            "id_type": dtypes[id_col],
            "vec_type": dtypes[vec_col],
        }, units)
        # the codes write overlaps the grid/cells/meta writes (one
        # task, one file each — util.tiny_df): the build pays the codes
        # write's wall plus ~one commit latency instead of four stacked
        # latencies (guide §2.6 — the tiny writes back-fill whatever
        # the codes write leaves idle).
        idx._create(
            lambda: _write_codes(idx, df, grid, mode="overwrite"),
            lambda: grid.write.mode("overwrite").parquet(f"{path}/grid"),
            lambda: tiny_df(
                spark, [(i, u) for i, u in enumerate(units)],
                "cell long, unit array<double>",
            ).write.mode("overwrite").parquet(f"{path}/cells"),
        )
    return idx


def ann_index_load(spark, path: str) -> AnnIndex:
    """Open a persisted index: reads the 1-row meta and the n_cells
    centroid rows (bounded driver collects); the codes stay on disk
    until a query probes them."""
    meta = _load_meta(spark, path)
    rows = (
        spark.read.schema("cell long, unit array<double>")
        .parquet(f"{path}/cells").orderBy("cell").collect()
    )
    units = [[float(x) for x in r["unit"]] for r in rows]
    return AnnIndex(spark, path, meta, units)
