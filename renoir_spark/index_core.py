"""Persisted-index core: the on-disk layout, probe, tombstone and
compaction contract shared by the four persisted index kinds —
:class:`~renoir_spark.dedup_index.DedupIndex` (MinHash-LSH),
:class:`~renoir_spark.dedup_index.ExactDedupIndex` (content keys),
:class:`~renoir_spark.dedup_index.PhashIndex` (perceptual hash) and
:class:`~renoir_spark.ann_index.AnnIndex` (IVF+SQ8). Each kind declares
its relations once and supplies only its signature, its partition
keying and its verifier; everything below lives here.

Layout at ``path`` (all parquet, self-describing):

    meta/        one row: the kind's scalar parameters, one column per
                 meta-dict key in dict order (int → long, str → string)
    <relation>/  the kind's data relations (``RELATIONS``: name →
                 (schema, partition column)), each hive-partitioned by
                 one long key column
    tombstones/  pending deletes, (id, key) hive-partitioned by the key
                 the probe already prunes on (``TOMBSTONES``); absent
                 until the first delete — indexes built before delete
                 support keep working

Probe contract ("probe only the touched partitions, then verify" —
the reusable step of the incremental top-k and REPOSE designs): a
batch becomes signature rows carrying the partition key; at most
PROBE_LITERAL_MAX + 1 distinct keys are collected to the driver
(bounded) and pushed as a LITERAL partition filter, so the reader lists
only those directories — what makes a small increment cheap against a
100 TB index — while wider probes switch to a broadcast semi-join that
dynamic partition pruning applies at runtime (util.prune_partitions).
An empty key set short-circuits to an empty pair relation: no index
scan at all. The kind's verifier runs over the pruned scan minus
tombstoned ids. Explicit-schema reads keep every relation well-typed
even when it holds no data files.

Maintenance contract:

- ``append`` writes clustered on the hive key (≈ one file per touched
  directory); the index does not re-verify what it ingests.
- ``delete_batch`` is a tombstone APPEND, never a rewrite: probes
  anti-join tombstoned ids out IMMEDIATELY (a takedown must not wait
  for compaction). Idempotent — a repeated id adds a duplicate row,
  harmless to an anti-join.
- ``compact`` rewrites every data relation clustered, folding the
  tombstones out, then clears them, which resets the per-probe
  anti-join cost. Each relation is pinned by an eager localCheckpoint
  first: the overwrite deletes the very files being read, and a
  checkpoint has no lineage to silently recompute from them.
- ``stats`` counts each relation, the pending tombstones and the data
  files — the compaction signals. Full scans of postings-sized
  relations: an explicit maintenance call, never a query-path cost.

Dedup contract: ``dedup_batch`` returns the batch minus every id
``match_batch`` pairs. The survivors carry the probe's cached batch
signature (``_index_sig``, keyed on path and meta), so ``append`` of
that direct result reuses it instead of re-running the signature
chain and any upstream decode (:meth:`PersistedIndex._sig_for_append`).

Staging: every relation an index operation persists goes through
:class:`_Staged` — handed to the result Stream (released at its
teardown) or released when an eager operation returns, and always
released when the operation raises.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .datapipe import md5_int31
from .util import free_local_checkpoint, prune_partitions, run_concurrent, tiny_df


class _Staged:
    """The relations one index operation persists. Inside
    ``with _Staged() as stage``, ``stage(df)`` persists ``df`` and
    returns it; ``stage.retain(out)`` hands every staged relation to
    the result Stream. On exit, relations not handed over are
    unpersisted, and when the block raises all of them are — the
    exception propagates unchanged."""

    def __init__(self):
        self.dfs: list = []
        self.kept = False

    def __call__(self, df):
        df = df.persist()
        self.dfs.append(df)
        return df

    def retain(self, out):
        self.kept = True
        return out._retain(*self.dfs)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *_):
        if exc_type is not None or not self.kept:
            for df in self.dfs:
                df.unpersist()


class PersistedIndex:
    """Handle over a persisted index directory (see the module
    docstring). Subclasses declare ``MODE`` (the ``stats()["mode"]``
    value), ``RELATIONS`` and, where it differs from the id-hash
    layout, ``TOMBSTONES``; schema templates are formatted with the
    meta dict."""

    MODE = ""
    RELATIONS: dict = {}
    TOMBSTONES = ("id {id_type}, __tk long", "__tk")
    # score column of the match_batch pair relation
    SCORE = "jac double"

    def __init__(self, spark, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta

    # ---------------------------------------------------------------- #
    # layout
    @property
    def _id(self) -> str:
        """Stored id column of the data and tombstone relations."""
        return "id"

    @property
    def _dirs(self) -> int:
        """Directory count of the partitioned relations."""
        return self.meta["bucket_dirs"]

    def _spec(self, rel: str) -> tuple:
        schema, part = (self.TOMBSTONES if rel == "tombstones"
                        else self.RELATIONS[rel])
        return schema.format(**self.meta), part

    def _read(self, rel: str):
        return self.spark.read.schema(self._spec(rel)[0]).parquet(
            f"{self.path}/{rel}"
        )

    def _write(self, rel: str, rows, mode: str = "append") -> None:
        """Partitioned write clustered ON the hive key: an unclustered
        write makes every task open a file in every directory
        (measured 1,600+ tiny files at sf0.1 — a listing and open-cost
        tax on every later probe). One shuffle buys ≈ one file per
        directory; at corpus scale cap file size with
        spark.sql.files.maxRecordsPerFile rather than more tasks."""
        part = self._spec(rel)[1]
        rows.repartition(self._dirs, part).write.mode(mode).partitionBy(
            part
        ).parquet(f"{self.path}/{rel}")

    def _reset(self, rel: str) -> None:
        """Reset a relation to empty with the right schema (idempotent
        rebuilds; explicit-schema reads keep working). util.tiny_df:
        createDataFrame([]) parallelizes to defaultParallelism empty
        Python partitions — one task per CORE per reset (measured
        ~0.4 s each at 32 cores) for a write that carries no rows; one
        source slice = one task."""
        schema, part = self._spec(rel)
        tiny_df(self.spark, [], schema).write.mode("overwrite").partitionBy(
            part
        ).parquet(f"{self.path}/{rel}")

    def _create(self, *writes) -> None:
        """Write meta/ from the meta dict, overlapped with ``writes``
        (default: reset every data relation to empty — idempotent
        rebuilds). Disjoint paths with no ordering dependency: the
        build pays one write latency instead of several stacked
        (util.run_concurrent)."""
        schema = ", ".join(
            f"{k} {'long' if isinstance(v, int) else 'string'}"
            for k, v in self.meta.items()
        )
        run_concurrent(
            lambda: tiny_df(self.spark, [tuple(self.meta.values())], schema)
            .write.mode("overwrite").parquet(f"{self.path}/meta"),
            *(writes or [lambda r=r: self._reset(r) for r in self.RELATIONS]),
        )

    @classmethod
    def _build(cls, stream, path: str, meta: dict):
        """Create the layout, then ingest the corpus as one append."""
        idx = cls(stream.df.sparkSession, path, meta)
        idx._create()
        idx.append(stream)
        return idx

    # ---------------------------------------------------------------- #
    # tombstones and maintenance
    def _id_key(self, col: str):
        """Id-hash partition key ``md5_int31(id) % bucket_dirs``."""
        return md5_int31(F.col(col).cast("string")) % F.lit(self._dirs)

    def _tombstones(self):
        """The tombstone relation, or ``None`` when no delete ever ran."""
        if not _dir_exists(self.spark, f"{self.path}/tombstones"):
            return None
        return self._read("tombstones")

    def _live(self, scan):
        """``scan`` minus tombstoned ids. For scans already pruned to
        the batch's partitions: the tombstone relation is
        takedown-sized (bounded by the compaction cadence), so a plain
        anti-join is the whole cost."""
        tombs = self._tombstones()
        if tombs is None:
            return scan
        return scan.join(tombs.select(self._id), self._id, "left_anti")

    def _tombstone_rows(self, df):
        """Tombstone rows for the ids in ``df``: (id, id-hash key)."""
        return df.select(F.col(self.meta["id_col"]).alias("id")).distinct(
        ).select("id", self._id_key("id").alias("__tk"))

    def delete_batch(self, ids) -> None:
        """TAKEDOWN support — remove indexed rows by id (copyright/PII
        removal is an ingest-loop fact of life; ``corpus_diff`` already
        computes removed ids). A tombstone append: probes stop matching
        the ids immediately, :meth:`compact` folds them into the
        physical layout, and ``stats()["tombstones"]`` is the
        compaction signal. Idempotent; ``ids`` is a Stream or DataFrame
        carrying the index's id column (extra columns are ignored).
        Takedown batches are small: one task, ≈ one file per touched
        directory."""
        df = ids.df if hasattr(ids, "df") else ids
        self._tombstone_rows(df).repartition(1).write.mode(
            "append"
        ).partitionBy(self._spec("tombstones")[1]).parquet(
            f"{self.path}/tombstones"
        )

    def compact(self) -> None:
        """Rewrite every data relation clustered (≈ one file per
        directory): each append adds a file per touched directory, so a
        long-running ingest loop accumulates files that tax every
        probe's listing/open path — compaction restores the fresh-build
        layout without re-deriving any signature. Tombstoned rows drop
        out and the tombstone relation is cleared. Each relation is
        pinned in memory while it is rewritten (the relations are
        postings-sized, far smaller than the corpus)."""
        tombs = self._tombstones()
        minus = None if tombs is None else tombs.select(self._id).distinct()
        for rel in self.RELATIONS:
            rows = self._read(rel)
            if minus is not None:
                rows = rows.join(minus, self._id, "left_anti")
            rows = rows.localCheckpoint(eager=True)
            try:
                self._write(rel, rows, "overwrite")
            finally:
                free_local_checkpoint(rows)
        if tombs is not None:
            self._reset("tombstones")

    def _counts(self) -> dict:
        """The kind's row counts for :meth:`stats`."""
        raise NotImplementedError

    def stats(self) -> dict:
        """Diagnostic scan: the kind's row counts, pending tombstones
        and data-file count (the compaction signals)."""
        tombs = self._tombstones()
        return {
            "mode": self.MODE,
            **self._counts(),
            "tombstones": 0 if tombs is None else tombs.count(),
            "files": _count_files(self.spark, self.path, self.RELATIONS),
        }

    # ---------------------------------------------------------------- #
    # probe and dedup
    def _probe(self, batch, sig, keyed, rel: str, verify):
        """The shared probe step of ``match_batch``: stage the batch
        signature ``sig`` (TWO consumers read it — the partition-key
        collect and the pair plan; unpersisted, each would recompute
        the batch's upstream lineage, typically a decode stage), key it
        with ``keyed(sig)``, prune relation ``rel`` to the touched
        partitions, and run ``verify(stage, sig, rows, scan)`` — or
        return the empty pair relation when no partition is touched.
        The result carries the staged signature for
        :meth:`dedup_batch` (``_match_sig``)."""
        with _Staged() as stage:
            sig = stage(sig)
            rows = keyed(sig)
            part = self._spec(rel)[1]
            scan, keys = prune_partitions(self._read(rel), part,
                                          rows.select(part))
            if keys is not None and not keys:
                t = self.meta["id_type"]
                pairs = self.spark.createDataFrame(
                    [], f"batch_id {t}, corpus_id {t}, {self.SCORE}"
                )
            else:
                pairs = verify(stage, sig, rows, scan)
            out = stage.retain(batch._new(pairs))
            out._match_sig = sig
            return out

    def _dedup(self, batch, pairs):
        """``batch`` minus the batch ids of ``pairs`` (a
        :meth:`match_batch` result). When the probe staged a batch
        signature, the survivors carry its rows minus the matched ids
        as the append handshake."""
        id_col = self.meta["id_col"]
        dup_ids = pairs.df.select(F.col("batch_id").alias(id_col)).distinct()
        out = pairs._new(batch.df.join(dup_ids, id_col, "left_anti"))
        sig = getattr(pairs, "_match_sig", None)
        if sig is not None:
            out._index_sig = (
                self.path, self._sig_token(),
                sig.join(dup_ids.select(F.col(id_col).alias("__id")),
                         "__id", "left_anti"),
            )
        return out

    def _sig_token(self) -> tuple:
        """Identity of the signature-relevant parameters: a handshake
        minted under one (path, params) must not be ingested into an
        index REBUILT at the same path with different parameters — the
        stale sig rows would land in the new layout and silently
        corrupt postings. The meta dict holds only scalars, so a sorted
        item tuple is a stable, hashable token."""
        return tuple(sorted(self.meta.items()))

    def _sig_for_append(self, batch, compute):
        """Signature relation for an append: the cached survivors' sig
        when ``batch`` is the direct :meth:`dedup_batch` result of THIS
        index (same path and :meth:`_sig_token`) — neither the
        signature chain nor any upstream decode feeding it re-runs; a
        semi-join against ``batch.df`` would not achieve this, because
        a decode stage is opaque to column pruning. Any other stream
        falls back to ``compute()``."""
        cached = getattr(batch, "_index_sig", None)
        if cached is not None and cached[:2] == (self.path, self._sig_token()):
            return cached[2]
        return compute()


def _load_meta(spark, path: str) -> dict:
    """One 1-row read of meta/ back to the dict it was written from."""
    return spark.read.parquet(f"{path}/meta").collect()[0].asDict()


def _count_files(spark, root: str, subs) -> int:
    """Data-file count under the given data roots via the Hadoop
    FileSystem API (works on any supported filesystem, not just
    local)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for sub in subs:
        p = jvm.org.apache.hadoop.fs.Path(f"{root}/{sub}")
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            continue
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                total += 1
    return total


def _dir_exists(spark, path: str) -> bool:
    """Hadoop-FS existence check (any supported filesystem, not just
    local) — gates reads of relations an older index may not have."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)
