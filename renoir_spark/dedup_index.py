"""Persisted dedup indexes — incremental deduplication of NEW data
against an already-ingested corpus, in three kinds: MinHash-LSH
(:class:`DedupIndex`), exact content keys (:class:`ExactDedupIndex`)
and perceptual hashes (:class:`PhashIndex`). The layout, probe,
tombstone and compaction contract they share is in
:mod:`~renoir_spark.index_core`; this module holds each kind's
relations, signature and verifier.

``dedup_minhash`` / ``dedup_against`` recompute the full corpus
signature chain on every call; at 100 TB that re-shingling dominates —
a production ingest pipeline dedups each incoming increment against the
accumulated corpus WITHOUT touching the corpus text again. The MinHash
index persists exactly the two relations the LSH machinery needs:

    buckets/   corpus LSH postings: (bidx, bhash, id), hive-partitioned
               by ``__bk = bhash % bucket_dirs`` — the probed relation
    shingles/  (id, sh array<string>) for the exact-Jaccard verify,
               hive-partitioned by ``__sk = md5_int31(id) %
               bucket_dirs`` — pruned the same way from the (small)
               verified-candidate id set

The signature chain is the SHARED :func:`~renoir_spark.datapipe.
minhash_bands_expr` (same constants, same staging discipline), so a
batch matched against the index produces byte-identical candidates to
running :func:`~renoir_spark.datapipe.minhash_pairs` over the union —
which is what the DuckDB oracle mirror (:func:`sql_dedup_index_batch`)
verifies bit-exactly.

Scale notes (100 TB): build is ONE pass over the corpus text (the same
normalize → shingle → minhash → band chain every other minhash operator
pays once) feeding two partitioned writes; nothing is collected.
``dedup_batch`` shuffles only (bidx, bhash, id) triples of the BATCH
against the pruned posting scan — corpus text and corpus shingle arrays
are read only for the verified-candidate sliver, via the ``__sk``
partition filter. Bucket skew (identical-content floods sharing one
bhash) is absorbed by AQE skew-join on the candidate equi-join, as in
:func:`minhash_pairs`.

Reference parity: renoir has no persisted-index operator; this is the
beyond-reference dedup layer (SURVEY.md §2.12) in the idiom of
production corpus builds (incremental LSH ingest, public knowledge —
e.g. the Lee et al. 2022 / RefinedWeb dedup pipelines), re-expressed as
parquet + hive partition pruning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .datapipe import (
    MINHASH_P,
    _mh_params,
    _spread_for_compute,
    _SQL_JACCARD,
    md5_int31,
    minhash_bands_expr,
    norm_text,
    phash_expr,
    sql_md5_int31,
    sql_word_shingles,
)
from .index_core import PersistedIndex, _load_meta, _Staged
from .util import prune_partitions


class DedupIndex(PersistedIndex):
    """Handle over a persisted MinHash-LSH dedup index directory.
    Construct via :func:`dedup_index_build` or :func:`dedup_index_load`.
    """

    MODE = "minhash"
    RELATIONS = {
        "buckets": ("bidx int, bhash long, id {id_type}, __bk long", "__bk"),
        "shingles": ("id {id_type}, sh array<string>, __sk long", "__sk"),
    }

    def _batch_sig(self, batch):
        """Shared normalize → shingle → band chain for an incoming
        batch, as (__id, __sh, __bands) with the index's parameters.
        The narrow (id, text) projection is spread to core parallelism
        first when the scan carries too few partitions (single-task
        chain otherwise — no-op at corpus scale, see
        datapipe._spread_for_compute)."""
        return minhash_bands_expr(
            _spread_for_compute(batch.df.select(
                F.col(self.meta["id_col"]).alias("__id"),
                F.col(self.meta["text_col"]).alias("__text"),
            )),
            "__text",
            num_hashes=self.meta["num_hashes"],
            bands=self.meta["bands"],
            shingle_n=self.meta["shingle_n"],
        ).select("__id", "__sh", "__bands")

    def _bucket_rows(self, sig):
        """Explode a signature relation into posting rows
        (bidx, bhash, __bk, __id)."""
        return (
            sig.select("__id", F.explode("__bands").alias("__b"))
            .select(
                F.col("__b.bidx").alias("bidx"),
                F.col("__b.bhash").alias("bhash"),
                (F.col("__b.bhash") % F.lit(self._dirs)).alias("__bk"),
                F.col("__id"),
            )
        )

    def match_batch(self, batch, *, threshold: float = 0.7):
        """Verified near-duplicate PAIRS between ``batch`` rows and
        indexed corpus rows: a Stream of (batch_id, corpus_id, jac)
        with ``jac >= threshold``. Batch-internal duplicates are NOT
        reported — that is :func:`~renoir_spark.datapipe.dedup_minhash`
        over the batch itself."""

        def verify(stage, sig, bb, bucket_scan):
            # deliberate pre-verify distinct — same trade as
            # minhash_pairs: a pair matching in several bands must not
            # ride the shingle re-attach joins multiple times. Staged
            # because TWO consumers need it: the __sk partition-key
            # collect below AND the final pair plan
            cand = stage(
                bb.join(bucket_scan.select("bidx", "bhash", "id"),
                        ["bidx", "bhash"])
                .select(F.col("__id").alias("__bid"),
                        F.col("id").alias("__cid"))
                .distinct()
            )
            # takedowns: anti-join the tombstones out of the candidate
            # set. The tombstone (__tk) and shingle (__sk) partition
            # keys are the SAME id-hash expression over the candidate
            # ids, so one bounded collect serves both scans: the
            # shingle prune reuses the tombstone prune's literal key
            # list (a superset of the post-anti-join live keys — a
            # superset prune reads at most a few extra directories and
            # never changes the join result), saving one collect job
            # per takedown-aware probe.
            tombs = self._tombstones()
            live, ks = cand, None
            if tombs is not None:
                t_scan, ks = prune_partitions(
                    tombs, "__tk", cand.select(self._id_key("__cid").alias("__tk"))
                )
                live = cand.join(t_scan.select(F.col("id").alias("__cid")),
                                 "__cid", "left_anti")
            if ks is not None:
                shingle_scan = self._read("shingles").filter(
                    F.col("__sk").isin(ks)
                )
            else:
                shingle_scan, ks = prune_partitions(
                    self._read("shingles"), "__sk",
                    live.select(self._id_key("__cid").alias("__sk")),
                )
            corpus_sh = (
                shingle_scan.select(F.col("id").alias("__cid"),
                                    F.col("sh").alias("shb"))
                if ks is None or ks
                else self.spark.createDataFrame(
                    [], f"__cid {self.meta['id_type']}, shb array<string>"
                )
            )
            # zero-union guard (the _cosine/SQL_COS pattern): today
            # shingles_from guarantees non-empty arrays, but relying on
            # that distant invariant would turn a future empty-text
            # change into an ANSI DIVIDE_BY_ZERO that fails the batch
            union_sz = F.size(F.array_union("sha", "shb"))
            jac = F.when(union_sz == 0, F.lit(0.0)).otherwise(
                F.size(F.array_intersect("sha", "shb")) / union_sz
            )
            return (
                live.join(sig.select(F.col("__id").alias("__bid"),
                                     F.col("__sh").alias("sha")), "__bid")
                .join(corpus_sh, "__cid")
                .withColumn("__j", jac)
                .filter(F.col("__j") >= F.lit(threshold))
                .select(
                    F.col("__bid").alias("batch_id"),
                    F.col("__cid").alias("corpus_id"),
                    F.col("__j").alias("jac"),
                )
            )

        return self._probe(batch, self._batch_sig(batch), self._bucket_rows,
                           "buckets", verify)

    def dedup_batch(self, batch, *, threshold: float = 0.7):
        """Rows of ``batch`` that are NOT a near-duplicate (exact
        shingle-Jaccard ≥ threshold, LSH-candidates only) of any indexed
        corpus row. The incremental-ingest step: dedup the increment,
        then :meth:`append` the survivors."""
        return self._dedup(batch, self.match_batch(batch, threshold=threshold))

    def append(self, batch) -> None:
        """Ingest ``batch`` into the index: its postings and shingles
        land in the same hive layout (append mode), so subsequent
        :meth:`dedup_batch` calls see corpus + this increment with no
        rebuild. Caller contract: append SURVIVORS (post-dedup) — the
        index does not re-verify what it ingests.

        When ``batch`` is the direct result of THIS index's
        :meth:`dedup_batch` (the documented ingest loop), the
        signature chain is NOT re-run: the survivors' sig rows come
        from the already-persisted batch sig minus the matched ids —
        one cache read instead of a second normalize → shingle →
        minhash pass over the increment (:meth:`_sig_for_append`)."""
        with _Staged() as stage:
            sig = stage(self._sig_for_append(
                batch, lambda: self._batch_sig(batch)
            ))
            self._write("buckets", self._bucket_rows(sig).select(
                "bidx", "bhash", F.col("__id").alias("id"), "__bk"
            ))
            self._write("shingles", sig.select(
                F.col("__id").alias("id"), F.col("__sh").alias("sh"),
                self._id_key("__id").alias("__sk"),
            ))

    def _counts(self) -> dict:
        return {"docs": self._read("shingles").count(),
                "postings": self._read("buckets").count()}


class ExactDedupIndex(PersistedIndex):
    """Handle over a persisted EXACT dedup index: one relation of
    normalized-content sha2 keys, hive-partitioned by a key-hash bucket
    — the cheapest incremental dedup (``dedup_against`` semantics,
    persisted). Same method surface as :class:`DedupIndex`; matched
    pairs report ``jac = 1.0``.

        keys/  (id, key), hive-partitioned by
               ``__bk = md5_int31(key) % bucket_dirs``
    """

    MODE = "exact"
    RELATIONS = {"keys": ("id {id_type}, key string, __bk long", "__bk")}

    def _batch_sig(self, batch):
        k = F.sha2(norm_text(self.meta["text_col"]), 256)
        return batch.df.select(
            F.col(self.meta["id_col"]).alias("__id"), k.alias("__key"),
            (md5_int31(k) % F.lit(self._dirs)).alias("__bk"),
        )

    def match_batch(self, batch, *, threshold: float = 0.7):
        """Exact matches between batch and indexed rows as
        (batch_id, corpus_id, jac=1.0). ``threshold`` is accepted for
        surface parity and ignored (exact match is all-or-nothing);
        NULL-text rows never match (SQL semantics — NULL keys join
        nothing)."""

        def verify(stage, bk, rows, key_scan):
            return bk.join(
                self._live(key_scan).select(F.col("key").alias("__key"),
                                            F.col("id").alias("__cid")),
                "__key",
            ).select(
                F.col("__id").alias("batch_id"),
                F.col("__cid").alias("corpus_id"),
                F.lit(1.0).alias("jac"),
            )

        return self._probe(batch, self._batch_sig(batch), lambda s: s,
                           "keys", verify)

    def dedup_batch(self, batch, *, threshold: float = 0.7):
        """Batch rows whose normalized content does NOT appear in the
        index — ``dedup_against`` against the persisted key relation,
        reading only the batch's touched key-bucket directories."""
        return self._dedup(batch, self.match_batch(batch, threshold=threshold))

    def append(self, batch) -> None:
        """Ingest ``batch`` keys (append mode, clustered on the hive
        key — same file discipline as the MinHash index)."""
        sig = self._sig_for_append(batch, lambda: self._batch_sig(batch))
        self._write("keys", sig.select(
            F.col("__id").alias("id"), F.col("__key").alias("key"), "__bk"
        ).filter(F.col("key").isNotNull()))

    def _counts(self) -> dict:
        n = self._read("keys").count()
        return {"docs": n, "postings": n}


class PhashIndex(PersistedIndex):
    """Handle over a persisted PERCEPTUAL-HASH dedup index — the
    multimodal member of the persisted-index family: ingest decoded
    media once, then every new increment dedups against corpus + all
    prior increments WITHOUT re-decoding anything. One relation:

        postings/  (bidx, bval, id, ph), hive-partitioned by
                   ``__bk = (bval * bands + bidx) % bucket_dirs``

    and the signature (8 bytes) IS the verifier — no second relation,
    the lightest index of the family (MinHash persists shingle sets,
    ANN persists vectors+codes). The signature is the batch operator's
    shared :func:`~renoir_spark.datapipe.phash_expr`, so a batch
    matched against the index produces byte-identical verdicts to
    :func:`~renoir_spark.datapipe.dedup_phash_against` over corpus ∪
    increments — what the DuckDB mirror (:func:`sql_phash_index_batch`)
    checks bit-exactly."""

    MODE = "phash"
    RELATIONS = {
        "postings": ("bidx int, bval long, id {id_type}, ph long, __bk long",
                     "__bk"),
    }
    SCORE = "hamming int"

    def _batch_sig(self, batch):
        return batch.df.select(
            F.col(self.meta["id_col"]).alias("__id"),
            phash_expr(
                F.col(self.meta["features_col"]), self.meta["bits"]
            ).alias("__ph"),
        ).where(F.col("__ph").isNotNull())  # no decoded evidence ⇒ no match

    def _band_rows(self, sig):
        bands, bits = self.meta["bands"], self.meta["bits"]
        bw = bits // bands
        mask = (1 << bw) - 1
        rows = sig.select(
            "__id", "__ph",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("bidx"),
                            F.shiftright(F.col("__ph"), b * bw)
                            .bitwiseAND(F.lit(mask)).alias("bval"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("__b"),
        )
        return rows.select(
            F.col("__b.bidx").alias("bidx"),
            F.col("__b.bval").alias("bval"),
            ((F.col("__b.bval") * bands + F.col("__b.bidx"))
             % F.lit(self._dirs)).alias("__bk"),
            "__id", "__ph",
        )

    def match_batch(self, batch, *, max_hamming: int = 3):
        """Verified near-duplicate PAIRS between ``batch`` items and
        indexed items: (batch_id, corpus_id, hamming ≤ ``max_hamming``).
        Batch-internal duplicates are NOT reported — that is
        :func:`~renoir_spark.datapipe.dedup_phash` over the batch."""

        def verify(stage, sig, bb, scan):
            return (
                bb.join(self._live(scan).select("bidx", "bval", "id", "ph"),
                        ["bidx", "bval"])
                .withColumn(
                    "__h", F.bit_count(F.col("__ph").bitwiseXOR(F.col("ph")))
                )
                .filter(F.col("__h") <= F.lit(int(max_hamming)))
                .select(
                    F.col("__id").alias("batch_id"),
                    F.col("id").alias("corpus_id"),
                    F.col("__h").cast("int").alias("hamming"),
                )
                .distinct()  # a pair matching in several bands reports once
            )

        return self._probe(batch, self._batch_sig(batch), self._band_rows,
                           "postings", verify)

    def dedup_batch(self, batch, *, max_hamming: int = 3):
        """Rows of ``batch`` not within ``max_hamming`` of any indexed
        item (LSH-band candidates only). The incremental media-ingest
        step: dedup the increment, then :meth:`append` the survivors."""
        return self._dedup(batch,
                           self.match_batch(batch, max_hamming=max_hamming))

    def append(self, batch) -> None:
        """Ingest ``batch`` (SURVIVORS — the index does not re-verify
        what it ingests) into the posting layout. A batch straight out
        of THIS index's :meth:`dedup_batch` reuses the cached batch sig
        (:meth:`_sig_for_append`) — the increment's images are not
        decoded a second time just to band their already-computed
        hashes."""
        sig = self._sig_for_append(batch, lambda: self._batch_sig(batch))
        self._write("postings", self._band_rows(sig).select(
            "bidx", "bval", F.col("__id").alias("id"),
            F.col("__ph").alias("ph"), "__bk",
        ))

    def _counts(self) -> dict:
        pk = self._read("postings")
        return {"items": pk.select("id").distinct().count(),
                "postings": pk.count()}


def phash_index_build(stream, path: str, *,
                      features_col: str = "image_features",
                      id_col: str = "doc_id", bits: int = 48,
                      bands: int = 4, bucket_dirs: int = 64) -> PhashIndex:
    """Build and persist a perceptual-hash dedup index at ``path`` —
    one pass over the decoded corpus feeding one partitioned write.
    ``bits`` must not exceed the decode stage's feature count (the
    dedup_phash band-width contract; no auto-dial here because the
    width is FROZEN into the persisted postings)."""
    assert bits % bands == 0 and bits <= 62
    return PhashIndex._build(stream, path, {
        "id_col": id_col,
        "features_col": features_col,
        "bits": bits,
        "bands": bands,
        "bucket_dirs": bucket_dirs,
        "id_type": dict(stream.df.dtypes)[id_col],
        "mode": "phash",
    })


def phash_index_load(spark, path: str) -> PhashIndex:
    return PhashIndex(spark, path, _load_meta(spark, path))


def dedup_index_build(stream, path: str, *, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 12,
                      bands: int = 4, shingle_n: int = 3,
                      bucket_dirs: int = 64, mode: str = "minhash"):
    """Build and persist a dedup index for ``stream`` at ``path`` — one
    pass over the corpus feeding partitioned writes.

    ``mode="minhash"`` (default): near-duplicate LSH index
    (:class:`DedupIndex`). ``mode="exact"``: normalized-content sha2
    key index (:class:`ExactDedupIndex`) — no shingles, one relation,
    the cheapest incremental decontamination/dedup.

    ``bucket_dirs`` dials the pruning granularity: more directories
    prune harder for small increments but cost more files; 64 keeps a
    10-doc increment reading ≲ 40/64 of the posting table while staying
    far from small-file territory at any corpus size."""
    if mode not in ("minhash", "exact"):
        raise ValueError(f"dedup_index_build: unknown mode {mode!r}")
    cls = ExactDedupIndex if mode == "exact" else DedupIndex
    return cls._build(stream, path, {
        "id_col": id_col,
        "text_col": text_col,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "bucket_dirs": bucket_dirs,
        "id_type": dict(stream.df.dtypes)[id_col],
        "mode": mode,
    })


def dedup_index_load(spark, path: str):
    """Open a persisted dedup index (either mode): one 1-row meta read;
    the data relations stay on disk until a batch probes them. A meta
    written before the mode column existed opens as MinHash."""
    meta = _load_meta(spark, path)
    meta.setdefault("mode", "minhash")
    cls = ExactDedupIndex if meta["mode"] == "exact" else DedupIndex
    return cls(spark, path, meta)


# --------------------------------------------------------------------- #
# DuckDB oracle mirror
# --------------------------------------------------------------------- #

def _sql_index_chain(text: str, id_col: str, *, num_hashes: int,
                     bands: int, shingle_n: int):
    """Tag-parameterized CTE builders shared by the one-shot and
    incremental oracle mirrors: ``chain(tag, expr)`` ends in
    ``buckets_{tag} (id, sh, bidx, bhash)``."""
    rows_per_band = num_hashes // bands
    mh_exprs = ", ".join(
        f"list_min([({a}*h + {b}) % {MINHASH_P} for h in hs]) AS mh{i}"
        for i, (a, b) in enumerate(_mh_params(num_hashes))
    )
    band_exprs = ", ".join(
        sql_md5_int31(
            "("
            + " || '-' || ".join(
                f"mh{bb * rows_per_band + r}::VARCHAR"
                for r in range(rows_per_band)
            )
            + ")"
        )
        + f" AS b{bb}"
        for bb in range(bands)
    )

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT id, sh, {bb} AS bidx, b{bb} AS bhash FROM {src}"
            for bb in range(bands)
        )

    def chain(tag: str, table_expr: str) -> str:
        return f"""base_{tag} AS (
  SELECT {id_col} AS id, {sql_word_shingles(text, shingle_n)} AS sh
  FROM {table_expr}
), hashed_{tag} AS (
  SELECT id, sh, [{sql_md5_int31('s')} for s in sh] AS hs FROM base_{tag}
), sig_{tag} AS (
  SELECT id, sh, {mh_exprs} FROM hashed_{tag}
), bandsig_{tag} AS (
  SELECT id, sh, {band_exprs} FROM sig_{tag}
), buckets_{tag} AS (
  {band_rows(f'bandsig_{tag}')}
)"""

    return chain


def sql_dedup_index_batch(corpus_expr: str, batch_expr: str, text: str,
                          id_col: str, cols: str, *,
                          num_hashes: int = 12, bands: int = 4,
                          shingle_n: int = 3,
                          threshold: float = 0.7) -> str:
    """DuckDB mirror of ``DedupIndex.dedup_batch``: batch rows that
    share an LSH band bucket with a corpus row AND verify at shingle
    Jaccard ≥ threshold are dropped. Same constants, same hash, same
    shingle fallback as the Spark chain — cross-corpus candidates only
    (no batch-internal pairs), exactly the index semantics."""
    chain = _sql_index_chain(text, id_col, num_hashes=num_hashes,
                             bands=bands, shingle_n=shingle_n)
    return f"""
WITH {chain('c', corpus_expr)}, {chain('b', batch_expr)}, cand AS (
  SELECT DISTINCT b.id AS idb, c.id AS idc, b.sh AS sha, c.sh AS shb
  FROM buckets_b b JOIN buckets_c c
    ON b.bidx = c.bidx AND b.bhash = c.bhash
), dups AS (
  SELECT DISTINCT idb FROM cand
  WHERE {_SQL_JACCARD} >= {threshold}
)
SELECT {cols} FROM {batch_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


def sql_dedup_index_incremental(corpus_expr: str, batch1_expr: str,
                                batch2_expr: str, text: str, id_col: str,
                                cols: str, *, num_hashes: int = 12,
                                bands: int = 4, shingle_n: int = 3,
                                threshold: float = 0.7) -> str:
    """DuckDB mirror of the full incremental-ingest round trip:
    ``build(corpus)`` → ``surv1 = dedup_batch(batch1)`` →
    ``append(surv1)`` → ``dedup_batch(batch2)``. Batch-2 survivors are
    batch-2 rows near-duplicate of NEITHER the corpus NOR a batch-1
    survivor — composed in ONE flat WITH (the batch-1 survivor postings
    are just ``buckets_b1`` filtered by ``dups1``, no nested re-derive).
    """
    chain = _sql_index_chain(text, id_col, num_hashes=num_hashes,
                             bands=bands, shingle_n=shingle_n)
    return f"""
WITH {chain('c', corpus_expr)}, {chain('b1', batch1_expr)},
{chain('b2', batch2_expr)}, cand1 AS (
  SELECT DISTINCT b.id AS idb, b.sh AS sha, c.sh AS shb
  FROM buckets_b1 b JOIN buckets_c c
    ON b.bidx = c.bidx AND b.bhash = c.bhash
), dups1 AS (
  SELECT DISTINCT idb FROM cand1
  WHERE {_SQL_JACCARD} >= {threshold}
), ref2 AS (
  SELECT id, sh, bidx, bhash FROM buckets_c
  UNION ALL
  SELECT id, sh, bidx, bhash FROM buckets_b1
  WHERE id NOT IN (SELECT idb FROM dups1)
), cand2 AS (
  SELECT DISTINCT b.id AS idb, b.sh AS sha, c.sh AS shb
  FROM buckets_b2 b JOIN ref2 c
    ON b.bidx = c.bidx AND b.bhash = c.bhash
), dups2 AS (
  SELECT DISTINCT idb FROM cand2
  WHERE {_SQL_JACCARD} >= {threshold}
)
SELECT {cols} FROM {batch2_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups2)
"""


def sql_dedup_index_exact_incremental(corpus_expr: str, batch1_expr: str,
                                      batch2_expr: str, text: str,
                                      id_col: str, cols: str) -> str:
    """DuckDB mirror of the EXACT-mode incremental round trip:
    ``build(corpus, mode='exact')`` → ``surv1 = dedup_batch(batch1)`` →
    ``append(surv1)`` → ``dedup_batch(batch2)``. NOT EXISTS (not
    NOT IN) so a NULL-text row survives on both engines — the left_anti
    semantics of the Spark side."""
    from .datapipe import sql_norm_text

    k = sql_norm_text(text)
    return f"""
WITH ck AS (
  SELECT {k} AS k FROM {corpus_expr}
), b1 AS (
  SELECT {id_col} AS id, {k} AS k FROM {batch1_expr}
), s1 AS (
  SELECT * FROM b1 b
  WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.k = b.k)
), ref2 AS (
  SELECT k FROM ck UNION ALL SELECT k FROM s1 WHERE k IS NOT NULL
), b2 AS (
  SELECT {id_col} AS id, {k} AS k FROM {batch2_expr}
), s2 AS (
  SELECT id FROM b2 b
  WHERE NOT EXISTS (SELECT 1 FROM ref2 r WHERE r.k = b.k)
)
SELECT {cols} FROM {batch2_expr} WHERE {id_col} IN (SELECT id FROM s2)
"""


def sql_phash_index_batch(corpus_expr: str, batch_expr: str,
                          fs_exprs, id_col: str, cols: str, *,
                          bits: int = 48, bands: int = 4,
                          max_hamming: int = 3) -> str:
    """DuckDB mirror of ``phash_index_build(corpus)`` →
    ``PhashIndex.dedup_batch(batch)``: recompute both sides' perceptual
    hashes from ``fs_exprs`` (same float32→double widening and
    left-fold mean as the Spark phash_expr), band them, and drop batch
    rows sharing a band with any corpus row at Hamming ≤
    ``max_hamming``. NOT EXISTS so a NULL-signature batch row (no
    decoded evidence) survives — the Spark side's isNotNull gate."""
    bw = bits // bands
    mask = (1 << bw) - 1
    fs = ", ".join(f"({e})::FLOAT" for e in list(fs_exprs)[:bits])
    total = "0.0::DOUBLE"
    for j in range(bits):
        total = f"({total} + fs[{j + 1}]::DOUBLE)"
    bit_terms = " + ".join(
        f"(CASE WHEN fs[{j + 1}]::DOUBLE >= mean THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )

    def sig(src: str, tag: str) -> str:
        return (
            f"{tag} AS (SELECT {id_col} AS id, ({bit_terms})::BIGINT AS ph"
            f" FROM (SELECT {id_col}, fs, {total} / len(fs) AS mean"
            f" FROM (SELECT {id_col}, [{fs}] AS fs FROM {src})))"
        )

    def band(tag_sig: str, tag: str) -> str:
        rows = " UNION ALL ".join(
            f"SELECT id, ph, {b} AS bidx, (ph >> {b * bw}) & {mask} AS bval"
            f" FROM {tag_sig}"
            for b in range(bands)
        )
        return f"{tag} AS ({rows})"

    return f"""
WITH {sig(corpus_expr, 'csig')}, {sig(batch_expr, 'bsig')},
{band('csig', 'cband')}, {band('bsig', 'bband')},
dups AS (
  SELECT DISTINCT b.id
  FROM bband b JOIN cband c ON b.bidx = c.bidx AND b.bval = c.bval
  WHERE bit_count(xor(b.ph, c.ph)) <= {max_hamming}
)
SELECT {cols} FROM {batch_expr} t
WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.id = t.{id_col})
"""
