"""The workloads. Each takes (spark, seed, seconds, trace, work) and
returns a :class:`harness.Result`.

``floor_mix`` runs operations whose time the per-operation fixed cost
sets (small batch queries, one persisted-index lifecycle, streaming
drains); ``dedup_scale`` runs Python/Arrow kernels over a replicated
corpus, whose time data volume sets."""

from __future__ import annotations

import os
import time
from datetime import datetime

import check
import harness
import inputs
from harness import Runner, free_cached

# Small queries on the Spark job floor: one of the driver-bound tail
# and a projection-only text kernel (whose work a count() would prune).
FLOOR_QUERIES = [
    "qa34_training_order",
    "q47_token_count",
]

# Perceptual-hash dedup (Arrow decode and signature stages in Python
# workers) over the replicated corpus: data volume, not the job floor,
# sets its time.
DEDUP_SCALE = [
    "qa44_dedup_phash",
]

# the tables the batch queries of both workloads read
BATCH_TABLES = ("documents",)


def _gen_median(runner: Runner, gen, n: int = 3) -> float:
    """Generate the inputs ``n`` times; returns the median time."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        info = gen()
        times.append(time.perf_counter() - t0)
    runner.res.host.update(info)
    return harness.median(times)


class BatchPart:
    """Declared suite queries, each timed to its full-result digest.

    The expected digest of a query is its DuckDB oracle's rows, digested
    in the Spark result's schema (oracle rows are cached by oracle SQL
    and input bytes), so every operation, the untimed warm-up pass
    included, is checked."""

    def __init__(self, r: Runner, queries, data: str):
        self.r, self.queries, self.data = r, queries, data
        self.con = harness.duck_connect(data, BATCH_TABLES)
        self.cache = os.path.join(os.path.dirname(r.work), "oracle_cache")
        self.oracle: dict = {}
        self.expect: dict = {}

    def _query(self, q: str) -> None:
        from renoir_spark import suite

        r, spark = self.r, self.r.spark
        got = {}

        def body():
            with r.phase("build"):
                got["df"] = suite.QUERIES[q](spark, self.data)
            with r.phase("action"):
                got["dfd"] = check.digest_frame(got["df"])
                dg = check.digest_of(got["dfd"].collect()[0])
            return dg, dg

        dg, _, ok = r.op(q, "query", body, expect=self.expect.get(q))
        if not ok and q not in self.expect:
            # never checked: every later run of it fails too
            self.expect[q] = ("unchecked",)
        elif ok and q not in self.expect:
            # warm-up pass: the oracle check, untimed
            key = harness.oracle_key(q, suite.ORACLE[q], [
                os.path.join(self.data, f"{t}.parquet")
                for t in BATCH_TABLES])
            self.oracle[q] = harness.oracle_rows(
                self.cache, key,
                lambda: check.duck_rows(self.con, suite.ORACLE[q]))
            self.expect[q] = harness.oracle_digest(
                spark, got["df"].schema, self.oracle[q])
            if dg != self.expect[q]:
                r.fail(q, "oracle mismatch: " + check.first_difference(
                    check.spark_rows(got["df"]), self.oracle[q]))
        r.after_op(got.get("dfd"))
        free_cached(spark)

    def run(self, checking: bool = False) -> None:
        for q in self.queries:
            self._query(q)
        if checking:
            self.con.close()

    def detail(self) -> dict:
        r = self.r
        per_q: dict = {}
        for q, t in zip(r.op_names, r.res.op_times):
            if q in self.queries:
                per_q.setdefault(q, []).append(t)
        times = [t for v in per_q.values() for t in v]
        return {"query_s": {q: harness.median(v) for q, v in per_q.items()},
                "query_p50_s": {"value": harness.median(times), "unit": "s",
                                "samples": len(times)}}


# -------------------------------------------------------------------- #
# ingest: persisted-index increments and streaming drains
# -------------------------------------------------------------------- #

N_INCREMENTS = 1
# share of the events table a drain replays
STREAM_SHARE = 0.15
# id offset of the survivor copies a check probe sends
COPY = 900_000_000


def _docs(ctx, data, name):
    return ctx.stream_parquet(f"{data}/{name}.parquet")


def _index_lifecycle(r: Runner, ctx, data: str, plan: dict, expect: dict,
                     checking: bool):
    """An exact-dedup index over document text: build -> per increment:
    probe, ingest (dedup_batch + append), delete -> compact. The warm-up
    pass (``checking``) also checks, untimed, that appended survivors are
    found by a later probe, that deleted ids never come back and that
    compact leaves the probe result unchanged; it records the probe
    digests later passes must reproduce. Returns the index's (files,
    bytes) on disk, or None when the build failed."""
    from functools import reduce

    from pyspark.sql import functions as F

    path = os.path.join(r.work, "index")
    spark = r.spark
    deletes = plan["deletes"]
    per_round = len(deletes) // N_INCREMENTS
    state: dict = {}

    def timed(name, op_kind, fn, key=None):
        files = (harness.dir_stats(path)[0]
                 if r.tracer.enabled and op_kind == "probe" else None)
        got = {}

        def body():
            v = fn()
            got["dg"] = check.digest(v.df) if key else None
            return None, got["dg"]

        want = None if checking or key is None else (lambda: expect.get(key))
        _, _, ok = r.op(name, op_kind, body, want)
        if files is not None:
            r.note_op(index_files=files)
        if checking and key:
            expect[key] = got["dg"] if ok else ("unchecked",)
        r.after_op()
        free_cached(spark)
        return ok

    def do_build():
        state["idx"] = _docs(ctx, data, "doc_corpus").dedup_index_build(
            path, text_col="text", id_col="doc_id", bucket_dirs=16,
            mode="exact")

    if not timed("exact.build", "build", do_build):
        return None
    idx = state["idx"]
    survivors: set = set()
    deleted: set = set()
    for j in range(N_INCREMENTS):
        inc = f"doc_inc{j}"
        timed(f"exact.probe.{j}", "probe",
              lambda: idx.match_batch(_docs(ctx, data, inc)), key=f"p{j}")

        def ingest():
            s = idx.dedup_batch(_docs(ctx, data, inc))
            if checking:
                survivors.update(
                    row[0] for row in s.df.select("doc_id").collect())
            idx.append(s)

        timed(f"exact.ingest.{j}", "ingest", ingest)
        dels = [int(x) for x in deletes[j * per_round:(j + 1) * per_round]]
        ids = spark.createDataFrame([(x,) for x in dels], "doc_id long")
        timed(f"exact.delete.{j}", "delete", lambda: idx.delete_batch(ids))
        deleted.update(dels)

    def check_probe() -> tuple:
        """Probe with every increment, the deleted corpus rows, and a
        copy of every appended survivor under a fresh id (id + COPY)."""
        parts = [_docs(ctx, data, f"doc_inc{j}").df
                 for j in range(N_INCREMENTS)]
        parts.append(_docs(ctx, data, "doc_corpus").filter(
            F.col("doc_id").isin(sorted(deleted))).df)
        parts.extend(
            _docs(ctx, data, f"doc_inc{j}").df
            .filter(F.col("doc_id").isin(sorted(survivors)))
            .withColumn("doc_id", F.col("doc_id") + COPY)
            for j in range(N_INCREMENTS))
        m = idx.match_batch(ctx.from_df(reduce(
            lambda x, y: x.unionByName(y), parts)))
        rows = sorted(tuple(row) for row in m.df.select(
            "batch_id", "corpus_id", "jac").collect())
        free_cached(spark)
        pairs = {(b, c) for b, c, _ in rows}
        found = {c for b, c in pairs if b == c + COPY}
        if not survivors <= found:
            r.fail("exact.ingest", f"{len(survivors - found)} appended "
                   "survivors not found by a later probe")
        back = {c for _, c in pairs} & deleted
        if back:
            r.fail("exact.delete", f"{len(back)} deleted ids came back")
        return rows

    before = check_probe() if checking else None
    timed("exact.compact", "compact", idx.compact)
    if checking and check_probe() != before:
        r.fail("exact.compact", "compact changed the probe result")
    return harness.dir_stats(path)


def _drain_mismatch(spark, ctx, leg: str, path: str, sink) -> str | None:
    """Why a warm-up drain's output is wrong, or None. The no-op drain
    must equal its input. highest_bid must emit windows, each equal to
    the batch run of the same operator over the spool, and every window
    the final watermark closed (the streaming == batch rule of the
    repo's NEXMark tests); the one window the watermark reaches exactly
    may be emitted or not."""
    import streams

    if leg == "noop":
        src = spark.read.schema(streams.EVENT_SCHEMA).parquet(path)
        if check.digest(sink) != check.digest(src):
            return "no-op drain lost or changed rows"
        return None
    cols = ("win_s", "auction", "price", "bidder")
    got = [tuple(row) for row in sink.select(*cols).collect()]
    rows, wm = streams.highest_bid_batch(ctx, spark, path)
    want = {tuple(row[c] for c in cols) for row in rows}
    closed = {w for w in want if w[0] + streams.HB_SIZE_S < wm}
    if not got:
        return "drain emitted no windows"
    if len(set(got)) != len(got):
        return "drain emitted a window twice"
    if not set(got) <= want:
        return f"{len(set(got) - want)} windows differ from the batch run"
    if not closed <= set(got):
        return f"{len(closed - set(got))} closed windows missing"
    return None


def _drain_leg(r: Runner, ctx, leg: str, spool: tuple, expect: dict,
               checking: bool, stream_stats: list) -> None:
    import streams

    path, rows = spool
    ckpt = os.path.join(r.work, "ckpt", f"{leg}-{time.time_ns()}")
    out = {}

    def body():
        built = streams.LEGS[leg](ctx, r.spark, path)
        df = built.df if hasattr(built, "df") else built
        dt, done, progress, name = streams.drain(r.spark, df, ckpt)
        out.update(dt=dt, done=done, progress=progress, name=name)
        if not done:
            raise RuntimeError(f"drain did not terminate within "
                               f"{streams.DRAIN_TIMEOUT_S} s")
        return None, None

    _, dt, ok = r.op(f"drain.{leg}", "drain", body)
    if "name" in out:
        sink = r.spark.table(out["name"])
        dg = check.digest(sink)
        if checking:
            expect[leg] = dg if ok else ("unchecked",)
            why = _drain_mismatch(r.spark, ctx, leg, path, sink) if ok \
                else None
            if why:
                r.fail(f"drain.{leg}", why)
        elif ok and dg != expect.get(leg):
            r.fail(f"drain.{leg}", f"digest {dg} != checked "
                   f"{expect.get(leg)}")
        r.spark.catalog.dropTempView(out["name"])
        stream_stats.append({"leg": leg, "dt": out["dt"], "rows": rows,
                             "progress": out["progress"]})
        for p in out["progress"]:
            t0 = datetime.fromisoformat(p["timestamp"]).timestamp() * 1e3
            r.attach("streaming.batch", t0,
                     t0 + p["durationMs"].get("triggerExecution", 0),
                     batch=p.get("batchId"), rows=p.get("numInputRows"))
    r.after_op()
    free_cached(r.spark)


def _stream_figures(stats: list) -> dict:
    """Streaming-layer figures of one pass, from the drains' progress."""
    m = {}
    floor = [s["dt"] for s in stats if s["leg"] == "noop"]
    stateful = [s for s in stats if s["leg"] != "noop"]
    batches = [p for s in stats for p in s["progress"]]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    ops = [o for p in batches for o in p.get("stateOperators", [])]
    m["streaming.batches"] = len(batches)
    m["streaming.empty_batches"] = sum(
        1 for p in batches if not p.get("numInputRows"))
    for key, k in (("add_batch", "addBatch"),
                   ("query_planning", "queryPlanning"),
                   ("wal_commit", "walCommit"),
                   ("commit_offsets", "commitOffsets")):
        m[f"streaming.{key}_ms_p50"] = harness.median(
            [dur(p, k) for p in batches])
    m["streaming.state_rows_peak"] = max(
        [sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
         for p in batches] or [0])
    m["streaming.state_bytes_peak"] = max(
        [sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators",
                                                          []))
         for p in batches] or [0])
    m["streaming.state_commit_ms"] = sum(o.get("commitTimeMs", 0)
                                         for o in ops)
    m["streaming.floor_s"] = harness.median(floor)
    m["streaming.above_floor_s"] = sum(
        s["dt"] - m["streaming.floor_s"] for s in stateful)
    trig = [dur(p, "triggerExecution") / 1e3 for s in stateful
            for p in s["progress"]]
    m["microbatch_p50_s"] = harness.median(trig)
    t = sum(s["dt"] for s in stateful)
    m["events_per_s"] = sum(s["rows"] for s in stateful) / t if t else 0.0
    return m


class IngestPart:
    """The persisted-index lifecycle and the streaming drains."""

    def __init__(self, r: Runner, data: str, plan: dict, spool: tuple):
        from renoir_spark import StreamContext

        self.r, self.data, self.plan, self.spool = r, data, plan, spool
        self.ctx = StreamContext(r.spark)
        self.expect_idx: dict = {}
        self.expect_leg: dict = {}
        self.figures: list[dict] = []
        self.index_files = (0, 0)

    def run(self, checking: bool = False) -> None:
        import streams

        r = self.r
        on_disk = _index_lifecycle(r, self.ctx, self.data, self.plan,
                                   self.expect_idx, checking)
        if on_disk is not None:
            self.index_files = on_disk
        stats: list = []
        for leg in streams.LEGS:
            _drain_leg(r, self.ctx, leg, self.spool, self.expect_leg,
                       checking, stats)
        if not checking:
            self.figures.append(_stream_figures(stats))
            r.pass_extra.update(self.figures[-1])

    def detail(self) -> dict:
        r = self.r
        kinds: dict = {}
        for k, t in zip(r.op_kinds, r.res.op_times):
            kinds.setdefault(k, []).append(t)
        fig = lambda k: harness.median(  # noqa: E731
            [f[k] for f in self.figures])
        out = {"build_s": {"value": harness.median(kinds.get("build", [])),
                           "unit": "s"},
               "compact_s": {"value": harness.median(
                   kinds.get("compact", [])), "unit": "s"}}
        for k in ("ingest", "probe", "delete", "drain"):
            out[f"{k}_p50_s"] = {"value": harness.median(kinds.get(k, [])),
                                 "unit": "s",
                                 "samples": len(kinds.get(k, []))}
        out["events_per_s"] = {"value": fig("events_per_s"), "unit": "1/s"}
        out["microbatch_p50_s"] = {"value": fig("microbatch_p50_s"),
                                   "unit": "s"}
        return out

    def index_layers(self) -> dict:
        files, size = self.index_files
        in_bytes = sum(os.path.getsize(os.path.join(self.data, f))
                       for f in os.listdir(self.data)
                       if f.startswith("doc_"))
        return {"index.files": files, "index.bytes": size,
                "index.bytes_per_input_byte": size / in_bytes}


def _run(spark, seed, seconds, trace, work, *, queries, gen,
         ingest=False):
    """``ingest``: whether every pass runs the index lifecycle and the
    streaming drains after the queries."""
    import streams

    inputs.reset_dir(work)
    r = Runner(spark, trace, work)
    data = os.path.join(work, "inputs")
    plan: dict = {}

    def generate():
        inputs.reset_dir(data)
        info = gen(seed, data)
        plan.update(info)
        return {k: v for k, v in info.items() if not k.startswith("deletes")}

    r.res.setup_s = _gen_median(r, generate)
    parts = [BatchPart(r, queries, os.path.join(data, "batch"))]
    if ingest:
        parts.append(IngestPart(r, os.path.join(data, "index"), plan,
                                streams.spool(os.path.join(data, "stream"))))

    # warm-up pass: checked like every other; its operation times (the
    # cold cost a first user pays) count as set-up, its checks do not
    for p in parts:
        p.run(checking=True)
    r.res.setup_s += sum(r.res.op_times)
    r.reset_samples()
    r.passes(seconds, lambda: [p.run() for p in parts])
    r.res.detail = {"passes": len(r.res.pass_walls),
                    "op_s": r.res.op_medians}
    for p in parts:
        r.res.detail.update(p.detail())
    if trace:
        extra = parts[1].index_layers() if ingest else {}
        r.finish_layers(extra)
    return r.res


def _floor_inputs(seed: int, data: str) -> dict:
    info = {}
    for sub, gen in (("batch", inputs.floor_queries),
                     ("index", lambda s, d: inputs.index_ingest(
                         s, d, N_INCREMENTS)),
                     ("stream", lambda s, d: inputs.stream_drain(
                         s, d, STREAM_SHARE))):
        d = os.path.join(data, sub)
        os.makedirs(d)
        info.update(gen(seed, d))
    return info


def _dedup_inputs(seed: int, data: str) -> dict:
    d = os.path.join(data, "batch")
    os.makedirs(d)
    return inputs.dedup_scale(seed, d)


def floor_mix(spark, *, seed, seconds, trace, work):
    return _run(spark, seed, seconds, trace, work,
                queries=FLOOR_QUERIES, gen=_floor_inputs, ingest=True)


def dedup_scale(spark, *, seed, seconds, trace, work):
    return _run(spark, seed, seconds, trace, work,
                queries=DEDUP_SCALE, gen=_dedup_inputs)


WORKLOADS = {
    "floor_mix": floor_mix,
    "dedup_scale": dedup_scale,
}
