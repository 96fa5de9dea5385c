"""Shared loop machinery: timed operations, passes, checks, and the
per-layer figures of traced passes."""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import re
import statistics
import time
from dataclasses import dataclass, field

import check
import spans as tr


@dataclass
class Result:
    setup_s: float = 0.0
    # a typical pass: the per-operation medians over the timed passes,
    # summed (wall_s) and their geometric mean (op_geomean_s), which
    # weighs a change to any one operation by its ratio, not its size
    wall_s: float = 0.0
    op_geomean_s: float = 0.0
    op_medians: dict = field(default_factory=dict)
    pass_walls: list = field(default_factory=list)
    op_times: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0
    host: dict = field(default_factory=dict)


# every per-layer metric, with its unit; a workload that does not
# exercise a layer reports 0 for it
LAYER_UNITS = {
    "stream.build_s": "s", "stream.build_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s", "spark.driver_gap_share": "ratio",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.run_share": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "python.rows_sent": "count", "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes", "python.worker_s": "s",
    "python.stage_run_s": "s",
    "build.jobs": "count", "build.driver_gap_s": "s",
    "ingest.jobs": "count", "ingest.driver_gap_s": "s",
    "probe.jobs": "count", "probe.driver_gap_s": "s",
    "delete.jobs": "count", "delete.driver_gap_s": "s",
    "compact.jobs": "count", "compact.driver_gap_s": "s",
    "index.files": "count", "index.bytes": "bytes",
    "index.bytes_per_input_byte": "ratio",
    "index.files_read_per_probe": "count", "index.files_read_frac": "ratio",
    "streaming.batches": "count", "streaming.empty_batches": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.state_rows_peak": "count",
    "streaming.state_bytes_peak": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.floor_s": "s", "streaming.above_floor_s": "s",
    "cache.rdds_retained": "count",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}

INDEX_OPS = ("build", "ingest", "probe", "delete", "compact")

# timed passes of a run: at least this many, so every operation's time
# is a median of repeats, then more until ``--seconds`` have passed
MIN_PASSES = 2

_UNIT_SCALE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
               "TiB": 1024**4, "ms": 1e-3, "s": 1.0, "m": 60.0,
               "h": 3600.0, "ns": 1e-9}
_STAGE_RE = re.compile(r"stage (\d+)\.\d+")


def parse_sql_metric(text: str) -> tuple[float, set[int]]:
    """(total, stage ids) from a formatted SQL metric value: a plain
    number for sums, "total (min, med, max (stage s.a: task t))\\n<v>
    <unit> (...)" for sizes and timings."""
    text = str(text)
    body = text.split("\n")[-1].split(" (")[0].strip().split()
    try:
        v = float(body[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0, set()
    if len(body) > 1:
        v *= _UNIT_SCALE.get(body[1], 1.0)
    return v, {int(s) for s in _STAGE_RE.findall(text)}


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def free_cached(spark) -> None:
    """Release every cached Dataset and persisted RDD: the operations
    are independent, so none may run against another's blocks."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under a directory."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class Runner:
    """One closed-loop client. Spans are recorded only on traced
    passes; everything else runs the same either way."""

    def __init__(self, spark, trace: bool, work: str):
        self.spark = spark
        self.trace = trace
        self.work = work
        self.tracer = tr.Tracer(False)
        self.store = tr.SparkStore(spark)
        self.res = Result()
        self.layers: list[dict] = []
        self.trace_costs: list[float] = []
        self.all_spans: list = []
        self.op_kinds: list[str] = []
        self.op_names: list[str] = []
        # figures a workload measures itself for the current pass
        self.pass_extra: dict = {}
        os.makedirs(work, exist_ok=True)

    def reset_samples(self) -> None:
        """Forget the warm-up pass's timings (its checks still count)."""
        self.res.op_times.clear()
        self.op_kinds.clear()
        self.op_names.clear()

    # ---------------------------------------------------------------- #
    @contextlib.contextmanager
    def phase(self, name: str):
        s = self.tracer.begin(name)
        try:
            yield
        finally:
            self.tracer.end(s)

    def op(self, name: str, kind: str, body, expect=None):
        """Run one timed operation. ``body()`` returns (value, digest);
        the operation fails on an exception or when the digest differs
        from ``expect`` (a digest, or a callable giving one after the
        body ran; None skips the comparison). Returns (value, seconds,
        ok)."""
        self.res.attempted += 1
        span = self.tracer.begin(name, kind=kind)
        t0 = time.perf_counter()
        err = None
        try:
            value, dg = body()
        except Exception as e:  # noqa: BLE001 - counted, reported
            value, dg, err = None, None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        self.tracer.end(span)
        want = expect() if callable(expect) else expect
        if err is None and want is not None and dg != want:
            err = f"digest {dg} != checked {want}"
        if err is not None:
            self.fail(name, err)
        self.res.op_times.append(dt)
        self.op_kinds.append(kind)
        self.op_names.append(name)
        if span is not None:
            span.attrs["ok"] = err is None
        return value, dt, err is None

    def fail(self, name: str, why: str) -> None:
        self.res.failed += 1
        self.res.failures.append(f"{name}: {why.splitlines()[0][:300]}")

    def _last_op(self):
        ops = [s for s in self.tracer.spans if s.attrs.get("kind")]
        return ops[-1] if self.tracer.enabled and ops else None

    def note_op(self, **kv) -> None:
        """Attach traced-only facts to the operation span just closed."""
        op = self._last_op()
        if op is not None:
            op.attrs.update(kv)

    def attach(self, name: str, start_ms: float, end_ms: float,
               **attrs) -> None:
        """Add a child span (a micro-batch, say) to the operation span
        just closed."""
        op = self._last_op()
        if op is not None:
            self.tracer.child(op, name, start_ms, end_ms, **attrs)

    def after_op(self, result_df=None) -> None:
        """Untimed bookkeeping after an operation's result."""
        if self.tracer.enabled:
            extra = {"rdds_retained": self.store.persisted_rdds()}
            if result_df is not None:
                try:
                    extra["plan_ms"] = tr.plan_ms(result_df)
                except Exception:  # noqa: BLE001 - tracker API drift
                    pass
            self.note_op(**extra)

    def sample_rss(self) -> None:
        self.res.peak_rss_mb = max(self.res.peak_rss_mb,
                                   tr.proc_tree_rss_mb([os.getpid()]))

    # ---------------------------------------------------------------- #
    def passes(self, seconds: float, one_pass) -> None:
        """Repeat ``one_pass()`` at least ``MIN_PASSES`` times and until
        ``seconds`` have been measured. A pass's wall is the summed time
        of its operations: the time the one client waited on the
        program, without the benchmark's own checks between operations.
        ``wall_s`` sums each operation's median over the passes, so one
        slow repeat of one operation moves it little. In a traced run
        every pass is traced; the status stores are read after each
        pass."""
        t_end = time.perf_counter() + seconds
        n = 0
        while n < MIN_PASSES or time.perf_counter() < t_end:
            self.tracer = tr.Tracer(self.trace)
            first_job = self.store.max_job_id() + 1 if self.trace else 0
            first_exec = (self.store.max_execution_id() + 1 if self.trace
                          else 0)
            self.pass_extra = {}
            first_op = len(self.res.op_times)
            root = self.tracer.begin("pass", n=n)
            one_pass()
            self.tracer.end(root)
            self.res.pass_walls.append(sum(self.res.op_times[first_op:]))
            if self.trace:
                self.trace_costs.append(self.tracer.cost_s)
                m = self._layer_pass(root, first_job, first_exec)
                m.update({k: v for k, v in self.pass_extra.items()
                          if k in LAYER_UNITS})
                self.layers.append(m)
                self.all_spans.extend(self.tracer.spans)
            self.sample_rss()
            n += 1
        per_op: dict = {}
        for name, t in zip(self.op_names, self.res.op_times):
            per_op.setdefault(name, []).append(t)
        self.res.op_medians = {k: median(v) for k, v in per_op.items()}
        meds = list(self.res.op_medians.values())
        self.res.wall_s = sum(meds)
        self.res.op_geomean_s = statistics.geometric_mean(meds)

    # ---------------------------------------------------------------- #
    def _layer_pass(self, root, first_job: int, first_exec: int) -> dict:
        """Per-layer figures of one traced pass."""
        t = self.tracer
        self.store.drain()
        jobs = [j for j in self.store.jobs(first_job)
                if root.start <= j["start"] <= root.end]
        ops = [s for s in t.spans if s.attrs.get("kind")]
        spans = [s for s in t.spans if s is not root]

        def owner(ms):
            best = None
            for s in spans:
                if s.start <= ms <= s.end and (best is None
                                               or s.dur_ms < best.dur_ms):
                    best = s
            return best or root

        by_span: dict[int, list] = {}
        for j in jobs:
            o = owner(j["start"])
            t.child(o, "spark.job", j["start"], j["end"], job=j["id"],
                    stages=j["stages"])
            by_span.setdefault(o.id, []).append(j)

        def jobs_under(s) -> list:
            out = list(by_span.get(s.id, []))
            for c in spans:
                if c.parent == s.id:
                    out.extend(jobs_under(c))
            return out

        def busy_ms(js, lo, hi):
            return tr.union_ms([(max(j["start"], lo), min(j["end"], hi))
                                for j in js if min(j["end"], hi) >
                                max(j["start"], lo)])

        # jobs outside every operation are the benchmark's own checks
        jobs = [j for j in jobs if owner(j["start"]) is not root]
        stage_ids = {s for j in jobs for s in j["stages"]}
        stages = self.store.stages(stage_ids)
        wall_ms = sum(s.dur_ms for s in ops)
        busy_ms_ = sum(busy_ms(jobs_under(s), s.start, s.end) for s in ops)
        wall_s, busy = wall_ms / 1e3, busy_ms_ / 1e3
        m = {k: 0.0 for k in LAYER_UNITS}
        m["spark.jobs"] = len(jobs)
        m["spark.stages"] = len(stages)
        m["spark.tasks"] = sum(s["tasks"] for s in stages.values())
        m["spark.job_busy_s"] = busy
        m["spark.driver_gap_s"] = wall_s - busy
        m["spark.driver_gap_share"] = (wall_s - busy) / wall_s
        m["spark.plan_s"] = sum(s.attrs.get("plan_ms", 0.0) for s in ops) / 1e3
        m["exec.run_s"] = sum(s["run_ms"] for s in stages.values()) / 1e3
        m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages.values()) / 1e9
        m["exec.gc_s"] = sum(s["gc_ms"] for s in stages.values()) / 1e3
        m["exec.run_share"] = m["exec.run_s"] / wall_s
        m["shuffle.write_bytes"] = sum(s["sh_w"] for s in stages.values())
        m["shuffle.read_bytes"] = sum(s["sh_r"] for s in stages.values())
        m["shuffle.fetch_wait_s"] = sum(
            s["fetch_ms"] for s in stages.values()) / 1e3
        m["shuffle.spill_bytes"] = sum(s["spill"] for s in stages.values())
        builds = [s for s in spans if s.name == "build"]
        m["stream.build_s"] = sum(s.dur_ms for s in builds) / 1e3
        m["stream.build_jobs"] = sum(len(jobs_under(s)) for s in builds)
        m["cache.rdds_retained"] = sum(
            s.attrs.get("rdds_retained", 0) for s in ops)

        # Python exec nodes and file scans, from the SQL executions
        execs = [e for e in self.store.sql_executions(first_exec)
                 if root.start <= e["start"] <= root.end]
        py_stages: set[int] = set()
        files_by_op: dict[int, float] = {}
        for e in execs:
            o = owner(e["start"])
            while o is not root and not o.attrs.get("kind"):
                o = next(s for s in spans if s.id == o.parent)
            if o is root:
                continue
            files_by_op[o.id] = files_by_op.get(o.id, 0) + e["files_read"]
            for name, text in e["py_metrics"]:
                v, st = parse_sql_metric(text)
                if name == "data sent to Python workers":
                    m["python.bytes_sent"] += v
                elif name == "data returned from Python workers":
                    m["python.bytes_returned"] += v
                elif name == "time to run Python workers":
                    m["python.worker_s"] += v
                    py_stages |= st
                elif name == "rows sent":
                    m["python.rows_sent"] += v
        m["python.stage_run_s"] = sum(
            stages[s]["run_ms"] for s in py_stages if s in stages) / 1e3

        # persisted-index operation types
        probes = []
        for kind in INDEX_OPS:
            ks = [s for s in ops if s.attrs.get("kind") == kind]
            for s in ks:
                js = jobs_under(s)
                m[f"{kind}.jobs"] += len(js)
                m[f"{kind}.driver_gap_s"] += (
                    s.dur_ms - busy_ms(js, s.start, s.end)) / 1e3
            if kind == "probe":
                probes = ks
        if probes:
            read = [files_by_op.get(s.id, 0) for s in probes]
            m["index.files_read_per_probe"] = sum(read) / len(read)
            fracs = [r / s.attrs["index_files"] for r, s in zip(read, probes)
                     if s.attrs.get("index_files")]
            m["index.files_read_frac"] = median(fracs)
        return m

    # ---------------------------------------------------------------- #
    def finish_layers(self, extra: dict | None = None) -> None:
        """Per-layer result: the median over traced passes of each
        figure, plus the tracing overhead."""
        out = {}
        for k, unit in LAYER_UNITS.items():
            out[k] = {"value": median([p.get(k, 0.0) for p in self.layers]),
                      "unit": unit}
        for k, v in (extra or {}).items():
            out[k]["value"] = v
        # the traced wall; minus the untraced runs' wall_s it is the
        # tracing overhead, of which trace.overhead_s is the part spent
        # in span bookkeeping inside the timed operations
        out["trace.wall_s"]["value"] = self.res.wall_s
        out["trace.overhead_s"]["value"] = median(self.trace_costs)
        self.res.per_layer = out
        path = os.path.join(self.work, "spans.jsonl")
        t = tr.Tracer(True)
        t.spans = self.all_spans
        t.dump(path)


# -------------------------------------------------------------------- #
# oracle results, cached per (query, oracle SQL, input files)
# -------------------------------------------------------------------- #

def duck_connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_key(query: str, sql: str, files) -> str:
    """Cache key of an oracle result: the query name plus a hash of its
    SQL and of the bytes of every input file it reads, so an edited
    oracle or input generator never reuses a stale result."""
    h = hashlib.sha256(sql.encode())
    for path in files:
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return f"{query}-{h.hexdigest()[:20]}"


def oracle_rows(cache_dir: str, key: str, compute):
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, re.sub(r"[^\w.-]", "_", key) + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rows = compute()
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(rows, f)
    os.replace(tmp, path)
    return rows


def oracle_digest(spark, schema, oracle) -> tuple:
    """Digest of the oracle's rows laid out in the Spark result's
    schema: equal to the Spark result's digest exactly when the two
    results hold the same rows."""
    import decimal

    from pyspark.sql import types as T

    cols, rows = oracle
    pos = {c: i for i, c in enumerate(cols)}
    names = [f.name for f in schema.fields]
    if sorted(names) != sorted(cols):
        raise ValueError(f"columns differ: {sorted(names)} vs {cols}")

    def conv(v, dt):
        if v is None:
            return None
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return float(v)
        if isinstance(dt, T.ArrayType):
            return [conv(x, dt.elementType) for x in v]
        if isinstance(v, decimal.Decimal) and not isinstance(
                dt, T.DecimalType):
            return int(v)
        return v

    fields = schema.fields
    data = [tuple(conv(r[pos[f.name]], f.dataType) for f in fields)
            for r in rows]
    return check.digest(spark.createDataFrame(data, schema,
                                              verifySchema=False))
