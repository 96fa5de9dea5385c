#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of renoir_spark).

    python3 perfbench/selftest.py

Also collectable by pytest: ``python -m pytest perfbench/selftest.py``.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402

_GENERATORS = {
    "floor_queries": lambda s, d: inputs.floor_queries(s, d),
    "dedup_scale": lambda s, d: inputs.dedup_scale(s, d),
    "index_ingest": lambda s, d: inputs.index_ingest(s, d, 2),
    "stream_drain": lambda s, d: inputs.stream_drain(s, d, 0.25),
}
_SPARK = None


def _tmpdir():
    """A scratch directory inside ``perfbench/.work``."""
    base = os.path.join(run.WORK, "selftest")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


def _files_digest(seed: int, gen) -> tuple[dict, dict]:
    with _tmpdir() as d:
        info = gen(seed, d)
        out = {}
        for base, _, files in os.walk(d):
            for f in files:
                path = os.path.join(base, f)
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, d)] = hashlib.sha256(
                        fh.read()).hexdigest()
        return out, info


def test_one_seed_regenerates_byte_identical_inputs():
    for name, gen in _GENERATORS.items():
        a, ia = _files_digest(7, gen)
        b, ib = _files_digest(7, gen)
        assert a == b and ia == ib, f"{name}: seed 7 not reproducible"


def test_two_seeds_give_different_inputs():
    for name, gen in _GENERATORS.items():
        a, _ = _files_digest(7, gen)
        b, _ = _files_digest(8, gen)
        assert a.keys() == b.keys(), name
        assert a != b, f"{name}: seeds 7 and 8 wrote identical inputs"


def test_replicas_keep_near_duplicates_apart():
    """A replica's document shares few 3-shingles with its original."""
    with _tmpdir() as d:
        inputs.dedup_scale(3, d)
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
        text = dict(zip(t["doc_id"], t["text"]))

        def sh(s):
            w = s.split(" ")
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

        jac = []
        for i, s in list(text.items())[:200]:
            r = text.get(i + 10_000_000)
            if s and r and len(s.split(" ")) > 8:
                a, b = sh(s), sh(r)
                jac.append(len(a & b) / len(a | b))
        assert jac and max(jac) < 0.5, max(jac)


def _spark():
    global _SPARK
    if _SPARK is None:
        _SPARK = run.start_spark(2, 1024)
    return _SPARK


def test_timed_plan_keeps_projection_work():
    """The digest a timed operation computes keeps the regex work of a
    projection-only query; a count() plan would prune it."""
    import check
    from renoir_spark import suite

    spark = _spark()
    with _tmpdir() as d:
        inputs.floor_queries(1, d)
        for q in ("q70_pii_redact", "q47_token_count"):
            df = suite.QUERIES[q](spark, d)
            timed = check.digest_frame(df)._jdf.queryExecution() \
                .optimizedPlan().toString()
            counted = df.groupBy().count()._jdf.queryExecution() \
                .optimizedPlan().toString()
            assert "regexp" in timed, f"{q}: digest plan lost its regex"
            assert "regexp" not in counted, (
                f"{q}: count() plan keeps its regex, so the contrast this "
                "test guards is gone")


def test_oracle_digest_equals_result_digest():
    import check
    import harness

    spark = _spark()
    df = spark.createDataFrame(
        [(1, "a", 0.5, [1.0, 2.0]), (2, None, None, None)],
        "k int, s string, x double, v array<double>")
    rows = (["k", "s", "v", "x"],
            [(2, None, None, None), (1, "a", [1.0, 2.0], 0.5)])
    assert harness.oracle_digest(spark, df.schema, rows) == check.digest(df)
    wrong = (rows[0], [(2, None, None, None), (1, "a", [1.0, 2.0], 0.25)])
    assert harness.oracle_digest(spark, df.schema, wrong) != check.digest(df)


if __name__ == "__main__":
    tests = [test_one_seed_regenerates_byte_identical_inputs,
             test_two_seeds_give_different_inputs,
             test_replicas_keep_near_duplicates_apart,
             test_timed_plan_keeps_projection_work,
             test_oracle_digest_equals_result_digest]
    bad = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as e:  # noqa: BLE001 - report every test
            bad += 1
            print(f"FAIL {t.__name__}: {type(e).__name__}: {e}")
    if _SPARK is not None:
        _SPARK.stop()
    sys.exit(1 if bad else 0)
