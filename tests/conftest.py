import os
import sys

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("renoir_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="session")
def ctx(spark):
    from renoir_spark import StreamContext

    return StreamContext(spark)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def table_path(name: str) -> str:
    return f"{SF_DIR}/{name}.parquet"


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(t)}')"
        )
    return con


def rows_to_sorted_tuples(rows, ndigits=6):
    def norm(v):
        if isinstance(v, float):
            return round(v, ndigits)
        return v

    out = []
    for r in rows:
        d = r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r)
        out.append(tuple(norm(d[k]) for k in sorted(d)))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def duck_to_sorted_tuples(con, sql, ndigits=6):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        out.append(
            tuple(
                round(d[k], ndigits) if isinstance(d[k], float) else d[k]
                for k in sorted(d)
            )
        )
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


# -------------------------------------------------------------------- #
# persisted-index test helpers
# -------------------------------------------------------------------- #

def layout(spark, path):
    """{relation dir: (schema read back, partition columns)}."""
    out = {}
    for sub in sorted(os.listdir(path)):
        d = f"{path}/{sub}"
        parts = sorted({x.split("=")[0] for x in os.listdir(d) if "=" in x})
        out[sub] = (spark.read.parquet(d).schema.simpleString(), parts)
    return out


def persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def fail_after_prune(monkeypatch):
    """Make every index-side ``prune_partitions`` run its key collect —
    which materializes the staged batch relation — and then raise."""
    from renoir_spark import util

    real = util.prune_partitions

    def boom(*a, **k):
        real(*a, **k)
        raise RuntimeError("probe failed (injected)")

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("renoir_spark")
                and getattr(mod, "prune_partitions", None) is real):
            monkeypatch.setattr(mod, "prune_partitions", boom)
