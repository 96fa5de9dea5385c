"""Output checks: full-result digests and DuckDB oracle comparison.

A timed operation never uses ``count()``: Catalyst prunes every column
a count does not need, so projection-only work (regex, UDFs) would
vanish from the timed plan. :func:`digest` instead folds a hash of
every output column into three order-insensitive aggregates, which
forces all columns to be computed and still returns one row.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

_PRIME = 1_000_000_007


def _digest_col(field: T.StructField):
    c = F.col(f"`{field.name}`")
    dt = field.dataType
    if isinstance(dt, (T.MapType, T.StructType, T.ArrayType)):
        # maps are not hashable in Spark; nested floats need the same
        # canonical form as top-level ones
        return F.to_json(F.struct(c.alias("v")))
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        # 12 significant digits: stable under summation-order noise
        return F.format_string("%.12g", c.cast("double"))
    return c


def digest_frame(df):
    """The one-row digest aggregate of ``df`` (a DataFrame, unexecuted)."""
    h = F.xxhash64(F.lit(1), *[_digest_col(f) for f in df.schema.fields])
    return df.select(h.alias("__h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.col("__h"), F.lit(_PRIME))).alias("s"),
        F.bit_xor(F.col("__h")).alias("x"),
    )


def digest_of(row) -> tuple:
    """The digest tuple from the row :func:`digest_frame` returns."""
    return (int(row["n"]), int(row["s"] or 0), int(row["x"] or 0))


def digest(df) -> tuple:
    """(rows, sum-of-hashes mod p, xor-of-hashes) over every column."""
    return digest_of(digest_frame(df).collect()[0])


# -------------------------------------------------------------------- #
# oracle comparison (untimed)
# -------------------------------------------------------------------- #

def _key(t):
    return tuple(str(x) for x in t)


def spark_rows(df) -> tuple[list, list]:
    cols = sorted(df.columns)
    rows = [tuple(r.asDict(recursive=True)[c] for c in cols)
            for r in df.collect()]
    return cols, rows


def duck_rows(con, sql: str) -> tuple[list, list]:
    """(sorted column names, rows in that column order) of a DuckDB
    query."""
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    idx = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(r[i] for i in idx) for r in res.fetchall()]
    return [names[i] for i in idx], rows


def first_difference(a: tuple[list, list], b: tuple[list, list]) -> str:
    """A one-line account of how two (columns, rows) results differ,
    compared order-insensitively; used to explain a digest mismatch."""
    (ca, ra), (cb, rb) = a, b
    if ca != cb:
        return f"columns differ: {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"row counts differ: {len(ra)} vs {len(rb)}"
    for x, y in zip(sorted(ra, key=_key), sorted(rb, key=_key)):
        if x != y:
            return f"first differing rows: {x} vs {y}"
    return "rows equal, digests differ"
