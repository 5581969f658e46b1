"""JVM-literal inline DataFrames (optimization r10, guide §4).

``spark.createDataFrame(list_of_tuples)`` builds a PYTHON RDD: the rows
are pickled on the driver and every downstream ACTION re-evaluates them
through a Python worker (the task blocks in
``BasePythonRunner$ReaderInputStream.read`` — measured 4–7 s of flat
latency per parquet write of a ONE-ROW index-parameter table, every
execution). The plan-quality gate never saw it because it is an RDD
scan, not a ``BatchEvalPython`` SQL node.

:func:`values_df` builds the same relation as a single SQL ``VALUES``
text parsed server-side in ONE py4j call (the ``const_dot_sql`` idiom):
the result is a JVM-local inline table — zero Python involvement at
action time, and the literal rendering is exact (``repr(float)``
round-trips doubles bit-for-bit, the same trick ``ivf_index_topk`` uses
for the spliced query vector).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v) + "D"
    if isinstance(v, str):
        body = v.replace("\\", "\\\\").replace("'", "\\'")
        return "'" + body + "'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_lit(x) for x in v) + ")"
    raise TypeError(f"values_df: unsupported literal {type(v).__name__}")


def _split_fields(schema: str) -> list[tuple[str, str]]:
    """Split 'a int, b array<double>' into [(name, type), ...] honoring
    nested angle brackets."""
    fields: list[tuple[str, str]] = []
    depth, cur = 0, ""
    for ch in schema + ",":
        if ch == "," and depth == 0:
            part = cur.strip()
            if part:
                name, typ = part.split(None, 1)
                fields.append((name, typ.strip()))
            cur = ""
            continue
        depth += ch == "<"
        depth -= ch == ">"
        cur += ch
    return fields


def values_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame of literal ``rows`` with the given DDL ``schema``,
    built as a JVM inline table (``SELECT CAST(...) FROM VALUES ...``)
    — the Python-boundary-free replacement for
    ``spark.createDataFrame(rows, schema)`` on driver-computed
    literals. Supports int/float/str/bool/None and (nested) lists;
    floats render via ``repr`` so the parsed double is bit-identical."""
    from pyspark.sql.types import StructType

    fields = _split_fields(schema)
    if not rows:
        casts = ", ".join(
            f"CAST(NULL AS {t}) AS {n}" for n, t in fields
        )
        return spark.sql(f"SELECT {casts} WHERE 1 = 0")
    tuples = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    casts = ", ".join(
        f"CAST(c{i} AS {t}) AS {n}" for i, (n, t) in enumerate(fields)
    )
    df = spark.sql(f"SELECT {casts} FROM (VALUES {tuples}) AS _v({cols})")
    # createDataFrame marks every field nullable; literal CASTs come out
    # non-nullable — reconcile so the frame is schema-identical to what
    # it replaces (unions, parquet footers, pinned-schema tests)
    return df.to(StructType.fromDDL(schema))
