"""Cache-stable literal tables.

``spark.createDataFrame(rows)`` in PySpark produces an RDD-backed logical
relation whose canonicalized plan embeds the RDD identity, so two calls with
IDENTICAL data are never ``sameResult``. Any query plan that embeds such a
literal (a strategy grid, a depth table, a holiday calendar) therefore
defeats CacheManager plan-matching: a ``.persist()``-ed shared subtree built
in one query invocation is invisible to the next invocation's identical
plan, and the whole subtree silently recomputes (measured: the shared
sim->aggregate cache was rebuilt per best_* query, ~5-13 s each at sf0.1).

``literal_table`` builds the same rows as pure Catalyst expressions —
``range(1).select(inline(array(struct(...))))`` — which canonicalize by
VALUE, so identical reconstructions are ``sameResult`` and in-memory cache
lookups hit. Literal volume is bounded (grids/calendars, <10k cells); at
100 TB these tables are broadcast either way.

r15 build-path fix (optimization guide §5 — the driver should do almost
no work): the original implementation assembled the tree as
``F.lit(v).cast(dt).alias(name)`` per CELL, i.e. ~4 py4j round-trips per
cell — the 4,860-combo strategy grid alone cost ~120k driver round-trips
(~19 s measured under load, inside every timed bench cell that embeds
the grid). The same tree is now rendered as SQL text in Python (free)
and parsed JVM-side in ONE ``selectExpr`` call. The parsed analyzed plan
is character-identical (modulo exprIds) to the Column-built one —
``named_struct('name', CAST(<literal> AS <type>))`` with literals typed
exactly as ``F.lit`` types them (ints -> INT/BIGINT by magnitude,
floats -> the ``1.5D`` double-literal form, strings quoted) — so
cache-stability, plan fingerprints, and results are all unchanged
(pinned by tests/test_plans.py::test_literal_table_sql_path_tree_equal).
Values the SQL renderer cannot prove equivalent fall back to the
original per-cell Column path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .planmemo import shared_view

# strings rendered into SQL text verbatim must be provably escape-free;
# anything else takes the Column fallback path
_SAFE_STR = re.compile(r"^[A-Za-z0-9 _.:,/+=@()\[\]-]*$")


def _sql_literal(v) -> str | None:
    """Render ``v`` as a SQL literal that parses to the SAME typed
    Literal node ``F.lit(v)`` builds, or None if not provably so."""
    if v is None:
        return "NULL"  # F.lit(None) is an untyped NULL; cast types both
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        # F.lit: IntegerType when it fits, else LongType — the SQL
        # parser types bare integral literals identically
        return str(v) if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None
        # the 'D' suffix parses as a DoubleType literal; repr() is the
        # shortest round-trip form, re-read by Double.parseDouble
        return f"{v!r}D"
    if isinstance(v, str) and _SAFE_STR.match(v):
        return f"'{v}'"
    return None


def literal_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``createDataFrame(rows, ddl_schema)`` replacement whose plan is
    cache-stable (see module docstring). ``schema`` is a DDL string; values
    map to typed literals (None -> typed NULL) exactly as createDataFrame
    would. One JVM parse for the whole table when every value is SQL-
    renderable (the common case); per-cell Column fallback otherwise.

    The built plan is a ``shared_view`` keyed by (schema, rows) that reads
    no input (operators/planmemo.py): the strategy-selection family
    re-embeds the identical combo grid in up to 8 queries per session,
    and each re-parse+analyze of the 540-struct expression costs ~1 s of
    driver time."""
    return shared_view(
        spark, (schema, tuple(map(tuple, rows))), None,
        lambda: _build_literal_table(spark, rows, schema),
    )


def _build_literal_table(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    struct = StructType.fromDDL(schema)
    fields = [(f.name, f.dataType) for f in struct.fields]
    cells = [
        [_sql_literal(v) for v in row] for row in rows
    ]
    if all(c is not None for row in cells for c in row):
        structs = ", ".join(
            "struct("
            + ", ".join(
                # struct(expr AS name): same CreateStruct node F.struct
                # builds (named_struct would print differently and drift
                # every embedding plan's fingerprint)
                f"CAST({cell} AS {dt.simpleString()}) AS {name}"
                for cell, (name, dt) in zip(row, fields)
            )
            + ")"
            for row in cells
        )
        return spark.range(1).selectExpr(f"inline(array({structs}))")
    structs = [
        F.struct(
            *[
                F.lit(v).cast(dt).alias(name)
                for v, (name, dt) in zip(row, fields)
            ]
        )
        for row in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))
