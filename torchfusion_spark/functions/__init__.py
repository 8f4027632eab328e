"""Scalar function library.

``argmax`` reproduces the reference UDF (reference src/argmax.rs:1-120):
0-based index of the maximum array element, first-max-wins on ties,
accepting float/double/int/bigint arrays. The reference returns UInt32;
Spark has no unsigned types so we return ``int`` (documented difference).

Unlike the reference (a Rust SIMD kernel), these are pure Catalyst column
expressions — they run inside whole-stage codegen on the JVM with **no
Python boundary**, so they vectorize and scale with executor cores for
free. The library (``argmax``, ``argmin``, ``vec_dot``, ``vec_norm``,
``cosine_similarity``) is registered as SQL functions so ``sql()``
queries resolve them by name, like the reference's function registry
(src/lib.rs:134); ``argmax`` is also a Column helper for DataFrame code.
Over a LANGUAGE TORCH call, ``Engine.sql`` fuses ``argmax(f(x))`` into
``f``'s worker instead (``models.registry``), with the same results.

ORDER BY: Spark 4.1 rejects a SQL function in a Sort
(``UNSUPPORTED_SQL_UDF_USAGE``), so ``ORDER BY argmax(v)`` and
``ORDER BY vec_dot(a, b)`` fail; select the call under an alias and sort
on that (``SELECT argmax(v) AS am … ORDER BY am``). WHERE, GROUP BY and a
window's ORDER BY take the call directly.

NaN note: Spark's ``array_max`` treats NaN as greater than any number;
the reference's SIMD argmax ignores NaN. Semantics match on NaN-free
data (all fixtures); documented here per SURVEY.md §7.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

ColumnOrName = Column | str


def argmax(v: ColumnOrName) -> Column:
    """0-based index of the max element; first occurrence wins on ties.

    ``array_position`` is 1-based and returns the first match, matching the
    reference's first-max-wins semantics (src/argmax.rs:101-119). Null/empty
    arrays yield NULL (the reference has no null handling at all).
    """
    v = F.col(v) if isinstance(v, str) else v
    return (F.array_position(v, F.array_max(v)) - F.lit(1)).cast("int").alias("argmax")


def _sql_functions() -> dict[str, str]:
    """SQL UDF definitions (Spark SQL scalar functions — stay in codegen).
    Inputs declared ARRAY<DOUBLE>; Catalyst coerces float/int arrays, the
    same analyzer-inserted cast the reference relies on (SURVEY §1.2,
    src/udf.rs:108-115).

    The dot/norm bodies are GENERATED by operators.similarity._dot/_norm —
    the determinism contract (bit-identical left-fold accumulation vs the
    DuckDB oracle) lives in exactly one place, so a guard added to the
    pipeline spelling reaches the registered SQL UDFs automatically."""
    from torchfusion_spark.operators.similarity import _dot, _norm

    dot = _dot("a", "b", "spark")
    return {
        "argmax": (
            "CREATE OR REPLACE TEMPORARY FUNCTION argmax(v ARRAY<DOUBLE>) RETURNS INT "
            "RETURN CAST(array_position(v, array_max(v)) AS INT) - 1"
        ),
        "argmin": (
            "CREATE OR REPLACE TEMPORARY FUNCTION argmin(v ARRAY<DOUBLE>) RETURNS INT "
            "RETURN CAST(array_position(v, array_min(v)) AS INT) - 1"
        ),
        "vec_dot": (
            "CREATE OR REPLACE TEMPORARY FUNCTION vec_dot(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) "
            f"RETURNS DOUBLE RETURN {dot}"
        ),
        "vec_norm": (
            "CREATE OR REPLACE TEMPORARY FUNCTION vec_norm(a ARRAY<DOUBLE>) "
            f"RETURNS DOUBLE RETURN {_norm('a', 'spark')}"
        ),
        "cosine_similarity": (
            "CREATE OR REPLACE TEMPORARY FUNCTION cosine_similarity(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) "
            f"RETURNS DOUBLE RETURN {dot} "
            f"/ ({_norm('a', 'spark')} * {_norm('b', 'spark')})"
        ),
    }


def function_builder(spark: SparkSession, name: str):
    """The JVM builder the unqualified function ``name`` resolves to in the
    session's function registry, or None. Every registration makes a new
    builder, so ``equals`` on two of them tells whether ``name`` still
    means what it meant when the first was taken."""
    ident = spark._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier.apply(name)
    found = spark._jsparkSession.sessionState().functionRegistry().lookupFunctionBuilder(ident)
    return found.get() if found.isDefined() else None


def register_all(spark: SparkSession) -> None:
    """Register the SQL-callable function library into the session, and
    keep the library ``argmax``'s builder: ``Engine.sql`` fuses
    ``argmax(<LANGUAGE TORCH fn>(x))`` into the model's worker only while
    ``argmax`` still resolves to it."""
    for ddl in _sql_functions().values():
        spark.sql(ddl)
    spark._tf_argmax = function_builder(spark, "argmax")
