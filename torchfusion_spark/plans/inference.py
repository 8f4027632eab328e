"""Flagship reference-parity queries: argmax + torch-function inference
(SURVEY §2-A) in the exact e2e shape of the reference's golden test
(src/lib.rs:164-170): scan → project(UDF chains) → limit.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from torchfusion_spark.functions import argmax
from torchfusion_spark.plans.registry import query


@query(
    "argmax_embeddings",
    """
    SELECT vec_id,
           CAST(list_indexof(embedding, list_aggregate(embedding, 'max')) AS INT) - 1 AS inferred,
           label
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    doc="reference argmax UDF (src/argmax.rs): 0-based first-max index, as a pure "
    "Catalyst expression (no Python boundary)",
)
def argmax_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.table("embeddings")
    return (
        e.select("vec_id", argmax("embedding").alias("inferred"), "label")
        .orderBy("vec_id")
        .limit(100)
    )


@query(
    "argmax_constructed_array",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(list_indexof([l_quantity, l_extendedprice / 1000, l_discount * 100, l_tax * 100],
                list_aggregate([l_quantity, l_extendedprice / 1000, l_discount * 100, l_tax * 100], 'max')) AS INT) - 1 AS best_idx
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 300
    """,
    doc="argmax over a SQL-constructed array literal — the reference's "
    "`argmax(iris([sl,sw,pl,pw]))` path (README.md:65, src/lib.rs:167)",
)
def argmax_constructed_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = spark.table("lineitem")
    arr = F.array(
        F.col("l_quantity"),
        F.col("l_extendedprice") / 1000,
        F.col("l_discount") * 100,
        F.col("l_tax") * 100,
    )
    return (
        l.select("l_orderkey", "l_linenumber", argmax(arr).alias("best_idx"))
        .orderBy("l_orderkey", "l_linenumber")
        .limit(300)
    )


_MODEL_PATH: str | None = None


def _demo_model_path() -> str:
    global _MODEL_PATH
    if _MODEL_PATH is None or not os.path.exists(_MODEL_PATH):
        from torchfusion_spark.models.fixtures import write_demo_model

        path = os.path.join(tempfile.gettempdir(), "torchfusion_demo_mlp.npz")
        write_demo_model(path)
        _MODEL_PATH = path
    return _MODEL_PATH


def _mlp_oracle_sql() -> str:
    """The flagship's forward pass as DuckDB SQL: a relational matmul.
    The demo MLP's seeded weights are unnested ONCE from a list literal
    into (j, i, w) rows per layer; each Linear layer is then
    JOIN-on-i + SUM-per-(vec_id, j) + bias join (+ ReLU via greatest),
    and the class is the deterministic first-max via row_number.

    NOT a per-element list_transform fold: DuckDB (like Catalyst)
    re-evaluates lambda-captured expressions per element, so embedding
    the weight matrix literal inside the lambda re-built it
    rows × out × in times and hung even at sf0.001. The relational form
    runs in ~0.3 s at sf0.01.

    The backend computes in float32 (numpy), the oracle in float64 over
    the same float32-exact weight literals — logits differ at ~1e-6 but
    the emitted *class* is identical: the seeded weights/data have a
    minimum top-2 logit margin of ~1.6e-4, orders of magnitude above
    that noise. This upgrades the flagship from rows-only to fully
    hash-checked."""
    from torchfusion_spark.models.fixtures import mlp_weights

    layers = mlp_weights()

    def mat(w) -> str:
        return "[" + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in w
        ) + "]"

    def vec(b) -> str:
        return "[" + ", ".join(repr(float(x)) for x in b) + "]"

    ctes = [
        "x0 AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings)"
    ]
    prev = "x0"
    for li, (w, b) in enumerate(layers):
        relu = li != len(layers) - 1
        ctes.append(
            f"w{li}r AS (SELECT generate_subscripts(m, 1) AS j, unnest(m) AS row "
            f"FROM (SELECT {mat(w)} AS m))"
        )
        ctes.append(
            f"w{li} AS (SELECT j, generate_subscripts(row, 1) AS i, "
            f"CAST(unnest(row) AS DOUBLE) AS w FROM w{li}r)"
        )
        ctes.append(
            f"b{li} AS (SELECT generate_subscripts(v, 1) AS j, "
            f"CAST(unnest(v) AS DOUBLE) AS b FROM (SELECT {vec(b)} AS v))"
        )
        act = f"b{li}.b + s.s"
        if relu:
            act = f"greatest({act}, 0.0)"
        ctes.append(
            f"h{li} AS (SELECT s.vec_id, s.label, s.j AS i, {act} AS x "
            f"FROM (SELECT t.vec_id, t.label, w{li}.j, SUM(t.x * w{li}.w) AS s "
            f"      FROM {prev} t JOIN w{li} ON t.i = w{li}.i GROUP BY 1, 2, 3) s "
            f"JOIN b{li} ON s.j = b{li}.j)"
        )
        prev = f"h{li}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT vec_id, CAST(i - 1 AS INT) AS predicted, label
    FROM (SELECT vec_id, label, i,
                 row_number() OVER (PARTITION BY vec_id ORDER BY x DESC, i ASC) AS rn
          FROM {prev}) WHERE rn = 1
    ORDER BY vec_id LIMIT 100
    """
    )


@query(
    "torch_inference_classes",
    _mlp_oracle_sql(),
    doc="the reference's flagship: CREATE FUNCTION ... LANGUAGE TORCH, then "
    "SELECT argmax(model(features)) — batched Arrow-native inference via "
    "iterator arrow_udf over ListArray values+offsets (src/udf.rs:20-287 "
    "semantics); oracle = the seeded "
    "MLP unrolled into a DuckDB relational matmul (flagship fully hash-checked)",
)
def torch_inference_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchfusion_spark.engine import Engine

    eng = Engine(spark)
    eng.sql("SET torchfusion.batch_size = 256")
    eng.sql(
        f"CREATE OR REPLACE FUNCTION tf_demo_classifier(FLOAT[]) RETURNS FLOAT[] "
        f"LANGUAGE TORCH AS '{_demo_model_path()}'"
    )
    return eng.sql(
        """
        SELECT vec_id,
               argmax(tf_demo_classifier(embedding)) AS predicted,
               label
        FROM embeddings ORDER BY vec_id LIMIT 100
        """
    )
