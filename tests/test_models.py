"""Golden e2e inference tests — the Spark analogue of the reference's
src/lib.rs:143-197 test: table → CREATE FUNCTION ... LANGUAGE TORCH →
argmax(model(features)) vs a known oracle; plus batch-size invariance
(reference loop semantics src/udf.rs:250-287 demand output independent of
batch_size) and freeze-at-create config semantics (src/lib.rs:81-94).
The per-batch Arrow body is also tested on its own, without Spark."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.util import PythonEvalType

from torchfusion_spark.models.backends import load_predictor, per_leading_index
from torchfusion_spark.models.batching import create_batched, flatten_batched
from torchfusion_spark.models.fixtures import mlp_bytes, oracle_predict, write_demo_model
from torchfusion_spark.models.registry import _score_list_array


@pytest.fixture(scope="module")
def model_path(tmp_path_factory):
    return write_demo_model(str(tmp_path_factory.mktemp("models") / "demo.npz"))


def _predicted(engine, fn_name: str, limit: int = 50):
    rows = engine.sql(
        f"SELECT vec_id, argmax({fn_name}(embedding)) AS cls FROM embeddings "
        f"ORDER BY vec_id LIMIT {limit}"
    ).collect()
    return {r.vec_id: r.cls for r in rows}


def _oracle_classes(spark, limit: int = 50):
    pdf = spark.table("embeddings").orderBy("vec_id").limit(limit).toPandas()
    x = np.stack(pdf["embedding"].to_numpy())
    return dict(zip(pdf["vec_id"], oracle_predict(x).argmax(axis=1)))


def test_golden_inference_matches_numpy_oracle(engine, tables, model_path):
    engine.sql("SET torchfusion.batch_size = 32")
    engine.sql(f"CREATE FUNCTION golden_clf(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH AS '{model_path}'")
    assert _predicted(engine, "golden_clf") == _oracle_classes(engine.spark)


@pytest.mark.parametrize("batch_size", [1, 3, 7, 64])
def test_batch_size_invariance(engine, tables, model_path, batch_size):
    engine.sql(f"SET torchfusion.batch_size = {batch_size}")
    engine.sql(
        f"CREATE OR REPLACE FUNCTION clf_b{batch_size}(FLOAT[]) RETURNS FLOAT[] "
        f"LANGUAGE TORCH AS '{model_path}'"
    )
    assert _predicted(engine, f"clf_b{batch_size}") == _oracle_classes(engine.spark)


def test_freeze_at_create(engine, tables, model_path):
    # config changes after CREATE FUNCTION must not affect an existing function
    engine.sql("SET torchfusion.batch_size = 4")
    engine.sql(f"CREATE OR REPLACE FUNCTION frozen_clf(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH AS '{model_path}'")
    before = _predicted(engine, "frozen_clf", 20)
    engine.sql("SET torchfusion.batch_size = 999")
    assert _predicted(engine, "frozen_clf", 20) == before


def test_declared_return_type_honored(engine, tables, model_path):
    # reference quirk: (f64,f64) silently returns f32 (src/udf.rs:49-57);
    # we honor the declaration instead (SURVEY §2-A2)
    engine.sql(
        f"CREATE OR REPLACE FUNCTION clf_f64(DOUBLE[]) RETURNS DOUBLE[] LANGUAGE TORCH AS '{model_path}'"
    )
    df = engine.sql("SELECT embedding, clf_f64(embedding) AS out FROM embeddings ORDER BY vec_id LIMIT 50")
    assert df.schema["out"].dataType.simpleString() == "array<double>"
    table = df.toArrow()
    x, got = (table.column(c).combine_chunks().flatten().to_numpy() for c in ("embedding", "out"))
    assert got.dtype == np.float64
    np.testing.assert_allclose(
        got.reshape(len(table), -1), oracle_predict(x.reshape(len(table), -1)), rtol=0, atol=1e-6
    )


def _torch_udf_eval_types(df) -> list[int]:
    """evalType of every ArrowEvalPython node in the optimized plan."""

    def walk(node):
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    plan = df._jdf.queryExecution().optimizedPlan()
    return [n.evalType() for n in walk(plan) if n.nodeName() == "ArrowEvalPython"]


def test_torch_function_is_arrow_iter_udf(engine, tables, model_path):
    # the Arrow-native path scores ListArray buffers directly; a fallback
    # to a pandas UDF would still be correct, only slower, so pin it here
    engine.sql(f"CREATE OR REPLACE FUNCTION clf_arrow(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH AS '{model_path}'")
    df = engine.sql("SELECT clf_arrow(embedding) FROM embeddings")
    assert _torch_udf_eval_types(df) == [PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF]


def test_null_input_row_fails_loudly(engine, tables, model_path):
    engine.sql(f"CREATE OR REPLACE FUNCTION clf_null(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH AS '{model_path}'")
    with pytest.raises(PythonException, match="LANGUAGE TORCH input rows must not be NULL"):
        engine.sql("SELECT clf_null(CAST(NULL AS ARRAY<FLOAT>))").collect()


def test_measured_inference_keeps_python_eval(engine, tables, model_path):
    """measure() and EXPLAIN ANALYZE time the full result on the query's
    own plan, so the model's ArrowEvalPython node is in the operators they
    report and scored every input row. A count() prunes that node."""
    from torchfusion_spark.measure import measure

    engine.sql(
        "CREATE OR REPLACE FUNCTION clf_measured(FLOAT[]) RETURNS FLOAT[] "
        f"LANGUAGE TORCH AS '{model_path}'"
    )
    query = "SELECT vec_id, argmax(clf_measured(embedding)) AS cls FROM embeddings"
    n = engine.spark.table("embeddings").count()
    table, wall, counts, operators = measure(engine.sql(query))
    assert table.num_rows == n and wall > 0 and counts["jobs"] >= 1
    assert [op.rows for op in operators if op.name.startswith("ArrowEvalPython")] == [n]
    plan = engine.sql(f"EXPLAIN ANALYZE {query}").collect()[0].plan
    assert f"ArrowEvalPython  rows={n:,}  " in plan
    assert f"== Analyzed: {n} rows, " in plan


def test_missing_model_body_errors(engine):
    with pytest.raises(ValueError, match="model file should be specified"):
        engine.sql("CREATE FUNCTION broken(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH")


def test_npz_backend_predict_shapes():
    from torchfusion_spark.models.backends import load_predictor

    p = load_predictor(mlp_bytes(), "demo.npz")
    out = p(np.zeros((5, 64), dtype=np.float32))
    assert out.shape == (5, 10)


def test_registry_flagship_matches_numpy_oracle(spark, tables):
    """The REGISTRY entry itself (not a lookalike flow): the driver only
    rows-checks `torch_inference_classes` (model inference isn't
    SQL-expressible in DuckDB), so this pins the registered builder's
    predictions to the numpy oracle — the stronger witness the rows-only
    gate can't provide."""
    from conftest import SF_DIR

    from torchfusion_spark.plans import REGISTRY

    pdf = REGISTRY["torch_inference_classes"].builder(spark, SF_DIR).toPandas()
    got = dict(zip(pdf["vec_id"], pdf["predicted"]))

    emb = spark.table("embeddings").orderBy("vec_id").limit(100).toPandas()
    x = np.stack(emb["embedding"].to_numpy())
    expected = dict(zip(emb["vec_id"], oracle_predict(x).argmax(axis=1)))
    assert got == expected


# --- the per-batch Arrow body, without Spark ----------------------------------


def _list_array(x: np.ndarray) -> pa.ListArray:
    n, width = x.shape
    return pa.ListArray.from_arrays(np.arange(0, n * width + 1, width, dtype=np.int32), x.reshape(-1))


@pytest.fixture(scope="module")
def predictor():
    return load_predictor(mlp_bytes(), "demo.npz")


@pytest.fixture(scope="module")
def features():
    return np.random.default_rng(3).standard_normal((10, 64), dtype=np.float32)


@pytest.mark.parametrize("out_dtype", [np.float32, np.float64])
@pytest.mark.parametrize("batch_size", [1, 3, 7])
def test_score_list_array_matches_oracle(predictor, features, batch_size, out_dtype):
    out = _score_list_array(_list_array(features), predictor, batch_size, np.float32, out_dtype)
    assert out.type == pa.list_(pa.from_numpy_dtype(out_dtype))
    np.testing.assert_array_equal(out.offsets.to_numpy(), np.arange(0, 101, 10))
    got = out.values.to_numpy().reshape(len(out), -1)
    np.testing.assert_allclose(got, oracle_predict(features), rtol=0, atol=1e-6)


def test_score_list_array_sliced(predictor, features):
    # a slice shifts arr.offsets but leaves arr.values the whole buffer
    arr = _list_array(features).slice(1, 2)
    assert arr.offsets.to_numpy()[0] == 64 and len(arr.values) == features.size
    out = _score_list_array(arr, predictor, 3, np.float32, np.float32)
    assert len(out) == 2
    got = out.values.to_numpy().reshape(2, -1)
    np.testing.assert_allclose(got, oracle_predict(features[1:3]), rtol=0, atol=1e-6)


def test_score_list_array_empty(predictor):
    arr = pa.array([], type=pa.list_(pa.float32()))
    out = _score_list_array(arr, predictor, 4, np.float32, np.float64)
    assert len(out) == 0 and out.type == pa.list_(pa.float64())


# --- the stacked forward: bit-identical to the per-mini-batch loop -------------

N_ROWS = 600


def _per_batch_loop(arr: pa.ListArray, predictor, batch_size: int, out_dtype) -> np.ndarray:
    """The reference's loop (src/udf.rs:191-248): one forward per mini-batch."""
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy().astype(np.float32, copy=False)
    flat, _ = flatten_batched([predictor(b) for b in create_batched(values, offsets, batch_size)])
    return flat.astype(out_dtype, copy=False)


@pytest.fixture(scope="module")
def many_rows():
    return np.random.default_rng(5).standard_normal((N_ROWS, 64), dtype=np.float32)


@pytest.mark.parametrize("sliced", [False, True])
@pytest.mark.parametrize("out_dtype", [np.float32, np.float64])
@pytest.mark.parametrize("batch_size", [1, 3, 7, 256, N_ROWS, N_ROWS + 5])
def test_stacked_forward_bit_identical_to_per_batch_loop(
    predictor, many_rows, batch_size, out_dtype, sliced
):
    arr = _list_array(many_rows)
    if sliced:
        arr = arr.slice(5, N_ROWS - 11)
    out = _score_list_array(arr, predictor, batch_size, np.float32, out_dtype)
    expected = _per_batch_loop(arr, predictor, batch_size, out_dtype)
    assert out.values.to_numpy().dtype == out_dtype
    assert np.array_equal(out.values.to_numpy(), expected)
    np.testing.assert_array_equal(out.offsets.to_numpy(), np.arange(len(arr) + 1) * 10)


@pytest.mark.parametrize("batch_size", [1, 3, 7, 256, N_ROWS, N_ROWS + 5])
def test_stacked_forward_calls_predictor_at_most_twice(predictor, many_rows, batch_size):
    # a Python call per mini-batch costs ~20 µs; at batch size 1 that was
    # the whole per-row budget, so pin the call shape, not just the result
    shapes = []

    def counting(x):
        shapes.append(x.shape)
        return predictor(x)

    _score_list_array(_list_array(many_rows), counting, batch_size, np.float32, np.float32)
    full, tail = divmod(N_ROWS, batch_size)
    expected = ([(full, batch_size, 64)] if full else []) + ([(tail, 64)] if tail else [])
    assert shapes == expected


@pytest.mark.parametrize("batch_size", [1, 2])
def test_ragged_rows_rejected(predictor, batch_size):
    # one reshape over the batch would score a 63- and a 65-float row as
    # two 64-float rows
    arr = pa.array([np.ones(63, np.float32), np.ones(65, np.float32)], type=pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="LANGUAGE TORCH input rows must all have the same length"):
        _score_list_array(arr, predictor, batch_size, np.float32, np.float32)


def test_per_leading_index_one_forward_per_item(predictor, many_rows):
    # the TorchScript backend's lift: each 2-D forward still sees one
    # mini-batch, and the result equals the numpy MLP's native stacked call
    seen = []

    def forward_2d(x):
        assert x.ndim == 2
        seen.append(len(x))
        return predictor(x)

    stacked = many_rows.reshape(-1, 8, 64)
    got = per_leading_index(forward_2d)(stacked)
    assert seen == [8] * len(stacked)
    assert np.array_equal(got, predictor(stacked))
    assert np.array_equal(per_leading_index(forward_2d)(many_rows[:5]), predictor(many_rows[:5]))
