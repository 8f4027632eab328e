"""``argmax(<LANGUAGE TORCH fn>(x))`` fused into the model's worker.

``Engine.sql`` rewrites the call to the function's hidden argmax head,
which scores and reduces each row in the Python worker, so one ``int`` per
row crosses back into the JVM instead of the row's logits. The unfused
spelling, ``SELECT argmax(l) FROM (SELECT f(x) AS l ...)``, is not matched
by the rewrite, so it is the parity oracle for every case here."""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import PythonException

from torchfusion_spark.engine import fuse_argmax_calls
from torchfusion_spark.functions import register_all
from torchfusion_spark.models.fixtures import mlp_weights, write_demo_model
from torchfusion_spark.models.registry import ARGMAX_HEAD_PREFIX, _argmax_list_array

FLAGSHIP = (
    "SELECT vec_id, argmax(tf_demo_classifier(embedding)) AS predicted, label "
    "FROM embeddings ORDER BY vec_id LIMIT 100"
)


def _write_npz(path, layers) -> str:
    buf = io.BytesIO()
    np.savez(buf, **{f"{k}{i}": a for i, (w, b) in enumerate(layers) for k, a in (("W", w), ("b", b))})
    with open(path, "wb") as f:
        f.write(buf.getvalue())
    return str(path)


@pytest.fixture(scope="module")
def models(tmp_path_factory):
    d = tmp_path_factory.mktemp("fusion_models")
    demo = mlp_weights()
    w, b = demo[-1]
    rng = np.random.default_rng(3)
    return {
        "demo": write_demo_model(str(d / "demo.npz")),
        # every output row twice: each row's maximum ties exactly
        "ties": _write_npz(d / "ties.npz", demo[:-1] + [(np.repeat(w, 2, axis=0), np.repeat(b, 2))]),
        # no output row at all: every scored row is zero-width
        "empty": _write_npz(
            d / "empty.npz", [(np.zeros((0, 64), np.float32), np.zeros(0, np.float32))]
        ),
        # two features in, four classes out
        "pair": _write_npz(
            d / "pair.npz",
            [(rng.standard_normal((4, 2), dtype=np.float32), rng.standard_normal(4, dtype=np.float32))],
        ),
    }


def _create(engine, name, model, returns="FLOAT[]", batch_size=3):
    engine.sql(f"SET torchfusion.batch_size = {batch_size}")
    engine.sql(
        f"CREATE OR REPLACE FUNCTION {name}(FLOAT[]) RETURNS {returns} LANGUAGE TORCH AS '{model}'"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _is_fused(df) -> bool:
    return ARGMAX_HEAD_PREFIX in _plan(df)


def _assert_parity(engine, fn, source="embeddings", col="embedding"):
    """The fused and unfused spellings give the same class per row."""
    fused = engine.sql(f"SELECT vec_id, argmax({fn}({col})) AS cls FROM {source}")
    unfused = engine.sql(
        f"SELECT vec_id, argmax(l) AS cls FROM (SELECT vec_id, {fn}({col}) AS l FROM {source})"
    )
    assert _is_fused(fused) and not _is_fused(unfused)
    got, want = (sorted(map(tuple, df.collect())) for df in (fused, unfused))
    assert got == want
    return got


# --- parity -----------------------------------------------------------------


@pytest.mark.parametrize("batch_size", [1, 3, 256])
def test_parity_across_batch_sizes(engine, tables, models, batch_size):
    _create(engine, f"fuse_b{batch_size}", models["demo"], batch_size=batch_size)
    rows = _assert_parity(engine, f"fuse_b{batch_size}")
    assert len(rows) == engine.spark.table("embeddings").count()


@pytest.mark.parametrize("returns", ["FLOAT[]", "DOUBLE[]", "INT[]"])
def test_parity_across_return_types(engine, tables, models, returns):
    name = f"fuse_ret_{returns[:-2].lower()}"
    _create(engine, name, models["demo"], returns=returns)
    _assert_parity(engine, name)


def test_parity_on_exact_ties(engine, tables, models):
    _create(engine, "fuse_ties", models["ties"])
    rows = _assert_parity(engine, "fuse_ties")
    assert all(cls % 2 == 0 for _, cls in rows)  # the first of each tied pair


def test_parity_on_nan_inputs(engine, models):
    x = np.random.default_rng(5).standard_normal((20, 64)).astype(np.float32)
    x[::3, 7] = np.nan
    engine.spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "vec_id bigint, embedding array<float>"
    ).createOrReplaceTempView("fuse_nan_rows")
    _create(engine, "fuse_nan", models["demo"])
    rows = dict(_assert_parity(engine, "fuse_nan", source="fuse_nan_rows"))
    assert all(rows[i] == 0 for i in range(0, 20, 3))  # NaN logits: the first is the max


def test_parity_on_empty_table(engine, models):
    engine.spark.createDataFrame([], "vec_id bigint, embedding array<float>").createOrReplaceTempView(
        "fuse_no_rows"
    )
    _create(engine, "fuse_empty_tbl", models["demo"])
    assert _assert_parity(engine, "fuse_empty_tbl", source="fuse_no_rows") == []


def test_parity_on_zero_width_output(engine, tables, models):
    _create(engine, "fuse_zero_width", models["empty"])
    rows = _assert_parity(engine, "fuse_zero_width")
    assert rows and all(cls is None for _, cls in rows)


def test_null_input_row_raises_the_logits_error(engine, tables, models):
    _create(engine, "fuse_null", models["demo"])
    source = "(SELECT vec_id, IF(vec_id % 7 = 0, NULL, embedding) AS embedding FROM embeddings)"
    errors = []
    for text in (
        f"SELECT argmax(fuse_null(embedding)) FROM {source}",
        f"SELECT argmax(l) FROM (SELECT fuse_null(embedding) AS l FROM {source})",
    ):
        with pytest.raises(PythonException, match="LANGUAGE TORCH input rows must not be NULL") as e:
            engine.sql(text).collect()
        errors.append(str(e.value).split("ValueError: ")[-1].splitlines()[0])
    assert errors[0] == errors[1]


def test_argmax_list_array_without_spark():
    scores = pa.ListArray.from_arrays(
        pa.array([0, 3, 6, 9], pa.int32()),
        pa.array([1.0, 5.0, 5.0, np.nan, 2.0, np.nan, -0.0, 0.0, -1.0], pa.float32()),
    )
    assert _argmax_list_array(scores).to_pylist() == [1, 0, 0]
    assert _argmax_list_array(scores.slice(0, 0)).to_pylist() == []
    zero = pa.ListArray.from_arrays(pa.array([0, 0, 0], pa.int32()), pa.array([], pa.float32()))
    assert _argmax_list_array(zero).to_pylist() == [None, None]
    # bigint compares as the SQL argmax's double: 2**53 + 1 rounds to 2**53
    big = pa.ListArray.from_arrays(pa.array([0, 2], pa.int32()), pa.array([2**53, 2**53 + 1]))
    assert _argmax_list_array(big).to_pylist() == [0]


# --- rewrite scope --------------------------------------------------------------

PAIRS = "(VALUES (1.0f, 2.0f), (3.0f, -1.0f), (-2.0f, 0.5f), (0.0f, 4.0f)) AS t(a, b)"


def _same_rows(engine, fused_text, unfused_text):
    fused, unfused = engine.sql(fused_text), engine.sql(unfused_text)
    assert _is_fused(fused) and not _is_fused(unfused)
    assert [tuple(r) for r in fused.collect()] == [tuple(r) for r in unfused.collect()]


def test_rewrite_fires_in_select_where_and_order_by(engine, models):
    _create(engine, "pair_clf", models["pair"])
    _same_rows(
        engine,
        f"SELECT a, ARGMAX( pair_clf ( array(a, b) ) ) AS c FROM {PAIRS} ORDER BY a",
        f"SELECT a, argmax(l) AS c FROM (SELECT a, pair_clf(array(a, b)) AS l FROM {PAIRS}) ORDER BY a",
    )
    _same_rows(
        engine,
        f"SELECT a FROM {PAIRS} WHERE argmax(pair_clf(array(a, b))) >= 1 "
        "ORDER BY argmax(pair_clf(array(a, b))), a",
        # Spark rejects a SQL function in a Sort, so the unfused spelling
        # sorts on a projected column
        f"SELECT a FROM (SELECT a, argmax(l) AS k FROM (SELECT a, pair_clf(array(a, b)) AS l "
        f"FROM {PAIRS})) WHERE k >= 1 ORDER BY k, a",
    )
    _same_rows(
        engine,
        f"SELECT a, argmax(pair_clf(array(a, b * length(')')))) AS c FROM {PAIRS} ORDER BY a",
        f"SELECT a, argmax(l) AS c FROM (SELECT a, pair_clf(array(a, b * length(')'))) AS l "
        f"FROM {PAIRS}) ORDER BY a",
    )


def test_rewrite_skips_literals_quoted_names_and_other_functions(engine, models):
    heads = {"pair_clf": "HEAD"}
    for text, expected in (
        ("SELECT 'argmax(pair_clf(x))' AS s", None),
        ("SELECT 'it\\'s argmax(pair_clf(x))' AS s", None),
        ("SELECT `argmax`(pair_clf(x))", None),
        ("SELECT argmax(array_sort(pair_clf(x)))", None),
        ("SELECT argmax(pair_clf(x) + 1)", None),
        ("SELECT db.argmax(pair_clf(x)), my_argmax(pair_clf(x))", None),
        ("SELECT argmax(pair_clf(x) ) + argmax(other(x))", "SELECT HEAD(x) + argmax(other(x))"),
        (
            "SELECT argmax(pair_clf(array(argmax(pair_clf(x)), 1)))",
            "SELECT HEAD(array(HEAD(x), 1))",
        ),
        ("SELECT argmax(array_sort(argmax(pair_clf(x))))", "SELECT argmax(array_sort(HEAD(x)))"),
    ):
        assert fuse_argmax_calls(text, heads) == (expected or text)

    _create(engine, "pair_clf", models["pair"])
    row = engine.sql("SELECT 'argmax(pair_clf(array(1.0f, 2.0f)))' AS s").collect()[0]
    assert row.s == "argmax(pair_clf(array(1.0f, 2.0f)))"
    for text in (
        f"SELECT `argmax`(pair_clf(array(a, b))) FROM {PAIRS}",
        f"SELECT argmax(array_sort(pair_clf(array(a, b)))) FROM {PAIRS}",
        f"SELECT argmax(reverse(array(a, b))) FROM {PAIRS}",
    ):
        df = engine.sql(text)
        assert not _is_fused(df)
        df.collect()
    # a name that is not (or no longer) a LANGUAGE TORCH function
    engine.spark.udf.register("plain_fn", lambda v: v, "array<float>")
    assert not _is_fused(engine.sql(f"SELECT argmax(plain_fn(array(a, b))) FROM {PAIRS}"))
    _create(engine, "pair_clf_replaced", models["pair"])
    engine.spark.udf.register("pair_clf_replaced", lambda v: v, "array<float>")
    df = engine.sql(f"SELECT argmax(pair_clf_replaced(array(a, b))) AS c FROM {PAIRS}")
    assert not _is_fused(df)
    assert [r.c for r in df.collect()] == [1, 0, 1, 1]


def test_rewrite_stops_once_argmax_is_redefined(engine, models):
    _create(engine, "pair_clf", models["pair"])
    text = f"SELECT argmax(pair_clf(array(a, b))) AS c FROM {PAIRS}"
    assert _is_fused(engine.sql(text))
    engine.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION argmax(v ARRAY<DOUBLE>) RETURNS INT RETURN 7"
    )
    try:
        df = engine.sql(text)
        assert not _is_fused(df)
        assert {r.c for r in df.collect()} == {7}
    finally:
        register_all(engine.spark)
    assert _is_fused(engine.sql(text))


def test_column_names_are_those_of_the_unfused_statement(engine, models):
    _create(engine, "pair_clf", models["pair"])
    for text in (
        f"SELECT a, argmax(pair_clf(array(a, b))) FROM {PAIRS}",
        f"SELECT a, ARGMAX(PAIR_CLF(array(a, b))), argmax(pair_clf(array(b, a))) AS x FROM {PAIRS}",
        f"SELECT * FROM (SELECT argmax(pair_clf(array(a, b))) FROM {PAIRS})",
    ):
        df = engine.sql(text)
        assert _is_fused(df)
        assert df.columns == engine.spark.sql(text).columns
        assert not any(ARGMAX_HEAD_PREFIX in c for c in df.columns)


def test_information_schema_hides_the_head(engine, models):
    _create(engine, "pair_clf", models["pair"])
    assert any(
        f.name.startswith(ARGMAX_HEAD_PREFIX) for f in engine.spark.catalog.listFunctions()
    )
    names = [
        r.routine_name
        for r in engine.sql("SELECT routine_name FROM information_schema.routines").collect()
    ]
    assert "pair_clf" in names and not any(n.startswith(ARGMAX_HEAD_PREFIX) for n in names)
    params = [
        r.specific_name
        for r in engine.sql("SELECT specific_name FROM information_schema.parameters").collect()
    ]
    assert "pair_clf" in params and not any(n.startswith(ARGMAX_HEAD_PREFIX) for n in params)


# --- plan shape -----------------------------------------------------------------


def _nodes(plan):
    """Every node of a physical plan, through adaptive re-planning."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
        return
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def test_flagship_plan_scores_and_reduces_in_one_python_eval(spark, engine, tables):
    from conftest import SF_DIR

    from torchfusion_spark.measure import measure, render
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.plans.inference import _demo_model_path

    df = REGISTRY["torch_inference_classes"].builder(spark, SF_DIR)
    table, _, _, operators = measure(df)
    assert table.num_rows == 100
    executed = df._jdf.queryExecution().executedPlan()
    evals = [n for n in _nodes(executed) if n.nodeName() == "ArrowEvalPython"]
    assert len(evals) == 1
    udfs = evals[0].udfs()
    assert udfs.size() == 1 and udfs.apply(0).dataType().simpleString() == "int"
    assert udfs.apply(0).name().startswith(ARGMAX_HEAD_PREFIX)
    final = executed.toString()
    for absent in ("array_max", "array_position", "array<double>"):
        assert absent not in final

    # EXPLAIN and EXPLAIN ANALYZE of the same text show that plan
    engine.sql("SET torchfusion.batch_size = 256")
    engine.sql(
        "CREATE OR REPLACE FUNCTION tf_demo_classifier(FLOAT[]) RETURNS FLOAT[] "
        f"LANGUAGE TORCH AS '{_demo_model_path()}'"
    )
    explained = engine.sql(f"EXPLAIN {FLAGSHIP}").collect()[0].plan
    assert f"ArrowEvalPython [{ARGMAX_HEAD_PREFIX}tf_demo_classifier(" in explained
    for absent in ("array_max", "array_position", "array<double>"):
        assert absent not in explained
    analyzed = engine.sql(f"EXPLAIN ANALYZE {FLAGSHIP}").collect()[0].plan
    shape = [line.split("  rows=")[0] for line in render(operators).splitlines()]
    assert [line.split("  rows=")[0] for line in analyzed.splitlines()[:-1]] == shape
    assert sum(line.strip() == "ArrowEvalPython" for line in shape) == 1
