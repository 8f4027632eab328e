"""Front-door dispatch + config namespace tests (reference src/config.rs
validation semantics and information_schema.df_settings emulation)."""

from __future__ import annotations

import pytest

from torchfusion_spark.config import TorchConfigError, validate


def test_set_and_read_back(engine):
    engine.sql("SET torchfusion.batch_size = 16")
    assert engine.spark.conf.get("torchfusion.batch_size") == "16"


def test_df_settings_query(engine):
    rows = engine.sql(
        "SELECT name, value, description FROM information_schema.df_settings "
        "WHERE name LIKE 'torch%' ORDER BY name"
    ).collect()
    names = [r.name for r in rows]
    assert names == ["torchfusion.batch_size", "torchfusion.cuda_device", "torchfusion.device"]
    assert all(r.description for r in rows)


def test_invalid_device_rejected(engine):
    # parse_device gates on availability (src/config.rs:82-92); no GPU here
    with pytest.raises(TorchConfigError, match="not supported"):
        engine.sql("SET torchfusion.device = tpu")


def test_unknown_key_rejected():
    with pytest.raises(TorchConfigError, match="No configuration key"):
        validate("torchfusion.bogus", "1")


def test_bad_batch_size_rejected():
    with pytest.raises(TorchConfigError, match="batch size not correct"):
        validate("torchfusion.batch_size", "zero")
    with pytest.raises(TorchConfigError, match="Cuda device id"):
        validate("torchfusion.cuda_device", "minus one")


@pytest.mark.parametrize(
    ("key", "bad", "message"),
    [("batch_size", "0", "batch size not correct"), ("device", "tpu", "not supported")],
)
def test_create_function_validates_settings_set_around_the_engine(engine, tmp_path, key, bad, message):
    """A plain ``spark.sql("SET torchfusion.…")`` skips ``Engine.sql``'s
    check; the CREATE FUNCTION snapshot must catch the value on the driver
    instead of letting it fail in the workers."""
    from torchfusion_spark.models.fixtures import write_demo_model

    model = write_demo_model(str(tmp_path / "validated.npz"))
    good = engine.spark.conf.get(f"torchfusion.{key}")
    engine.spark.sql(f"SET torchfusion.{key} = {bad}")
    try:
        with pytest.raises(TorchConfigError, match=message):
            engine.sql(
                f"CREATE OR REPLACE FUNCTION validated_clf(FLOAT[]) RETURNS FLOAT[] "
                f"LANGUAGE TORCH AS '{model}'"
            )
    finally:
        engine.sql(f"SET torchfusion.{key} = {good}")


def test_plain_sql_falls_through(engine, tables):
    n = engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0].n
    assert n == 25


def test_plain_set_falls_through(engine):
    engine.sql("SET spark.sql.shuffle.partitions = 8")
    assert engine.spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_like_filter_on_settings(engine):
    # reference demo query shape (examples/torchfusion.rs:19)
    rows = engine.sql(
        "SELECT name FROM information_schema.df_settings WHERE name LIKE 'torchfusion.b%'"
    ).collect()
    assert [r.name for r in rows] == ["torchfusion.batch_size"]


def test_external_table_ddl_reference_form(engine):
    """The reference's exact table DDL (src/lib.rs:148-150) runs through
    the front door on Hive-less Spark."""
    engine.sql(
        "CREATE EXTERNAL TABLE ext_emb STORED AS PARQUET "
        "LOCATION '/root/testdata/sf0.001/embeddings.parquet'"
    )
    n = engine.sql("SELECT count(*) AS n FROM ext_emb").collect()[0].n
    assert n > 0
    engine.spark.catalog.dropTempView("ext_emb")


def test_external_table_stored_as_arrow(engine, tables, tmp_path):
    """DataFusion-parity DDL: CREATE EXTERNAL TABLE ... STORED AS ARROW
    routes through the Arrow IPC reader (Spark ships no arrow datasource)."""
    from torchfusion_spark.sources.arrow_ipc import write_arrow_ipc

    path = str(tmp_path / "region_arrow")
    write_arrow_ipc(engine.spark.table("region"), path)
    engine.sql(f"CREATE EXTERNAL TABLE region_arrow STORED AS ARROW LOCATION '{path}'")
    got = engine.sql("SELECT r_name FROM region_arrow ORDER BY r_name").collect()
    exp = engine.sql("SELECT r_name FROM region ORDER BY r_name").collect()
    assert [r.r_name for r in got] == [r.r_name for r in exp]


def test_explain_analyze(engine, tables):
    """DataFusion-parity EXPLAIN ANALYZE: executes the query and returns
    the final (AQE-resolved) physical plan with execution counters."""
    rows = engine.sql(
        "EXPLAIN ANALYZE SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag"
    ).collect()
    assert len(rows) == 1
    plan = rows[0].plan
    assert "== Analyzed: 3 rows" in plan
    assert "HashAggregate" in plan or "Scan" in plan


_OPERATOR_LINE = r"^( *)(\S.*?)  rows=(\S+)  time=(\S+)(?: ms)?  bytes=(\S+)$"


def _analyzed_operators(plan: str) -> list[tuple[int, str, str, str, str]]:
    """(depth, name, rows, time, bytes) of every operator line of an
    EXPLAIN ANALYZE plan."""
    import re

    return [
        (len(m.group(1)) // 2, *m.group(2, 3, 4, 5))
        for m in map(re.compile(_OPERATOR_LINE).match, plan.splitlines())
        if m
    ]


def test_explain_analyze_reports_rows_time_bytes_per_operator(engine, tables):
    """EXPLAIN ANALYZE fetches the full result and annotates each operator
    of the plan that ran — a broadcast join feeding a shuffle — with rows,
    time and bytes, as DataFusion's does."""
    query = (
        "SELECT n_name, count(*) AS c FROM customer JOIN nation "
        "ON c_nationkey = n_nationkey GROUP BY n_name"
    )
    plan = engine.sql(f"EXPLAIN ANALYZE {query}").collect()[0].plan
    n_groups = engine.spark.sql(query).count()
    assert f"== Analyzed: {n_groups} rows, " in plan
    ops = _analyzed_operators(plan)
    names = [name for _, name, *_ in ops]
    assert "BroadcastHashJoin" in names and "Exchange" in names, plan
    customers = engine.spark.table("customer").count()
    for i, (depth, name, rows, time_ms, nbytes) in enumerate(ops):
        if name == "Exchange":  # the shuffle under GROUP BY: all three measured
            assert int(rows.replace(",", "")) > 0
            assert float(time_ms.replace(",", "")) >= 0 and int(nbytes.replace(",", "")) > 0
        if name == "BroadcastHashJoin":
            # every customer row joins its nation; a fused join's time is
            # on the line of its enclosing WholeStageCodegen stage
            assert int(rows.replace(",", "")) == customers
            ancestors = []
            for o in reversed(ops[:i]):
                if o[0] < (ancestors[-1][0] if ancestors else depth):
                    ancestors.append(o)
            stage = next(o for o in ancestors if o[1].startswith("WholeStageCodegen"))
            assert stage[3] != "-", plan


def test_explain_analyze_collect_root_reports_fetched_rows(engine, tables):
    """A LIMIT root runs on the driver as the result is fetched, and Spark
    leaves its metrics at 0: it reports the fetched rows, and `-` for the
    time and bytes it never measured."""
    for query, root, n in (
        (
            "SELECT c_name, c_acctbal FROM customer ORDER BY c_acctbal DESC LIMIT 7",
            "TakeOrderedAndProject",
            7,
        ),
        ("SELECT c_name FROM customer LIMIT 5", "CollectLimit", 5),
    ):
        plan = engine.sql(f"EXPLAIN ANALYZE {query}").collect()[0].plan
        assert f"== Analyzed: {n} rows, " in plan
        assert _analyzed_operators(plan)[0] == (0, root, str(n), "-", "-"), plan


def test_create_function_rejects_multiple_args(engine):
    """Reference parity: the TORCH UDF signature is exactly one array
    argument (src/udf.rs:59-64,108-115 errors otherwise); multi-arg
    declarations must error, not silently bind the last type token."""
    import pytest

    with pytest.raises(ValueError, match="exactly one array argument"):
        engine.sql(
            "CREATE FUNCTION two_args(a FLOAT[], b FLOAT[]) "
            "RETURNS FLOAT[] LANGUAGE TORCH AS '/tmp/m.npz'"
        )


def test_external_table_stored_as_avro_error_path(engine):
    """STORED AS AVRO without the spark-avro jar fails with an actionable
    message naming the package (DataFusion bundles Avro by default,
    reference src/lib.rs:128; pip PySpark does not)."""
    import pytest

    with pytest.raises(RuntimeError, match="spark-avro"):
        engine.sql("CREATE EXTERNAL TABLE av STORED AS AVRO LOCATION '/tmp/x.avro'")


def test_information_schema_tables_and_views(engine, tables):
    """Full information_schema emulation (reference enables all of it:
    with_information_schema(true), src/lib.rs:121-123): tables / views /
    columns / schemata answer from spark.catalog metadata."""
    engine.spark.sql("CREATE OR REPLACE TEMPORARY VIEW info_probe_v AS SELECT 1 AS one")
    t = engine.sql(
        "SELECT table_name, table_type FROM information_schema.tables "
        "WHERE table_name = 'info_probe_v'"
    ).collect()
    assert len(t) == 1 and t[0].table_type == "LOCAL TEMPORARY"
    # the TPC-H temp views registered by load_tables are listed too
    names = {
        r.table_name
        for r in engine.sql("SELECT table_name FROM information_schema.tables").collect()
    }
    assert {"lineitem", "orders", "region"} <= names
    v = {
        r.table_name
        for r in engine.sql("SELECT table_name FROM information_schema.views").collect()
    }
    assert "info_probe_v" in v


def test_information_schema_columns_and_schemata(engine, tables):
    cols = engine.sql(
        "SELECT column_name, ordinal_position, data_type, is_nullable "
        "FROM information_schema.columns WHERE table_name = 'region' "
        "ORDER BY ordinal_position"
    ).collect()
    # driver testdata region has no r_comment — assert what's there
    assert [c.column_name for c in cols] == ["r_regionkey", "r_name"]
    assert cols[0].ordinal_position == 1
    assert all(c.is_nullable in ("YES", "NO") for c in cols)
    s = engine.sql("SELECT schema_name FROM information_schema.schemata").collect()
    assert {r.schema_name for r in s} >= {"default"}


def test_information_schema_join_with_df_settings(engine):
    """Mixed references in one statement: df_settings and tables rewrite
    independently."""
    r = engine.sql(
        "SELECT (SELECT count(*) FROM information_schema.tables) AS n_tables, "
        "(SELECT count(*) FROM information_schema.df_settings) AS n_settings"
    ).collect()[0]
    assert r.n_tables > 0 and r.n_settings > 0


def test_external_table_long_form_csv_with_schema_and_options(engine, tmp_path):
    """VERDICT r04 gap 1: the long-form DDL DataFusion's default parser
    accepts (explicit column list + OPTIONS) must run through the front
    door — a user porting a DataFusion DDL script keeps their schema."""
    p = tmp_path / "pts.csv"
    p.write_text("id|name|score\n1|ada|9.5\n2|grace|8.25\n")
    engine.sql(
        f"""CREATE EXTERNAL TABLE pts (id BIGINT, name VARCHAR, score DOUBLE)
        STORED AS CSV
        OPTIONS ('format.has_header' 'true', 'format.delimiter' '|')
        LOCATION '{p}'"""
    )
    rows = engine.sql("SELECT id, name, score FROM pts ORDER BY id").collect()
    assert [(r.id, r.name, r.score) for r in rows] == [(1, "ada", 9.5), (2, "grace", 8.25)]
    df = engine.spark.table("pts")
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    engine.spark.catalog.dropTempView("pts")


def test_external_table_long_form_partitioned_parquet(engine, tables, tmp_path):
    """PARTITIONED BY over a hive-layout parquet dir: partition columns
    are discovered from the directory structure and validated against the
    declared list; partition pruning applies on read."""
    path = str(tmp_path / "orders_by_status")
    engine.spark.table("orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    engine.sql(
        f"CREATE EXTERNAL TABLE orders_parted STORED AS PARQUET "
        f"PARTITIONED BY (o_orderstatus) LOCATION '{path}'"
    )
    n = engine.sql(
        "SELECT count(*) AS n FROM orders_parted WHERE o_orderstatus = 'F'"
    ).collect()[0].n
    exp = engine.spark.table("orders").filter("o_orderstatus = 'F'").count()
    assert n == exp
    # a bogus partition declaration errors instead of silently passing
    import pytest

    with pytest.raises(ValueError, match="no_such_col"):
        engine.sql(
            f"CREATE EXTERNAL TABLE orders_bad STORED AS PARQUET "
            f"PARTITIONED BY (no_such_col) LOCATION '{path}'"
        )
    engine.spark.catalog.dropTempView("orders_parted")


def test_external_table_if_not_exists_short_form_still_works(engine):
    engine.sql(
        "CREATE EXTERNAL TABLE ext_ine STORED AS PARQUET "
        "LOCATION '/root/testdata/sf0.001/region.parquet'"
    )
    # IF NOT EXISTS against the live view is a no-op, not a replace
    engine.sql(
        "CREATE EXTERNAL TABLE IF NOT EXISTS ext_ine STORED AS PARQUET "
        "LOCATION '/root/testdata/sf0.001/nation.parquet'"
    )
    assert engine.sql("SELECT count(*) AS n FROM ext_ine").collect()[0].n == 5  # region
    engine.spark.catalog.dropTempView("ext_ine")


def test_copy_to_statement_parquet_and_csv(engine, tables, tmp_path):
    """VERDICT r04 gap 2: COPY <rel|(query)> TO '<path>' through the front
    door, both spellings (STORED AS / (FORMAT ...)), read-back equal."""
    pq = str(tmp_path / "region_copy")
    out = engine.sql(f"COPY region TO '{pq}' STORED AS PARQUET").collect()
    assert out[0]["count"] == 5
    back = engine.spark.read.parquet(pq)
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in engine.spark.table("region").collect()
    )

    csvp = str(tmp_path / "nation_top.csv")
    out = engine.sql(
        f"COPY (SELECT n_name, n_nationkey FROM nation WHERE n_nationkey < 3 "
        f"ORDER BY n_nationkey) TO '{csvp}' (FORMAT CSV) OPTIONS ('format.has_header' 'true')"
    ).collect()
    assert out[0]["count"] == 3
    back = engine.spark.read.option("header", "true").csv(csvp)
    assert back.count() == 3 and set(back.columns) == {"n_name", "n_nationkey"}


def test_copy_to_partitioned_by_clause(engine, tables, tmp_path):
    """COPY ... PARTITIONED BY (col) writes a hive layout (DataFusion's
    COPY grammar); partition pruning applies on re-read."""
    path = str(tmp_path / "orders_part_copy")
    out = engine.sql(
        f"COPY (SELECT o_orderkey, o_orderstatus FROM orders) TO '{path}' "
        f"STORED AS PARQUET PARTITIONED BY (o_orderstatus)"
    ).collect()
    assert out[0]["count"] == engine.spark.table("orders").count()
    import os

    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))


def test_information_schema_helpers_do_not_leak(engine, tables):
    """ADVICE r04: the emulation's own helper temp views must not appear
    as user LOCAL TEMPORARY relations in subsequent metadata queries; the
    information_schema relations are listed the way DataFusion lists them
    (schema 'information_schema', type VIEW)."""
    # materialize the helper views by touching the emulation twice
    engine.sql("SELECT count(*) AS n FROM information_schema.tables").collect()
    rows = engine.sql(
        "SELECT table_schema, table_name, table_type FROM information_schema.tables"
    ).collect()
    names = {r.table_name for r in rows}
    assert not any(n.startswith("information_schema_") for n in names)
    info_rows = {r.table_name: r for r in rows if r.table_schema == "information_schema"}
    assert {"tables", "views", "columns", "schemata", "df_settings"} <= set(info_rows)
    assert all(r.table_type == "VIEW" for r in info_rows.values())
    assert "df_settings" not in {
        r.table_name for r in rows if r.table_schema != "information_schema"
    }
    # schemata lists the information_schema schema itself
    schemas = {r.schema_name for r in engine.sql(
        "SELECT schema_name FROM information_schema.schemata").collect()}
    assert "information_schema" in schemas


def test_information_schema_leaves_user_views_and_catalog_alone(engine, tables):
    """information_schema queries bind their relations per call: a user
    view named ``df_settings`` keeps its columns, the catalog lists the
    same names before and after, and braces in the text pass through."""
    spark = engine.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW df_settings AS SELECT 'me' AS who")
    try:
        before = sorted(t.name for t in spark.catalog.listTables())
        for rel in ("df_settings", "tables", "views", "columns", "schemata"):
            assert engine.sql(f"SELECT count(*) AS n FROM information_schema.{rel}").collect()
        row = engine.sql(
            "SELECT '{\"k\": 1}' AS lit, (SELECT count(*) FROM information_schema.df_settings) AS n"
        ).collect()[0]
        assert row.lit == '{"k": 1}' and row.n > 0
        assert sorted(t.name for t in spark.catalog.listTables()) == before
        assert spark.table("df_settings").columns == ["who"]
        assert engine.sql("SELECT who FROM df_settings").collect()[0].who == "me"
    finally:
        spark.catalog.dropTempView("df_settings")


def test_information_schema_rewrite_skips_string_literals(engine):
    """ADVICE r04: the rewrite must not fire inside string literals."""
    row = engine.sql(
        "SELECT 'see information_schema.tables for details' AS doc, "
        "(SELECT count(*) FROM information_schema.tables) AS n"
    ).collect()[0]
    assert row.doc == "see information_schema.tables for details"
    assert row.n > 0


def test_external_table_with_order_clause_accepted(engine, tables):
    """DataFusion's WITH ORDER sort-order declaration must not kill a
    ported DDL script; accepted (logged) and the table reads normally."""
    engine.sql(
        "CREATE EXTERNAL TABLE region_ord (r_regionkey BIGINT, r_name VARCHAR) "
        "STORED AS PARQUET WITH ORDER (r_regionkey ASC) "
        "LOCATION '/root/testdata/sf0.001/region.parquet'"
    )
    assert engine.sql("SELECT count(*) AS n FROM region_ord").collect()[0].n == 5
    engine.spark.catalog.dropTempView("region_ord")


def test_prepare_execute_deallocate(engine, tables):
    """DataFusion's prepared-statement surface (default parser): PREPARE
    with $n markers, EXECUTE with typed literals (re-bound per call),
    DEALLOCATE; literals inside strings are never treated as markers."""
    import pytest

    engine.sql(
        "PREPARE top_orders(BIGINT, VARCHAR) AS "
        "SELECT o_orderkey, o_orderpriority FROM orders "
        "WHERE o_totalprice > $1 AND o_orderpriority = $2 "
        "ORDER BY o_orderkey LIMIT 5"
    )
    first = engine.sql("EXECUTE top_orders(100000, '1-URGENT')").collect()
    assert 0 < len(first) <= 5
    assert all(r.o_orderpriority == "1-URGENT" for r in first)
    second = engine.sql("EXECUTE top_orders(400000, '1-URGENT')").collect()
    assert len(second) <= len(first)

    # string literal containing a $1 is not a marker
    engine.sql("PREPARE lit AS SELECT '$1 stays' AS s, $1 AS v")
    row = engine.sql("EXECUTE lit(7)").collect()[0]
    assert row.s == "$1 stays" and row.v == 7

    # typed PREPARE: arity is checked against the declared type list
    # (DataFusion: "expects N parameters, but M provided")
    with pytest.raises(ValueError, match="declared parameter type"):
        engine.sql("EXECUTE top_orders(1)")
    engine.sql("DEALLOCATE top_orders")
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("EXECUTE top_orders(1, 'x')")
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("DEALLOCATE top_orders")


def test_information_schema_routines_and_parameters(engine, tables, tmp_path):
    """information_schema.routines lists the function inventory (argmax +
    builtins + TORCH functions with their model URI); parameters exposes
    the TORCH functions' declared array signatures."""
    from torchfusion_spark.models.fixtures import write_demo_model

    model = str(tmp_path / "routines_demo.npz")
    write_demo_model(model)
    engine.sql(
        f"CREATE FUNCTION routines_demo(FLOAT[]) RETURNS FLOAT[] "
        f"LANGUAGE TORCH AS '{model}'"
    )
    routines = {
        r.routine_name.lower(): r
        for r in engine.sql(
            "SELECT routine_name, routine_type, description "
            "FROM information_schema.routines"
        ).collect()
    }
    assert "argmax" in routines
    assert "routines_demo" in routines
    assert routines["routines_demo"].routine_type == "FUNCTION"
    assert model in routines["routines_demo"].description

    params = engine.sql(
        "SELECT specific_name, ordinal_position, parameter_name, data_type "
        "FROM information_schema.parameters WHERE specific_name = 'routines_demo' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [(p.ordinal_position, p.parameter_name, p.data_type) for p in params] == [
        (0, "RETURN", "array<float>"),
        (1, "input", "array<float>"),
    ]


def test_show_all_lists_settings(engine):
    rows = engine.sql("SHOW ALL").collect()
    names = {r.name for r in rows}
    assert any(n.startswith("torchfusion.") for n in names)
    assert len(rows) > 10  # engine confs included


def test_run_script_multi_statement(engine, tables):
    """Porting a DataFusion-CLI .sql file: statements split on ';' outside
    literals, -- comments stripped (but not inside literals), one result
    per statement, front-door forms included."""
    out = engine.run_script(
        """
        -- a ported script
        SET torchfusion.batch_size = 32;
        SELECT 'a;b -- not a comment' AS s;
        SELECT count(*) AS n FROM region
        """
    )
    assert len(out) == 3
    assert out[1].collect()[0].s == "a;b -- not a comment"
    assert out[2].collect()[0].n == 5


def test_execute_binding_property():
    """Property: EXECUTE literal re-rendering round-trips arbitrary
    strings (quotes and backslashes included, in Spark's spelling) and
    numbers through the $n binding."""
    from hypothesis import given, settings as hsettings
    from hypothesis import strategies as st

    import torchfusion_spark.engine as eng

    @hsettings(max_examples=200, deadline=None)
    @given(
        s=st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
            max_size=30,
        ),
        n=st.integers(min_value=-10**12, max_value=10**12),
    )
    def roundtrip(s, n):
        rendered = "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
        raw = f"{rendered}, {n}"
        # parse the arg list exactly as _execute_statement does
        args = eng._execute_args(raw)
        assert args[0] == rendered
        assert args[-1] == str(n)

    roundtrip()


def test_reference_example_script_end_to_end(engine, tmp_path):
    """Replays the reference's example (examples/torchfusion.rs) statement
    for statement through Engine.run_script — the complete user journey a
    torchfusion user ports: external table DDL, SET, df_settings
    introspection, CREATE FUNCTION ... LANGUAGE TORCH, then inference with
    argmax over both a stored feature array and a constructed one."""
    import numpy as np

    from torchfusion_spark.models.fixtures import oracle_predict, write_demo_model

    # an iris-shaped table: 4 feature columns + the assembled array
    rng = np.random.default_rng(11)
    x = rng.standard_normal((40, 4)).astype("float32")
    pdf = {
        "sl": x[:, 0], "sw": x[:, 1], "pl": x[:, 2], "pw": x[:, 3],
        "features": list(map(list, x)), "label": rng.integers(0, 3, 40),
    }
    import pandas as pd

    table = str(tmp_path / "iris.parquet")
    pd.DataFrame(pdf).to_parquet(table)
    model = write_demo_model(str(tmp_path / "iris.npz"), in_dim=4, hidden=8, out_dim=3, seed=5)

    out = engine.run_script(
        f"""
        CREATE EXTERNAL TABLE iris STORED AS PARQUET LOCATION '{table}';
        SET torchfusion.device = cpu;
        SELECT * FROM information_schema.df_settings WHERE NAME LIKE 'torch%';
        CREATE FUNCTION iris(FLOAT[])
        RETURNS FLOAT[]
        LANGUAGE TORCH
        AS '{model}';
        SELECT
        sl, sw, pl, pw,
        features,
        argmax(iris(features)) as f_inferred,
        argmax(iris(array(sl, sw, pl, pw))) as inferred,
        label
        FROM iris
        LIMIT 50
        """
    )
    assert len(out) == 5
    settings = {r.name for r in out[2].collect()}
    assert "torchfusion.device" in settings
    rows = out[4].collect()
    assert len(rows) == 40
    # inference matches the numpy oracle, and both argmax forms agree
    want = np.argmax(oracle_predict(x, in_dim=4, hidden=8, out_dim=3, seed=5), axis=1)
    got = [r.f_inferred for r in rows]
    assert got == list(want)
    assert [r.inferred for r in rows] == got
    engine.spark.catalog.dropTempView("iris")


def test_run_script_tokenizer_edge_cases(engine, tables):
    """Round-5 review findings: a newline inside a literal must not shift
    statement boundaries; an apostrophe inside a comment must not open a
    bogus literal; '' escapes survive."""
    out = engine.run_script(
        "SELECT 'line1\nline2' AS s; -- it's a comment\n"
        "SELECT 2 AS two;\n"
        "SELECT 'x''y' AS esc"
    )
    assert len(out) == 3
    assert out[0].collect()[0].s == "line1\nline2"
    assert out[1].collect()[0].two == 2
    assert out[2].collect()[0].esc == "x'y"


def test_external_table_schema_keeps_column_named_text(engine, tmp_path):
    """A column NAMED text/varchar (the documents table has one) must not
    have its NAME rewritten by the VARCHAR->STRING type mapping."""
    p = tmp_path / "docs.csv"
    p.write_text("doc_id,text,lang\n1,hello world,en\n")
    engine.sql(
        f"CREATE EXTERNAL TABLE docs_named (doc_id BIGINT, text VARCHAR, lang VARCHAR) "
        f"STORED AS CSV WITH HEADER ROW LOCATION '{p}'"
    )
    row = engine.sql("SELECT doc_id, text, lang FROM docs_named").collect()[0]
    assert (row.doc_id, row.text, row.lang) == (1, "hello world", "en")
    engine.spark.catalog.dropTempView("docs_named")


def test_external_table_options_after_location(engine, tmp_path):
    """DataFusion's documented clause order (LOCATION then OPTIONS)."""
    p = tmp_path / "after.csv"
    p.write_text("a|b\n1|x\n")
    engine.sql(
        f"CREATE EXTERNAL TABLE opts_after (a BIGINT, b VARCHAR) STORED AS CSV "
        f"LOCATION '{p}' OPTIONS ('format.has_header' 'true', 'format.delimiter' '|')"
    )
    assert engine.sql("SELECT a, b FROM opts_after").collect()[0].b == "x"
    engine.spark.catalog.dropTempView("opts_after")


def test_run_script_block_comments_and_quoted_identifiers(engine, tables):
    """ADVICE r05: DataFusion's sqlparser accepts /* */ block comments and
    double-quoted identifiers; a ';' or apostrophe inside either must not
    split statements."""
    out = engine.run_script(
        '/* header; it\'s got a semicolon */\n'
        'SELECT r_name AS "the;name" FROM region ORDER BY r_name LIMIT 1;\n'
        "SELECT 2 /* mid; comment */ AS two;\n"
        'SELECT \'a\' AS "with""escape"'
    )
    assert len(out) == 3
    assert out[0].columns == ["the;name"]
    assert out[1].collect()[0].two == 2
    assert out[2].columns == ['with"escape']


def test_split_script_property():
    """Property-test the script tokenizer WITHOUT Spark: build scripts
    from known statements whose payloads contain hostile characters
    (semicolons, apostrophes, quotes) inside literals/identifiers, glue
    them with random comments/whitespace, and assert the split recovers
    exactly the statements with identifiers rewritten to backticks."""
    from hypothesis import given, settings as hsettings
    from hypothesis import strategies as st

    from torchfusion_spark.engine import split_script

    # the characters a lexer can trip on are drawn as often as the rest of
    # Unicode together: from all of Unicode, a ' or \ is too rare to
    # witness a broken escape in a few hundred examples
    payload = st.text(
        alphabet=st.one_of(
            st.sampled_from("'\\\"`;-/*\n"),
            st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
        ),
        max_size=12,
    )

    @st.composite
    def statement(draw):
        kind = draw(st.sampled_from(["lit", "ident", "plain"]))
        if kind == "lit":
            # Spark's spelling: a backslash is \\, a quote '' or \'
            quote = draw(st.sampled_from(["''", "\\'"]))
            p = draw(payload).replace("\\", "\\\\").replace("'", quote)
            return f"SELECT '{p}' AS c", f"SELECT '{p}' AS c"
        if kind == "ident":
            p = draw(payload).replace('"', '""')
            want_inner = p.replace('""', '"').replace("`", "``")
            return f'SELECT 1 AS "{p}x"', f"SELECT 1 AS `{want_inner}x`"
        return "SELECT 1 AS n", "SELECT 1 AS n"

    glue = st.sampled_from(
        ["\n", "  ", "\n-- it's; a comment\n", "/* block; 'comment' */", "\n\t"]
    )

    @hsettings(max_examples=300, deadline=None)
    @given(stmts=st.lists(statement(), min_size=1, max_size=5), seps=st.lists(glue, min_size=6, max_size=6))
    def roundtrip(stmts, seps):
        script = ""
        for i, (src, _) in enumerate(stmts):
            script += seps[i] + src + ";"
        script += seps[-1]
        got = split_script(script)
        want = []
        for src, expect in stmts:
            want.append(expect)
        # glue may prepend a space from a block comment; compare stripped
        assert [g.strip() for g in got] == [w.strip() for w in want], script
        # idempotency: Engine.sql re-scans statements run_script already
        # canonicalized, so a second pass must be the identity (the
        # backtick pass-through state, round-6 review)
        for g in got:
            assert split_script(g) == [g.strip()], g

    roundtrip()


def test_run_script_block_comment_separates_tokens(engine):
    """Round-6 review: a block comment between two tokens must act as a
    separator (one space), not fuse them into a single token."""
    out = engine.run_script("SELECT 1/*c*/AS/*c*/n")
    assert out[0].collect()[0].n == 1


def test_run_script_identifier_with_apostrophe_before_literal(engine):
    """Round-6 review: an apostrophe inside a double-quoted identifier
    must not be misread as a literal boundary — the in-scanner rewrite
    keeps quoting state, unlike a post-hoc literal-first regex."""
    out = engine.run_script("SELECT 'y' AS \"it's\", 'z' AS plain")
    row = out[0].collect()[0]
    assert out[0].columns == ["it's", "plain"]
    assert (row["it's"], row.plain) == ("y", "z")


def test_prepared_statement_named_immediate_still_executes(engine):
    """Round-6 review: a prepared statement the user names `immediate`
    must win over the EXECUTE IMMEDIATE passthrough."""
    engine.sql("PREPARE immediate(INT) AS SELECT $1 + 1 AS n")
    assert engine.sql("EXECUTE immediate(41)").collect()[0].n == 42
    engine.sql("DEALLOCATE immediate")
    # with no such prepared statement, Spark's own form still works
    assert engine.sql("EXECUTE IMMEDIATE 'SELECT 5 AS n'").collect()[0].n == 5


def test_prepare_declared_types_bind_as_casts(engine, tables):
    """ADVICE r05: EXECUTE wraps each bound literal in CAST(x AS <declared
    type>), so a DATE parameter compares as a date (not a string) and a
    DECIMAL(p,s) type list parses despite its nested parens."""
    engine.sql(
        "PREPARE by_date(DATE) AS SELECT count(*) AS n FROM orders "
        "WHERE o_orderdate < $1"
    )
    n = engine.sql("EXECUTE by_date('1995-06-15')").collect()[0].n
    want = engine.spark.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderdate < DATE '1995-06-15'"
    ).collect()[0].n
    assert n == want and want > 0
    engine.sql("DEALLOCATE by_date")

    engine.sql(
        "PREPARE by_price(DECIMAL(12,2), VARCHAR) AS "
        "SELECT count(*) AS n FROM orders "
        "WHERE o_totalprice > $1 AND o_orderpriority = $2"
    )
    n = engine.sql("EXECUTE by_price(100000.50, '1-URGENT')").collect()[0].n
    assert n >= 0
    engine.sql("DEALLOCATE by_price")


def test_execute_immediate_falls_through_to_spark(engine):
    """Spark's own EXECUTE IMMEDIATE ('...') shares the EXECUTE prefix but
    must reach spark.sql, not the prepared-statement registry."""
    row = engine.sql("EXECUTE IMMEDIATE 'SELECT 41 + 1 AS answer'").collect()[0]
    assert row.answer == 42


def test_copy_to_infers_format_from_extension(engine, tables, tmp_path):
    """ADVICE r05: COPY without STORED AS/(FORMAT) infers the format from
    the target extension like DataFusion 45; a missing extension errors
    instead of silently defaulting to parquet."""
    import pytest

    csvp = str(tmp_path / "region_inferred.csv")
    out = engine.sql(f"COPY region TO '{csvp}' OPTIONS ('format.has_header' 'true')").collect()
    assert out[0]["count"] == 5
    back = engine.spark.read.option("header", "true").csv(csvp)  # real CSV, not parquet
    assert back.count() == 5 and "r_name" in back.columns

    pqp = str(tmp_path / "region_inferred.parquet")
    out = engine.sql(f"COPY region TO '{pqp}'").collect()
    assert out[0]["count"] == 5
    assert engine.spark.read.parquet(pqp).count() == 5

    with pytest.raises(ValueError, match="extension"):
        engine.sql(f"COPY region TO '{tmp_path / 'noext'}'")


def test_copy_to_embedded_newline_count(engine, tables, tmp_path):
    """ADVICE r05 + round-6 review: COPY's returned count must describe
    the files written. CSV reads back with multiLine (embedded newlines
    count once); JSON lines escape newlines so a plain read-back is
    already exact."""
    engine.spark.createDataFrame(
        [(1, "line1\nline2"), (2, "plain")], "id int, s string"
    ).createOrReplaceTempView("nl_rows")
    csvp = str(tmp_path / "nl.csv")
    out = engine.sql(f"COPY nl_rows TO '{csvp}' STORED AS CSV").collect()
    assert out[0]["count"] == 2
    jp = str(tmp_path / "nl.json")
    out = engine.sql(f"COPY nl_rows TO '{jp}'").collect()  # ext-inferred json
    assert out[0]["count"] == 2
    back = engine.spark.read.json(jp)
    assert {r.s for r in back.collect()} == {"line1\nline2", "plain"}
    engine.spark.catalog.dropTempView("nl_rows")


def test_execute_out_of_range_multidigit_placeholder_errors(engine):
    """$12 with 2 args must raise unbound, not be spliced as $1 + '2'."""
    import pytest

    engine.sql("PREPARE p12 AS SELECT $1 AS a, $12 AS b")
    with pytest.raises(ValueError, match=r"\$12"):
        engine.sql("EXECUTE p12(5, 7)")
    engine.sql("DEALLOCATE p12")


def test_if_not_exists_case_insensitive(engine):
    engine.sql(
        "CREATE EXTERNAL TABLE MixedCase STORED AS PARQUET "
        "LOCATION '/root/testdata/sf0.001/region.parquet'"
    )
    engine.sql(
        "CREATE EXTERNAL TABLE IF NOT EXISTS mixedcase STORED AS PARQUET "
        "LOCATION '/root/testdata/sf0.001/nation.parquet'"
    )
    assert engine.sql("SELECT count(*) AS n FROM MixedCase").collect()[0].n == 5
    engine.spark.catalog.dropTempView("MixedCase")


def test_split_script_nested_block_comments():
    """Round-6 review: sqlparser-rs tokenizes NESTED block comments
    (depth-tracked), so `/* a /* b */ c */` is one comment — the scanner
    must not exit at the first `*/` and leak the tail into a statement."""
    from torchfusion_spark.engine import split_script

    got = split_script("/* a /* b */ c */ SELECT 1;SELECT 2")
    assert [s.strip() for s in got] == ["SELECT 1", "SELECT 2"]
    # deeper nesting with hostile payloads; note quotes are NOT special
    # inside a comment, so '/*' in a literal-looking span still nests
    got = split_script("/* x /* y; ';' /* z */ ; */ q */SELECT 3 AS n")
    assert [s.strip() for s in got] == ["SELECT 3 AS n"]
    # unterminated nested comment raises, matching sqlparser-rs's EOF
    # error — silently executing a truncated prefix would run the wrong
    # statement on a user typo (ADVICE r06)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unterminated"):
        split_script("/* a /* b */ SELECT 1")
    with _pytest.raises(ValueError, match="unterminated"):
        split_script("SELECT a /* oops FROM t")
    with _pytest.raises(ValueError, match="unterminated"):
        split_script("SELECT 'open")
    with _pytest.raises(ValueError, match="unterminated"):
        split_script('SELECT 1 AS "open')


def test_engine_sql_rewrites_quoted_identifiers(engine, tables):
    """Round-6 review: the double-quoted-identifier rewrite must apply at
    the shared Engine.sql entry, not only inside run_script — the same
    DataFusion-dialect statement behaves identically on both front
    doors."""
    df = engine.sql('SELECT r_name AS "the;name" FROM region ORDER BY r_name LIMIT 1')
    assert df.columns == ["the;name"]
    # a predicate with a double-quoted column reference (Spark's default
    # dialect would read "r_name" as a string literal and compare
    # constants, silently returning every row)
    n = engine.sql('SELECT count(*) AS n FROM region WHERE "r_name" = \'AFRICA\'').collect()[0].n
    assert n == 1
    # trailing comment + semicolon tolerated on the single-statement door
    assert engine.sql("SELECT 2 AS two; -- done").collect()[0].two == 2


def test_prepare_empty_type_list_enforces_zero_arity(engine):
    """Round-6 review: `PREPARE p()` declares arity 0 — DataFusion errors
    'expects 0 parameters, but 1 provided' on EXECUTE p(5); only the
    untyped `PREPARE p` form skips the arity check."""
    import pytest

    engine.sql("PREPARE pz() AS SELECT 41 AS n")
    assert engine.sql("EXECUTE pz").collect()[0].n == 41
    with pytest.raises(ValueError, match="0 declared parameter"):
        engine.sql("EXECUTE pz(5)")
    engine.sql("DEALLOCATE pz")
    # untyped form: extra args still bind positionally (no declared arity)
    engine.sql("PREPARE pu AS SELECT $1 AS n")
    assert engine.sql("EXECUTE pu(7)").collect()[0].n == 7
    engine.sql("DEALLOCATE pu")


def test_copy_to_arrow_roundtrip(engine, tables, tmp_path):
    """Round-6 review: COPY ... STORED AS ARROW (and the inferred .arrow
    extension) must route through the IPC writer like CREATE EXTERNAL
    TABLE does, not die in df.write with Spark's datasource lookup
    error."""
    from torchfusion_spark.sources.arrow_ipc import read_arrow_ipc

    p = str(tmp_path / "region_out.arrow")
    out = engine.sql(f"COPY region TO '{p}' STORED AS ARROW").collect()
    assert out[0]["count"] == 5
    back = read_arrow_ipc(engine.spark, p)
    assert back.count() == 5 and "r_name" in back.columns
    # inferred from extension; overwrite of the prior output
    out = engine.sql(f"COPY (SELECT * FROM region WHERE r_regionkey < 2) TO '{p}'").collect()
    assert out[0]["count"] == 2
    assert read_arrow_ipc(engine.spark, p).count() == 2
    # external-table round trip through the engine's own arrow reader
    engine.sql(f"CREATE EXTERNAL TABLE region_copyback STORED AS ARROW LOCATION '{p}'")
    assert engine.sql("SELECT count(*) AS n FROM region_copyback").collect()[0].n == 2
    engine.spark.catalog.dropTempView("region_copyback")


def test_configure_keeps_preset_settings_and_seeds_missing(spark):
    """``configure`` seeds only the torchfusion.* keys a session lacks: a
    preset value survives it, a missing key gets its default."""
    from torchfusion_spark.session import configure

    keys = ("torchfusion.batch_size", "torchfusion.device")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("torchfusion.batch_size", "7")
        spark.conf.unset("torchfusion.device")
        configure(spark)
        assert spark.conf.get("torchfusion.batch_size") == "7"
        assert spark.conf.get("torchfusion.device") == "cpu"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Engine.sql reads literals and identifiers the way Spark's parser does:
# (case, Engine.sql text, spark.sql text where it differs). The
# doubled-quote and raw-literal cases passed before the shared lexer; the
# rest raised "unterminated string literal", rewrote inside an
# identifier, or bound $1 inside one.
_SPARK_AGREEMENT = [
    ("backslash_quote", r"SELECT 'a\'b' AS s, 'x' AS t", None),
    ("info_schema_in_backticks", "SELECT 1 AS `see information_schema.tables`", None),
    (
        "info_schema_in_double_quotes",
        'SELECT 1 AS "see information_schema.tables"',
        "SELECT 1 AS `see information_schema.tables`",
    ),
    ("execute_backslash_quote", r"EXECUTE agree_lit('it\'s')", r"SELECT 'it\'s' AS v"),
    ("execute_placeholder_in_backticks", "EXECUTE agree_tick(5)", "SELECT 5 AS `$1`"),
    ("doubled_quote", "SELECT 'it''s' AS s", None),
    ("raw_literal", r"SELECT r'a\' AS s", None),
    (
        "info_schema_in_literal_with_backslash_quote",
        r"SELECT 'it\'s information_schema.tables' AS s",
        None,
    ),
    ("argmax_call_in_literal_with_backslash_quote", r"SELECT 'it\'s argmax(agree_clf(' AS s", None),
]


@pytest.fixture(scope="module")
def agreement_engine(engine, tmp_path_factory):
    """The engine with the statements the agreement cases execute, and a
    LANGUAGE TORCH function, so the argmax fusion scans every query."""
    from torchfusion_spark.models.fixtures import write_demo_model

    model = write_demo_model(str(tmp_path_factory.mktemp("agree") / "demo.npz"))
    engine.sql(f"CREATE OR REPLACE FUNCTION agree_clf(FLOAT[]) LANGUAGE TORCH AS '{model}'")
    engine.sql("PREPARE agree_lit AS SELECT $1 AS v")
    engine.sql("PREPARE agree_tick AS SELECT $1 AS `$1`")
    yield engine
    engine.sql("DEALLOCATE agree_lit")
    engine.sql("DEALLOCATE agree_tick")


@pytest.mark.parametrize(
    "text, spark_text", [c[1:] for c in _SPARK_AGREEMENT], ids=[c[0] for c in _SPARK_AGREEMENT]
)
def test_engine_sql_agrees_with_spark_sql(agreement_engine, text, spark_text):
    got = agreement_engine.sql(text)
    want = agreement_engine.spark.sql(spark_text or text)
    assert got.columns == want.columns
    assert got.collect() == want.collect()


def test_hint_comment_reaches_spark(spark):
    """A ``/*+ … */`` hint is Spark syntax, not a comment: with broadcast
    joins off, ``BROADCAST(b)`` still plans a broadcast hash join through
    ``Engine.sql``, as it does through ``spark.sql``."""
    from torchfusion_spark.engine import Engine
    from torchfusion_spark.session import scoped

    text = (
        "WITH a AS (SELECT id FROM range(100)), b AS (SELECT id FROM range(10)) "
        "SELECT /*+ BROADCAST(b) */ a.id FROM a JOIN b ON a.id = b.id"
    )
    no_broadcast = scoped(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})

    def joins(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [j for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") if j in plan]

    want = joins(no_broadcast.sql(text))
    assert want == ["BroadcastHashJoin"]
    assert joins(Engine(no_broadcast).sql(text)) == want
    assert joins(no_broadcast.sql(text.replace("/*+", "/*"))) == ["SortMergeJoin"]


def test_sql_function_in_order_by_needs_an_alias(engine, tables):
    """Spark 4.1 rejects a library SQL function (``argmax``, ``vec_dot``,
    …) in ORDER BY; sorting on its alias works. A Spark that lifts the
    restriction fails the error-class assertion here."""
    from pyspark.errors import AnalysisException

    for call in ("argmax(embedding)", "vec_dot(embedding, embedding)"):
        with pytest.raises(AnalysisException) as err:
            engine.sql(f"SELECT vec_id FROM embeddings ORDER BY {call}, vec_id LIMIT 3").collect()
        assert err.value.getCondition() == "UNSUPPORTED_SQL_UDF_USAGE"
    rows = engine.sql(
        "SELECT vec_id, argmax(embedding) AS am FROM embeddings ORDER BY am, vec_id LIMIT 3"
    ).collect()
    every = engine.spark.table("embeddings").select("vec_id", "embedding").collect()
    want = sorted((e.index(max(e)), r.vec_id) for r in every for e in [r.embedding])[:3]
    assert [(r.am, r.vec_id) for r in rows] == want


def test_one_lexer_reads_literals():
    """Every rewrite reads literals through ``engine._TOKEN_RE``: the
    single-quoted literal's alternation is spelled once, and the old
    literal-only scanners are gone."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "torchfusion_spark"
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "_SQL_LITERAL_RE" in line or "_sub_outside_literals" in line
    ]
    assert not hits, hits
    assert (root / "engine.py").read_text().count("'(?:[^'") == 1
