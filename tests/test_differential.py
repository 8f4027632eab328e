"""Differential fuzzing: randomized query shapes compiled to ONE ANSI SQL
string, executed by both Catalyst and DuckDB on the same parquet, results
compared exactly.

The fixed registry witnesses each operator once; this sweeps the
combinatorial space between witnesses (predicate × aggregate × grouping ×
ordering) that no hand-written list covers. Derandomized (fixed seed) so
the gate never sees a flaky example; the grammar is restricted to
constructs both engines define identically:

* money/quantity aggregates through DECIMAL (exact, order-independent),
  surfaced as DOUBLE;
* no float division, no order-dependent float aggs;
* every ORDER BY is total (group keys are the sort keys);
* LIKE patterns without escapes; IN lists of literals; BETWEEN on ints.

A failure here is a real cross-engine divergence — exactly what the
oracle gate exists to catch (SURVEY §5 strategy).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.fuzz_budget import examples

SF_DIR = "/root/testdata/sf0.001"

NUM_PREDS = [
    "l_quantity > {q}",
    "l_quantity <= {q}",
    "l_orderkey % 7 = {m}",
    "l_extendedprice BETWEEN {lo} AND {hi}",
    "l_orderkey BETWEEN {ok_lo} AND {ok_hi}",
]
STR_PREDS = [
    "l_returnflag = '{flag}'",
    "l_returnflag IN ('A', 'R')",
    "l_linestatus = '{status}'",
    "l_shipdate >= TIMESTAMP '{year}-0{month}-01'",
    "l_shipdate < TIMESTAMP '{year}-0{month}-01'",
]
AGGS = [
    "CAST(COUNT(*) AS BIGINT) AS n",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty",
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price",
    "CAST(MIN(l_orderkey) AS BIGINT) AS min_ok",
    "CAST(MAX(l_orderkey) AS BIGINT) AS max_ok",
    "MIN(l_returnflag) AS min_flag",
    "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts",
]
GROUPS = [None, "l_returnflag", "l_linestatus", "l_returnflag, l_linestatus"]


@st.composite
def query_case(draw):
    preds = []
    if draw(st.booleans()):
        tmpl = draw(st.sampled_from(NUM_PREDS))
        lo = draw(st.integers(900, 40000))
        preds.append(
            tmpl.format(
                q=draw(st.integers(1, 50)),
                m=draw(st.integers(0, 6)),
                lo=lo,
                hi=lo + draw(st.integers(0, 40000)),
                ok_lo=draw(st.integers(0, 3000)),
                ok_hi=draw(st.integers(3000, 60000)),
            )
        )
    if draw(st.booleans()):
        tmpl = draw(st.sampled_from(STR_PREDS))
        preds.append(
            tmpl.format(
                flag=draw(st.sampled_from(["A", "N", "R"])),
                status=draw(st.sampled_from(["O", "F"])),
                year=draw(st.integers(1994, 1998)),
                month=draw(st.integers(1, 9)),
            )
        )
    aggs = draw(
        st.lists(st.sampled_from(AGGS), min_size=1, max_size=3, unique=True)
    )
    group = draw(st.sampled_from(GROUPS))
    sql = "SELECT "
    if group:
        sql += group + ", "
    sql += ", ".join(aggs) + " FROM lineitem"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    if group:
        sql += f" GROUP BY {group} ORDER BY {group}"
    return sql


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@settings(
    max_examples=examples(60),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=query_case())
def test_differential_agg_queries(spark, tables, duck, sql):
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, f"divergence on: {sql}"


# bare SEMI/ANTI spellings: the dialect intersection (DuckDB rejects the
# LEFT SEMI prefix Spark also accepts)
JOIN_TYPES = ["JOIN", "LEFT JOIN", "SEMI JOIN", "ANTI JOIN"]
O_PREDS = [
    "o_orderpriority = '{prio}'",
    "o_orderstatus = '{status}'",
    "o_totalprice > {price}",
]


@st.composite
def join_case(draw):
    jt = draw(st.sampled_from(JOIN_TYPES))
    o_pred = draw(st.sampled_from(O_PREDS)).format(
        prio=draw(st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"])),
        status=draw(st.sampled_from(["O", "F", "P"])),
        price=draw(st.integers(50_000, 400_000)),
    )
    l_pred = draw(st.sampled_from(NUM_PREDS)).format(
        q=draw(st.integers(1, 50)),
        m=draw(st.integers(0, 6)),
        lo=1000,
        hi=1000 + draw(st.integers(0, 40000)),
        ok_lo=draw(st.integers(0, 3000)),
        ok_hi=draw(st.integers(3000, 60000)),
    )
    semi = "SEMI" in jt or "ANTI" in jt
    if semi:
        # semi/anti expose only the left side
        agg = "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty"
        group = "l_returnflag"
    else:
        agg = "CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(o_orderkey) AS BIGINT) AS min_ok"
        group = draw(st.sampled_from(["l_returnflag", "o_orderpriority"]))
    sub = f"(SELECT * FROM orders WHERE {o_pred}) o"
    sql = (
        f"SELECT {group}, {agg} FROM lineitem l {jt} {sub} "
        f"ON l.l_orderkey = o.o_orderkey WHERE {l_pred} "
        f"GROUP BY {group} ORDER BY {group}"
    )
    return sql


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=join_case())
def test_differential_join_queries(spark, tables, duck, sql):
    # python-side total sort: engines disagree on default NULL placement
    # in ORDER BY (Spark NULLS FIRST, DuckDB NULLS LAST)
    got = sorted((tuple(r) for r in spark.sql(sql).collect()), key=repr)
    want = sorted((tuple(r) for r in duck.execute(sql).fetchall()), key=repr)
    assert got == want, f"divergence on: {sql}"


WIN_FUNCS = [
    "ROW_NUMBER()",
    "RANK()",
    "LAG(l_orderkey, {k}) ",
    "LEAD(l_orderkey, {k}) ",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w2 AS DOUBLE)",
    "CAST(COUNT(*) OVER w2 AS BIGINT)",
]


_WIN_COLS = (
    "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, "
    "l_extendedprice, l_returnflag, l_linestatus"
)


@st.composite
def window_case(draw):
    k = draw(st.integers(1, 3))
    fn = draw(st.sampled_from(WIN_FUNCS)).format(k=k)
    part = draw(st.sampled_from(["l_returnflag", "l_linestatus"]))
    frame = draw(st.integers(0, 5))
    over = "OVER w" if "OVER" not in fn else ""
    # the synthetic testdata has duplicate (l_orderkey, l_linenumber) pairs,
    # so the source is a DISTINCT projection and every window orders by ALL
    # its columns — a total order, making rank/lag/frames deterministic in
    # both engines
    return (
        f"WITH t AS (SELECT DISTINCT {_WIN_COLS} FROM lineitem WHERE l_orderkey < 2000) "
        f"SELECT l_orderkey, l_linenumber, l_partkey, {fn} {over} AS v FROM t "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY {_WIN_COLS}), "
        f"w2 AS (PARTITION BY {part} ORDER BY {_WIN_COLS} "
        f"ROWS BETWEEN {frame} PRECEDING AND CURRENT ROW) "
        f"ORDER BY {_WIN_COLS}"
    )


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=window_case())
def test_differential_window_queries(spark, tables, duck, sql):
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, f"divergence on: {sql}"


SCALAR_EXPRS = [
    "upper(l_returnflag)",
    "lower(l_linestatus)",
    "length(l_returnflag || l_linestatus)",
    "substr(l_returnflag || l_linestatus, {pos}, 1)",
    "replace(l_returnflag, 'A', 'X')",
    "reverse(l_returnflag || l_linestatus)",
    "abs(l_orderkey - {off})",
    "CAST(l_orderkey % {mod} AS BIGINT)",
    "CAST(round(CAST(l_quantity AS DECIMAL(12,2)) / 7, 2) AS DOUBLE)",
    "coalesce(nullif(l_returnflag, 'N'), '-')",
    "CASE WHEN l_quantity > {q} THEN 'hi' ELSE 'lo' END",
    "greatest(l_orderkey, l_partkey)",
    "least(l_orderkey, l_partkey)",
]


@st.composite
def scalar_case(draw):
    exprs = draw(st.lists(st.sampled_from(SCALAR_EXPRS), min_size=1, max_size=4, unique=True))
    rendered = [
        e.format(
            pos=draw(st.integers(1, 2)),
            off=draw(st.integers(0, 5000)),
            mod=draw(st.integers(2, 13)),
            q=draw(st.integers(1, 50)),
        )
        + f" AS e{i}"
        for i, e in enumerate(exprs)
    ]
    return (
        "SELECT l_orderkey, l_linenumber, " + ", ".join(rendered)
        + " FROM lineitem WHERE l_orderkey < 1000 ORDER BY l_orderkey, l_linenumber"
    )


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=scalar_case())
def test_differential_scalar_exprs(spark, tables, duck, sql):
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, f"divergence on: {sql}"


SETOPS = ["UNION", "UNION ALL", "INTERSECT", "EXCEPT", "INTERSECT ALL", "EXCEPT ALL"]


@st.composite
def setop_case(draw):
    op = draw(st.sampled_from(SETOPS))
    q1 = draw(st.integers(1, 30))
    q2 = draw(st.integers(10, 50))
    cols = "l_returnflag, l_linestatus, CAST(l_quantity AS DOUBLE) AS q"
    return (
        f"SELECT {cols} FROM lineitem WHERE l_quantity <= {q1} "
        f"{op} "
        f"SELECT {cols} FROM lineitem WHERE l_quantity >= {q2}"
    )


@st.composite
def rollup_case(draw):
    form = draw(
        st.sampled_from(
            ["ROLLUP", "CUBE", "GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"]
        )
    )
    grouping = (
        f"{form}(l_returnflag, l_linestatus)" if form in ("ROLLUP", "CUBE") else form
    )
    agg = draw(st.sampled_from(AGGS[:5]))
    pred = draw(st.sampled_from(NUM_PREDS[:3])).format(
        q=draw(st.integers(1, 50)), m=draw(st.integers(0, 6)), lo=0, hi=0
    )
    return (
        f"SELECT l_returnflag, l_linestatus, {agg}, "
        f"CAST(GROUPING(l_returnflag) AS BIGINT) AS g1 "
        f"FROM lineitem WHERE {pred} GROUP BY {grouping}"
    )


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=st.one_of(setop_case(), rollup_case()))
def test_differential_setops_and_grouping(spark, tables, duck, sql):
    # multiset compare (set-op result order is undefined; rollup emits NULL
    # indicator rows both engines order differently)
    got = sorted((tuple(r) for r in spark.sql(sql).collect()), key=repr)
    want = sorted((tuple(r) for r in duck.execute(sql).fetchall()), key=repr)
    assert got == want, f"divergence on: {sql}"


@settings(
    max_examples=examples(15),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(
            # printable unicode incl. multibyte, but no quotes/backslashes:
            # the fuzz feeds a VALUES literal; quoting rules differ and are
            # not the property under test (the hash portability is)
            alphabet=st.characters(
                blacklist_categories=("Cs", "Cc"),
                blacklist_characters="'\\\"",
            ),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_portable_shingle_hashes_cross_engine(spark, duck, texts):
    """The portable md5-int56 shingle hash is the trust anchor of every
    dedup/decontamination oracle: the same document must produce the SAME
    hashed-shingle set in Catalyst and DuckDB, including multibyte
    unicode, empty strings and whitespace runs. Exercises the shared
    sqlgen fragments directly rather than through a fixed corpus."""
    from torchfusion_spark.operators.dedup import hashed_shingle_sql

    rows = ", ".join(
        f"({i}, '{t}', 'xx', {len(t)})" for i, t in enumerate(texts)
    )
    rel = f"(SELECT * FROM (VALUES {rows}) AS v(doc_id, text, lang, n_chars))"
    s_sql = f"SELECT doc_id, hx FROM ({hashed_shingle_sql('spark', rel=rel)}) ORDER BY doc_id"
    d_sql = f"SELECT doc_id, hx FROM ({hashed_shingle_sql('duck', rel=rel)}) ORDER BY doc_id"
    got = [(r.doc_id, sorted(r.hx)) for r in spark.sql(s_sql).collect()]
    want = [(i, sorted(h)) for i, h in duck.execute(d_sql).fetchall()]
    assert got == want, f"hash divergence on texts: {texts!r}"


SUBQ_SHAPES = [
    # correlated scalar (no division — MIN/MAX/COUNT only)
    "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS q FROM lineitem l "
    "WHERE l_quantity = (SELECT MAX(l2.l_quantity) FROM lineitem l2 "
    "WHERE l2.l_orderkey = l.l_orderkey) AND l_orderkey < {cap}",
    # EXISTS
    "SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem l "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey "
    "AND o.o_totalprice > {price}) AND l_orderkey < {cap} "
    "GROUP BY l_orderkey",
    # NOT EXISTS
    "SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem l "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey "
    "AND o.o_orderpriority = '{prio}') AND l_orderkey < {cap} "
    "GROUP BY l_orderkey",
    # IN over a grouped HAVING subquery
    "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem "
    "WHERE l_orderkey IN (SELECT o_orderkey FROM orders GROUP BY o_orderkey "
    "HAVING CAST(MAX(o_totalprice) AS DECIMAL(14,2)) > {price}) "
    "GROUP BY l_returnflag",
    # uncorrelated scalar compare
    "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem "
    "WHERE l_extendedprice > (SELECT MIN(o_totalprice) FROM orders "
    "WHERE o_orderstatus = '{status}') GROUP BY l_returnflag",
]


@st.composite
def subquery_case(draw):
    tmpl = draw(st.sampled_from(SUBQ_SHAPES))
    return tmpl.format(
        cap=draw(st.integers(200, 3000)),
        price=draw(st.integers(50_000, 300_000)),
        prio=draw(st.sampled_from(["1-URGENT", "5-LOW"])),
        status=draw(st.sampled_from(["O", "F"])),
    )


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=subquery_case())
def test_differential_subqueries(spark, tables, duck, sql):
    got = sorted((tuple(r) for r in spark.sql(sql).collect()), key=repr)
    want = sorted((tuple(r) for r in duck.execute(sql).fetchall()), key=repr)
    assert got == want, f"divergence on: {sql}"


DT_EXPRS = [
    "CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT)",
    "CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT)",
    "CAST(EXTRACT(DAY FROM l_shipdate) AS BIGINT)",
    "CAST(EXTRACT(HOUR FROM l_shipdate) AS BIGINT)",
    # CAST: DuckDB returns DATE for day-or-coarser units, Spark TIMESTAMP
    "CAST(date_trunc('{unit}', l_shipdate) AS TIMESTAMP)",
    "CAST(l_shipdate AS DATE)",
    "l_shipdate + INTERVAL '{days}' DAY",
]


@st.composite
def datetime_case(draw):
    exprs = draw(st.lists(st.sampled_from(DT_EXPRS), min_size=1, max_size=3, unique=True))
    rendered = [
        e.format(
            unit=draw(st.sampled_from(["year", "month", "day", "hour"])),
            days=draw(st.integers(1, 90)),
        )
        + f" AS e{i}"
        for i, e in enumerate(exprs)
    ]
    return (
        "SELECT l_orderkey, l_linenumber, " + ", ".join(rendered)
        + " FROM lineitem WHERE l_orderkey < 800 ORDER BY l_orderkey, l_linenumber, "
        + ", ".join(f"e{i}" for i in range(len(rendered)))
    )


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=datetime_case())
def test_differential_datetime_exprs(spark, tables, duck, sql):
    got = sorted((tuple(r) for r in spark.sql(sql).collect()), key=repr)
    want = sorted((tuple(r) for r in duck.execute(sql).fetchall()), key=repr)
    assert got == want, f"divergence on: {sql}"


@pytest.fixture()
def restore_documents(spark, tables):
    """Tests that clobber the documents view force a clean reload (the
    registration-generation key re-stages every dependent cached
    relation)."""
    yield
    spark._tf_tables_loaded = None
    from torchfusion_spark.sources import load_tables

    load_tables(spark, tables)


TEXT_SQLS = ["quality", "tokens", "fingerprint"]


@settings(
    max_examples=examples(10),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs", "Cc"), blacklist_characters="'\\\"",
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    ),
    which=st.sampled_from(TEXT_SQLS),
)
def test_differential_textstats_primitives(spark, duck, restore_documents, texts, which):
    """The text-quality/token/fingerprint sqlgen fragments on RANDOM
    unicode docs: the fixed-corpus oracle proves them on driver data;
    this sweeps tokenizer/regex/hash behavior over arbitrary strings —
    any engine disagreement on whitespace splitting, regex counting, or
    md5 hashing surfaces here."""
    from torchfusion_spark.operators.textstats import (
        fingerprint_sql,
        text_quality_sql,
        token_count_sql,
    )

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    gen = {"quality": text_quality_sql, "tokens": token_count_sql, "fingerprint": fingerprint_sql}[
        which
    ]
    got = [tuple(r) for r in spark.sql(gen("spark")).collect()]
    want = [tuple(r) for r in duck.execute(gen("duck")).fetchall()]
    assert got == want, f"textstats divergence ({which}) on texts: {texts!r}"


# -- round-6 grammar widening ------------------------------------------------

COND_AGGS = [
    # CASE-conditional and FILTER-clause aggregation — both dialects
    # define them identically; DECIMAL discipline as everywhere
    "CAST(SUM(CASE WHEN l_quantity > {q} THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS cond_sum",
    "CAST(COUNT(CASE WHEN l_returnflag = '{flag}' THEN 1 END) AS BIGINT) AS cond_n",
    "CAST(COUNT(*) FILTER (WHERE l_quantity <= {q}) AS BIGINT) AS filt_n",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = '{status}') AS DOUBLE) AS filt_sum",
    "CAST(MAX(l_orderkey) FILTER (WHERE l_orderkey % {mod} = 0) AS BIGINT) AS filt_max",
]
HAVINGS = [
    "COUNT(*) > {n}",
    "SUM(CAST(l_quantity AS DECIMAL(12,2))) > {qty}",
    "MIN(l_orderkey) < {ok}",
]


@st.composite
def having_case(draw):
    aggs = draw(st.lists(st.sampled_from(COND_AGGS), min_size=1, max_size=3, unique=True))
    rendered = [
        a.format(
            q=draw(st.integers(1, 50)),
            flag=draw(st.sampled_from(["A", "N", "R"])),
            status=draw(st.sampled_from(["O", "F"])),
            mod=draw(st.integers(2, 9)),
        )
        for a in aggs
    ]
    having = draw(st.sampled_from(HAVINGS)).format(
        n=draw(st.integers(0, 3000)),
        qty=draw(st.integers(0, 60000)),
        ok=draw(st.integers(100, 50000)),
    )
    group = draw(st.sampled_from(["l_returnflag", "l_returnflag, l_linestatus"]))
    return (
        f"SELECT {group}, " + ", ".join(rendered)
        + f" FROM lineitem GROUP BY {group} HAVING {having} ORDER BY {group}"
    )


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=having_case())
def test_differential_conditional_agg_having(spark, tables, duck, sql):
    """CASE- and FILTER-conditional aggregation under HAVING — the shape
    every quality-gating pipeline query takes (count docs passing a
    predicate per group, keep groups above a floor)."""
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, f"divergence on: {sql}"


@st.composite
def cte_chain_case(draw):
    """Two chained CTEs (filter -> aggregate) consumed with a total-order
    LIMIT/OFFSET — pagination over derived relations, where an engine
    disagreement on intermediate row order would silently return a
    different page if the final order were not total."""
    q = draw(st.integers(1, 50))
    lim = draw(st.integers(1, 20))
    off = draw(st.integers(0, 10))
    agg = draw(st.sampled_from(AGGS[:5]))
    return (
        f"WITH f AS (SELECT * FROM lineitem WHERE l_quantity <= {q}), "
        f"a AS (SELECT l_returnflag, l_linestatus, {agg} FROM f "
        f"GROUP BY l_returnflag, l_linestatus) "
        f"SELECT * FROM a ORDER BY l_returnflag, l_linestatus "
        f"LIMIT {lim} OFFSET {off}"
    )


@settings(
    max_examples=examples(25),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=cte_chain_case())
def test_differential_cte_limit_offset(spark, tables, duck, sql):
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, f"divergence on: {sql}"


NULL_EXPRS = [
    # NULLs manufactured by NULLIF, consumed by three-valued logic —
    # the semantics both engines inherit from the standard
    "coalesce(nullif(l_returnflag, '{flag}'), 'X')",
    "CAST(nullif(l_orderkey % {mod}, 0) AS BIGINT)",
    "(nullif(l_returnflag, '{flag}') IS NULL)",
    "(nullif(l_returnflag, '{flag}') IS DISTINCT FROM nullif(l_linestatus, '{status}'))",
    "CASE WHEN nullif(l_orderkey % {mod}, 0) IS NOT NULL THEN 'set' ELSE 'null' END",
]
NULL_AGGS = [
    # COUNT skips NULLs, COUNT(*) does not; SUM over all-NULL is NULL
    "CAST(COUNT(nullif(l_orderkey % {mod}, 0)) AS BIGINT) AS n_nonnull",
    "CAST(COUNT(*) AS BIGINT) AS n_all",
    "CAST(SUM(CAST(nullif(l_quantity, {q}) AS DECIMAL(12,2))) AS DOUBLE) AS sum_nullable",
    "CAST(MAX(nullif(l_orderkey % {mod}, 0)) AS BIGINT) AS max_nonnull",
]


@st.composite
def null_semantics_case(draw):
    mode = draw(st.booleans())
    if mode:  # scalar projection
        exprs = draw(st.lists(st.sampled_from(NULL_EXPRS), min_size=1, max_size=3, unique=True))
        rendered = [
            e.format(
                flag=draw(st.sampled_from(["A", "N", "R"])),
                status=draw(st.sampled_from(["O", "F"])),
                mod=draw(st.integers(2, 9)),
            )
            + f" AS e{i}"
            for i, e in enumerate(exprs)
        ]
        return (
            "SELECT l_orderkey, l_linenumber, " + ", ".join(rendered)
            + " FROM lineitem WHERE l_orderkey < 1000 "
            "ORDER BY l_orderkey, l_linenumber"
        )
    aggs = draw(st.lists(st.sampled_from(NULL_AGGS), min_size=1, max_size=3, unique=True))
    rendered = [
        a.format(mod=draw(st.integers(2, 9)), q=draw(st.integers(1, 50))) for a in aggs
    ]
    return (
        "SELECT l_returnflag, " + ", ".join(rendered)
        + " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=null_semantics_case())
def test_differential_null_semantics(spark, tables, duck, sql):
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, f"divergence on: {sql}"


def test_pow_9dp_rounding_agrees_cross_engine(spark, duck):
    """Canary for sample_temperature_mixture's accepted risk class
    (VERDICT r8 item 6): the operator's only transcendental is
    ROUND(pow(p, alpha), 9), and a libm divergence at a 9dp rounding
    boundary would flip a DECIMAL-summed normalizer long before any
    other gate noticed. Derandomized sweep: alpha grid [0.1, 0.9] plus
    the operator's own 0.3, × share-shaped p values (integer-share
    ratios, the operator's actual input form) and uniform p values —
    both engines must produce the identical 9dp decimal for every cell."""
    import numpy as np

    rng = np.random.default_rng(909)
    alphas = [round(0.1 * i, 1) for i in range(1, 10)]
    rows = []
    for a in alphas:
        shares = rng.integers(1, 10**9, size=40)
        tot = int(shares.sum())
        ps = [int(s) / tot for s in shares] + list(rng.random(40))
        rows += [(a, float(p)) for p in ps if p > 0]
    # both engines return ORDER BY alpha, p — sort the input rows the
    # same way so a mismatch report names the input that actually
    # diverged (code-review r09)
    rows.sort()
    vals = ", ".join(f"({a!r}, {p!r})" for a, p in rows)
    body = (
        "SELECT CAST(ROUND(pow(CAST(p AS DOUBLE), CAST(alpha AS DOUBLE)), 9) "
        "AS DECIMAL(12,9)) AS q FROM {src} ORDER BY alpha, p"
    )
    sp = [
        str(r.q)
        for r in spark.sql(
            body.format(src=f"VALUES {vals} AS t(alpha, p)")
        ).collect()
    ]
    du = [
        str(r[0])
        for r in duck.execute(
            body.format(src=f"(VALUES {vals}) t(alpha, p)")
        ).fetchall()
    ]
    assert len(sp) == len(rows)
    mismatches = [
        (rows[i], sp[i], du[i]) for i in range(len(rows)) if sp[i] != du[i]
    ]
    assert not mismatches, mismatches[:10]


@st.composite
def quantile_cut_inputs(draw):
    n_docs = draw(st.integers(1, 36))
    langs = [
        draw(st.sampled_from(["en", "de", "fr", None])) for _ in range(n_docs)
    ]
    # small integer score domain → deliberate heavy ties (the semantics
    # NTILE and value-defined buckets disagree on)
    scores = [draw(st.integers(0, 12)) for _ in range(n_docs)]
    n = draw(st.sampled_from([2, 3, 5]))
    desc = draw(st.booleans())
    grouped = draw(st.booleans())
    return langs, scores, n, desc, grouped


@settings(
    max_examples=examples(50),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=quantile_cut_inputs())
def test_differential_quantile_cut_case(spark, duck, case):
    """The broadcast-cut NTILE replacement (VERDICT r9 item 1) on RANDOM
    score relations — ties, constant groups, singleton groups, NULL
    group keys, asc/desc, grouped/global: both dialects must emit
    identical buckets, and four semantic invariants must hold in
    Python: (1) every input row survives (the NULL-group drop ADVICE
    r10 #3 fixed is structurally impossible to reintroduce unnoticed),
    (2) buckets stay in 1..n, (3) equal scores in a group share a
    bucket (the value-defined tie rule), (4) bucket order is monotone
    in score within a group."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import quantile_cut_case

    langs, scores, n, desc, grouped = case
    pdf = pd.DataFrame(
        {"doc_id": range(len(langs)), "lang": langs, "score": [float(s) for s in scores]}
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("qc_scores")
    duck.execute("CREATE OR REPLACE VIEW qc_scores AS SELECT * FROM pdf")
    by = "lang" if grouped else None
    out = {}
    for d in ("spark", "duck"):
        cuts, join, caseexpr = quantile_cut_case(
            d, rel="qc_scores", score="score", n=n, desc=desc, by=by, alias="t"
        )
        sql = (
            f"WITH {cuts} SELECT t.doc_id, t.lang, t.score, "
            f"CAST({caseexpr} AS INT) AS bucket "
            f"FROM qc_scores t {join} ORDER BY t.doc_id"
        )
        rows = (
            spark.sql(sql).collect() if d == "spark" else duck.execute(sql).fetchall()
        )
        out[d] = [tuple(r) for r in rows]
    assert out["spark"] == out["duck"], (case, out)
    rows = out["spark"]
    assert len(rows) == len(langs)  # (1) nothing dropped, NULL groups included
    by_group: dict = {}
    for _doc, lang, score, bucket in rows:
        assert 1 <= bucket <= n  # (2)
        by_group.setdefault(lang if grouped else "", []).append((score, bucket))
    for members in by_group.values():
        seen = {}
        for score, bucket in members:
            assert seen.setdefault(score, bucket) == bucket  # (3) ties agree
        ordered = sorted(members)
        bks = [b for _, b in ordered]
        if desc:
            assert all(a >= b for a, b in zip(bks, bks[1:]))  # (4) better score, better bucket
        else:
            assert all(a <= b for a, b in zip(bks, bks[1:]))


@st.composite
def random_urls(draw):
    host_seg = st.text(
        alphabet="abcdefgHIJK0123456789-", min_size=1, max_size=8
    )
    path_seg = st.text(
        alphabet="abcXYZ0123456789._-%~", min_size=0, max_size=6
    )
    urls = []
    for _ in range(draw(st.integers(1, 25))):
        scheme = draw(st.sampled_from(["http://", "https://", ""]))
        host = ".".join(
            draw(st.lists(host_seg, min_size=1, max_size=3))
        )
        port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
        path = "".join(
            "/" + draw(path_seg) for _ in range(draw(st.integers(0, 4)))
        )
        if draw(st.booleans()):
            path += "/"
        keys = draw(
            st.lists(
                st.sampled_from(
                    ["utm_source", "utm_campaign", "ref", "fbclid", "gclid",
                     "id", "q", "page", "a", "utm_X", "refx"]
                ),
                max_size=4,
            )
        )
        query = "&".join(f"{k}={draw(path_seg)}" for k in keys)
        frag = draw(st.sampled_from(["", "#top", "#a/b?c=d", "#", "\n", "#f\n", "\r\n"]))
        q = f"?{query}" if (query or draw(st.booleans())) else ""
        urls.append(f"{scheme}{host}{port}{path}{q}{frag}")
    return urls


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(urls=random_urls())
def test_differential_url_canonicalization(spark, duck, urls):
    """The URL canonicalization regex chain on RANDOM structured URLs —
    schemes (http/https/none), mixed-case hosts, default and explicit
    ports, trailing slashes, tracking and non-tracking params, empty
    queries, fragments with separators inside: the registry witnesses
    it only on the fixture's three messy spellings, so this sweeps the
    string/regex dialect intersection (regexp_extract group semantics,
    char-class replace, split/sort/join) where Catalyst and DuckDB
    could disagree. Light Python invariants: no fragment survives, the
    scheme is normalized, listed tracking params never survive as
    whole keys."""
    import pandas as pd

    from torchfusion_spark.operators.dedup import url_canonical_sql

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(urls)),
            "source": [f"src{i % 3}" for i in range(len(urls))],
            "url": urls,
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("qc_urls")
    duck.execute("CREATE OR REPLACE VIEW qc_urls AS SELECT * FROM pdf")
    out = {}
    for d in ("spark", "duck"):
        sql = (
            f"SELECT doc_id, canonical_url FROM "
            f"({url_canonical_sql(d, rel='qc_urls', url_expr='url')}) ORDER BY doc_id"
        )
        rows = (
            spark.sql(sql).collect() if d == "spark" else duck.execute(sql).fetchall()
        )
        out[d] = [tuple(r) for r in rows]
    assert out["spark"] == out["duck"], (urls, out)
    for _doc, canon in out["spark"]:
        assert canon is None or "#" not in canon, (canon,)
        assert canon is None or canon.startswith("https://"), (canon,)
        if canon:
            for k in ("utm_source", "utm_campaign", "fbclid", "gclid", "ref"):
                assert f"?{k}=" not in canon and f"&{k}=" not in canon, (canon,)


@st.composite
def gopher_docs(draw):
    word = st.sampled_from(
        ["the", "and", "of", "to", "a", "der", "und", "wort", "data",
         "x1", "##", "...", "naïve", "Über", "İstanbul", "ß", "12345",
         "a" * 25, "", "-", "*", "—"]
    )
    docs = []
    for _ in range(draw(st.integers(1, 12))):
        lines = []
        for _ in range(draw(st.integers(0, 6))):
            words = [draw(word) for _ in range(draw(st.integers(0, 12)))]
            line = " ".join(words)
            prefix = draw(st.sampled_from(["", "- ", "* ", "  - ", "\t"]))
            suffix = draw(st.sampled_from(["", "...", "…", " ..."]))
            lines.append(prefix + line + suffix)
        text = "\n".join(lines) if lines else draw(st.sampled_from(["", " "]))
        lang = draw(st.sampled_from(["en", "de", "fr", "zh", "xx", None]))
        docs.append((text if draw(st.integers(0, 19)) else None, lang))
    return docs


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=gopher_docs())
def test_differential_gopher_rules(spark, duck, docs):
    """The Gopher rule battery on RANDOM multi-line documents — bullets,
    ellipsis endings (ASCII and Unicode), tabs, empty lines, unicode
    case-mapping hazards (İ/ß/Ü), NULL text, unknown/NULL langs: the
    fixture corpus is a flat word stream with no newlines, so the
    line-based rules (bullet/ellipsis fractions) had never seen a
    second line from either the gate or the older text fuzzers (their
    alphabet blacklists control chars). Both engines must emit
    identical flags, and the published rule structure must hold:
    binary flags, n_failed the exact complement, kept the conjunction."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import gopher_rules_sql

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for t, _ in docs],
            "lang": [lg for _, lg in docs],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("qc_docs")
    duck.execute("CREATE OR REPLACE VIEW qc_docs AS SELECT * FROM pdf")
    out = {}
    for d in ("spark", "duck"):
        sql = (
            f"SELECT * FROM ({gopher_rules_sql(d, rel='qc_docs')}) ORDER BY doc_id"
        )
        rows = (
            spark.sql(sql).collect() if d == "spark" else duck.execute(sql).fetchall()
        )
        out[d] = [tuple(r) for r in rows]
    assert out["spark"] == out["duck"], (docs, out["spark"], out["duck"])
    for row in out["spark"]:
        flags = row[2:9]
        assert all(f in (0, 1) for f in flags), row
        assert row[9] == 7 - sum(flags), row  # n_failed is the complement
        assert row[10] == (1 if sum(flags) == 7 else 0), row  # kept = AND


@st.composite
def pii_texts(draw):
    frag = st.sampled_from(
        ["bob.smith@mail.example.com", "a@b.cc", "x@y", "@", "user+tag@host.org",
         "https://a.example.com/p?q=1", "http://x", "httpz://nope",
         "123456", "12345", "1234567890123", "id=987654321",
         "plain", "words", "a.b", "dots...", "über", "%+-._",
         "mail@multi.part.co.uk.", "(wrapped@paren.io)", "end."]
    )
    texts = []
    for _ in range(draw(st.integers(1, 15))):
        n = draw(st.integers(0, 10))
        sep = draw(st.sampled_from([" ", "  ", "\n", ","]))
        texts.append(sep.join(draw(frag) for _ in range(n)))
    return texts


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=pii_texts())
def test_differential_pii_redaction(spark, duck, texts):
    """The PII regex chain (emails → URLs → long digit runs, counts plus
    redacted-text hash) on RANDOM concatenations of near-miss and
    matching fragments — partial emails, bare @, schemes that almost
    match, 5/6/13-digit runs, punctuation-wrapped addresses, newline
    separators: regexp_extract_all/regexp_replace greediness and class
    semantics must agree between engines on every composition, and the
    typed placeholders must actually replace every counted match (the
    fingerprint pins the replacement, not just the counts)."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import pii_redact_sql

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    spark.createDataFrame(pdf).createOrReplaceTempView("qc_pii")
    duck.execute("CREATE OR REPLACE VIEW qc_pii AS SELECT * FROM pdf")
    out = {}
    for d in ("spark", "duck"):
        sql = pii_redact_sql(d, rel="qc_pii")
        rows = (
            spark.sql(sql).collect() if d == "spark" else duck.execute(sql).fetchall()
        )
        out[d] = [tuple(r) for r in rows]
    assert out["spark"] == out["duck"], (texts, out["spark"], out["duck"])


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(
            # FULL printable space incl. newlines, tabs, quotes and
            # backslashes — the older primitives fuzz feeds a VALUES
            # literal and must blacklist them; this variant goes through
            # a DataFrame view, so the characters the quoting rules
            # exclude (exactly the ones data-derived-literal bugs love)
            # finally reach the fragments as DATA
            alphabet=st.characters(
                blacklist_categories=("Cs",),
                whitelist_characters="\n\t'\"\\",
                blacklist_characters="\r\x00",
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    ),
    which=st.sampled_from(["quality", "tokens", "fingerprint"]),
)
def test_differential_textstats_primitives_hostile_chars(
    spark, duck, restore_documents, texts, which
):
    """Same fragments as test_differential_textstats_primitives, but the
    documents arrive via a view instead of a VALUES literal, so
    newlines, tabs, single/double quotes and backslashes reach the
    tokenizer/regex/hash chain as data. A divergence here is the
    data-derived-literal class (the Spark-backslash-literal hazard) or
    an engine disagreement on control-char tokenization."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import (
        fingerprint_sql,
        text_quality_sql,
        token_count_sql,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    gen = {
        "quality": text_quality_sql,
        "tokens": token_count_sql,
        "fingerprint": fingerprint_sql,
    }[which]
    got = [tuple(r) for r in spark.sql(gen("spark")).collect()]
    want = [tuple(r) for r in duck.execute(gen("duck")).fetchall()]
    assert got == want, f"textstats divergence ({which}) on texts: {texts!r}"


@st.composite
def event_rows(draw):
    val = st.sampled_from(
        # |value| stays under 1e6 — the zscore moment contract's exact
        # DECIMAL domain (beyond it both engines overflow the square sum)
        [0.0, -0.0, 1.5, -1.5, 49.999999, 50.0, -50.0, 99.5, -99.5,
         999999.499999, -999999.499999, 0.0000005, -0.0000005,
         123.456789, None]
    )
    rows = []
    for i in range(draw(st.integers(2, 30))):
        rows.append(
            (
                i,
                draw(st.sampled_from(["view", "click", "purchase", None])),
                draw(val),
            )
        )
    return rows


# --- plain-Python recomputes for the events family (VERDICT r14 item 4:
# cross-engine equality alone cannot see a lockstep-agreed-wrong rule —
# the r10/r12 NULL-join class — so every fuzzer also checks an
# independent reference that re-derives the semantics from scratch) ---

_US_PER_DAY = 86_400_000_000


def _ep_us(ts) -> int:
    """Exact epoch microseconds of a tz-naive datetime (integer, no
    float round-trip)."""
    import datetime as dt

    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — the semantics BOTH
    engines give `intdiv` (Spark DIV and DuckDB //; probed: -7 // 2 is
    -3 on DuckDB, not floor's -4)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _round6(v: float | None) -> float | None:
    """SQL ROUND(x, 6): half-away-from-zero on the double's shortest
    decimal representation (what both engines' double→decimal paths
    use), unlike Python's bankers' round()."""
    import decimal

    if v is None:
        return None
    d = decimal.Decimal(repr(float(v))).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
    )
    return float(d)


def _ref_asof(rows) -> list[tuple]:
    """(purchase_id, user_id, ts, prev_click_ts): per purchase, the max
    click ts <= purchase ts for the same user; NULL-ts rows have no
    event-time semantics on either side."""
    clicks = {}
    for _eid, user, ts, typ in rows:
        if typ == "click" and ts is not None:
            clicks.setdefault(user, set()).add(ts)
    out = []
    for eid, user, ts, typ in rows:
        if typ == "purchase" and ts is not None:
            cand = [c for c in clicks.get(user, ()) if c <= ts]
            out.append((eid, user, ts, max(cand) if cand else None))
    return sorted(out, key=lambda r: r[0])


def _ref_funnel(rows) -> list[tuple]:
    """(user_id, did_view, did_click_after, did_purchase_after): per-user
    first-touch MIN per stage (NULL ts never a first touch), strict->
    ordered flags with SQL three-valued logic collapsed by COALESCE —
    i.e. a flag is 1 iff every operand exists and every comparison
    holds. Users whose rows are all NULL-ts/typed still emit a row."""
    users = {}
    for _eid, user, ts, typ in rows:
        users.setdefault(user, {})
        if ts is not None and typ in ("view", "click", "purchase"):
            cur = users[user].get(typ)
            users[user][typ] = ts if cur is None else min(cur, ts)
    out = []
    for user in sorted(users):
        tv = users[user].get("view")
        tc = users[user].get("click")
        tp = users[user].get("purchase")
        did_view = int(tv is not None)
        did_click = int(tv is not None and tc is not None and tc > tv)
        did_purch = int(did_click == 1 and tp is not None and tp > tc)
        out.append((user, did_view, did_click, did_purch))
    return out


def _ref_retention(rows) -> list[tuple]:
    """(cohort_week, week_offset, n_users): truncating day/week division
    on epoch micros (pre-1970 negatives truncate toward zero on both
    engines), first-seen day per user, distinct users per cell."""
    days = {}
    for _eid, user, ts, _typ in rows:
        if ts is not None:
            days.setdefault(user, []).append(_tdiv(_ep_us(ts), _US_PER_DAY))
    cells = {}
    for user, ds in days.items():
        d0 = min(ds)
        for day in ds:
            key = (_tdiv(d0, 7), _tdiv(day - d0, 7))
            cells.setdefault(key, set()).add(user)
    return sorted((cw, wo, len(us)) for (cw, wo), us in cells.items())


def _ref_histogram(rows, width: int = 50) -> list[tuple]:
    """(event_type, bin, n, bin_min, bin_max): bin = FLOOR(value/width)
    (true floor, negative values floor away from zero), NULL values in
    a NULL bin, NULL event_type kept as its own group, both NULLS
    FIRST in the presentation order."""
    import math

    groups = {}
    for _eid, typ, val in rows:
        b = None if val is None else int(math.floor(val / width))
        groups.setdefault((typ, b), []).append(val)
    out = []
    for (typ, b), vals in groups.items():
        nn = [v for v in vals if v is not None]
        out.append(
            (
                typ,
                b,
                len(vals),
                _round6(min(nn)) if nn else None,
                _round6(max(nn)) if nn else None,
            )
        )
    key = lambda r: (r[0] is not None, r[0] or "", r[1] is not None, r[1] or 0)  # noqa: E731
    return sorted(out, key=key)


def _quantile_cont(sorted_vals: list[float], p: float) -> float:
    """Linear-interpolated quantile at p*(n-1) — the formula Spark's
    percentile() and DuckDB's quantile_cont() share."""
    import math

    pos = p * (len(sorted_vals) - 1)
    f = math.floor(pos)
    frac = pos - f
    if frac == 0:
        return sorted_vals[f]
    return sorted_vals[f] + (sorted_vals[f + 1] - sorted_vals[f]) * frac


def _ref_winsorize(rows) -> list[tuple]:
    """(event_type, n, clipped_cents, n_clipped): per-type [p01, p99]
    rounded to 6dp, values clipped then floor(v*100+0.5) cents summed.
    The percentile join is a plain equi-join on event_type, so NULL-type
    rows drop from the OUTPUT on both engines — the recompute PINS that
    as the intended contract (the lockstep class made visible). NULL
    values count in n, never in the cents sum or the clip count."""
    import math

    by_type = {}
    for _eid, typ, val in rows:
        if typ is not None:
            by_type.setdefault(typ, []).append(val)
    out = []
    for typ in sorted(by_type):
        vals = by_type[typ]
        nn = sorted(v for v in vals if v is not None)
        lo = _round6(_quantile_cont(nn, 0.01)) if nn else None
        hi = _round6(_quantile_cont(nn, 0.99)) if nn else None
        cents = None
        n_clip = 0
        for v in vals:
            if v is None or lo is None:
                continue
            c = int(math.floor(min(max(v, lo), hi) * 100 + 0.5))
            cents = c if cents is None else cents + c
            if v < lo or v > hi:
                n_clip += 1
        out.append((typ, len(vals), cents, n_clip))
    return out


@pytest.fixture()
def restore_events(spark, tables):
    """The events-view fuzzers clobber the view once per Hypothesis
    example; reload the real corpus ONCE at test teardown instead of
    40x inside the example loop (code-review r11)."""
    yield
    spark._tf_tables_loaded = None
    from torchfusion_spark.sources import load_tables

    load_tables(spark, tables)


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=event_rows())
def test_differential_events_value_edges(spark, restore_events, duck, rows):
    """Histogram binning, winsorize clipping and DECIMAL-moment z-scores
    on HOSTILE value distributions — negatives (FLOOR(v/width) on a
    negative value must floor the same way), ±0.0, bin-boundary values
    (±50 with width 50), magnitudes near the DECIMAL(18,6) edge, 5e-7
    rounding boundaries, NULLs, and constant groups (zero variance →
    the 1e-12 guard): the fixture's event values are clean positives,
    so none of these branches ever reached the gate."""
    import pandas as pd

    from torchfusion_spark.operators.events_ops import (
        anomaly_zscore_sql,
        histogram_sql,
        winsorize_sql,
    )

    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime("2024-01-01"),
            "user_id": [r[0] % 5 for r in rows],
            "event_type": [r[1] for r in rows],
            "value": [r[2] for r in rows],
            "props": "{}",
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM pdf")
    for gen in (histogram_sql, winsorize_sql, anomaly_zscore_sql):
        got = [tuple(r) for r in spark.sql(gen("spark")).collect()]
        want = [tuple(r) for r in duck.execute(gen("duck")).fetchall()]
        assert got == want, (gen.__name__, rows, got, want)
        # independent recompute (r15): agreement alone can't see a
        # lockstep-agreed-wrong rule
        if gen is histogram_sql:
            assert got == _ref_histogram(rows), (rows, got, _ref_histogram(rows))
        elif gen is winsorize_sql:
            assert got == _ref_winsorize(rows), (rows, got, _ref_winsorize(rows))


@st.composite
def event_times(draw):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    offs = st.sampled_from(
        # microsecond-resolution offsets: exact 30-min gap boundary
        # (strictly-greater split), one-us either side, same-instant
        # collisions, multi-day jumps, and pre-1970 negatives
        [0, 1, 1_799_999_999, 1_800_000_000, 1_800_000_001,
         86_400_000_000, -86_400_000_000, -1_700_000_000_000_000]
    )
    rows = []
    t = 0
    for i in range(draw(st.integers(2, 25))):
        if draw(st.booleans()):
            t += draw(offs)
        ts = None if not draw(st.integers(0, 9)) else base + dt.timedelta(
            microseconds=t
        )
        rows.append((i, draw(st.integers(0, 3)), ts,
                     draw(st.sampled_from(["view", "click", "purchase"]))))
    return rows


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=event_times())
def test_differential_event_time_edges(spark, restore_events, duck, rows):
    """Sessionize and cohort retention on HOSTILE event times — gaps of
    exactly 30 minutes and one microsecond either side (the
    strictly-greater session split), same-instant collisions (the
    (ts, event_id) tie-break), multi-day jumps, pre-1970 negative
    epochs (truncating integer day/week division), and NULL
    timestamps: the fixture's times are clean and well-spaced, so the
    boundary arithmetic had never been exercised at the gate."""
    import pandas as pd

    from torchfusion_spark.operators.events_ops import retention_sql, sessionize_sql

    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            # explicit dtype: an all-NULL object column would otherwise
            # reach DuckDB as type NULL and fail epoch_us binding
            "ts": pd.Series([r[2] for r in rows], dtype="datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM pdf")
    for gen in (sessionize_sql, retention_sql):
        got = [tuple(r) for r in spark.sql(gen("spark")).collect()]
        want = [tuple(r) for r in duck.execute(gen("duck")).fetchall()]
        assert got == want, (gen.__name__, rows, got, want)
        if gen is retention_sql:  # independent recompute (r15)
            assert got == _ref_retention(rows), (rows, got, _ref_retention(rows))


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=event_times())
def test_differential_asof_join_ties(spark, restore_events, duck, rows):
    """The as-of join's two GENUINELY independent implementations —
    Spark union-tag + last(ignoreNulls) window vs DuckDB's native ASOF
    LEFT JOIN — on hostile times: clicks and purchases at the SAME
    instant (the <= tie the tag-sort encodes), several clicks sharing a
    timestamp, purchases with no prior click (NULL as-of answer),
    pre-1970 epochs, NULL timestamps. The event_times generator's type
    column is remapped so click/purchase collisions are dense."""
    import pandas as pd

    from torchfusion_spark.operators.events_ops import ASOF_ORACLE, asof_join

    types = ["click", "purchase", "click", "view"]
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.Series([r[2] for r in rows], dtype="datetime64[us]"),
            "user_id": [r[1] % 2 for r in rows],  # dense per-user streams
            "event_type": [types[(r[0] + len(r[3])) % 4] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM pdf")
    got = [tuple(r) for r in asof_join(spark).collect()]
    want = [tuple(r) for r in duck.execute(ASOF_ORACLE).fetchall()]
    assert got == want, (rows, got, want)
    # independent recompute (r15) over the remapped rows the view carries
    mapped = [(r[0], r[1] % 2, r[2], types[(r[0] + len(r[3])) % 4]) for r in rows]
    assert got == _ref_asof(mapped), (rows, got, _ref_asof(mapped))


def test_zscore_null_values_are_outside_the_sample(spark, restore_events, duck):
    """Code-review r11: n was COUNT(*) while s1/s2 skip NULL values, so
    one real event among N NULL-value rows z-scored at sqrt(N+1) and
    was reported as an anomaly — both engines agreed, so neither the
    hash gate nor the differential fuzzer could see it. Pin the
    semantics directly: NULL-value rows are outside the sample (n =
    COUNT(value)), so a lone real event has zero variance, z = 0, and
    NOTHING is flagged."""
    import pandas as pd

    from torchfusion_spark.operators.events_ops import anomaly_zscore_sql

    pdf = pd.DataFrame(
        {
            "event_id": range(12),
            "ts": pd.Series([pd.Timestamp("2024-01-01")] * 12, dtype="datetime64[us]"),
            "user_id": 1,
            "event_type": "click",
            "value": [100.0] + [None] * 11,
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM pdf")
    assert spark.sql(anomaly_zscore_sql("spark")).count() == 0
    assert duck.execute(anomaly_zscore_sql("duck")).fetchall() == []


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=event_times())
def test_differential_funnel_ordering(spark, restore_events, duck, rows):
    """The ordered funnel's three-valued-logic flags on hostile stage
    times — stages at the SAME instant (strict > comparisons must not
    credit them), stages out of order, missing stages (NULL first-touch
    → COALESCEd 0), NULL timestamps, pre-1970 epochs: the conditional
    first-touch MIN plus NULL-safe comparisons must agree between the
    DataFrame build and the DuckDB oracle on every composition."""
    import pandas as pd

    from torchfusion_spark.operators.events_ops import FUNNEL_ORACLE, funnel

    types = ["view", "click", "purchase", "view"]
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.Series([r[2] for r in rows], dtype="datetime64[us]"),
            "user_id": [r[1] % 2 for r in rows],
            "event_type": [types[(r[0] + len(r[3])) % 4] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM pdf")
    got = [tuple(r) for r in funnel(spark).collect()]
    want = [tuple(r) for r in duck.execute(FUNNEL_ORACLE).fetchall()]
    assert got == want, (rows, got, want)
    # independent recompute (r15) over the remapped rows the view carries
    mapped = [(r[0], r[1] % 2, r[2], types[(r[0] + len(r[3])) % 4]) for r in rows]
    assert got == _ref_funnel(mapped), (rows, got, _ref_funnel(mapped))


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=gopher_docs())
def test_differential_lang_id_ties(spark, duck, restore_documents, docs):
    """Marker-word language ID on random marker-dense docs: score TIES
    between languages (the fixed-order tie-break CASE chain — 'de'/'zh'
    share the marker 'de'), zero-marker docs ('und'), NULL text and
    unicode noise must rank identically on both engines."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import lang_id_sql

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for t, _ in docs],
            "lang": [lg for _, lg in docs],
            "n_chars": [len(t) if t else 0 for t, _ in docs],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    got = [tuple(r) for r in spark.sql(lang_id_sql("spark")).collect()]
    want = [tuple(r) for r in duck.execute(lang_id_sql("duck")).fetchall()]
    assert got == want, (docs, got, want)


def test_casemap_chars_cannot_split_group_identity(spark, duck, restore_documents):
    """r11 lower_ascii discipline: the engines' unicode case maps
    diverge (Spark lower('İ') = 'i'+U+0307, DuckDB = 'i'), so ANY
    lower() on text feeding grouping/hashing/counting silently splits
    token and shingle identity cross-engine — measured pre-fix: the
    same İ-bearing doc produced a different shingle-hash SET on each
    engine, which poisons every MinHash/SimHash/containment candidate
    downstream. All tokenization now folds ASCII A-Z only
    (sqlgen.lower_ascii). Pin the whole family on a case-map-hostile
    doc set: shingle hash SETS, tf rollups, fingerprints, entropy and
    repetition must be identical across engines."""
    import pandas as pd

    from torchfusion_spark.operators.dedup import hashed_shingle_sql
    from torchfusion_spark.operators.textstats import (
        entropy_sql,
        fingerprint_sql,
        repetition_sql,
        unigram_tf_sql,
    )

    texts = [
        "İstanbul The QUICK brown fox",
        "istanbul the quick brown fox",
        "STRASSE ß Straße gross GROSS",
        "ΣΙΣΥΦΟΣ σίσυφος Σ ς",
        "File İ FILE i İ I ı",
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    # shingle arrays compare as SETS (DuckDB's list_distinct does not
    # define element order; no consumer reads the raw array order)
    sp = {r[0]: frozenset(r[1]) for r in spark.sql(hashed_shingle_sql("spark")).collect()}
    du = {r[0]: frozenset(r[1]) for r in duck.execute(hashed_shingle_sql("duck")).fetchall()}
    assert sp == du
    for gen in (unigram_tf_sql, fingerprint_sql, entropy_sql, repetition_sql):
        got = sorted(tuple(r) for r in spark.sql(gen("spark")).collect())
        want = sorted(tuple(r) for r in duck.execute(gen("duck")).fetchall())
        assert got == want, (gen.__name__, got, want)


# -- round-12 fuzzers: MinHash fold / SimHash banding / BPE merge parity ----


@st.composite
def minhash_hx_inputs(draw):
    # small value domain on purpose: forces signature collisions, shared
    # band keys, and hot buckets so the cap path is exercised; a few
    # full-domain values keep the generic path honest
    n_docs = draw(st.integers(1, 14))
    hx = [
        draw(
            st.lists(
                st.one_of(
                    st.integers(0, 20),
                    st.integers(0, 4294967310),
                ),
                min_size=1,  # the shingle pipeline never emits an empty hx
                max_size=8,
            )
        )
        for _ in range(n_docs)
    ]
    threshold = draw(st.sampled_from([0.0, 0.3, 0.6]))
    max_bucket = draw(st.sampled_from([2, 4, 64]))
    return hx, threshold, max_bucket


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=minhash_hx_inputs())
def test_differential_minhash_fold_and_pairs(spark, duck, case):
    """The 16-perm MinHash signature fold (Spark: one aggregate() fold;
    DuckDB: K list_min passes — completely different spellings from one
    generator) plus the banded pair pipeline downstream, on RANDOM hx
    relations: duplicate hashes, tiny value domains (bucket collisions),
    hot buckets under a small cap, thresholds incl. 0. The signature is
    also recomputed in plain Python from the published (A, B, P)
    constants — a same-on-both-engines fold bug cannot hide behind the
    differential."""
    import pandas as pd

    from torchfusion_spark.operators import sqlgen as G
    from torchfusion_spark.operators.dedup import minhash_body_sql, sig_rel_sql

    hx, threshold, max_bucket = case
    pdf = pd.DataFrame({"doc_id": range(len(hx)), "hx": hx})
    # pin hx to BIGINT on both sides: the real relation is hash56-typed
    # (CAST ... AS BIGINT); an inferred INT32 list would overflow the
    # fold's multiplication as a fixture artifact, not a fragment bug
    spark.createDataFrame(pdf, "doc_id bigint, hx array<bigint>").createOrReplaceTempView(
        "mh_hx"
    )
    duck.execute(
        "CREATE OR REPLACE VIEW mh_hx AS SELECT doc_id, CAST(hx AS BIGINT[]) AS hx FROM pdf"
    )

    sp_sig = {
        r.doc_id: tuple(r.sig)
        for r in spark.sql(sig_rel_sql("spark", "mh_hx")).collect()
    }
    du_sig = {
        r[0]: tuple(r[2])
        for r in duck.execute(sig_rel_sql("duck", "mh_hx")).fetchall()
    }
    assert sp_sig == du_sig, (hx, sp_sig, du_sig)
    want_sig = {
        i: tuple(
            min((G.MINHASH_A[k] * x + G.MINHASH_B[k]) % G.MINHASH_P for x in v)
            for k in range(G._K)
        )
        for i, v in enumerate(hx)
    }
    assert sp_sig == want_sig, (hx, sp_sig, want_sig)

    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW mh_sig AS {sig_rel_sql('spark', 'mh_hx')}"
    )
    duck.execute(f"CREATE OR REPLACE VIEW mh_sig AS {sig_rel_sql('duck', 'mh_hx')}")
    body = lambda d: minhash_body_sql(d, "mh_sig", threshold, max_bucket=max_bucket)
    got = [tuple(r) for r in spark.sql(body("spark")).collect()]
    want = [tuple(r) for r in duck.execute(body("duck")).fetchall()]
    assert got == want, (case, got, want)


@st.composite
def simhash_doc_inputs(draw):
    # repeated tokens from a tiny vocabulary create near-dup docs (small
    # Hamming distances); free unicode text sweeps the tokenizer + md5
    word = st.sampled_from(["alpha", "beta", "gama", "ALPHA", "x", "_", "ß", "é1"])
    near = st.lists(word, min_size=0, max_size=8).map(" ".join)
    wild = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0,
        max_size=40,
    )
    n_docs = draw(st.integers(1, 10))
    texts = [draw(st.one_of(near, near, wild)) for _ in range(n_docs)]
    max_hamming = draw(st.sampled_from([0, 2, 6]))
    max_bucket = draw(st.sampled_from([2, 256]))
    return texts, max_hamming, max_bucket


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=simhash_doc_inputs())
def test_differential_simhash_sig_and_band_keys(spark, duck, case):
    """SimHash end-to-end on RANDOM docs (newlines, quotes, backslashes,
    unicode — DataFrame views, so nothing is literal-escaped): the
    majority-vote signature must match cross-engine AND a plain-Python
    recompute (distinct tokens of split-on-space after the A-Z-only
    fold, md5-prefix hashes, 2*ones > n votes); the banded pair query
    (8-bit band keys from shr/& slices, hot-bucket cap, bit_count
    Hamming verify) must agree cross-engine."""
    import hashlib

    import pandas as pd

    from torchfusion_spark.operators.dedup import simhash_body_sql, simhash_sig_sql

    texts, max_hamming, max_bucket = case
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    spark.createDataFrame(pdf).createOrReplaceTempView("sh_docs")
    duck.execute("CREATE OR REPLACE VIEW sh_docs AS SELECT * FROM pdf")

    sp = {r.doc_id: r.simhash for r in spark.sql(simhash_sig_sql("spark", rel="sh_docs")).collect()}
    du = dict(duck.execute(simhash_sig_sql("duck", rel="sh_docs")).fetchall())
    assert sp == du, (texts, sp, du)

    fold = str.maketrans(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
    )
    want = {}
    for i, t in enumerate(texts):
        toks = set(t.translate(fold).split(" "))
        hashes = [
            int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:14], 16) for tok in toks
        ]
        n = len(toks)
        want[i] = sum(
            1 << b
            for b in range(32)
            if 2 * sum((h >> b) & 1 for h in hashes) > n
        )
    assert sp == want, (texts, sp, want)

    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW sh_sig AS {simhash_sig_sql('spark', rel='sh_docs')}"
    )
    duck.execute(
        f"CREATE OR REPLACE VIEW sh_sig AS {simhash_sig_sql('duck', rel='sh_docs')}"
    )
    body = lambda d: simhash_body_sql(d, "sh_sig", 32, max_hamming, max_bucket)
    got = [tuple(r) for r in spark.sql(body("spark")).collect()]
    dwant = [tuple(r) for r in duck.execute(body("duck")).fetchall()]
    assert got == dwant, (case, got, dwant)


def _ref_bpe(words: dict, rounds: int) -> list:
    """Plain-Python Sennrich BPE reference: per round, count adjacent
    symbol pairs weighted by word frequency, pick (max count, then
    lexicographically smallest pair), merge it greedily left-to-right
    without overlap ('aaa' + (a,a) → ('aa','a'))."""
    streams = {w: list(w) + ["_"] for w in words}
    merges = []
    for r in range(1, rounds + 1):
        cnt: dict = {}
        for w, syms in streams.items():
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] = cnt.get((a, b), 0) + words[w]
        if not cnt:
            break
        mx = max(cnt.values())
        a, b = min(k for k, v in cnt.items() if v == mx)
        merges.append((r, a, b, a + b, mx))
        for w, syms in streams.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            streams[w] = out
    return merges


@st.composite
def bpe_tf_inputs(draw):
    # low-entropy alphabet drives real merge cascades and ties; quotes,
    # backslashes, the end-of-word marker itself and unicode sweep the
    # literal-escaping and substr/length paths
    tok = st.text(
        alphabet=st.sampled_from(list("aab_'\\ß日x")),
        min_size=0,
        max_size=6,
    )
    n = draw(st.integers(1, 8))
    toks = draw(st.lists(tok, min_size=n, max_size=n, unique=True))
    tfs = [draw(st.integers(1, 5)) for _ in toks]
    return list(zip(toks, tfs))


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=bpe_tf_inputs())
def test_differential_bpe_train_merge_parity(spark, duck, case):
    """The BPE trainer's gaps-and-islands merge fragments on RANDOM word
    streams ('aaa'-style self-overlaps, merge-pair ties, the '_' marker
    inside words, quotes/backslashes/unicode): the unrolled 2-round
    statement — composed from the SAME _bpe_sym0/_bpe_top/_bpe_merge
    fragments the checkpointed Spark loop uses — must agree cross-engine
    AND with a plain-Python Sennrich reference (the same-on-both-engines
    trap: an agreed-but-wrong merge rule is invisible to the
    differential alone)."""
    import pandas as pd

    from torchfusion_spark.operators.textstats import bpe_train_sql

    pdf = pd.DataFrame(
        {"tok": [t for t, _ in case], "tf": [f for _, f in case]}
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("bpe_tf")
    duck.execute("CREATE OR REPLACE VIEW bpe_tf AS SELECT * FROM pdf")
    got = [tuple(r) for r in spark.sql(bpe_train_sql("spark", 2, tf_rel="bpe_tf")).collect()]
    want = [tuple(r) for r in duck.execute(bpe_train_sql("duck", 2, tf_rel="bpe_tf")).fetchall()]
    assert got == want, (case, got, want)
    ref = _ref_bpe(dict(case), 2)
    assert got == ref, (case, got, ref)


@st.composite
def pack_docs_inputs(draw):
    n_docs = draw(st.integers(1, 20))
    docs = []
    for i in range(n_docs):
        lang = draw(st.sampled_from(["en", "de", None]))
        kind = draw(st.integers(0, 5))
        if kind == 0:
            text = None  # NULL text -> NULL token count -> NULL pack group
        elif kind == 1:
            text = ""  # split('') = [''] -> 1 token on both engines
        else:
            text = " ".join("w" for _ in range(draw(st.integers(1, 9))))
        docs.append((i, lang, text))
    seq_len = draw(st.sampled_from([4, 16]))
    shards = draw(st.sampled_from([1, 2, 4]))
    return docs, seq_len, shards


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=pack_docs_inputs())
def test_differential_pack_sequences_prefix_sum(spark, duck, restore_documents, case):
    """The two-level distributed prefix sum behind sequence packing on
    RANDOM corpora (NULL langs, NULL/empty texts, tiny seq_len forcing
    boundary spans, 1-4 shards): cross-engine row equality, plus a
    plain-Python recompute of the full shard/cumsum/offset/pack pipeline
    for the non-NULL universe — an agreed-but-wrong offset rule cannot
    hide behind the differential."""
    import hashlib

    import pandas as pd

    from torchfusion_spark.operators.textstats import pack_sequences_sql

    docs, seq_len, shards = case
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _, _ in docs],
            "lang": [lg for _, lg, _ in docs],
            "text": [t for _, _, t in docs],
            "source": ["s"] * len(docs),
            "n_chars": [len(t) if t else 0 for _, _, t in docs],
        }
    )
    spark.createDataFrame(
        pdf, "doc_id bigint, lang string, text string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    # the registry path: staged (lang, shard)-partitioned input relation
    # (the r15 single-scan plan), keyed on the swapped docs view per case
    from torchfusion_spark.staging import stage

    t_rel = stage(spark, "pack_tokens", shards=shards)
    got = [
        tuple(r)
        for r in spark.sql(
            pack_sequences_sql("spark", seq_len, shards, t_rel=t_rel)
        ).collect()
    ]
    want = [
        tuple(r)
        for r in duck.execute(pack_sequences_sql("duck", seq_len, shards)).fetchall()
    ]
    assert got == want, (case, got, want)

    # python recompute (non-NULL universe)
    def h56(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    rows = [
        (d, lg, len(t.split(" ")), h56(str(d)))
        for d, lg, t in docs
        if t is not None
    ]
    start: dict = {}
    for lang in {lg for _, lg, _, _ in rows}:
        shard_tot = {}
        for sh in range(shards):
            grp = sorted(
                ((h, d, n) for d, lg, n, h in rows if lg == lang and h % shards == sh),
            )
            shard_tot[sh] = sum(n for _, _, n in grp)
        off, run = {}, 0
        for sh in range(shards):
            off[sh] = run
            run += shard_tot[sh]
        for sh in range(shards):
            grp = sorted(
                ((h, d, n) for d, lg, n, h in rows if lg == lang and h % shards == sh),
            )
            cum = 0
            for h, d, n in grp:
                start[d] = (lang, off[sh] + cum, n)
                cum += n
    packs: dict = {}
    for d, (lang, s, n) in start.items():
        pid = s // seq_len
        epid = (s + n - 1) // seq_len
        p = packs.setdefault((lang, pid), {"n_docs": 0, "tok": 0, "span": 0, "first": None})
        p["n_docs"] += 1
        p["tok"] += n
        p["span"] += 1 if pid != epid else 0
        if p["first"] is None or s < p["first"][0]:
            p["first"] = (s, d)
    key = lambda t: (t[0] is not None, t[0] or "", t[1])
    ref = sorted(
        (
            (lang, pid, v["n_docs"], v["tok"], v["span"], v["first"][1])
            for (lang, pid), v in packs.items()
        ),
        key=key,
    )
    got_nn = sorted((t for t in got if t[1] is not None), key=key)
    assert got_nn == ref, (case, got_nn, ref)


@st.composite
def containment_docs_inputs(draw):
    # docs built from a tiny vocabulary so word-3-gram shingles collide;
    # a shared boilerplate prefix drives the df-prune at small max_df
    vocab = ["aa", "bb", "cc", "dd"]
    n_docs = draw(st.integers(1, 10))
    boiler = "aa bb cc dd"
    docs = []
    for i in range(n_docs):
        toks = [draw(st.sampled_from(vocab)) for _ in range(draw(st.integers(0, 8)))]
        body = " ".join(toks)
        if draw(st.booleans()):
            body = f"{boiler} {body}"
        docs.append((i, body))
    threshold = draw(st.sampled_from([0.5, 0.8]))
    max_df = draw(st.sampled_from([2, 4, 64]))
    return docs, threshold, max_df


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=containment_docs_inputs())
def test_differential_containment_staged_vs_relational(spark, duck, restore_documents, case):
    """Containment near-dup on RANDOM low-entropy corpora with the
    df-prune biting (max_df down to 2): the STAGED Spark path (grouped
    inverted lists, in-row pair fan-out) against the relational oracle
    spelling — the two most physically different formulations of one
    operator in the repo; boilerplate-heavy docs, sub-3-token docs (no
    shingles) and exact-duplicate docs all mixed in."""
    import pandas as pd

    from torchfusion_spark.operators import dedup

    docs, threshold, max_df = case
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [t for _, t in docs],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [len(t) for _, t in docs],
        }
    )
    spark.createDataFrame(
        pdf, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    got = [
        tuple(r)
        for r in dedup.containment(spark, threshold=threshold, max_df=max_df).collect()
    ]
    want = [
        tuple(r)
        for r in duck.execute(dedup.containment_sql("duck", threshold, max_df)).fetchall()
    ]
    assert got == want, (case, got, want)


@st.composite
def winnow_texts(draw):
    # low-entropy repeats force window-min ties; free unicode sweeps the
    # rolling-hash substr/length paths; short docs hit the degenerate
    # 1..w-1-gram fingerprint rule
    rep = st.text(alphabet="ab", min_size=0, max_size=30)
    wild = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=30
    )
    n = draw(st.integers(1, 8))
    return [draw(st.one_of(rep, wild)) for _ in range(n)]


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=winnow_texts())
def test_differential_winnow_fingerprints(spark, duck, restore_documents, texts):
    """MOSS winnowing on RANDOM docs: the per-position rolling-hash
    explode, the w-window MIN, the short-input degenerate rule and the
    distinct-fingerprint rollup must agree cross-engine AND with a
    plain-Python winnower."""
    import hashlib

    import pandas as pd

    from torchfusion_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprint_sql,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    got = [tuple(r) for r in spark.sql(winnow_fingerprint_sql("spark")).collect()]
    want = [tuple(r) for r in duck.execute(winnow_fingerprint_sql("duck")).fetchall()]
    assert got == want, (texts, got, want)

    fold = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    ref = []
    for i, t in enumerate(texts):
        s = t.translate(fold)
        n_pos = max(len(s) - WINNOW_K + 1, 0)
        if n_pos == 0:
            continue
        hx = [
            int(hashlib.md5(s[p : p + WINNOW_K].encode("utf-8")).hexdigest()[:14], 16)
            for p in range(n_pos)
        ]
        sels = {
            min(hx[p : p + WINNOW_W])
            for p in range(max(n_pos - WINNOW_W + 1, 1))
        }
        ref.append((i, n_pos, len(sels), sum(v % 1000000007 for v in sels)))
    assert got == ref, (texts, got, ref)


@st.composite
def weighted_sample_inputs(draw):
    n = draw(st.integers(1, 30))
    n_chars = [draw(st.sampled_from([0, 1, 7, 64, 4096])) for _ in range(n)]
    k = draw(st.sampled_from([1, 5, 100]))
    return n_chars, k


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=weighted_sample_inputs())
def test_differential_weighted_sample_keys(spark, duck, restore_documents, case):
    """Efraimidis-Spirtes weighted sampling on RANDOM weight profiles
    (zero-weight docs hit the greatest(n,1) guard; k beyond the corpus
    returns everything): the 6dp-rounded ln(u)/w keys and the TopK
    selection must agree cross-engine AND with a plain-Python
    recompute from the same md5-derived uniforms."""
    import hashlib
    import math

    import pandas as pd

    from torchfusion_spark.operators.textstats import weighted_sample_sql

    n_chars, k = case
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(n_chars)),
            "text": ["w" * c for c in n_chars],
            "lang": ["en"] * len(n_chars),
            "source": ["s"] * len(n_chars),
            "n_chars": n_chars,
        }
    )
    spark.createDataFrame(
        pdf, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    got = [tuple(r) for r in spark.sql(weighted_sample_sql("spark", k)).collect()]
    want = [tuple(r) for r in duck.execute(weighted_sample_sql("duck", k)).fetchall()]
    assert got == want, (case, got, want)

    def key(doc_id: int, w: int) -> float:
        u = (
            int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16) % 1_000_000
            + 0.5
        ) / 1_000_000.0
        v = math.log(u) / max(w, 1)
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5) / 1e6, v)

    ref = sorted(
        ((i, "en", c, key(i, c)) for i, c in enumerate(n_chars)),
        key=lambda t: (-t[3], t[0]),
    )[:k]
    assert got == ref, (case, got, ref)


@st.composite
def budget_docs_inputs(draw):
    n = draw(st.integers(1, 24))
    docs = []
    for i in range(n):
        lang = draw(st.sampled_from(["en", "de", None]))
        text = draw(
            st.one_of(
                st.none(),
                st.just(""),
                st.integers(1, 12).map(lambda w: " ".join("t" for _ in range(w))),
            )
        )
        docs.append((i, lang, text))
    quota = draw(st.sampled_from([1, 3, 40]))
    budget = draw(st.sampled_from([5, 25, 5000]))
    return docs, quota, budget


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=budget_docs_inputs())
def test_differential_quota_and_token_budget(spark, duck, restore_documents, case):
    """Per-group quota sampling and the greedy token-budget fill on
    RANDOM corpora (NULL langs in their own window partition, NULL-text
    docs whose NULL token count rides the window SUM's NULL-skip):
    cross-engine equality plus plain-Python references for both."""
    import hashlib

    import pandas as pd

    from torchfusion_spark.operators.textstats import (
        group_quota_sample_sql,
        token_budget_sql,
    )

    docs, quota, budget = case
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _, _ in docs],
            "lang": [lg for _, lg, _ in docs],
            "text": [t for _, _, t in docs],
            "source": ["s"] * len(docs),
            "n_chars": [len(t) if t else 0 for _, _, t in docs],
        }
    )
    spark.createDataFrame(
        pdf, "doc_id bigint, lang string, text string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")

    def h56(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16)

    for gen, args in ((group_quota_sample_sql, quota), (token_budget_sql, budget)):
        got = [tuple(r) for r in spark.sql(gen("spark", args)).collect()]
        want = [tuple(r) for r in duck.execute(gen("duck", args)).fetchall()]
        assert got == want, (gen.__name__, case, got, want)

    # python reference: quota = first `quota` per lang in (hash, doc_id)
    # order; budget = greedy cumulative fill with NULL token counts
    # contributing nothing (the SQL window SUM skips NULLs)
    langs = {lg for _, lg, _ in docs}
    ref_q, ref_b = [], []
    for lg in langs:
        grp = sorted((h56(d), d, t) for d, l, t in docs if l == lg)
        for rk, (_, d, _) in enumerate(grp, 1):
            if rk <= quota:
                ref_q.append((d, lg, rk))
        cum = None  # window SUM is NULL until the first non-NULL count
        for _, d, t in grp:
            n = len(t.split(" ")) if t is not None else None
            if n is not None:
                cum = (cum or 0) + n
            if cum is not None and cum <= budget:
                ref_b.append((d, lg, n, cum))
    key = lambda t: (t[1] is not None, t[1] or "", t[-1], t[0])
    got_q = [tuple(r) for r in spark.sql(group_quota_sample_sql("spark", quota)).collect()]
    assert sorted(got_q, key=key) == sorted(ref_q, key=key), (case, got_q, ref_q)
    got_b = [tuple(r) for r in spark.sql(token_budget_sql("spark", budget)).collect()]
    kb = lambda t: (t[1] is not None, t[1] or "", t[3], t[0])
    assert sorted(got_b, key=kb) == sorted(ref_b, key=kb), (case, got_b, ref_b)


@st.composite
def chunk_texts(draw):
    wild = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=500
    )
    n = draw(st.integers(1, 6))
    return [draw(st.one_of(st.none(), st.just(""), wild)) for _ in range(n)]


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=chunk_texts(), size=st.integers(2, 64), overlap_frac=st.integers(0, 90))
def test_differential_chunk_overlap_windows(
    spark, duck, restore_documents, texts, size, overlap_frac
):
    """Overlapping character-window chunking on RANDOM docs (NULL/empty
    texts, unicode substr boundaries, docs shorter than one window and
    longer than several) AND random (size, overlap) geometry (r16,
    VERDICT item 5 — the registered defaults only exercise one stride):
    cross-engine equality plus a plain-Python reference of the window
    arithmetic, trailing-partial rule and empty-doc single-empty-chunk
    rule."""
    import hashlib

    import pandas as pd

    from torchfusion_spark.operators.textstats import chunk_overlap_sql

    CHUNK_SIZE = size
    CHUNK_OVERLAP = size * overlap_frac // 100  # always < size

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) if t else 0 for t in texts],
        }
    )
    spark.createDataFrame(
        pdf, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    duck.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM pdf")
    got = [
        tuple(r)
        for r in spark.sql(chunk_overlap_sql("spark", CHUNK_SIZE, CHUNK_OVERLAP)).collect()
    ]
    want = [
        tuple(r)
        for r in duck.execute(chunk_overlap_sql("duck", CHUNK_SIZE, CHUNK_OVERLAP)).fetchall()
    ]
    assert got == want, (texts, got, want)

    stride = CHUNK_SIZE - CHUNK_OVERLAP
    ref = []
    for d, t in enumerate(texts):
        if t is None:
            continue  # engines agree: NULL text fans out to no chunks
        n = len(t)
        n_win = max(n - 1, 0) // stride + 1
        for i in range(n_win):
            chunk = t[i * stride : i * stride + CHUNK_SIZE]
            ref.append(
                (
                    d,
                    "en",
                    i,
                    1 + i * stride,
                    len(chunk),
                    int(hashlib.md5(chunk.encode("utf-8")).hexdigest()[:14], 16),
                )
            )
    assert got == ref, (texts, got, ref)


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion (RRF): cross-engine equality on hostile random
# corpora PLUS a full plain-Python recompute of both rankers and the fusion
# (the [[engine-disciplines]] rule: the recompute catches agreed-but-wrong
# formulas that cross-engine equality can't).
# ---------------------------------------------------------------------------


@st.composite
def rrf_corpus_inputs(draw):
    seed = draw(st.integers(0, 10_000))
    n_docs = draw(st.integers(0, 24))
    n_vecs = draw(st.sampled_from([0, 3, 8, 24]))
    return seed, n_docs, n_vecs


def _rrf_make_corpus(seed: int, n_docs: int, n_vecs: int):
    """Deterministic hostile corpus: texts mixing BM25 query terms with
    filler (NULL / empty / single-space / unicode cases), 64-dim
    quarter-integer embeddings (exact in FLOAT and DOUBLE) with NULLs."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = ["hash", "join", "vector", "scan", "merge", "stream", "window",
             "customer", "slow", "batch", "the", "データ", "Aa", "x"]
    docs = []
    for i in range(n_docs):
        kind = int(rng.integers(0, 8))
        if kind == 0:
            text = None
        elif kind == 1:
            text = ""
        elif kind == 2:
            text = " "  # split(' ') -> ['', ''] on both engines
        else:
            text = " ".join(
                vocab[int(j)] for j in rng.integers(0, len(vocab), int(rng.integers(1, 12)))
            )
        docs.append((i, text))
    vecs = []
    for i in range(n_vecs):
        if rng.integers(0, 7) == 0:
            vecs.append((i, None))
        else:
            comps = (rng.integers(-8, 9, 64) / 4.0).tolist()
            comps[0] = comps[0] if any(comps) else 1.0  # never the zero vector
            vecs.append((i, comps))
    return docs, vecs


def _rrf_python_ref(docs, vecs):
    """Independent recompute of BM25 top-20, cosine top-20 and the RRF
    fusion (k=60, out=10) mirroring the generators' exact arithmetic:
    DECIMAL(2,1) literal products, left-fold dots, HALF_UP rounding on
    the shortest double repr (Spark's BigDecimal.valueOf semantics)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from torchfusion_spark.operators.retrieval import RRF_IN_K, RRF_K, RRF_OUT_K
    from torchfusion_spark.operators.textstats import BM25_QUERIES

    def rnd(x: float, places: int) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)

    # --- BM25 over the non-NULL-text universe ---
    tf: dict = {}
    n_tok: dict = {}
    for d, t in docs:
        if t is None:
            continue
        toks = t.translate(str.maketrans(
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")).split(" ")
        n_tok[d] = len(toks)
        for tok in toks:
            tf[(d, tok)] = tf.get((d, tok), 0) + 1
    bm_ranks: dict = {}
    if n_tok:
        n_d = len(n_tok)
        tot = sum(n_tok.values())
        df: dict = {}
        for (_, tok), _c in tf.items():
            df[tok] = df.get(tok, 0) + 1
        scores: dict = {}
        for q, term in BM25_QUERIES:
            if term not in df:
                continue
            idf = math.log(1.0 + (n_d - df[term] + 0.5) / (df[term] + 0.5))
            for d in n_tok:
                c = tf.get((d, term))
                if not c:
                    continue
                num = float(Decimal(c) * Decimal("2.2"))  # tf * (k1+1), DECIMAL exact
                den = c + 1.2 * (0.25 + 0.75 * ((float(n_tok[d]) * n_d) / tot))
                s = scores.setdefault((q, d), Decimal(0))
                scores[(q, d)] = s + rnd(idf * num / den, 9)
        by_q: dict = {}
        for (q, d), s in scores.items():
            by_q.setdefault(q, []).append((-s, d))
        for q, lst in by_q.items():
            for r, (_, d) in enumerate(sorted(lst), 1):
                if r <= RRF_IN_K:
                    bm_ranks[(q, d)] = r

    # --- dense cosine over the non-NULL-embedding universe ---
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    nv = {i: (v, math.sqrt(dot(v, v))) for i, v in vecs if v is not None}
    dn_ranks: dict = {}
    for q in sorted({qq for qq, _ in BM25_QUERIES}):
        if q not in nv:
            continue
        qv, qn = nv[q]
        sims = sorted(
            (-rnd(dot(qv, cv) / (qn * cn), 6), c)
            for c, (cv, cn) in nv.items()
            if c != q
        )
        for r, (_, c) in enumerate(sims, 1):
            if r <= RRF_IN_K:
                dn_ranks[(q, c)] = r

    # --- fusion ---
    fused: dict = {}
    for (q, d), r in bm_ranks.items():
        e = fused.setdefault((q, d), [None, None, Decimal(0)])
        e[0] = r
        e[2] += rnd(1.0 / (RRF_K + r), 9)
    for (q, d), r in dn_ranks.items():
        e = fused.setdefault((q, d), [None, None, Decimal(0)])
        e[1] = r
        e[2] += rnd(1.0 / (RRF_K + r), 9)
    out = []
    for q in sorted({qq for qq, _ in fused}):
        rows = sorted(
            ((-s, d, bm, dn) for (qq, d), (bm, dn, s) in fused.items() if qq == q)
        )
        for r, (neg_s, d, bm, dn) in enumerate(rows, 1):
            if r <= RRF_OUT_K:
                out.append((q, d, bm, dn, float(-neg_s), r))
    return out


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=rrf_corpus_inputs())
def test_differential_rrf_fusion(spark, duck, restore_documents, case):
    import pandas as pd

    from torchfusion_spark.operators.retrieval import rrf_fusion_sql

    docs, vecs = _rrf_make_corpus(*case)
    doc_rows = [(d, t, "en", "s", len(t) if t else 0) for d, t in docs]
    vec_rows = [(i, v, 0) for i, v in vecs]
    # pandas frames for DuckDB with dtypes pinned: an all-NULL (or empty)
    # text column otherwise infers float64 and binds as DOUBLE
    pdf = pd.DataFrame(
        doc_rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "text": "string", "lang": "string",
              "source": "string", "n_chars": "int64"})
    edf = pd.DataFrame(vec_rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "embedding": "object", "label": "int32"}
    )
    spark.createDataFrame(
        doc_rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    spark.createDataFrame(
        vec_rows, "vec_id bigint, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS text, CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source, CAST(n_chars AS BIGINT) AS n_chars FROM pdf"
    )
    duck.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        "SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label FROM edf"
    )
    got = [tuple(r) for r in spark.sql(rrf_fusion_sql("spark")).collect()]
    want = [tuple(r) for r in duck.execute(rrf_fusion_sql("duck")).fetchall()]
    assert got == want, (case, got, want)
    ref = _rrf_python_ref(docs, vecs)
    assert got == ref, (case, got, ref)


# ---------------------------------------------------------------------------
# Frame-level perceptual dedup: cross-engine equality on corpora built from
# shared 128-byte segments (so sampled frames genuinely collide), plus an
# independent brute-force Python reference — valid because at fuzz scale
# (<= 240 frames) the hot-band cap never engages, so the banded join's
# candidate set is exactly the pigeonhole superset of every hamming<=3 pair.
# ---------------------------------------------------------------------------


@st.composite
def frame_corpus_inputs(draw):
    seed = draw(st.integers(0, 10_000))
    n_docs = draw(st.integers(0, 14))
    return seed, n_docs


def _frame_make_corpus(seed: int, n_docs: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    # segment pool: 128-byte building blocks (frame stride) so concatenated
    # docs share exact sampled frames; one segment carries non-ASCII bytes
    # to exercise the hex-dump byte access in the oracle
    letters = "abcdefghijklmnopqrstuvwxyz "
    pool = [
        "".join(letters[int(j)] for j in rng.integers(0, len(letters), 128))
        for _ in range(5)
    ]
    pool.append(("é" * 16 + "ü" * 16 + "deadbeefcafebabe" * 4)[:96] + "x" * 0)
    docs = []
    for i in range(n_docs):
        kind = int(rng.integers(0, 8))
        if kind == 0:
            text = None
        elif kind == 1:
            text = ""
        else:
            segs = [pool[int(j)] for j in rng.integers(0, len(pool), int(rng.integers(1, 6)))]
            text = "".join(segs)
            if kind == 2 and text:  # point mutation: near-identical frame
                p = int(rng.integers(0, len(text)))
                text = text[:p] + "Q" + text[p + 1:]
            elif kind == 3:  # ragged tail frame (< 32 bytes)
                text = text[: len(text) - int(rng.integers(1, 100))] or "z"
        docs.append((i, text))
    return docs


def _frame_python_ref(docs):
    """Brute-force recompute: sample frames (32 bytes every 128), per-byte
    threshold bits (c_j * flen >= fsum), ALL cross-doc frame pairs with
    hamming <= 3, containment-shape doc verdict."""
    from torchfusion_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_EVERY,
        FRAME_MAX_HAMMING,
    )

    step = FRAME_BYTES * FRAME_EVERY
    frames = []  # (doc, idx, bits)
    for d, t in docs:
        if t is None:
            continue
        b = t.encode("utf-8")
        if not b:
            continue
        for idx, off in enumerate(range(0, len(b), step)):
            fb = b[off : off + FRAME_BYTES]
            tot, n = sum(fb), len(fb)
            sig = sum(1 << j for j, c in enumerate(fb) if c * n >= tot)
            frames.append((d, idx, sig))
    n_frames: dict = {}
    for d, _, _ in frames:
        n_frames[d] = n_frames.get(d, 0) + 1
    agg: dict = {}
    for ai in range(len(frames)):
        for bi in range(ai + 1, len(frames)):
            da, fa, sa = frames[ai]
            db, fb_, sb = frames[bi]
            if da == db:
                continue
            if bin(sa ^ sb).count("1") > FRAME_MAX_HAMMING:
                continue
            (lo, flo), (hi, fhi) = sorted(((da, fa), (db, fb_)))
            e = agg.setdefault((lo, hi), [0, set(), set()])
            e[0] += 1
            e[1].add(flo)
            e[2].add(fhi)
    out = []
    for (a, b), (np_, ma, mb) in sorted(agg.items()):
        la, lb = len(ma), len(mb)
        keep = 1 if (2 * la >= n_frames[a] or 2 * lb >= n_frames[b]) else 0
        out.append((a, b, np_, la, n_frames[a], lb, n_frames[b], keep))
    return out


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=frame_corpus_inputs())
def test_differential_frame_dedup(spark, duck, restore_documents, case):
    import pandas as pd

    from torchfusion_spark.operators import multimodal

    docs = _frame_make_corpus(*case)
    doc_rows = [(d, t, "en", "s", len(t) if t else 0) for d, t in docs]
    pdf = pd.DataFrame(
        doc_rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "text": "string", "lang": "string",
              "source": "string", "n_chars": "int64"})
    spark.createDataFrame(
        doc_rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS text, CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source, CAST(n_chars AS BIGINT) AS n_chars FROM pdf"
    )
    got = [tuple(r) for r in multimodal.frame_dedup_query(spark).collect()]
    want = [tuple(r) for r in duck.execute(multimodal.mm_frame_dedup_oracle_sql()).fetchall()]
    assert got == want, (case, got, want)
    ref = _frame_python_ref(docs)
    assert got == ref, (case, got, ref)


# ---------------------------------------------------------------------------
# Scoring-family fuzzers (VERDICT r12 item 3): LM perplexity, DSIR and the
# NB quality classifier share the staged-tf DECIMAL-sum discipline but had
# no differential generator — and the NULL-group lockstep class was found
# precisely where fuzzers hadn't looked. Each runs both dialects on hostile
# random corpora (NULL/empty/unicode text, NULL lang, singleton groups,
# tiny hashed-feature spaces forcing bucket collisions) AND recomputes the
# full math in plain Python.
# ---------------------------------------------------------------------------


def _score_rnd(x, places):
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)


def _score_tok(docs):
    """(tf, n_tok, lang_of, th) for the non-NULL-text universe — the
    unigram_tf_sql semantics: ascii-fold, split on single space (empty
    tokens kept), th = md5-int56 of the token."""
    import hashlib

    fold = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    tf, n_tok, lang_of, th = {}, {}, {}, {}
    for d, lang, t in docs:
        if t is None:
            continue
        toks = t.translate(fold).split(" ")
        n_tok[d] = len(toks)
        lang_of[d] = lang
        for tok in toks:
            tf[(d, tok)] = tf.get((d, tok), 0) + 1
            th[tok] = int(hashlib.md5(tok.encode()).hexdigest()[:14], 16)
    return tf, n_tok, lang_of, th


def _pctile(vals, frac):
    """Exact interpolated percentile (Spark percentile / duck
    quantile_cont): pos = frac*(N-1), linear between neighbors."""
    import math

    v = sorted(vals)
    pos = frac * (len(v) - 1)
    lo = math.floor(pos)
    g = pos - lo
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * g


def _cut_bucket(score, cuts, desc):
    """quantile_cut_case CASE semantics: earliest matching WHEN wins."""
    for i, c in enumerate(cuts, 1):
        if (score >= c) if desc else (score <= c):
            return i
    return len(cuts) + 1


@st.composite
def scorer_corpus_inputs(draw):
    seed = draw(st.integers(0, 10_000))
    n_docs = draw(st.integers(1, 22))
    buckets = draw(st.sampled_from([4, 65_536]))
    return seed, n_docs, buckets


def _scorer_make_docs(seed: int, n_docs: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = ["the", "data", "pipeline", "quality", "données", "modèle", "x", ""]
    docs = []
    for i in range(n_docs):
        lang = [None, "en", "en", "de"][int(rng.integers(0, 4))]
        kind = int(rng.integers(0, 8))
        if kind == 0:
            text = None
        elif kind == 1:
            text = ""
        elif kind == 2:
            text = " "
        else:
            text = " ".join(
                vocab[int(j)] for j in rng.integers(0, len(vocab), int(rng.integers(1, 10)))
            )
        docs.append((i, lang, text))
    return docs


def _register_docs(spark, duck, docs):
    import pandas as pd

    doc_rows = [(d, t, lg, "s", len(t) if t else 0) for d, lg, t in docs]
    pdf = pd.DataFrame(
        doc_rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "text": "string", "lang": "string",
              "source": "string", "n_chars": "int64"})
    spark.createDataFrame(
        doc_rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    # explicit casts: an all-NULL pandas string column binds as INT32
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS text, CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source, CAST(n_chars AS BIGINT) AS n_chars FROM pdf"
    )
    return pdf  # keep the frame alive for duck's replacement scan


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=scorer_corpus_inputs())
def test_differential_lm_perplexity(spark, duck, restore_documents, case):
    import math

    from torchfusion_spark.operators.textstats import lm_perplexity_sql

    docs = _scorer_make_docs(case[0], case[1])
    pdf = _register_docs(spark, duck, docs)  # noqa: F841
    got = [tuple(r) for r in spark.sql(lm_perplexity_sql("spark")).collect()]
    want = [tuple(r) for r in duck.execute(lm_perplexity_sql("duck")).fetchall()]
    assert got == want, (case, got, want)

    tf, n_tok, lang_of, _ = _score_tok(docs)
    uni: dict = {}
    for (_, tok), c in tf.items():
        uni[tok] = uni.get(tok, 0) + c
    if not uni:
        assert got == [], (case, got)
        return
    t_tokens, v = sum(uni.values()), len(uni)
    from decimal import Decimal

    lp_sum = {d: Decimal(0) for d in n_tok}
    for (d, tok), c in tf.items():
        lp_sum[d] += _score_rnd(c * math.log((uni[tok] + 1.0) / (t_tokens + v)), 9)
    scored = {
        d: (lang_of[d], n_tok[d],
            float(_score_rnd(-float(lp_sum[d]) / n_tok[d], 6)),
            float(_score_rnd(math.exp(-float(lp_sum[d]) / n_tok[d]), 4)))
        for d in n_tok
    }
    # per-lang tercile cuts over avg_nll (asc), NULL lang its own group
    by_lang: dict = {}
    for d, (lg, _, nll, _) in scored.items():
        by_lang.setdefault(lg, []).append(nll)
    cuts = {
        lg: [float(_score_rnd(_pctile(vals, 1 / 3), 6)),
             float(_score_rnd(_pctile(vals, 2 / 3), 6))]
        for lg, vals in by_lang.items()
    }
    names = {1: "head", 2: "middle", 3: "tail"}
    ref = [
        (d, lg, n, nll, ppl, names[_cut_bucket(nll, cuts[lg], desc=False)])
        for d, (lg, n, nll, ppl) in sorted(scored.items())
    ]
    assert got == ref, (case, got, ref)


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=scorer_corpus_inputs())
def test_differential_dsir_importance(spark, duck, restore_documents, case):
    import math

    from torchfusion_spark.operators.textstats import dsir_importance_sql

    seed, n_docs, buckets = case
    docs = _scorer_make_docs(seed, n_docs)
    pdf = _register_docs(spark, duck, docs)  # noqa: F841
    got = [tuple(r) for r in spark.sql(dsir_importance_sql("spark", buckets=buckets)).collect()]
    want = [tuple(r) for r in duck.execute(dsir_importance_sql("duck", buckets=buckets)).fetchall()]
    assert got == want, (case, got, want)

    tf, n_tok, lang_of, th = _score_tok(docs)
    if not tf:
        assert got == [], (case, got)
        return
    raw: dict = {}
    tgt: dict = {}
    for (d, tok), c in tf.items():
        hb = th[tok] % buckets
        raw[hb] = raw.get(hb, 0) + c
        if lang_of[d] == "en":
            tgt[hb] = tgt.get(hb, 0) + c
    r_tot, v = sum(raw.values()), len(raw)
    t_tot = sum(tgt.values())
    wt = {
        hb: math.log((tgt.get(hb, 0) + 1.0) / (t_tot + v))
        - math.log((rc + 1.0) / (r_tot + v))
        for hb, rc in raw.items()
    }
    from decimal import Decimal

    lw_sum = {d: Decimal(0) for d in n_tok}
    for (d, tok), c in tf.items():
        lw_sum[d] += _score_rnd(c * wt[th[tok] % buckets], 9)
    scored = {
        d: (lang_of[d], n_tok[d], float(_score_rnd(float(lw_sum[d]) / n_tok[d], 6)))
        for d in n_tok
    }
    vals = [s for _, _, s in scored.values()]
    cuts = [float(_score_rnd(_pctile(vals, (5 - i) / 5), 6)) for i in range(1, 5)]
    ref = []
    for d, (lg, n, s) in sorted(scored.items()):
        q = _cut_bucket(s, cuts, desc=True)
        ref.append((d, lg, n, s, q, 1 if q <= 2 else 0))
    assert got == ref, (case, got, ref)


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=scorer_corpus_inputs())
def test_differential_nb_classifier(spark, duck, restore_documents, case):
    """NB train/score math with INJECTED labels (the Gopher label pass has
    its own certified witness): random label/is_train assignments including
    the zero-train-docs edge where the prior is NULL and every prediction
    falls to the CASE ELSE."""
    import math

    import numpy as np
    import pandas as pd

    from torchfusion_spark.operators.textstats import quality_classifier_sql

    seed, n_docs, buckets = case
    docs = _scorer_make_docs(seed, n_docs)
    pdf = _register_docs(spark, duck, docs)  # noqa: F841
    rng = np.random.default_rng(seed + 7)
    labels = [(d, int(rng.integers(0, 2)), int(rng.integers(0, 5) > 0)) for d, _, _ in docs]
    ldf = pd.DataFrame(labels, columns=["doc_id", "label", "is_train"]).astype(
        {"doc_id": "int64", "label": "int32", "is_train": "int32"}
    )
    spark.createDataFrame(labels, "doc_id bigint, label int, is_train int").createOrReplaceTempView("lab_fz")
    duck.execute("CREATE OR REPLACE VIEW lab_fz AS SELECT * FROM ldf")
    got = [tuple(r) for r in spark.sql(
        quality_classifier_sql("spark", lab_rel="lab_fz", buckets=buckets)).collect()]
    want = [tuple(r) for r in duck.execute(
        quality_classifier_sql("duck", lab_rel="lab_fz", buckets=buckets)).fetchall()]
    assert got == want, (case, got, want)

    tf, n_tok, lang_of, th = _score_tok(docs)
    if not tf:
        assert got == [], (case, got)
        return
    lab = {d: (l, tr) for d, l, tr in labels}
    pos_c: dict = {}
    neg_c: dict = {}
    for (d, tok), c in tf.items():
        if lab[d][1] != 1:
            continue
        hb = th[tok] % buckets
        if lab[d][0] == 1:
            pos_c[hb] = pos_c.get(hb, 0) + c
        else:
            neg_c[hb] = neg_c.get(hb, 0) + c
    universe = {th[tok] % buckets for (_, tok) in tf}
    pos_tot, neg_tot, v = sum(pos_c.values()), sum(neg_c.values()), len(universe)
    n_pos = sum(1 for l, tr in lab.values() if tr == 1 and l == 1)
    n_neg = sum(1 for l, tr in lab.values() if tr == 1 and l == 0)
    has_train = any(tr == 1 for _, tr in lab.values())
    bias = float(_score_rnd(math.log((n_pos + 1.0) / (n_neg + 1.0)), 6)) if has_train else None
    wt = {
        hb: math.log((pos_c.get(hb, 0) + 1.0) / (pos_tot + v))
        - math.log((neg_c.get(hb, 0) + 1.0) / (neg_tot + v))
        for hb in universe
    }
    from decimal import Decimal

    lw_sum = {d: Decimal(0) for d in n_tok}
    for (d, tok), c in tf.items():
        lw_sum[d] += _score_rnd(c * wt[th[tok] % buckets], 9)
    scored = {}
    for d in n_tok:
        avg = float(_score_rnd(float(lw_sum[d]) / n_tok[d], 6))
        if bias is None:
            pred = 0  # NULL prior: CASE WHEN NULL never fires
        else:
            pred = 1 if float(_score_rnd(bias + float(lw_sum[d]), 6)) > 0 else 0
        scored[d] = (lang_of[d], n_tok[d], lab[d][0], lab[d][1], avg, pred)
    vals = [s[4] for s in scored.values()]
    cuts = [float(_score_rnd(_pctile(vals, (5 - i) / 5), 6)) for i in range(1, 5)]
    ref = []
    for d, (lg, n, l, tr, avg, pred) in sorted(scored.items()):
        q = _cut_bucket(avg, cuts, desc=True)
        ref.append((d, lg, n, l, tr, avg, pred, q, 1 if q <= 2 else 0))
    assert got == ref, (case, got, ref)


def _rag_python_ref(docs, vecs):
    """Independent recompute of the context assembly over the fused
    ranking from :func:`_rrf_python_ref`: lead chunk = first CHUNK_SIZE
    characters, greedy prefix cut at RAG_CONTEXT_BUDGET chars, ordered
    single-space join, md5-56 fingerprint."""
    import hashlib

    from torchfusion_spark.operators.retrieval import RAG_CONTEXT_BUDGET
    from torchfusion_spark.operators.textstats import CHUNK_SIZE

    fused = _rrf_python_ref(docs, vecs)  # (q, doc, bm, dn, score, rank) ordered
    text_of = {d: t for d, t in docs}
    out = []
    for q in sorted({r[0] for r in fused}):
        hits = [r for r in fused if r[0] == q]
        hits.sort(key=lambda r: r[5])
        prior, kept = 0, []
        for _q, dd, _bm, _dn, _s, rank in hits:
            t = text_of.get(dd)
            if t is None:
                continue  # NULL text: no context, no budget charge
            chunk = t[:CHUNK_SIZE]
            if prior < RAG_CONTEXT_BUDGET:
                kept.append((rank, chunk))
            prior += len(chunk)
        # NOTE prior accumulates over ALL non-null hits in rank order; a
        # hit is kept iff the chars consumed BEFORE it are under budget —
        # mirror the SQL exactly: prior_chars is the running sum over the
        # PRECEDING kept-universe rows (hits relation = non-null only)
        if not kept:
            continue
        ctx = " ".join(c for _, c in kept)
        out.append((
            q,
            len(kept),
            min(r for r, _ in kept),
            sum(len(c) for _, c in kept),
            len(ctx),
            int(hashlib.md5(ctx.encode("utf-8")).hexdigest()[:14], 16),
        ))
    return out


@settings(
    max_examples=examples(30),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=rrf_corpus_inputs())
def test_differential_rag_context(spark, duck, restore_documents, case):
    import pandas as pd

    from torchfusion_spark.operators.retrieval import rag_context_sql

    docs, vecs = _rrf_make_corpus(*case)
    # longer texts so the char budget actually cuts (the rrf corpus's
    # short docs would all fit): inflate non-empty texts deterministically
    docs = [(d, (t * 40)[:500] if t else t) for d, t in docs]
    doc_rows = [(d, t, "en", "s", len(t) if t else 0) for d, t in docs]
    vec_rows = [(i, v, 0) for i, v in vecs]
    pdf = pd.DataFrame(
        doc_rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "text": "string", "lang": "string",
              "source": "string", "n_chars": "int64"})
    edf = pd.DataFrame(vec_rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "embedding": "object", "label": "int32"}
    )
    spark.createDataFrame(
        doc_rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    spark.createDataFrame(
        vec_rows, "vec_id bigint, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(text AS VARCHAR) AS text, CAST(lang AS VARCHAR) AS lang, "
        "CAST(source AS VARCHAR) AS source, CAST(n_chars AS BIGINT) AS n_chars FROM pdf"
    )
    duck.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        "SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label FROM edf"
    )
    got = [tuple(r) for r in spark.sql(rag_context_sql("spark")).collect()]
    want = [tuple(r) for r in duck.execute(rag_context_sql("duck")).fetchall()]
    assert got == want, (case, got, want)
    ref = _rag_python_ref(docs, vecs)
    assert got == ref, (case, got, ref)


# ---------------------------------------------------------------------------
# Line-level boilerplate removal fuzzer (VERDICT r13 item 3): random hostile
# corpora (NULL/''/' '/unicode text, empty tokens) with INJECTED boilerplate
# lines (the same 3-token block planted across several docs, so the >= 3
# threshold actually engages), run on both dialects AND recomputed fully in
# plain Python — the NULL-group lockstep class is invisible to cross-engine
# equality alone.
# ---------------------------------------------------------------------------


@st.composite
def line_corpus_inputs(draw):
    seed = draw(st.integers(0, 10_000))
    n_docs = draw(st.integers(1, 22))
    n_boiler = draw(st.integers(0, 3))  # distinct planted boilerplate lines
    return seed, n_docs, n_boiler


def _line_make_docs(seed: int, n_docs: int, n_boiler: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = ["the", "data", "x", "naïve", ""]
    boilers = [
        " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), 3))
        for _ in range(n_boiler)
    ]
    docs = []
    for i in range(n_docs):
        kind = int(rng.integers(0, 8))
        if kind == 0:
            text = None
        elif kind == 1:
            text = ""
        elif kind == 2:
            text = " "
        else:
            toks = [vocab[int(j)] for j in rng.integers(0, len(vocab), int(rng.integers(1, 12)))]
            # plant each boilerplate line at a block-aligned slot with
            # probability ~1/2 (alignment matters: the lining rule is
            # non-overlapping 3-token blocks from position 0)
            for b in boilers:
                if rng.integers(0, 2):
                    slot = int(rng.integers(0, 1 + len(toks) // 3)) * 3
                    toks[slot:slot] = b.split(" ")
            text = " ".join(toks)
        docs.append((i, None, text))
    return docs


def _line_python_ref(docs):
    import hashlib
    from collections import Counter

    from torchfusion_spark.operators.dedup import LINE_DUP_THRESHOLD, LINE_W

    fold = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

    def lines(t):
        toks = t.translate(fold).split(" ")
        return [" ".join(toks[i : i + LINE_W]) for i in range(0, len(toks), LINE_W)]

    cnt = Counter()
    for _d, _lg, t in docs:
        if t is not None:
            cnt.update(lines(t))
    hot = {ln for ln, c in cnt.items() if c >= LINE_DUP_THRESHOLD}

    def h56(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    out = []
    for d, _lg, t in sorted(docs):
        ls = lines(t) if t is not None else []
        kept = [ln for ln in ls if ln not in hot]
        out.append((d, len(ls), len(ls) - len(kept), len(kept), h56(" ".join(kept))))
    return out


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=line_corpus_inputs())
def test_differential_strip_boilerplate_lines(spark, duck, restore_documents, case):
    from torchfusion_spark.operators.dedup import (
        strip_boilerplate_lines,
        strip_boilerplate_lines_sql,
    )

    docs = _line_make_docs(*case)
    pdf = _register_docs(spark, duck, docs)  # noqa: F841
    got = [tuple(r) for r in strip_boilerplate_lines(spark).collect()]
    want = [tuple(r) for r in duck.execute(strip_boilerplate_lines_sql("duck")).fetchall()]
    assert got == want, (case, got, want)
    ref = _line_python_ref(docs)
    assert got == ref, (case, got, ref)


# ---------------------------------------------------------------------------
# Similarity/ANN-family fuzzers (VERDICT r13 item 4): sim_kmeans,
# sim_ivf_topk, sim_semantic_dedup, sim_quantize_int8, sim_near_dup_collapse
# share the 6dp-L2/DECIMAL disciplines but had no differential generators —
# and both the r12 lockstep bug and the r13 harness catches came exactly
# where fuzzers hadn't looked. Random float32 corpora with duplicates, zero
# vectors, NULL embeddings, and sub-k counts, run on BOTH dialects AND
# recomputed fully in plain Python (Lloyd, IVF probe, greedy SemDeDup,
# anchor collapse, per-row quantization).
# ---------------------------------------------------------------------------


@st.composite
def ann_corpus_inputs(draw):
    seed = draw(st.integers(0, 10_000))
    n_vecs = draw(st.integers(1, 22))
    return seed, n_vecs


def _ann_make_vecs(seed: int, n_vecs: int):
    """(vec_id, embedding|None) rows: float32 values, ~1/8 NULL rows, ~1/8
    zero vectors, ~1/4 duplicates of an earlier row (tie pressure)."""
    import numpy as np

    from torchfusion_spark.operators.sqlgen import EMB_DIM

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_vecs):
        kind = int(rng.integers(0, 8))
        if kind == 0:
            v = None
        elif kind == 1:
            v = [0.0] * EMB_DIM
        elif kind in (2, 3) and any(r[1] is not None for r in rows):
            v = next(r[1] for r in reversed(rows) if r[1] is not None)
        else:
            v = [float(np.float32(x)) for x in np.round(rng.standard_normal(EMB_DIM), 3)]
        rows.append((i, v))
    return rows


def _register_vecs(spark, duck, rows):
    import pandas as pd

    vec_rows = [(i, v, 0) for i, v in rows]
    edf = pd.DataFrame(vec_rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "embedding": "object", "label": "int32"}
    )
    spark.createDataFrame(
        vec_rows, "vec_id bigint, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    duck.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding, label FROM edf"
    )
    return edf  # keep alive for duck's replacement scan


def _r6(x):
    """ROUND(double, 6) as both engines compute it on continuous data
    (exact-halfway cases have measure zero for random float32 folds)."""
    from decimal import ROUND_HALF_UP, Decimal

    if x != x:  # NaN passes through: both engines round NaN to NaN
        return x
    return float(Decimal(x).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _norms_py(rows):
    """norm_cte: NULL and zero-norm embeddings excluded (cosine is
    undefined at norm 0 — the r14 fuzzer finding); (vec_id, v, nrm)
    with v the float32→double values and nrm the left-fold sqrt."""
    import math

    return [
        (i, v, math.sqrt(_fold_dot(v, v)))
        for i, v in rows
        if v is not None and _fold_dot(v, v) > 0
    ]




@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=ann_corpus_inputs())
def test_differential_sim_quantize_int8(spark, duck, restore_documents, case):
    import math

    from torchfusion_spark.operators.similarity import quantize_int8_sql

    rows = _ann_make_vecs(*case)
    edf = _register_vecs(spark, duck, rows)  # noqa: F841
    got = [tuple(r) for r in spark.sql(quantize_int8_sql("spark")).collect()]
    want = [tuple(r) for r in duck.execute(quantize_int8_sql("duck")).fetchall()]
    assert got == want, (case, got[:3], want[:3])

    ref = []
    for i, v in rows:
        if v is None:
            # greatest() ignores NULLs on both engines: scale = 1e-12/127
            # (rounds to 0.0); the reconstruction stays NULL
            ref.append((i, 0.0, None, None))
            continue
        scale = max(max(abs(x) for x in v), 1e-12) / 127.0
        r = [math.floor(x / scale + 0.5) * scale for x in v]
        nv, nr = math.sqrt(_fold_dot(v, v)), math.sqrt(_fold_dot(r, r))
        cos = _fold_dot(v, r) / max(nv * nr, 1e-12)
        err = max(abs(x - y) for x, y in zip(v, r))
        ref.append((i, _r6(scale), _r6(cos), _r6(err)))
    assert got == ref, (case, got[:3], ref[:3])


def _buckets_py(norms):
    """Coarse band-0 sign-LSH bucket per (vec_id, v, nrm) row — the 8
    seeded planes the collapse operator clusters on."""
    from torchfusion_spark.operators.sqlgen import PLANES

    out = {}
    for i, v, _n in norms:
        b = 0
        for p, plane in enumerate(PLANES):
            if _fold_dot(v, plane) > 0:
                b += 1 << p
        out[i] = b
    return out


def _mb_buckets_py(norms):
    """Multi-band sign-LSH buckets (r16): one vec_id→bucket dict per
    band, LSH_BAND_BITS sign bits over the shared seed-7 plane stream —
    the pair-enumerating query's candidate key."""
    from torchfusion_spark.operators.sqlgen import (
        LSH_BANDS,
        LSH_BAND_BITS,
        PLANES_MB,
    )

    out = []
    for band in range(LSH_BANDS):
        d = {}
        for i, v, _n in norms:
            b = 0
            for j in range(LSH_BAND_BITS):
                if _fold_dot(v, PLANES_MB[band * LSH_BAND_BITS + j]) > 0:
                    b += 1 << j
            d[i] = b
        out.append(d)
    return out


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=ann_corpus_inputs())
def test_differential_sim_near_dup_collapse(spark, duck, restore_documents, case):
    from torchfusion_spark.operators.similarity import (
        near_dup_collapse,
        near_dup_collapse_sql,
    )

    rows = _ann_make_vecs(*case)
    edf = _register_vecs(spark, duck, rows)  # noqa: F841
    got = [tuple(r) for r in near_dup_collapse(spark).collect()]
    want = [tuple(r) for r in duck.execute(near_dup_collapse_sql("duck")).fetchall()]
    assert got == want, (case, got[:4], want[:4])

    norms = _norms_py(rows)
    bucket = _buckets_py(norms)
    by_id = {i: (v, n) for i, v, n in norms}
    anchors = {}
    for i, _v, _n in norms:
        b = bucket[i]
        anchors[b] = min(anchors.get(b, i), i)
    groups: dict = {}
    for i, v, n in norms:
        a = anchors[bucket[i]]
        av, an = by_id[a]
        cos = _r6(_fold_dot(v, av) / (n * an))
        canon = a if cos >= 0.30 else i
        g = groups.setdefault(canon, [[], []])
        g[0].append(bucket[i])
        g[1].append(cos)
    ref = sorted(
        (canon, min(bs), len(bs), len(bs) - 1, min(cs))
        for canon, (bs, cs) in groups.items()
    )
    assert got == ref, (case, got[:4], ref[:4])


def _assign_py(norms, n_centroids=16):
    """_assign_body: nearest centroid by 6dp-rounded cosine DESC, c_id
    tie-break; centroids = first n_centroids rows of the norm relation
    (zero norms already excluded, so cosines are finite)."""
    cents = [(i, v, n) for i, v, n in norms if i < n_centroids]
    out = {}
    for i, v, n in norms:
        best = None
        for c_id, cv, cn in cents:
            key = (-_r6(_fold_dot(v, cv) / (n * cn)), c_id)
            if best is None or key < best:
                best = key
        if best is not None:
            out[i] = best[1]
    return out


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=ann_corpus_inputs())
def test_differential_sim_semantic_dedup(spark, duck, restore_documents, case):
    from torchfusion_spark.operators.similarity import semantic_dedup, semantic_dedup_sql

    rows = _ann_make_vecs(*case)
    edf = _register_vecs(spark, duck, rows)  # noqa: F841
    got = [tuple(r) for r in semantic_dedup(spark).collect()]
    want = [tuple(r) for r in duck.execute(semantic_dedup_sql("duck")).fetchall()]
    assert got == want, (case, got[:4], want[:4])

    norms = _norms_py(rows)
    by_id = {i: (v, n) for i, v, n in norms}
    assign = _assign_py(norms)
    dropped = set()
    ids = sorted(assign)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            if assign[a] != assign[b]:
                continue
            va, na = by_id[a]
            vb, nb = by_id[b]
            if _r6(_fold_dot(va, vb) / (na * nb)) >= 0.42:
                dropped.add(b)
    ref = sorted((i, assign[i], i not in dropped) for i in ids)
    assert got == ref, (case, got[:4], ref[:4])


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=ann_corpus_inputs())
def test_differential_sim_ivf_topk(spark, duck, restore_documents, case):
    from torchfusion_spark.operators.similarity import ivf_topk, ivf_topk_sql

    rows = _ann_make_vecs(*case)
    edf = _register_vecs(spark, duck, rows)  # noqa: F841
    got = [tuple(r) for r in ivf_topk(spark).collect()]
    want = [tuple(r) for r in duck.execute(ivf_topk_sql("duck")).fetchall()]
    assert got == want, (case, got[:4], want[:4])

    norms = _norms_py(rows)
    by_id = {i: (v, n) for i, v, n in norms}
    assign = _assign_py(norms, n_centroids=16)
    cents = [(i, v, n) for i, v, n in norms if i < 16]
    ref = []
    for q_id, qv, qn in ((i, v, n) for i, v, n in norms if i < 4):
        ranked = sorted(
            (-_r6(_fold_dot(qv, cv) / (qn * cn)), c_id) for c_id, cv, cn in cents
        )
        probed = {c_id for _s, c_id in ranked[:4]}
        cands = sorted(
            (-_r6(_fold_dot(qv, by_id[cand][0]) / (qn * by_id[cand][1])), cand)
            for cand, c in assign.items()
            if c in probed and cand != q_id
        )
        ref.extend((q_id, cand, -negcos) for negcos, cand in cands[:10])
    assert got == ref, (case, got[:6], ref[:6])


def _dec9(x):
    """CAST(double AS DECIMAL(18,9)) — HALF_UP at 9dp on the exact binary
    value, the DECIMAL-sum discipline's per-term quantization."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(x).quantize(Decimal("1e-9"), ROUND_HALF_UP)


def _fold_l2sq(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=ann_corpus_inputs())
def test_differential_sim_kmeans(spark, duck, restore_documents, case):
    from torchfusion_spark.operators.similarity import KMEANS_ITERS, KMEANS_K, kmeans, kmeans_sql

    rows = _ann_make_vecs(*case)
    edf = _register_vecs(spark, duck, rows)  # noqa: F841
    got = [tuple(r) for r in kmeans(spark).collect()]
    want = [tuple(r) for r in duck.execute(kmeans_sql("duck")).fetchall()]
    assert got == want, (case, got[:4], want[:4])

    # plain-Python Lloyd with the exact disciplines: init = first k rows
    # of the norm relation, assignment by (round6(L2²), c_id), update =
    # round6(double(DECIMAL(18,9)-sum) / count) per (centroid, dim)
    norms = _norms_py(rows)
    pts = [(i, v) for i, v, _n in norms]
    cents = {i: v for i, v, _n in norms if i < KMEANS_K}
    assign = {}
    for _ in range(KMEANS_ITERS):
        assign = {}
        for i, v in pts:
            best = min(
                ((_r6(_fold_l2sq(v, cv)), c_id) for c_id, cv in cents.items()),
                default=None,
            )
            if best is not None:
                assign[i] = best[1]
        upd: dict = {}
        for i, v in pts:
            if i not in assign:
                continue
            c = assign[i]
            for dim, val in enumerate(v, 1):
                s, n = upd.get((c, dim), (0, 0))
                upd[(c, dim)] = (s + _dec9(val), n + 1)
        cents = {}
        for (c, dim), (s, n) in sorted(upd.items()):
            cents.setdefault(c, []).append(_r6(float(s) / n))
    sizes: dict = {}
    for c in assign.values():
        sizes[c] = sizes.get(c, 0) + 1
    ref = sorted(
        (c, dim, cval, sizes[c])
        for c, vals in cents.items()
        for dim, cval in enumerate(vals, 1)
    )
    assert got == ref, (case, got[:4], ref[:4])


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=ann_corpus_inputs())
def test_differential_sim_ann_recall_audit(spark, duck, restore_documents, case):
    """The r15 recall-audit witness on random hostile corpora (NULL/zero
    vectors, duplicate rows forcing rounded-cosine ties): cross-engine
    row equality through the STAGED Spark path, plus a full plain-Python
    recompute of all four components (exact top-k, IVF probe, gated
    exact pairs, capped LSH pairs) and the three recall rows — the audit
    must measure recall, not merely agree about it."""
    from torchfusion_spark.operators.similarity import (
        AUDIT_PAIR_SAMPLE,
        LSH_MAX_BUCKET,
        ann_recall_audit,
        ann_recall_audit_sql,
    )

    rows = _ann_make_vecs(*case)
    edf = _register_vecs(spark, duck, rows)  # noqa: F841
    got = [tuple(r) for r in ann_recall_audit(spark).collect()]
    want = [tuple(r) for r in duck.execute(ann_recall_audit_sql("duck")).fetchall()]
    assert got == want, (case, got, want)

    norms = _norms_py(rows)  # vec_id-ascending
    by_id = {i: (v, n) for i, v, n in norms}

    # exact top-k (k=10) on the 4-query set
    et = set()
    for q_id, qv, qn in ((i, v, n) for i, v, n in norms if i < 4):
        cands = sorted(
            (-_r6(_fold_dot(qv, v) / (qn * n)), i) for i, v, n in norms if i != q_id
        )
        et |= {(q_id, c) for _s, c in cands[:10]}
    # IVF top-k — the sim_ivf_topk reference verbatim
    assign = _assign_py(norms, n_centroids=16)
    cents = [(i, v, n) for i, v, n in norms if i < 16]
    iv = set()
    for q_id, qv, qn in ((i, v, n) for i, v, n in norms if i < 4):
        ranked = sorted(
            (-_r6(_fold_dot(qv, cv) / (qn * cn)), c_id) for c_id, cv, cn in cents
        )
        probed = {c_id for _s, c_id in ranked[:4]}
        cands = sorted(
            (-_r6(_fold_dot(qv, by_id[c][0]) / (qn * by_id[c][1])), c)
            for c, cc in assign.items()
            if cc in probed and c != q_id
        )
        iv |= {(q_id, c) for _s, c in cands[:10]}
    # gated exact pairs at threshold 0.30 with cosine kept for the hi band
    ns = [r for r in norms if r[0] < AUDIT_PAIR_SAMPLE]
    ep = {}
    for ai in range(len(ns)):
        ia, va, na = ns[ai]
        for bi in range(ai + 1, len(ns)):
            ib, vb, nb = ns[bi]
            c = _r6(_fold_dot(va, vb) / (na * nb))
            if c >= 0.30:
                ep[(ia, ib)] = c
    # capped multi-band LSH pairs (union over bands, per-band cap),
    # restricted to the exact side's id universe
    lp = {}
    for bucket in _mb_buckets_py(norms):
        bsz: dict = {}
        for b in bucket.values():
            bsz[b] = bsz.get(b, 0) + 1
        ok = [r for r in norms if bsz[bucket[r[0]]] <= LSH_MAX_BUCKET]
        for ai in range(len(ok)):
            ia, va, na = ok[ai]
            for bi in range(ai + 1, len(ok)):
                ib, vb, nb = ok[bi]
                if bucket[ia] != bucket[ib]:
                    continue
                c = _r6(_fold_dot(va, vb) / (na * nb))
                if c >= 0.30 and ia < AUDIT_PAIR_SAMPLE and ib < AUDIT_PAIR_SAMPLE:
                    lp[(ia, ib)] = c
    base_only = len(set(lp) - set(ep))  # the lp ⊆ ep invariant: must be 0

    def _row(method, exact, approx, hi=None, n_only=None):
        if hi is not None:
            exact = {p for p, c in exact.items() if c >= hi}
            # no COALESCE fallback (r16 ADVICE fix): an lp-only pair has
            # no exact cosine to band-attribute and is excluded here,
            # surfacing in n_approx_only instead
            approx = {p for p in approx if p in ep and ep[p] >= hi}
        else:
            exact, approx = set(exact), set(approx)
        n_e, n_a, n_h = len(exact), len(approx), len(exact & approx)
        only = len(approx - exact) if n_only is None else n_only
        rec = None if n_e == 0 else _r6(n_h / n_e)
        return (method, n_e, n_a, n_h, only, rec)

    ref = [
        _row("ivf_topk", {p: 1 for p in et}, iv),
        _row("near_dup_lsh", ep, lp),
        _row("near_dup_lsh_hi", ep, lp, hi=0.42, n_only=base_only),
    ]
    assert got == ref, (case, got, ref)
    assert base_only == 0, case


def test_session_window_exact_gap_boundary_merges(spark, restore_events, duck):
    """r15 session-window model fuzzer finding, pinned directly: native
    session_window (batch and streaming alike) MERGES an event arriving
    at exactly session_end (inclusive boundary), while the pre-r15
    oracle split there (gap >= 30 min → new session) — the fixture grid
    never produces an exact-gap collision, so the hash gate certified
    only the agreeing region. Both engines' oracles now use the strict
    ``>`` split, matching the native rule and ``sessionize_sql``'s
    long-standing spelling."""
    import pandas as pd

    from torchfusion_spark.operators.events_ops import (
        SESSION_WINDOW_ORACLE,
        session_window_agg,
    )

    pdf = pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": pd.Series(
                [pd.Timestamp("2024-01-01 08:00:00"), pd.Timestamp("2024-01-01 08:30:00")],
                dtype="datetime64[us]",
            ),
            "user_id": [1, 1],
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM pdf")
    got = [tuple(r) for r in session_window_agg(spark).collect()]
    want = [tuple(r) for r in duck.execute(SESSION_WINDOW_ORACLE).fetchall()]
    assert got == want
    assert len(got) == 1 and got[0][3] == 2  # ONE merged session of 2 events


# ---------------------------------------------------------------------------
# Sampling / mixture family (VERDICT r15 item 5): greedy budget fill,
# integer target allocation and hash-bucket membership are the
# lockstep-prone shapes — cross-engine equality on hostile corpora
# (NULL text, NULL lang/source groups, multi-space tokens) PLUS a full
# plain-Python recompute of each operator's semantics. First run found
# the mixture plan's least(NULL, target) full-allocation bug (fixed in
# mixture_plan_sql; the winsorize greatest/least class, third round in a
# row a recompute's first pass over an unfuzzed family caught one).
# ---------------------------------------------------------------------------


def _h56_doc(doc_id) -> int:
    import hashlib

    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16)


def _ntok(t):
    """The token rule: split on single space, empties KEPT; '' -> 1."""
    return None if t is None else len(t.split(" "))


@st.composite
def mixture_corpus_inputs(draw):
    wild = st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc"), blacklist_characters="'\\\""),
        min_size=0,
        max_size=24,
    )
    texty = st.one_of(st.none(), st.just(""), st.just("a  b c "), wild)
    n = draw(st.integers(1, 8))
    docs = [
        (
            i,
            draw(texty),
            draw(st.sampled_from([None, "en", "fr"])),
            draw(st.sampled_from([None, "web", "book"])),
        )
        for i in range(n)
    ]
    return docs


def _register_mixture_docs(spark, duck, docs):
    import pandas as pd

    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = [len(t) if t else 0 for t in pdf["text"]]
    spark.createDataFrame(
        pdf, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).createOrReplaceTempView("documents")
    # all-NULL pandas string columns bind as INT32 without the pinning
    # CASTs (the engine-disciplines duck-view rule)
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT "
        "CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS text, "
        "CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source, "
        "CAST(n_chars AS BIGINT) AS n_chars FROM pdf"
    )
    return pdf


def _lang_sort_key(val):
    return (val is not None, val if val is not None else "")


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=mixture_corpus_inputs(), budget=st.integers(0, 12))
def test_differential_corpus_token_budget(spark, duck, restore_documents, docs, budget):
    """Greedy per-language token-budget fill: the NULL-text subtleties
    are the point — SUM OVER skips NULL n_tokens, so a NULL-text doc
    inherits the running total (kept, n_tokens NULL) unless it leads its
    partition (cum NULL -> dropped)."""
    from torchfusion_spark.operators.textstats import token_budget_sql

    pdf = _register_mixture_docs(spark, duck, docs)  # noqa: F841
    got = [tuple(r) for r in spark.sql(token_budget_sql("spark", budget=budget)).collect()]
    want = [tuple(r) for r in duck.execute(token_budget_sql("duck", budget=budget)).fetchall()]
    assert got == want, (docs, budget, got, want)

    by_lang: dict = {}
    for d, t, lang, _s in docs:
        by_lang.setdefault(lang, []).append((d, t))
    ref = []
    for lang, ds in by_lang.items():
        cum = None
        for d, t in sorted(ds, key=lambda r: (_h56_doc(r[0]), r[0])):
            n = _ntok(t)
            if n is not None:
                cum = (cum or 0) + n
            if cum is not None and cum <= budget:
                ref.append((d, lang, n, cum))
    ref.sort(key=lambda r: (_lang_sort_key(r[1]), r[3], r[0]))
    assert got == ref, (docs, budget, got, ref)


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=mixture_corpus_inputs(), quota=st.integers(1, 4))
def test_differential_sample_group_quota(spark, duck, restore_documents, docs, quota):
    """Per-group quota by deterministic hash rank, NULL lang its own
    window partition on both engines."""
    from torchfusion_spark.operators.textstats import group_quota_sample_sql

    pdf = _register_mixture_docs(spark, duck, docs)  # noqa: F841
    got = [tuple(r) for r in spark.sql(group_quota_sample_sql("spark", quota=quota)).collect()]
    want = [
        tuple(r) for r in duck.execute(group_quota_sample_sql("duck", quota=quota)).fetchall()
    ]
    assert got == want, (docs, quota, got, want)

    by_lang: dict = {}
    for d, _t, lang, _s in docs:
        by_lang.setdefault(lang, []).append(d)
    ref = []
    for lang, ds in by_lang.items():
        for rk, d in enumerate(sorted(ds, key=lambda x: (_h56_doc(x), x)), start=1):
            if rk <= quota:
                ref.append((d, lang, rk))
    ref.sort(key=lambda r: (_lang_sort_key(r[1]), r[2]))
    assert got == ref, (docs, quota, got, ref)


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=mixture_corpus_inputs(), budget=st.integers(0, 40))
def test_differential_corpus_mixture_plan(spark, duck, restore_documents, docs, budget):
    """Balanced integer allocation across sources: the recompute pins
    the fixed NULL-availability rule (all-NULL-text source plans 0, not
    the full target) and the integer DIV target arithmetic."""
    from torchfusion_spark.operators.textstats import mixture_plan_sql

    pdf = _register_mixture_docs(spark, duck, docs)  # noqa: F841
    got = [tuple(r) for r in spark.sql(mixture_plan_sql("spark", budget=budget)).collect()]
    want = [tuple(r) for r in duck.execute(mixture_plan_sql("duck", budget=budget)).fetchall()]
    assert got == want, (docs, budget, got, want)

    by_src: dict = {}
    for _d, t, _lang, src in docs:
        by_src.setdefault(src, []).append(_ntok(t))
    n_src = len(by_src)
    target = budget // n_src
    ref = []
    for src, toks in by_src.items():
        nn = [t for t in toks if t is not None]
        avail = sum(nn) if nn else None
        planned = min(avail if avail is not None else 0, target)
        rate = round(planned / avail, 6) if avail is not None else None
        ref.append((src, avail, target, planned, rate))
    ref.sort(key=lambda r: _lang_sort_key(r[0]))
    assert got == ref, (docs, budget, got, ref)


@settings(
    max_examples=examples(40),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    docs=mixture_corpus_inputs(),
    pct_train=st.integers(0, 100),
    pct_val_room=st.integers(0, 100),
)
def test_differential_sample_train_split(
    spark, duck, restore_documents, docs, pct_train, pct_val_room
):
    """Hash-bucket split membership + per-(split, lang) rollup; NULL
    texts make total_tokens NULL only when a whole group is NULL-text
    (SUM skips NULLs) — the recompute checks the group arithmetic, not
    just engine agreement."""
    from torchfusion_spark.operators.textstats import train_split_sql

    pct_val = pct_val_room * (100 - pct_train) // 100
    pdf = _register_mixture_docs(spark, duck, docs)  # noqa: F841
    got = [
        tuple(r)
        for r in spark.sql(train_split_sql("spark", pct_train, pct_val)).collect()
    ]
    want = [
        tuple(r)
        for r in duck.execute(train_split_sql("duck", pct_train, pct_val)).fetchall()
    ]
    assert got == want, (docs, pct_train, pct_val, got, want)

    groups: dict = {}
    for d, t, lang, _s in docs:
        b = _h56_doc(d) % 100
        split = "train" if b < pct_train else ("val" if b < pct_train + pct_val else "test")
        groups.setdefault((split, lang), []).append(_ntok(t))
    ref = []
    for (split, lang), toks in groups.items():
        nn = [t for t in toks if t is not None]
        ref.append((split, lang, len(toks), sum(nn) if nn else None))
    ref.sort(key=lambda r: (r[0], _lang_sort_key(r[1])))
    assert got == ref, (docs, pct_train, pct_val, got, ref)
