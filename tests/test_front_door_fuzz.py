"""Differential fuzzing of the SQL front door itself.

The other differential suites fuzz QUERY SEMANTICS (Spark vs DuckDB on
the same relational shape). This one fuzzes the ENGINE's statement
plumbing: random batches of simple statements are assembled into one
hostile script — glued with nested block comments, line comments,
double-quoted identifiers, and literals full of semicolons — and run
through ``engine.run_script``; each result must equal executing the
plain backtick-spelled statement directly through ``spark.sql``.

This is the differential witness for the round-6 front-door work
(tokenizer states, Engine.sql canonicalization, PREPARE/EXECUTE typing):
the reference's front door is DataFusion's sqlparser
(/root/reference/src/lib.rs:143-197 drives the same flow), so dialect
handling is part of the ported-user contract, not a cosmetic layer.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.fuzz_budget import examples

# payload characters that historically break naive splitters
_HOSTILE = st.text(
    alphabet=st.sampled_from(list("ab;'\"-/*` \t\n$\\")),
    max_size=8,
)

_GLUE = st.sampled_from(
    [
        "\n",
        " /* c; 'x' */ ",
        " /* outer /* inner; */ tail */ ",
        " -- line; comment\n",
        "\n\n\t",
    ]
)


@st.composite
def _statement(draw):
    """(script_spelling, spark_spelling, expected_column, expected_value)."""
    kind = draw(st.sampled_from(["lit", "ident", "arith", "prepared"]))
    if kind == "lit":
        # Spark's spelling: a backslash is \\, a quote '' or \'
        raw = draw(_HOSTILE)
        quote = draw(st.sampled_from(["''", "\\'"]))
        p = raw.replace("\\", "\\\\").replace("'", quote)
        return (f"SELECT '{p}' AS c", None, "c", raw)
    if kind == "ident":
        p = draw(_HOSTILE).replace('"', '""')
        col = p.replace('""', '"') + "x"
        return (f'SELECT 1 AS "{p}x"', None, col, 1)
    if kind == "arith":
        a = draw(st.integers(0, 50))
        b = draw(st.integers(1, 9))
        return (f"SELECT {a} /* times; */ * {b} AS n", None, "n", a * b)
    # prepared statement round trip inside the script (typed binding)
    v = draw(st.integers(-99, 99))
    name = f"fp{draw(st.integers(0, 2))}"
    return (
        f"PREPARE {name}(INT) AS SELECT $1 + 1 AS n; EXECUTE {name}({v}); "
        f"DEALLOCATE {name}",
        None,
        "n",
        v + 1,
    )


@pytest.mark.usefixtures("tables")
@settings(
    max_examples=examples(60),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmts=st.lists(_statement(), min_size=1, max_size=4), seps=st.lists(_GLUE, min_size=5, max_size=5))
def test_front_door_script_differential(engine, stmts, seps):
    script = ""
    expects = []  # (column, value) per result-bearing statement
    for i, (src, _, col, val) in enumerate(stmts):
        script += seps[i] + src + ";"
        if src.startswith("PREPARE"):
            # three statements; only EXECUTE returns rows
            expects.extend([None, (col, val), None])
        else:
            expects.append((col, val))
    script += seps[-1]
    results = engine.run_script(script)
    assert len(results) == len(expects), script
    for df, want in zip(results, expects):
        if want is None:
            continue
        col, val = want
        rows = df.collect()
        assert df.columns == [col], (script, df.columns, col)
        assert len(rows) == 1 and rows[0][0] == val, (script, rows, val)


def test_front_door_single_statement_matches_script(engine, tables):
    """The two doors agree: Engine.sql(stmt) ≡ run_script(stmt)[0] for a
    statement exercising every scanner state at once."""
    stmt = (
        'SELECT r_name AS "odd;name", \'lit;val\' AS `tick;col` '
        "/* c /* n; */ t */ FROM region -- trail; comment\n"
        "ORDER BY r_name LIMIT 1"
    )
    a = engine.sql(stmt)
    b = engine.run_script(stmt)[0]
    assert a.columns == b.columns == ["odd;name", "tick;col"]
    assert a.collect() == b.collect()
