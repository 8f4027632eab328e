"""The SQL front door — ``Engine.sql()``.

Spark SQL has no ``FunctionFactory`` hook and no ``LANGUAGE TORCH``; the
engine recognizes exactly the statement shapes the reference adds and
delegates everything else to ``spark.sql()`` untouched (so the full Spark
SQL surface is the engine surface, the way DataFusion's was the
reference's — SURVEY §0 layer B):

* ``CREATE [OR REPLACE] FUNCTION <name>([arg] T[]) [RETURNS R[]]
  LANGUAGE TORCH AS '<uri>'``  → model registry (reference src/lib.rs:23-100)
* ``SET torchfusion.<key> = <value>``  → validated config set
  (reference src/config.rs:38-57)
* references to ``information_schema.df_settings`` → rewritten to a
  settings relation (torchfusion namespace + engine confs), emulating
  DataFusion's df_settings (reference src/config.rs:59-78, README.md:97-108)
* ``argmax(<fn>(…))`` in a query or ``EXPLAIN``, where ``<fn>`` is a
  LANGUAGE TORCH function → ``<fn>``'s argmax head, which scores and
  reduces each row in the model's worker (reference: src/udf.rs output
  feeding src/argmax.rs in one process)

Each rewrite reads the statement through one lexer (``_TOKEN_RE``, the
analogue of the sqlparser tokenizer behind the reference's ``ctx.sql``),
so none fires inside a string literal, an identifier or a comment, and
literals end where Spark's parser ends them.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from torchfusion_spark import config as tf_config
from torchfusion_spark.functions import function_builder
from torchfusion_spark.models.registry import ARGMAX_HEAD_PREFIX, argmax_head, register_torch_udf

# SQL array-type token (FLOAT[] / ARRAY<FLOAT>) → Spark DDL type. Default
# item type Float32 when omitted, as in the reference (src/lib.rs:35-49).
_SQL_TYPE_MAP = {
    "float": "float",
    "real": "float",
    "double": "double",
    "int": "int",
    "integer": "int",
    "bigint": "bigint",
    "long": "bigint",
}

_CREATE_FUNCTION_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\(\s*(?P<args>[^)]*)\s*\)\s*"
    r"(?:RETURNS\s+(?P<ret>[A-Za-z]+\s*\[\s*\]|ARRAY\s*<\s*[A-Za-z]+\s*>)\s+)?"
    r"LANGUAGE\s+TORCH"
    r"(?:\s+AS\s+(?P<body>'[^']*'|\S+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_SET_TORCH_RE = re.compile(
    r"^\s*SET\s+(?P<key>torchfusion\.\w+)\s*=\s*(?P<value>.+?)\s*;?\s*$",
    re.IGNORECASE,
)

# The reference's table DDL (src/lib.rs:148-150, README.md:42), extended
# to the full long form DataFusion's default parser accepts via
# with_default_features() (reference src/lib.rs:128): explicit column
# lists, WITH HEADER ROW / DELIMITER (legacy CSV clauses), PARTITIONED BY
# hive-layout columns, and OPTIONS (...) key-value pairs. Spark without
# Hive support rejects STORED AS; translate to a DataFrameReader-backed
# temp view (VERDICT r04 gap 1).
_EXTERNAL_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?EXTERNAL\s+TABLE\s+"
    r"(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*"
    r"(?:\(\s*(?P<cols>.*?)\s*\)\s*)?"
    r"STORED\s+AS\s+(?P<fmt>\w+)\s*"
    r"(?:WITH\s+HEADER\s+ROW\s*(?P<header>)|)"
    r"(?:\s*DELIMITER\s+'(?P<delim>[^']*)'\s*)?"
    r"(?:\s*WITH\s+ORDER\s*\(\s*(?P<order>[^)]*?)\s*\)\s*)?"
    r"(?:\s*PARTITIONED\s+BY\s*\(\s*(?P<parts>[^)]*?)\s*\)\s*)?"
    r"(?:\s*OPTIONS\s*\(\s*(?P<opts>.*?)\s*\)\s*)?"
    r"\s*LOCATION\s+(?P<loc>'[^']*')"
    # DataFusion also accepts OPTIONS after LOCATION (the order its docs
    # show); either position, not both
    r"(?:\s*OPTIONS\s*\(\s*(?P<opts2>.*?)\s*\)\s*)?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# DataFusion OPTIONS pair: ('key' 'value') / (key 'value') / (key value),
# comma-separated
_OPTION_PAIR_RE = re.compile(
    r"(?:'(?P<qk>[^']*)'|(?P<k>[\w.]+))\s+(?:'(?P<qv>[^']*)'|(?P<v>[^,\s]+))"
)

# DataFusion's COPY statement (same default-features parser):
#   COPY <table | (query)> TO '<path>' [STORED AS <fmt>] [OPTIONS (...)]
# and the older (FORMAT <fmt>) spelling. Routed to sinks.copy_to
# (VERDICT r04 gap 2).
_COPY_TO_RE = re.compile(
    r"^\s*COPY\s+(?:\(\s*(?P<query>.*?)\s*\)|(?P<rel>[A-Za-z_]\w*))\s+"
    r"TO\s+(?P<loc>'[^']*')\s*"
    r"(?:STORED\s+AS\s+(?P<fmt>\w+)\s*|\(\s*FORMAT\s+(?P<fmt2>\w+)\s*\)\s*)?"
    r"(?:PARTITIONED\s+BY\s*\(\s*(?P<parts>[^)]*?)\s*\)\s*)?"
    r"(?:OPTIONS\s*\(\s*(?P<opts>.*?)\s*\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# The rest of information_schema (reference enables ALL of it:
# with_information_schema(true), src/lib.rs:121-123 — DataFusion provides
# tables/views/columns/schemata/df_settings). Spark exposes the same
# metadata through spark.catalog; each referenced relation is rebuilt at
# query time, so the snapshot is current, and bound into that query only.
_INFO_SCHEMA_RE = re.compile(
    r"information_schema\."
    r"(?P<rel>tables|views|columns|schemata|routines|parameters|df_settings)\b",
    re.IGNORECASE,
)

# Spark's string literal (SqlBaseLexer STRING_LITERAL): ``''`` and
# backslash escapes inside, or a raw ``r'…'`` with neither. The lexer and
# EXECUTE's argument parser both read literals with this one spelling.
_STRING_LITERAL = r"(?<![\w$])[rR]'[^']*'|'(?:[^'\\]|\\.|'')*'"

# The front door's one lexer: each match is a token no rewrite may read
# into — a literal or backtick identifier (kept verbatim), a ``"…"``
# identifier (DataFusion's spelling, rewritten to backticks), a hint's
# ``/*+`` (kept: Spark parses hints), a block or line comment, a ``;``,
# or an opening quote that never closes. Everything between matches is
# code.
_TOKEN_RE = re.compile(
    rf"(?P<quoted>{_STRING_LITERAL}|`(?:[^`]|``)*`)"
    r'|"(?P<ident>(?:[^"]|"")*)"'
    r"|(?P<hint>/\*\+)"
    r"|(?P<block>/\*)"
    r"|(?P<line>--[^\n]*)"
    r"|(?P<semi>;)"
    r"|(?P<open>['\"`])",
    re.DOTALL,
)
# block comments nest, as in Spark's and sqlparser-rs's lexers; a ``/*+``
# inside one does not open another (Spark reads it as comment text)
_BLOCK_COMMENT_RE = re.compile(r"/\*(?!\+)|\*/")
_UNTERMINATED = {"'": "string literal", '"': '" quoted identifier', "`": "` quoted identifier"}


def _lex(text: str):
    """Yield ``(kind, start, end)`` for each ``_TOKEN_RE`` token of
    ``text``; a block comment's span runs to its matching ``*/``. An
    unterminated comment, literal or identifier raises, as sqlparser-rs
    does at EOF: silently running a truncated prefix of
    ``SELECT a /* oops FROM t`` is the typo class the error exists for."""
    pos = 0
    while m := _TOKEN_RE.search(text, pos):
        kind, pos = m.lastgroup, m.end()
        if kind == "open":
            raise ValueError(f"unterminated {_UNTERMINATED[m.group()]} in SQL script")
        if kind == "block":
            depth = 1
            for c in _BLOCK_COMMENT_RE.finditer(text, pos):
                depth += 1 if c.group() == "/*" else -1
                if not depth:
                    pos = c.end()
                    break
            else:
                raise ValueError("unterminated /* block comment in SQL script")
        yield kind, m.start(), pos


def _code(text: str) -> str:
    """``text`` with every literal, identifier and comment blanked to NULs
    of its own length. A rewrite scans this, so it never fires inside one,
    and applies what it finds at the same offsets of ``text``."""
    out, pos = [], 0
    for kind, start, end in _lex(text):
        kept = kind in ("hint", "semi")
        out += [text[pos:start], text[start:end] if kept else "\0" * (end - start)]
        pos = end
    out.append(text[pos:])
    return "".join(out)


def _sub_code(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` for the matches in ``_code(text)``."""
    out, pos = [], 0
    for m in pattern.finditer(_code(text)):
        out += [text[pos : m.start()], repl(m)]
        pos = m.end()
    out.append(text[pos:])
    return "".join(out)


# statements the argmax fusion applies to: queries and EXPLAIN
_QUERY_STATEMENT_RE = re.compile(
    r"^\s*(?:\(\s*)*(?:SELECT|WITH|FROM|VALUES|TABLE|EXPLAIN)\b", re.IGNORECASE
)
# an unqualified ``argmax(<fn>(`` call
_ARGMAX_CALL_RE = re.compile(
    r"(?<![\w.$])argmax\s*\(\s*(?P<fn>[A-Za-z_]\w*)\s*\(", re.IGNORECASE
)
_PAREN_RE = re.compile(r"[()]")
_CLOSE_PAREN_RE = re.compile(r"\s*\)")


def _matching_paren(code: str, start: int) -> int:
    """Index of the ``)`` closing the ``(`` just before ``start`` in
    ``_code`` output, or -1."""
    depth = 1
    for m in _PAREN_RE.finditer(code, start):
        depth += 1 if m.group() == "(" else -1
        if not depth:
            return m.start()
    return -1


def fuse_argmax_calls(text: str, heads: dict[str, str]) -> str:
    """Rewrite every ``argmax(<fn>(args))`` whose lower-cased ``<fn>`` is a
    key of ``heads`` to ``heads[fn](args)``. Only an ``argmax`` whose one
    argument is exactly that call fuses; literals, identifiers and
    comments pass through verbatim."""
    code = _code(text)
    out, pos, scan = [], 0, 0
    while m := _ARGMAX_CALL_RE.search(code, scan):
        scan = m.end()
        head = heads.get(m.group("fn").lower())
        close = _matching_paren(code, m.end()) if head else -1
        tail = _CLOSE_PAREN_RE.match(code, close + 1) if close >= 0 else None
        if tail is None:
            scan = m.start("fn")  # the argument may hold a call that fuses
            continue
        out += [text[pos : m.start()], f"{head}({fuse_argmax_calls(text[m.end() : close], heads)})"]
        pos = scan = tail.end()
    out.append(text[pos:])
    return "".join(out)


def _split_top_level_commas(raw: str) -> list[str]:
    """Split on commas outside parentheses, so DECIMAL(p,s) survives —
    shared by DDL column lists and PREPARE type lists."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(raw):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(raw[start:i])
            start = i + 1
    parts.append(raw[start:])
    return parts


def _map_df_type(t: str) -> str:
    """DataFusion type spelling → Spark. The grammars mostly coincide;
    bare VARCHAR/TEXT (no length) are the exceptions Spark's parser
    rejects — one mapping shared by DDL schemas and PREPARE casts so the
    two surfaces can never drift."""
    t = re.sub(r"\bVARCHAR\b(?!\s*\()", "STRING", t, flags=re.IGNORECASE)
    return re.sub(r"\bTEXT\b", "STRING", t, flags=re.IGNORECASE)


def split_script(script: str) -> list[str]:
    """Split a DataFusion-dialect SQL script into statements, reading it
    with ``_TOKEN_RE``, the lexer every ``Engine.sql`` rewrite shares.

    Its grammar is Spark's where the two dialects meet: ``'…'`` literals
    take Spark's ``''`` and backslash escapes, and a raw ``r'…'`` takes
    neither; backtick identifiers pass through verbatim (a doubled
    backtick included), so a second split of the output is the
    identity; ``--`` comments end at the newline; ``/* */`` comments nest
    and become one space, so ``x/*c*/y`` stays two tokens; a hint's
    ``/*+`` is kept for Spark's parser. ``"…"`` is an identifier, as in
    DataFusion's dialect (Spark's default dialect reads it as a string
    literal), and is rewritten to backtick form: ``""`` becomes ``"`` and
    an embedded backtick is doubled. A ``;`` splits statements only
    outside all of these; empty statements are dropped, and an
    unterminated literal, identifier or comment raises."""
    statements, buf, pos = [], [], 0
    for kind, start, end in _lex(script):
        buf.append(script[pos:start])
        pos = end
        if kind == "semi":
            statements.append("".join(buf))
            buf = []
        elif kind == "ident":
            name = script[start + 1 : end - 1].replace('""', '"').replace("`", "``")
            buf.append(f"`{name}`")
        elif kind == "block":
            buf.append(" ")
        elif kind != "line":
            buf.append(script[start:end])
    statements.append("".join(buf) + script[pos:])
    return [stmt for s in statements if (stmt := s.strip())]


# the emulated information_schema relations and their columns; listings
# present them the way DataFusion shows its information_schema views
_INFO_SCHEMA_RELATIONS: dict[str, str] = {
    "tables": "table_catalog string, table_schema string, table_name string, table_type string",
    "views": "table_catalog string, table_schema string, table_name string, definition string",
    "columns": "table_catalog string, table_schema string, table_name string, "
    "column_name string, ordinal_position int, column_default string, "
    "is_nullable string, data_type string",
    "schemata": "catalog_name string, schema_name string, schema_owner string",
    "df_settings": "name string, value string, description string",
    "routines": "routine_catalog string, routine_schema string, routine_name string, "
    "routine_type string, is_deterministic boolean, description string",
    "parameters": "specific_catalog string, specific_schema string, "
    "specific_name string, ordinal_position int, parameter_name string, "
    "data_type string",
}

# DataFusion's EXPLAIN ANALYZE (execute + annotated plan). Spark has no
# SQL-level equivalent; emulate: fetch the full result, return the final
# (AQE-resolved) operator tree with each operator's metrics.
_EXPLAIN_ANALYZE_RE = re.compile(
    r"^\s*EXPLAIN\s+ANALYZE\s+(?P<q>.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)

# DataFusion's prepared-statement surface (default parser features):
#   PREPARE name [(type, ...)] AS <statement with $1, $2, ...>
#   EXECUTE name [(literal, ...)]
#   DEALLOCATE [PREPARE] name
# Spark has no PREPARE; the engine stores the statement text and binds
# EXECUTE's literals into the $n markers (typed literal re-rendering, not
# raw splicing), then dispatches the bound text through the normal front
# door so prepared statements compose with df_settings/DDL handling.
_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(?P<name>[A-Za-z_]\w*)\s*"
    # one paren-nesting level so DECIMAL(10,2) in the type list parses
    r"(?:\(\s*(?P<types>(?:[^()]|\([^()]*\))*?)\s*\)\s*)?AS\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"(?:\(\s*(?P<args>.*?)\s*\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE
)

# DataFusion's `SHOW ALL` lists every session setting (the CLI staple);
# Spark's SHOW grammar has no ALL — route to the df_settings emulation.
_SHOW_ALL_RE = re.compile(r"^\s*SHOW\s+ALL\s*;?\s*$", re.IGNORECASE)
# one EXECUTE argument: string literal / number / TRUE/FALSE/NULL
_EXEC_ARG_RE = re.compile(
    rf"\s*(?:(?P<s>{_STRING_LITERAL})|(?P<n>-?\d+(?:\.\d+)?)|(?P<w>\w+))\s*(?:,|$)", re.DOTALL
)
_PLACEHOLDER_RE = re.compile(r"\$(\d+)")


def _execute_args(raw: str) -> list[str]:
    """EXECUTE's argument list → one SQL literal per argument: a string
    literal as written, a number, or TRUE/FALSE/NULL."""
    args: list[str] = []
    pos = 0
    while pos < len(raw):
        am = _EXEC_ARG_RE.match(raw, pos)
        if not am:
            raise ValueError(f"cannot parse EXECUTE argument list at: {raw[pos:]!r}")
        word = am.group("w")
        if word is not None and word.upper() not in ("TRUE", "FALSE", "NULL"):
            raise ValueError(f"unsupported EXECUTE argument: {word!r}")
        args.append(word.upper() if word is not None else am.group("s") or am.group("n"))
        pos = am.end()
    return args


def _parse_array_type(token: str | None) -> str:
    """``FLOAT[]`` / ``ARRAY<FLOAT>`` / bare ``FLOAT`` → Spark DDL array type."""
    if not token:
        return "array<float>"
    t = token.strip().lower().rstrip(";")
    m = re.match(r"^array\s*<\s*(\w+)\s*>$", t)
    if m:
        item = m.group(1)
    elif t.endswith("[]"):
        item = t[:-2].strip()
    else:
        item = t
    return f"array<{_SQL_TYPE_MAP.get(item, 'float')}>"


class Engine:
    """Session wrapper: ``Engine(spark).sql(text)`` is the user entry point,
    the analogue of ``ctx.sql`` on the reference's configured context."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        from torchfusion_spark.session import configure

        configure(spark)

    # -- statement handlers -------------------------------------------------

    def _create_torch_function(self, m: re.Match) -> DataFrame:
        body = m.group("body")
        if not body or not (body.startswith("'") and body.endswith("'")):
            # reference: config_err "model file should be specified" (src/lib.rs:58-61)
            raise ValueError("model file should be specified")
        uri = body[1:-1]
        args = (m.group("args") or "").strip()
        if "," in args:
            # reference parity: the TORCH UDF signature is exactly one
            # array argument — multi-arg declarations error instead of
            # silently binding the last type (src/udf.rs:59-64,108-115)
            raise ValueError(
                "LANGUAGE TORCH functions take exactly one array argument "
                f"(got: {args!r})"
            )
        # arg may be "FLOAT[]" or "name FLOAT[]"; only the type matters
        arg_type_token = args.split()[-1] if args else None
        input_type = _parse_array_type(arg_type_token)
        ret_token = m.group("ret")
        # reference: return item type defaults to the input item type (src/lib.rs:46-49)
        return_type = _parse_array_type(ret_token) if ret_token else input_type
        register_torch_udf(
            self.spark, m.group("name"), uri, input_type=input_type, return_type=return_type
        )
        # what the name resolves to now: the fusion into its argmax head
        # holds only while it still does
        self.__dict__.setdefault("_argmax_heads", {})[m.group("name").lower()] = function_builder(
            self.spark, m.group("name")
        )
        # tracked for information_schema.routines/parameters introspection
        self.__dict__.setdefault("_torch_functions", {})[m.group("name").lower()] = (
            uri,
            input_type,
            return_type,
        )
        return self.spark.createDataFrame(
            [(m.group("name"), uri, input_type, return_type)],
            "function string, model string, input string, returns string",
        )

    def _set_torch_option(self, m: re.Match) -> DataFrame:
        key, value = m.group("key"), m.group("value").strip().strip("'\"")
        tf_config.set_option(self.spark, key, value)
        return self.spark.createDataFrame([(key, value)], "key string, value string")

    def settings(self) -> DataFrame:
        """The df_settings emulation: torchfusion.* entries (with the
        reference's descriptions) plus every engine conf from ``SET -v``."""
        torch_rows = tf_config.settings_df(self.spark)
        engine_rows = (
            self.spark.sql("SET -v")
            .select(
                F.col("key").alias("name"),
                F.col("value").cast("string").alias("value"),
                F.col("meaning").alias("description"),
            )
        )
        return torch_rows.unionByName(engine_rows)

    def _info_schema_df(self, rel: str) -> DataFrame:
        """Build one information_schema relation from ``spark.catalog``
        metadata (ANSI/DataFusion column layout — reference enables the
        full schema provider, src/lib.rs:121-123). Driver-side catalog
        listing only — metadata calls, never data."""
        cat = self.spark.catalog
        catalog_name = cat.currentCatalog()
        if rel == "schemata":
            rows = [(catalog_name, db.name, "public") for db in cat.listDatabases()]
            rows.append((catalog_name, "information_schema", "public"))
            return self.spark.createDataFrame(
                rows, "catalog_name string, schema_name string, schema_owner string"
            )
        if rel == "routines":
            # DataFusion lists every registered function (built-in +
            # session UDFs, src/lib.rs:122 enables the full provider);
            # Spark exposes the same inventory via the catalog. TORCH
            # functions created through the front door carry the model
            # URI as their description.
            torch_fns = self.__dict__.get("_torch_functions", {})
            rows = [
                (
                    catalog_name,
                    "public",
                    f.name,
                    "FUNCTION",
                    None,
                    f"LANGUAGE TORCH model {torch_fns[f.name.lower()][0]!r}"
                    if f.name.lower() in torch_fns
                    else (f.description or None),
                )
                for f in cat.listFunctions()
                if not f.name.startswith(ARGMAX_HEAD_PREFIX)
            ]
            return self.spark.createDataFrame(rows, _INFO_SCHEMA_RELATIONS["routines"])
        if rel == "parameters":
            # parameter metadata exists only for the engine's own typed
            # UDFs (LANGUAGE TORCH declarations); Spark builtins don't
            # expose signatures through the catalog
            rows = []
            for fname, (_uri, in_t, ret_t) in sorted(
                self.__dict__.get("_torch_functions", {}).items()
            ):
                rows.append((catalog_name, "public", fname, 1, "input", in_t))
                rows.append((catalog_name, "public", fname, 0, "RETURN", ret_t))
            return self.spark.createDataFrame(rows, _INFO_SCHEMA_RELATIONS["parameters"])
        tables = cat.listTables()
        if rel == "tables":
            type_map = {"TEMPORARY": "LOCAL TEMPORARY", "VIEW": "VIEW"}
            rows = [
                (
                    catalog_name,
                    (t.namespace[0] if t.namespace else None),
                    t.name,
                    type_map.get(t.tableType, "BASE TABLE"),
                )
                for t in tables
            ]
            rows += [
                (catalog_name, "information_schema", r, "VIEW")
                for r in sorted(_INFO_SCHEMA_RELATIONS)
            ]
            return self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, table_name string, "
                "table_type string",
            )
        if rel == "views":
            rows = [
                (catalog_name, (t.namespace[0] if t.namespace else None), t.name, None)
                for t in tables
                if t.tableType in ("VIEW", "TEMPORARY")
            ]
            rows += [
                (catalog_name, "information_schema", r, None)
                for r in sorted(_INFO_SCHEMA_RELATIONS)
            ]
            return self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, table_name string, "
                "definition string",
            )
        # columns: one listColumns call per table (metadata-only)
        rows = []
        for rname in sorted(_INFO_SCHEMA_RELATIONS):
            for i, field in enumerate(
                self.spark.createDataFrame([], _INFO_SCHEMA_RELATIONS[rname]).schema
            ):
                rows.append(
                    (
                        catalog_name,
                        "information_schema",
                        rname,
                        field.name,
                        i + 1,
                        None,
                        "YES",
                        field.dataType.simpleString(),
                    )
                )
        for t in tables:
            schema = t.namespace[0] if t.namespace else None
            qual = f"{schema}.{t.name}" if schema else t.name
            try:
                cols = cat.listColumns(qual)
            except Exception:  # noqa: BLE001 — a dropped temp view mid-listing
                continue
            rows += [
                (
                    catalog_name,
                    schema,
                    t.name,
                    c.name,
                    i + 1,
                    None,
                    "YES" if c.nullable else "NO",
                    c.dataType,
                )
                for i, c in enumerate(cols)
            ]
        return self.spark.createDataFrame(
            rows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, column_default string, "
            "is_nullable string, data_type string",
        )

    def _explain_analyze(self, query_text: str) -> DataFrame:
        """Fetch the query's full result, then return the final
        (AQE-resolved) operator tree of the plan that produced it, with
        rows, time and bytes for each operator — DataFusion's per-operator
        metrics, from :func:`torchfusion_spark.measure.measure`."""
        from torchfusion_spark.measure import measure, render

        df = self.sql(query_text)  # recursive dispatch: df_settings etc. apply
        table, wall, _, operators = measure(df)
        summary = f"== Analyzed: {table.num_rows} rows, {round(wall * 1000, 1)} ms =="
        return self.spark.createDataFrame([(f"{render(operators)}\n{summary}",)], "plan string")

    # -- scripts ------------------------------------------------------------

    def run_script(self, script: str) -> list[DataFrame]:
        """Execute a multi-statement SQL script (the DataFusion-CLI usage
        shape: a ported ``.sql`` file) — see :func:`split_script` for the
        tokenizer contract. Returns one DataFrame per executed
        statement."""
        return [self.sql(stmt) for stmt in split_script(script)]

    # -- prepared statements -----------------------------------------------

    @staticmethod
    def _split_type_list(raw: str | None) -> list[str]:
        """PREPARE's declared parameter types: top-level-comma split
        (DECIMAL(10,2) survives) + the shared DataFusion→Spark type map."""
        if not raw or not raw.strip():
            return []
        return [_map_df_type(p.strip()) for p in _split_top_level_commas(raw)]

    def _prepare_statement(self, m: re.Match) -> DataFrame:
        # None = untyped `PREPARE p AS ...` (EXECUTE arity unchecked);
        # an explicit paren list — even empty, `PREPARE p() AS ...` —
        # declares the arity, and DataFusion errors on a mismatch
        # ("expects 0 parameters, but 1 provided"), so [] must stay
        # distinguishable from None
        raw_types = m.group("types")
        self.__dict__.setdefault("_prepared", {})[m.group("name").lower()] = (
            m.group("body"),
            None if raw_types is None else self._split_type_list(raw_types),
        )
        return self.spark.createDataFrame([], "result string")

    def _execute_statement(self, m: re.Match) -> DataFrame:
        name = m.group("name").lower()
        prepared = self.__dict__.get("_prepared", {})
        if name not in prepared:
            raise ValueError(f"prepared statement '{name}' does not exist")
        args = _execute_args(m.group("args") or "")
        body, types = prepared[name]
        if types is not None:
            # DataFusion casts each bound literal to the type declared in
            # PREPARE (sqlparser data_type list), so e.g. a DATE parameter
            # compares as a date, not a string (ADVICE r05)
            if len(args) != len(types):
                raise ValueError(
                    f"EXECUTE {name}: {len(args)} argument(s) for "
                    f"{len(types)} declared parameter type(s)"
                )
            args = [f"CAST({a} AS {t})" for a, t in zip(args, types)]
        # bind $n markers outside literals and identifiers in ONE regex
        # pass — a sequential str.replace would let $1 clobber the prefix
        # of an out-of-range $12, silently splicing a corrupted literal
        # instead of raising the unbound error
        unbound: list[str] = []

        def bind(mm: re.Match) -> str:
            idx = int(mm.group(1))
            if 1 <= idx <= len(args):
                return args[idx - 1]
            unbound.append(mm.group(0))
            return mm.group(0)

        bound = _sub_code(_PLACEHOLDER_RE, bind, body)
        if unbound:
            raise ValueError(
                f"EXECUTE {name}: placeholder {unbound[0]} not bound "
                f"({len(args)} argument(s) given)"
            )
        return self.sql(bound)

    def _deallocate_statement(self, m: re.Match) -> DataFrame:
        name = m.group("name").lower()
        if self.__dict__.get("_prepared", {}).pop(name, None) is None:
            raise ValueError(f"prepared statement '{name}' does not exist")
        return self.spark.createDataFrame([], "result string")

    # -- external table / copy ---------------------------------------------

    @staticmethod
    def _parse_ddl_options(raw: str | None) -> dict[str, str]:
        """DataFusion ``OPTIONS (...)`` pairs → Spark reader/writer options.
        DataFusion's namespaced format keys (``format.has_header``,
        ``format.delimiter``, …) map onto Spark's CSV option names; other
        keys pass through untouched."""
        opts: dict[str, str] = {}
        for pm in _OPTION_PAIR_RE.finditer(raw or ""):
            key = (pm.group("qk") or pm.group("k")).strip()
            val = pm.group("qv") if pm.group("qv") is not None else pm.group("v")
            short = key.rsplit(".", 1)[-1].lower()
            if short == "has_header":
                opts["header"] = val
            elif short == "delimiter":
                opts["sep"] = val
            else:
                opts[short if key.startswith("format.") else key] = val
        return opts

    @staticmethod
    def _spark_ddl_schema(cols: str) -> str:
        """DataFusion column list → Spark DDL schema string. The type
        grammar mostly coincides; bare VARCHAR/TEXT (no length) are the
        exceptions Spark's parser rejects — map them to STRING.

        The substitution applies only to the TYPE part of each column
        (everything after the first token): a column NAMED ``text`` or
        ``varchar`` — this repo's own documents table has one — must keep
        its name. Columns split on top-level commas so DECIMAL(p,s)
        survives (``_split_top_level_commas`` / ``_map_df_type`` are
        shared with the PREPARE type-list parser)."""
        out = []
        for part in _split_top_level_commas(cols):
            tokens = part.strip().split(None, 1)
            if len(tokens) == 2:
                out.append(f"{tokens[0]} {_map_df_type(tokens[1])}")
            elif tokens:
                out.append(tokens[0])
        return re.sub(r"\s+", " ", ", ".join(out)).strip()

    def _create_external_table(self, m: re.Match) -> DataFrame:
        """CREATE EXTERNAL TABLE (short and long form) → a reader-backed
        temp view. Short form stays a pure ``USING <fmt>`` view; the long
        form's schema / partition / option clauses go through the
        DataFrameReader (Spark discovers hive-layout partition columns
        from the directory structure, so PARTITIONED BY is declarative
        here — it validates against the discovered layout rather than
        driving it, matching what DataFusion does on listing tables)."""
        name, fmt = m.group("name"), m.group("fmt").lower()
        path = m.group("loc")[1:-1]
        if m.group("if_not_exists") and any(
            t.name.lower() == name.lower() for t in self.spark.catalog.listTables()
        ):
            return self.spark.table(name)
        opts = self._parse_ddl_options(m.group("opts") or m.group("opts2"))
        if m.group("header") is not None:
            opts.setdefault("header", "true")
        if m.group("delim"):
            opts.setdefault("sep", m.group("delim"))
        if fmt == "arrow":
            # DataFusion's STORED AS ARROW (reference src/lib.rs:128
            # default features); Spark has no arrow-file datasource, so
            # route through the IPC reader (sources/arrow_ipc.py)
            from torchfusion_spark.sources.arrow_ipc import read_arrow_ipc

            read_arrow_ipc(self.spark, path).createOrReplaceTempView(name)
            return self.spark.table(name)
        reader = self.spark.read.format(fmt)
        cols = m.group("cols")
        if cols:
            reader = reader.schema(self._spark_ddl_schema(cols))
        for k, v in opts.items():
            reader = reader.option(k, v)
        try:
            df = reader.load(path)
        except Exception as exc:  # noqa: BLE001 — classify, then re-raise
            # DataFusion bundles Avro (reference src/lib.rs:128 default
            # features); Spark ships it as the external spark-avro
            # module. When the jar is present the load above succeeds;
            # when absent, fail with the actionable message instead of
            # Spark's generic lookup error.
            if fmt == "avro" and "Failed to find data source" in str(exc):
                raise RuntimeError(
                    "STORED AS AVRO requires the spark-avro package, which "
                    "is not bundled with pip-installed PySpark: start the "
                    "session with spark.jars.packages="
                    "org.apache.spark:spark-avro_2.13:<spark-version> "
                    "(reference parity: DataFusion enables Avro by default)"
                ) from exc
            raise
        parts = m.group("parts")
        if parts:
            declared = [c.split()[0] for c in parts.split(",") if c.strip()]
            missing = [c for c in declared if c not in df.columns]
            if missing:
                raise ValueError(
                    f"PARTITIONED BY column(s) {missing} not present in the "
                    f"table at {path!r} (discovered columns: {df.columns})"
                )
        if m.group("order"):
            # DataFusion's WITH ORDER declares a pre-existing file sort
            # order the optimizer may exploit; Spark's file sources carry
            # no such metadata on a view, so the clause is accepted (a
            # ported DDL script must not die on it) and recorded as a log
            # line rather than silently vanishing.
            import logging

            logging.getLogger(__name__).info(
                "CREATE EXTERNAL TABLE %s: WITH ORDER (%s) accepted but not "
                "enforced — Spark file scans carry no declared sort order; "
                "use sinks.write_bucketed(sort_cols=...) for a layout Spark "
                "can exploit",
                name,
                m.group("order"),
            )
        df.createOrReplaceTempView(name)
        return self.spark.table(name)

    # extensions DataFusion's FileType::from_str recognizes when COPY has
    # no explicit STORED AS / (FORMAT) clause
    _COPY_EXT_FMT = {
        "parquet": "parquet",
        "csv": "csv",
        "json": "json",
        "ndjson": "json",
        "arrow": "arrow",
        "avro": "avro",
        "orc": "orc",
    }

    def _copy_to_statement(self, m: re.Match) -> DataFrame:
        """COPY <rel|(query)> TO '<path>' → :func:`sinks.copy_to`. Returns
        a one-row (count bigint) DataFrame, DataFusion's COPY output.

        Format resolution matches DataFusion 45 (ADVICE r05): an explicit
        STORED AS / (FORMAT) clause wins; otherwise the format is inferred
        from the target path's extension, and a missing/unrecognized
        extension is an error — never a silent parquet default under a
        ``.csv`` path."""
        from torchfusion_spark.sources import sinks

        df = (
            self.sql(m.group("query"))  # recursive: df_settings etc. apply
            if m.group("query")
            else self.spark.table(m.group("rel"))
        )
        path = m.group("loc")[1:-1]
        fmt = (m.group("fmt") or m.group("fmt2") or "").lower()
        if not fmt:
            ext = path.rstrip("/").rsplit(".", 1)[-1].lower() if "." in path.rstrip("/").rsplit("/", 1)[-1] else ""
            fmt = self._COPY_EXT_FMT.get(ext, "")
            if not fmt:
                raise ValueError(
                    f"COPY TO {path!r}: no STORED AS/FORMAT clause and the "
                    "path extension does not name a known format "
                    f"({sorted(self._COPY_EXT_FMT)}) — DataFusion infers the "
                    "file type from the extension and errors likewise"
                )
        opts = self._parse_ddl_options(m.group("opts"))
        # PARTITIONED BY clause (DataFusion's COPY grammar), with the
        # option-spelled fallback some scripts use
        pb = m.group("parts") or opts.pop("partitioned_by", None) or opts.pop(
            "partition_by", None
        )
        # user options are forwarded as **kwargs into sinks.copy_to — a
        # key colliding with its named parameters would silently rebind
        # the write mode (OPTIONS('mode' 'append')) or crash with an
        # opaque TypeError; reject with a clear message instead
        reserved = {"df", "path", "fmt", "mode", "partition_by"} & set(opts)
        if reserved:
            raise ValueError(
                f"COPY OPTIONS may not override writer parameter(s) "
                f"{sorted(reserved)} — COPY always overwrites the target; "
                "use CREATE EXTERNAL TABLE + INSERT for append semantics"
            )
        partition_by = [c.strip() for c in pb.split(",") if c.strip()] if pb else None
        if fmt == "arrow":
            # Spark has no arrow-file datasource; route through the IPC
            # writer/reader pair, mirroring CREATE EXTERNAL TABLE's arrow
            # handling — without this the format-inference gate would
            # pass and then die in df.write with Spark's generic
            # 'Failed to find data source' error
            if partition_by or opts:
                raise ValueError(
                    "COPY ... STORED AS ARROW supports neither "
                    "PARTITIONED BY nor OPTIONS in this engine (the IPC "
                    "sink writes one file per partition)"
                )
            from torchfusion_spark.sources.arrow_ipc import write_arrow_ipc

            if os.path.isdir(path):  # COPY overwrites, like sinks.copy_to
                shutil.rmtree(path)
            # n_rows is tallied from the batches actually written, so it
            # describes the files (the COPY contract) with no re-read
            _, n = write_arrow_ipc(df, path)
            return self.spark.createDataFrame([(n,)], "count bigint")
        try:
            sinks.copy_to(df, path, fmt=fmt, partition_by=partition_by, **opts)
        except Exception as exc:  # noqa: BLE001 — classify, then re-raise
            if fmt == "avro" and "Failed to find data source" in str(exc):
                raise RuntimeError(
                    "COPY ... STORED AS AVRO requires the spark-avro "
                    "package, which is not bundled with pip-installed "
                    "PySpark: start the session with spark.jars.packages="
                    "org.apache.spark:spark-avro_2.13:<spark-version> "
                    "(reference parity: DataFusion enables Avro by default)"
                ) from exc
            raise
        # row count describes the FILES WRITTEN (DataFusion's COPY
        # output), so it must come from the sink, not a re-execution of
        # the source plan — a nondeterministic source query would report
        # a count describing nothing. parquet/orc answer from footer
        # metadata (cheap); CSV reads back with multiLine so rows
        # containing embedded newlines count once (ADVICE r05).
        back_opts = dict(opts, multiLine="true") if fmt == "csv" else opts
        n = sinks.read_back(self.spark, path, fmt=fmt, **back_opts).count()
        return self.spark.createDataFrame([(n,)], "count bigint")

    # -- dispatch -----------------------------------------------------------

    def sql(self, text: str) -> DataFrame:
        # Canonicalize through the same lexer run_script uses, so the
        # two front doors can't diverge on dialect: double-quoted
        # identifiers become backticks (DataFusion reads "name" as an
        # identifier; Spark's default dialect reads it as a string
        # literal) and comments other than hints are stripped. Only a clean single
        # statement is substituted — multi-statement input falls through
        # unchanged to fail with Spark's own parse error, same as before.
        stmts = split_script(text)
        if len(stmts) == 1:
            text = stmts[0]
        m = _EXPLAIN_ANALYZE_RE.match(text)
        if m:
            return self._explain_analyze(m.group("q"))
        m = _CREATE_FUNCTION_RE.match(text)
        if m:
            return self._create_torch_function(m)
        m = _SET_TORCH_RE.match(text)
        if m:
            return self._set_torch_option(m)
        m = _EXTERNAL_TABLE_RE.match(text)
        if m:
            return self._create_external_table(m)
        m = _COPY_TO_RE.match(text)
        if m:
            return self._copy_to_statement(m)
        m = _PREPARE_RE.match(text)
        if m:
            return self._prepare_statement(m)
        m = _EXECUTE_RE.match(text)
        if m and (
            m.group("name").upper() != "IMMEDIATE"
            # a prepared statement the user actually named `immediate`
            # still wins; only otherwise does Spark's own
            # `EXECUTE IMMEDIATE ('...')` fall through to spark.sql
            or m.group("name").lower() in self.__dict__.get("_prepared", {})
        ):
            return self._execute_statement(m)
        m = _DEALLOCATE_RE.match(text)
        if m:
            return self._deallocate_statement(m)
        if _SHOW_ALL_RE.match(text):
            return self.settings()
        fused = self._fuse_argmax(text)
        df = self._run_query(fused)
        if fused != text and any(ARGMAX_HEAD_PREFIX in c for c in df.columns):
            # an unaliased fused call is named after its head: keep the
            # names of the statement as written
            df = df.toDF(*self._run_query(text).columns)
        return df

    def _fuse_argmax(self, text: str) -> str:
        """Fuse ``argmax(<fn>(…))`` into ``<fn>``'s argmax head in a query
        or ``EXPLAIN``, for each ``<fn>`` this engine registered as
        LANGUAGE TORCH, while ``<fn>`` and ``argmax`` both still resolve to
        the definitions they had (the library's, for ``argmax``)."""
        registered = self.__dict__.get("_argmax_heads")
        if not registered or not _QUERY_STATEMENT_RE.match(text):
            return text
        called = {m.group("fn").lower() for m in _ARGMAX_CALL_RE.finditer(_code(text))}
        called &= registered.keys()
        library = getattr(self.spark, "_tf_argmax", None)
        if not called or library is None or not library.equals(
            function_builder(self.spark, "argmax")
        ):
            return text
        heads = {
            fn: argmax_head(fn)
            for fn in called
            if registered[fn].equals(function_builder(self.spark, fn))
        }
        return fuse_argmax_calls(text, heads) if heads else text

    def _run_query(self, text: str) -> DataFrame:
        """``spark.sql(text)``, with the information_schema relations it
        names bound into it."""
        rels = {mm.group("rel").lower() for mm in _INFO_SCHEMA_RE.finditer(_code(text))}
        if not rels:
            return self.spark.sql(text)
        helpers = {
            f"information_schema_{rel}": self.settings()
            if rel == "df_settings"
            else self._info_schema_df(rel)
            for rel in rels
        }
        # pyspark binds each helper DataFrame under a unique name for this
        # parse only; the text goes through str.format, so its own braces
        # are doubled first
        text = _sub_code(
            _INFO_SCHEMA_RE,
            lambda mm: f"{{information_schema_{mm.group('rel').lower()}}}",
            text.replace("{", "{{").replace("}", "}}"),
        )
        return self.spark.sql(text, **helpers)
