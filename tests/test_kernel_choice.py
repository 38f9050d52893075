"""Native or Arrow is decided in one place per map family, and both
surfaces follow it: at the threshold the Column kernels and the SQL
functions stay in the JVM, one entry past it both run the one Arrow UDF
of ``kernels._arrow_udf``."""

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql.udf import UDFRegistration

from curies_spark.core import Converter
from curies_spark.functions import kernels, register_sql_functions
from curies_spark.plans.demo import demo_converter
from curies_spark.sources.synthetic import pipeline_converter

FUNCTIONS = Path(kernels.__file__).parent

#: three records: three prefixes and three URI prefixes
EPM = [
    {"prefix": p, "uri_prefix": f"http://{p.lower()}.example.org/"}
    for p in ("A", "B", "C")
]

#: map family → (threshold name, the synonym that adds one entry to that
#: family's map only, {SQL op: its Column kernel})
FAMILIES = {
    "uri_prefix": (
        "NATIVE_COMPRESS_THRESHOLD",
        {"uri_prefix_synonyms": ["https://a.example.org/"]},
        {
            "compress": kernels.compress_col,
            "standardize_uri": kernels.standardize_uri_col,
            "compress_or_standardize": kernels.compress_or_standardize_col,
            "is_uri": kernels.is_uri_col,
        },
    ),
    "prefix": (
        "NATIVE_EXPAND_THRESHOLD",
        {"prefix_synonyms": ["a"]},
        {
            "expand": kernels.expand_col,
            "standardize_prefix": kernels.standardize_prefix_col,
            "standardize_curie": kernels.standardize_curie_col,
            "is_curie": kernels.is_curie_col,
        },
    ),
}


#: the ops the SQL surface registers as Arrow UDFs past their family's
#: threshold (``is_uri``/``is_curie`` are SQL compositions over them)
ARROW_REGISTERED = {
    "compress", "standardize_uri", "expand", "standardize_prefix",
    "standardize_curie", "compress_or_standardize",
}

#: the ops that read one map family only (``compress_or_standardize``
#: reads both)
SINGLE_FAMILY = {
    "compress", "standardize_uri", "is_uri",
    "expand", "standardize_prefix", "standardize_curie", "is_curie",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("past", [False, True], ids=["at_threshold", "one_past"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_column_and_sql_surfaces_switch_at_the_same_entry(spark, monkeypatch, family, past):
    threshold, synonym, ops = FAMILIES[family]
    monkeypatch.setattr(kernels, threshold, len(EPM))
    epm = [dict(EPM[0], **synonym) if past else EPM[0], *EPM[1:]]
    conv = Converter.from_extended_prefix_map(epm)

    registered = []
    register = UDFRegistration.register
    monkeypatch.setattr(
        UDFRegistration,
        "register",
        lambda self, name, f, *a: registered.append(name) or register(self, name, f, *a),
    )
    prefix = f"choice_{family}_{int(past)}"
    names = register_sql_functions(spark, conv, name_prefix=prefix)

    df = spark.createDataFrame([Row(v="http://a.example.org/1"), Row(v="A:1")])
    df.createOrReplaceTempView("kernel_choice_in")
    for op, column_kernel in ops.items():
        column_plan = _plan(df.select(column_kernel("v", conv)))
        sql_plan = _plan(spark.sql(f"SELECT {names[op]}(v) FROM kernel_choice_in"))
        assert ("ArrowEvalPython" in column_plan) is past, (op, column_plan)
        assert ("ArrowEvalPython" in sql_plan) is past, (op, sql_plan)
        if op in ARROW_REGISTERED:
            assert (names[op] in registered) is past, (op, registered)
    # the other family's single-family ops stay in the JVM on both
    # surfaces, also when this family is past its threshold
    (other,) = set(FAMILIES) - {family}
    for op, column_kernel in FAMILIES[other][2].items():
        if op in SINGLE_FAMILY:
            column_plan = _plan(df.select(column_kernel("v", conv)))
            sql_plan = _plan(spark.sql(f"SELECT {names[op]}(v) FROM kernel_choice_in"))
            assert "ArrowEvalPython" not in column_plan, (op, column_plan)
            assert "ArrowEvalPython" not in sql_plan, (op, sql_plan)
    # the SQL surface registers Python UDFs only for the family past its threshold
    assert all(name.startswith(prefix) for name in registered)
    assert bool(registered) is past


@pytest.mark.parametrize("make", [pipeline_converter, demo_converter])
def test_each_native_op_is_one_expression(spark, make):
    """A native URI-prefix op is one longest-first chain, N ``StartsWith``
    for N URI prefixes, and a native CURIE standardization one prefix
    lookup, on both surfaces."""
    conv = make()
    assert kernels._native_uri_prefix_map(conv) and kernels._native_prefix_map(conv)
    n = len(conv.reverse_prefix_map)
    df = spark.createDataFrame([Row(v="http://a.example.org/1")])

    def analyzed(column):
        # aliased: an unnamed column's name repeats its expression
        return df.select(column.alias("o"))._jdf.queryExecution().analyzed().toString()

    for op in (kernels.compress_col, kernels.parse_uri_col, kernels.standardize_uri_col):
        plan = analyzed(op("v", conv))
        assert plan.count("StartsWith(") == n, (op.__name__, plan)
    plan = analyzed(kernels.standardize_curie_col("v", conv))
    assert plan.count("element_at(") == 1, plan
    assert df.select(kernels.parse_uri_col("v", conv)).schema[0].dataType == kernels.PARSE_SCHEMA

    names = register_sql_functions(spark, conv, name_prefix=f"shape_{make.__name__}")
    df.createOrReplaceTempView("kernel_shape_in")
    # a SQL function's body is inlined into the optimized plan
    for op, node, count in (
        ("compress", "StartsWith(", n),
        ("standardize_uri", "StartsWith(", n),
        ("standardize_curie", "element_at(", 1),
    ):
        sql = spark.sql(f"SELECT {names[op]}(v) AS o FROM kernel_shape_in")
        plan = sql._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count(node) == count, (op, plan)
    assert not hasattr(kernels, "_native_pair_from_map")


@pytest.mark.parametrize("make", [pipeline_converter, demo_converter])
def test_each_sql_primitive_is_its_column_kernel(spark, make):
    """A native SQL primitive, and ``compress_or_standardize`` composed
    of them, optimizes to the Column kernel's own expression, node for
    node: the SQL text is the kernel's, not a second copy."""
    conv = make()
    names = register_sql_functions(spark, conv, name_prefix=f"same_{make.__name__}")
    spark.createDataFrame([Row(v="http://a.example.org/1")]).createOrReplaceTempView(
        "kernel_same_in"
    )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().expressions().head().sql()

    table = spark.table("kernel_same_in")
    for op, kernel in (
        ("compress", kernels.compress_col),
        ("standardize_uri", kernels.standardize_uri_col),
        ("expand", kernels.expand_col),
        ("standardize_prefix", kernels.standardize_prefix_col),
        ("standardize_curie", kernels.standardize_curie_col),
        ("compress_or_standardize", kernels.compress_or_standardize_col),
    ):
        sql = spark.sql(f"SELECT {names[op]}(v) AS o FROM kernel_same_in")
        assert optimized(sql) == optimized(table.select(kernel("v", conv).alias("o"))), op


def test_native_chain_at_the_threshold_fits_a_compiled_method(spark, tmp_path):
    """HotSpot compiles no method over 8,000 bytes of bytecode, and a
    native URI-prefix chain sits whole in its stage's method: over a
    parquet scan, ``compress_or_standardize`` (the largest op of the
    family) at ``NATIVE_COMPRESS_THRESHOLD`` URI prefixes still fits."""
    n = kernels.NATIVE_COMPRESS_THRESHOLD
    conv = Converter.from_extended_prefix_map(
        [{"prefix": f"p{i}", "uri_prefix": f"http://vocab{i}.example.org/term/"} for i in range(n)]
    )
    assert len(conv.reverse_prefix_map) == n and kernels._native_uri_prefix_map(conv)
    path = str(tmp_path / "values")
    spark.createDataFrame([Row(v="http://vocab1.example.org/term/1")]).write.parquet(path)
    df = spark.read.parquet(path).select(kernels.compress_or_standardize_col("v", conv))
    codegen = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    sizes = [int(size) for size in re.findall(r"maxMethodCodeSize:(\d+)", codegen)]
    assert sizes and max(sizes) < 8000, sizes


def _names(tree: ast.Module) -> "set[str]":
    """Every identifier and string constant in a module's code."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def test_one_arrow_udf_body_and_one_decision_per_map_family():
    kernels_tree = ast.parse((FUNCTIONS / "kernels.py").read_text())
    sql_tree = ast.parse((FUNCTIONS / "sqlfuncs.py").read_text())
    decorated = [
        fn.name
        for fn in ast.walk(kernels_tree)
        if isinstance(fn, ast.FunctionDef)
        and any("arrow_udf" in ast.unparse(d) for d in fn.decorator_list)
    ]
    assert decorated == ["_kernel"]

    # each threshold is read inside its predicate and nowhere else
    readers = {}
    for fn in ast.walk(kernels_tree):
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                if isinstance(node, ast.Name) and node.id.startswith("NATIVE_"):
                    readers.setdefault(node.id, set()).add(fn.name)
    assert readers == {
        "NATIVE_COMPRESS_THRESHOLD": {"_native_uri_prefix_map"},
        "NATIVE_EXPAND_THRESHOLD": {"_native_prefix_map"},
    }
    assert not {n for n in _names(sql_tree) if n.startswith("NATIVE_")}

    for gone in (
        "_converter_value_getter",
        "_cached_tables",
        "_arrow_buckets",
        "_standardize_uri_arrow_buckets",
        "_expand_arrow_buckets",
        "_parse_curie_arrow_buckets",
        "_expand_all_arrow_tables",
        "_exact_match_udf",
        "_sql_p2u_table",
        "_native_compress_pair",
        "_prefix_to_uri_map_expr",
        "_synonym_to_prefix_map_expr",
        "_q",
        "_map_sql",
        "_prefix_case_sql",
    ):
        assert not hasattr(kernels, gone), gone
        assert gone not in _names(kernels_tree) | _names(sql_tree), gone
    assert not any("__prefix_to_uri" in n for n in _names(sql_tree))
