"""SQL-function surface vs the Column kernels: every registered
function must agree exactly with its kernel twin on the edge-case
corpus, on both the native (SQL-UDF) and large-map (registered Arrow
kernel) paths."""

import pytest
from pyspark.sql import Row

from curies_spark.core import Converter
from curies_spark.functions import SparkConverter, kernels, register_sql_functions

from test_kernels_spark import CURIES, EPM, URIS


@pytest.fixture(scope="module")
def conv() -> Converter:
    return Converter.from_extended_prefix_map(EPM)


@pytest.fixture(scope="module")
def sconv(spark, conv) -> SparkConverter:
    return SparkConverter(spark, conv)


AMBIGUOUS = list(dict.fromkeys(URIS + CURIES))


def _pairs(spark, sconv, values, sql_call, column):
    df = spark.createDataFrame([Row(v=v) for v in values])
    df.createOrReplaceTempView("sqlfunc_in")
    got = [r["out"] for r in spark.sql(
        f"SELECT {sql_call} AS out FROM sqlfunc_in"
    ).collect()]
    want = [r["out"] for r in df.select(column.alias("out")).collect()]
    return got, want


CASES = [
    ("compress", URIS, lambda s: s.compress("v")),
    ("expand", CURIES, lambda s: s.expand("v")),
    ("standardize_prefix", ["chebi", "CHEBI", "nope", ""],
     lambda s: s.standardize_prefix("v")),
    ("standardize_curie", CURIES, lambda s: s.standardize_curie("v")),
    ("standardize_uri", URIS, lambda s: s.standardize_uri("v")),
    ("compress_or_standardize", AMBIGUOUS, lambda s: s.compress_or_standardize("v")),
    ("expand_or_standardize", AMBIGUOUS, lambda s: s.expand_or_standardize("v")),
    ("is_uri", AMBIGUOUS, lambda s: s.is_uri("v")),
    ("is_curie", AMBIGUOUS, lambda s: s.is_curie("v")),
]


@pytest.mark.parametrize("op,values,column_fn", CASES, ids=[c[0] for c in CASES])
def test_sql_function_matches_kernel(spark, sconv, op, values, column_fn):
    names = sconv.register_sql()
    got, want = _pairs(
        spark, sconv, values, f"{names[op]}(v)", column_fn(sconv)
    )
    assert got == want


def test_large_map_path_matches_kernels(spark, conv, sconv, monkeypatch):
    """Thresholds forced to 0: compress/lookups register the Arrow
    bucketed kernels, SQL bodies compose over them — same results."""
    monkeypatch.setattr(kernels, "NATIVE_COMPRESS_THRESHOLD", 0)
    monkeypatch.setattr(kernels, "NATIVE_EXPAND_THRESHOLD", 0)
    names = register_sql_functions(spark, sconv.broadcast, name_prefix="curies_big")
    for op, values, column_fn in CASES:
        got, want = _pairs(
            spark, sconv, values, f"{names[op]}(v)", column_fn(sconv)
        )
        assert got == want, op


def test_format_curie_and_null_handling(spark, sconv):
    names = sconv.register_sql()
    row = spark.sql(
        f"SELECT {names['format_curie']}('GO', '1') AS f, "
        f"{names['compress']}(NULL) AS c, "
        f"{names['expand']}(NULL) AS e, "
        f"{names['standardize_curie']}(NULL) AS sc"
    ).first()
    assert row["f"] == "GO:1"
    assert row["c"] is None and row["e"] is None and row["sc"] is None


def test_reregister_replaces(spark):
    a = SparkConverter.from_prefix_map(spark, {"X": "http://x.org/"})
    a.register_sql(name_prefix="swap")
    assert spark.sql("SELECT swap_expand('X:1') AS r").first()["r"] == "http://x.org/1"
    b = SparkConverter.from_prefix_map(spark, {"X": "http://y.org/"})
    b.register_sql(name_prefix="swap")
    assert spark.sql("SELECT swap_expand('X:1') AS r").first()["r"] == "http://y.org/1"


def test_quote_escaping(spark):
    s = SparkConverter.from_prefix_map(
        spark, {"q": "http://x.org/it's/", "bs": "http://x.org/a\\b/"}
    )
    names = s.register_sql(name_prefix="esc")
    df = spark.createDataFrame(
        [Row(v="http://x.org/it's/1"), Row(v="http://x.org/a\\b/2")]
    )
    df.createOrReplaceTempView("esc_in")
    got = [
        r["out"]
        for r in spark.sql(f"SELECT {names['compress']}(v) AS out FROM esc_in").collect()
    ]
    assert got == ["q:1", "bs:2"]


def test_large_converter_fused_functions_match_column_api(spark):
    """With a converter past NATIVE_COMPRESS_THRESHOLD (no forcing), the
    SQL standardize_uri / compress_or_standardize are the fused one-pass
    kernels: results equal to the Column API's (and the core's), and no
    map-literal lookup runs after the Arrow stage."""
    from curies_spark.plans.demo import large_converter

    conv = large_converter()
    assert len(conv.reverse_prefix_map) > kernels.NATIVE_COMPRESS_THRESHOLD
    big = SparkConverter(spark, conv)
    names = big.register_sql(name_prefix="curies_large")
    values = []
    for r in conv.records[:20]:
        values += [r.uri_prefix + "1", r.uri_prefix + "é", f"{r.prefix}:2"]
        values += [u + "3" for u in r.uri_prefix_synonyms]
        values += [f"{s}:4" for s in r.prefix_synonyms]
    values += ["", "nodelimiter", "http://unregistered.example.com/5", None]
    for op in ("standardize_uri", "compress_or_standardize", "expand_or_standardize"):
        column = getattr(big, op)("v")
        got, want = _pairs(spark, big, values, f"{names[op]}(v)", column)
        assert got == want, op
        assert got == [None if v is None else getattr(conv, op)(v) for v in values], op
    plan = spark.sql(
        f"SELECT {names['compress_or_standardize']}(v) AS a, "
        f"{names['standardize_uri']}(v) AS b FROM sqlfunc_in"
    )._jdf.queryExecution().executedPlan().toString()
    assert "element_at" not in plan and "map(" not in plan, plan
