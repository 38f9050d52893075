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


#: every hazard of a SQL string literal (quote, backslash, newline, a
#: real NBSP, a real U+2028, non-ASCII letters) in every field a
#: function body reads: prefixes, prefix synonyms, URI prefixes and
#: URI-prefix synonyms
ESCAPE_EPM = [
    {
        "prefix": "it's",
        "prefix_synonyms": ["a\\b", "new\nline"],
        "uri_prefix": "http://x.org/it's/",
        "uri_prefix_synonyms": ["http://x.org/a\\b/", "http://x.org/new\nline/"],
    },
    {
        "prefix": "nb\xa0sp",
        "prefix_synonyms": ["ls\u2028ep", "çà"],
        "uri_prefix": "http://x.org/nb\xa0sp/",
        "uri_prefix_synonyms": ["http://x.org/ls\u2028ep/", "http://x.org/çà/"],
    },
    {"prefix": "ünï", "uri_prefix": "http://ü.org/\\'/"},
]


def _core(conv, op, v):
    """The core Converter's answer, as the SQL surface encodes it: a
    per-value error or a NULL input is NULL (FALSE for a predicate)."""
    if op == "format_curie":
        return None if v is None else conv.format_curie(v, v)
    if v is None:
        return False if op.startswith("is_") else None
    try:
        return getattr(conv, op)(v)
    except Exception:  # noqa: BLE001
        return None


def test_quote_escaping(spark, monkeypatch):
    """Every registered function, native (rendered SQL text) and with
    both thresholds forced to 0 (registered Arrow kernels), equals its
    Column kernel and the core Converter on a converter whose every
    string field needs escaping in a SQL literal."""
    conv = Converter.from_extended_prefix_map(ESCAPE_EPM)
    s = SparkConverter(spark, conv)
    values = ["", "nodelimiter", "it's", "http://x.org/", None]
    for record in conv.records:
        for uri_prefix in record._all_uri_prefixes:
            values += [uri_prefix + "1", uri_prefix + "x'\\y\n"]
        for prefix in record._all_prefixes:
            values += [prefix, f"{prefix}:2", f"{prefix}:it's\\"]
    columns = {
        op: lambda op=op: getattr(s, op)("v")
        for op in (
            "compress", "standardize_uri", "expand", "standardize_prefix",
            "standardize_curie", "compress_or_standardize",
            "expand_or_standardize", "is_uri", "is_curie",
        )
    }
    columns["format_curie"] = lambda: kernels.format_curie_col("v", "v")
    for forced in (False, True):
        with monkeypatch.context() as m:
            if forced:
                m.setattr(kernels, "NATIVE_COMPRESS_THRESHOLD", 0)
                m.setattr(kernels, "NATIVE_EXPAND_THRESHOLD", 0)
            names = s.register_sql(name_prefix=f"esc{int(forced)}")
            assert set(names) == set(columns)
            for op, column in columns.items():
                args = "v, v" if op == "format_curie" else "v"
                got, want = _pairs(spark, s, values, f"{names[op]}({args})", column())
                assert got == want, (op, forced)
                assert got == [_core(conv, op, v) for v in values], (op, forced)


def test_large_converter_fused_functions_match_column_api(spark):
    """With converters past NATIVE_COMPRESS_THRESHOLD (no forcing), the
    SQL standardize_uri / compress_or_standardize are the fused one-pass
    kernels: results equal to the Column API's (and the core's), and no
    map-literal lookup runs after the Arrow stage. Past
    NATIVE_EXPAND_THRESHOLD too, standardize_curie is one Arrow pass
    that returns the finished CURIE on both surfaces: no struct crosses
    back to be concatenated."""
    from curies_spark.plans.demo import large_converter
    from curies_spark.sources.synthetic import generate_epm

    for conv in (large_converter(), Converter.from_extended_prefix_map(generate_epm(240))):
        assert len(conv.reverse_prefix_map) > kernels.NATIVE_COMPRESS_THRESHOLD
        big = SparkConverter(spark, conv)
        names = big.register_sql(name_prefix="curies_large")
        values = []
        for r in conv.records[:20]:
            values += [r.uri_prefix + "1", r.uri_prefix + "é", f"{r.prefix}:2"]
            values += [u + "3" for u in r.uri_prefix_synonyms]
            values += [f"{s}:4" for s in r.prefix_synonyms]
        values += ["", "nodelimiter", "http://unregistered.example.com/5", None]
        for op in (
            "standardize_uri", "compress_or_standardize", "expand_or_standardize",
            "standardize_curie",
        ):
            column = getattr(big, op)("v")
            got, want = _pairs(spark, big, values, f"{names[op]}(v)", column)
            assert got == want, op
            assert got == [_core(conv, op, v) for v in values], op
        plan = spark.sql(
            f"SELECT {names['compress_or_standardize']}(v) AS a, "
            f"{names['standardize_uri']}(v) AS b FROM sqlfunc_in"
        )._jdf.queryExecution().executedPlan().toString()
        assert "element_at" not in plan and "map(" not in plan, plan
        if not kernels._native_prefix_map(conv):
            table = spark.table("sqlfunc_in")
            for df in (
                spark.sql(f"SELECT {names['standardize_curie']}(v) AS o FROM sqlfunc_in"),
                table.select(big.standardize_curie("v").alias("o")),
            ):
                plan = df._jdf.queryExecution().executedPlan().toString()
                after_arrow, arrow, _ = plan.partition("ArrowEvalPython")
                assert arrow, plan
                assert "concat(" not in after_arrow and "element_at" not in after_arrow, plan
