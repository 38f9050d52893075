"""Columnar kernels vs the driver-side core: the two implementations must agree.

Each test runs the Spark kernel over a corpus that includes every edge
case from the reference tests (longest-prefix overlap, synonyms,
multi-colon identifiers, empty prefix/identifier, misses) and checks the
result against the scalar core — which itself is validated against the
ported reference tests in test_core_converter.py.
"""

import pytest
from pyspark.sql import Row, functions as F

from curies_spark.core import Converter
from curies_spark.functions import (
    SparkConverter,
    StrictConversionError,
    assert_no_nulls,
    is_w3c_curie_col,
    is_w3c_prefix_col,
)
from curies_spark.functions import kernels

CHEBI = "http://purl.obolibrary.org/obo/CHEBI_"
GO = "http://purl.obolibrary.org/obo/GO_"
OBO = "http://purl.obolibrary.org/obo/"

EPM = [
    {
        "prefix": "CHEBI",
        "prefix_synonyms": ["chebi"],
        "uri_prefix": CHEBI,
        "uri_prefix_synonyms": ["https://www.ebi.ac.uk/chebi/searchId.do?chebiId=CHEBI:"],
    },
    {"prefix": "GO", "uri_prefix": GO},
    {"prefix": "OBO", "uri_prefix": OBO},
    {"prefix": "mesh", "uri_prefix": "http://id.nlm.nih.gov/mesh/"},
    {"prefix": "skos", "uri_prefix": "http://www.w3.org/2004/02/skos/core#"},
]

URIS = [
    f"{CHEBI}138488",
    f"{GO}0032571",
    f"{OBO}go.owl",
    "https://www.ebi.ac.uk/chebi/searchId.do?chebiId=CHEBI:42",
    CHEBI,  # exact prefix → empty identifier
    "http://example.org/missing:0000000",
    "",
    "GO:0032571",  # a CURIE is not a URI
]

CURIES = [
    "CHEBI:138488",
    "chebi:138488",  # synonym prefix
    "GO:0032571",
    "OBO:unnamespaced",
    "a1:b2:c3",  # unknown prefix with multi-colon identifier
    "CHEBI:a:b:c",  # known prefix, multi-colon identifier
    ":something",  # empty prefix
    "CHEBI:",  # empty identifier
    "missing:00000",
    "nodelimiter",
    "",
]


@pytest.fixture(scope="module")
def conv() -> Converter:
    return Converter.from_extended_prefix_map(EPM)


@pytest.fixture(scope="module")
def sconv(spark, conv) -> SparkConverter:
    return SparkConverter(spark, conv)


def _run(spark, values, column):
    df = spark.createDataFrame([Row(v=v) for v in values])
    return [r["out"] for r in df.select(column.alias("out")).collect()]


def _scalar(conv, fn, values, **kw):
    out = []
    for v in values:
        try:
            out.append(fn(v, **kw))
        except Exception:
            out.append(None)  # columnar kernels encode per-row errors as NULL
    return out


def test_compress_matches_core(spark, conv, sconv):
    got = _run(spark, URIS, sconv.compress("v"))
    want = _scalar(conv, conv.compress, URIS)
    assert got == want


def test_compress_passthrough(spark, conv, sconv):
    got = _run(spark, URIS, sconv.compress("v", passthrough=True))
    want = _scalar(conv, conv.compress, URIS, passthrough=True)
    assert got == want


def test_compress_udf_path_matches_native(spark, conv, sconv, monkeypatch):
    """Force the pandas-UDF trie path and require identical output."""
    monkeypatch.setattr(kernels, "NATIVE_COMPRESS_THRESHOLD", 0)
    got = _run(spark, URIS, sconv.compress("v"))
    want = _scalar(conv, conv.compress, URIS)
    assert got == want


def test_expand_matches_core(spark, conv, sconv):
    got = _run(spark, CURIES, sconv.expand("v"))
    want = _scalar(conv, conv.expand, CURIES)
    assert got == want


def test_expand_passthrough(spark, conv, sconv):
    got = _run(spark, CURIES, sconv.expand("v", passthrough=True))
    want = []
    for v in CURIES:
        try:
            want.append(conv.expand(v, passthrough=True))
        except Exception:
            # documented columnar deviation: per-row NoCURIEDelimiterError
            # becomes a miss, which passthrough maps back to the input
            want.append(v)
    assert got == want


def test_expand_udf_path_matches_native(spark, conv, sconv, monkeypatch):
    monkeypatch.setattr(kernels, "NATIVE_EXPAND_THRESHOLD", 0)
    got = _run(spark, CURIES, sconv.expand("v"))
    want = _scalar(conv, conv.expand, CURIES)
    assert got == want


def test_expand_all_matches_core(spark, conv, sconv):
    got = _run(spark, CURIES, sconv.expand_all("v"))
    want = []
    for v in CURIES:
        try:
            r = conv.expand_all(v)
            want.append(list(r) if r is not None else None)
        except Exception:
            want.append(None)
    assert got == want


def test_parse_curie_struct(spark, conv, sconv):
    got = _run(spark, CURIES, sconv.parse_curie("v"))
    want = []
    for v in CURIES:
        try:
            rt = conv.parse_curie(v)
            want.append(Row(prefix=rt.prefix, identifier=rt.identifier) if rt else None)
        except Exception:
            want.append(None)
    assert got == want


def test_parse_uri_struct(spark, conv, sconv):
    got = _run(spark, URIS, sconv.parse_uri("v"))
    want = []
    for v in URIS:
        rt = conv.parse_uri(v)
        want.append(Row(prefix=rt.prefix, identifier=rt.identifier) if rt else None)
    assert got == want


def test_standardize_kernels(spark, conv, sconv):
    prefixes = ["CHEBI", "chebi", "GO", "missing", ""]
    assert _run(spark, prefixes, sconv.standardize_prefix("v")) == [
        conv.standardize_prefix(p) for p in prefixes
    ]
    assert _run(spark, prefixes, sconv.standardize_prefix("v", passthrough=True)) == [
        conv.standardize_prefix(p, passthrough=True) for p in prefixes
    ]
    got = _run(spark, CURIES, sconv.standardize_curie("v"))
    want = _scalar(conv, conv.standardize_curie, CURIES)
    assert got == want
    got = _run(spark, URIS, sconv.standardize_uri("v"))
    want = _scalar(conv, conv.standardize_uri, URIS)
    assert got == want


def test_ambiguous_kernels(spark, conv, sconv):
    mixed = URIS + CURIES
    got = _run(spark, mixed, sconv.compress_or_standardize("v"))
    want = _scalar(conv, conv.compress_or_standardize, mixed)
    assert got == want
    got = _run(spark, mixed, sconv.expand_or_standardize("v"))
    want = _scalar(conv, conv.expand_or_standardize, mixed)
    assert got == want


def test_predicates(spark, conv, sconv):
    mixed = URIS + CURIES
    assert _run(spark, mixed, sconv.is_uri("v")) == [conv.is_uri(v) for v in mixed]
    assert _run(spark, mixed, sconv.is_curie("v")) == [
        conv.is_curie(v) for v in mixed
    ]


def test_hash_triple_vector(spark, sconv):
    df = sconv.spark.createDataFrame(
        [Row(s="mesh:C000089", p="skos:exactMatch", o="CHEBI:28646")]
    )
    row = df.select(
        sconv.hash_triple("s", "p", "o").alias("h"),
        sconv.hash_triple("s", "p", "o", negate=True).alias("hn"),
    ).first()
    assert row["h"] == "36a1f9244ea7641a90987c82f33c25c0c13712ee8f48207b2a0825f8a4e4e26a"
    assert row["hn"] == row["h"] + "~"


def test_w3c_kernels(spark):
    from curies_spark.core import is_w3c_curie, is_w3c_prefix

    curies = [":test", "_:test", "4cdn:test", "", "GO:123", "[x]", "a b", "x"]
    got = _run(spark, curies, is_w3c_curie_col("v"))
    assert got == [is_w3c_curie(v) for v in curies]

    prefixes = ["GO", "_", "3dmet", "GO:", "a.b-c_d", ""]
    got = _run(spark, prefixes, is_w3c_prefix_col("v"))
    assert got == [is_w3c_prefix(v) for v in prefixes]


def test_strict_audit(spark, sconv):
    df = spark.createDataFrame([Row(v="CHEBI:1"), Row(v="missing:1")])
    with pytest.raises(StrictConversionError):
        sconv.df_expand(df, "v", "uri", strict=True)
    ok = sconv.df_expand(df.filter("v = 'CHEBI:1'"), "v", "uri", strict=True)
    assert ok.count() == 1


def test_expand_plan_is_native(spark, sconv):
    """The expand path must stay in the JVM: no Python UDF nodes in the plan."""
    df = spark.createDataFrame([Row(v="CHEBI:1")])
    plan = df.select(sconv.expand("v").alias("u"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_compress_native_plan_is_native(spark, sconv):
    df = spark.createDataFrame([Row(v=f"{CHEBI}1")])
    plan = df.select(sconv.compress("v").alias("c"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_file_convert_column(spark, tmp_path):
    """Distributed CSV column rewrite (reference _file_helper, api.py:2645-2666)."""
    from curies_spark.plans.demo import demo_converter
    from curies_spark.sources.loaders import file_convert_column

    src = tmp_path / "in"
    out = tmp_path / "out"
    spark.createDataFrame(
        [("a", "CHEBI:1"), ("b", "chebi:2"), ("c", "nope")], ["k", "curie"]
    ).coalesce(1).write.option("header", True).csv(str(src))
    file_convert_column(
        spark, str(src), str(out), "curie", demo_converter(),
        operation="expand", passthrough=True,
    )
    got = {
        r["k"]: r["curie"]
        for r in spark.read.option("header", True).csv(str(out)).collect()
    }
    assert got == {
        "a": "http://purl.obolibrary.org/obo/CHEBI_1",
        "b": "http://purl.obolibrary.org/obo/CHEBI_2",
        "c": "nope",
    }


def test_validate_identifier_col(spark):
    """Per-prefix pattern validation (reference Record.pattern, api.py:683-689)."""
    from curies_spark.core.converter import Converter
    from curies_spark.functions.kernels import validate_identifier_col

    conv = Converter.from_extended_prefix_map(
        [
            {"prefix": "CHEBI", "uri_prefix": "http://x/c_", "pattern": r"^\d+$"},
            {"prefix": "GO", "uri_prefix": "http://x/g_", "pattern": r"\d{7}"},
            {"prefix": "none", "uri_prefix": "http://x/n_"},
        ]
    )
    df = spark.createDataFrame(
        [("CHEBI", "1234"), ("CHEBI", "12a4"), ("GO", "0032571"),
         ("GO", "123"), ("none", "anything")],
        ["prefix", "identifier"],
    )
    got = [
        r["ok"]
        for r in df.select(
            validate_identifier_col("prefix", "identifier", conv).alias("ok")
        ).collect()
    ]
    assert got == [True, False, True, False, None]


def test_large_map_paths_match_native(spark, conv, sconv, monkeypatch):
    """Force the large-map UDF fallbacks of standardize_prefix /
    parse_curie / standardize_curie / expand_all and require identical
    output to the native MapType-literal paths."""
    monkeypatch.setattr(kernels, "NATIVE_EXPAND_THRESHOLD", 0)

    got = _run(spark, CURIES, sconv.standardize_curie("v"))
    want = _scalar(conv, conv.standardize_curie, CURIES)
    assert got == want

    prefixes = ["CHEBI", "chebi", "GO", "nope", "", None]
    got = _run(spark, prefixes, sconv.standardize_prefix("v"))
    want = [conv.standardize_prefix(p) if p is not None else None for p in prefixes]
    assert got == want

    parsed = sconv.parse_curie("v")
    df = spark.createDataFrame([(v,) for v in CURIES], ["v"])
    got = [
        (r["p"]["prefix"], r["p"]["identifier"]) if r["p"] is not None else None
        for r in df.select(parsed.alias("p")).collect()
    ]
    want = []
    for v in CURIES:
        try:
            rt = conv.parse_curie(v)
        except Exception:
            rt = None
        want.append((rt.prefix, rt.identifier) if rt is not None else None)
    assert got == want

    got = _run(spark, CURIES, sconv.expand_all("v"))
    want = []
    for v in CURIES:
        try:
            rv = conv.expand_all(v)
        except Exception:
            rv = None
        want.append(list(rv) if rv is not None else None)
    assert got == want


#: the ops whose large-map form is one fused Arrow kernel, directly or
#: by composition (expand_or_standardize = standardize_uri, else expand)
FUSED_OPS = ("standardize_uri", "compress_or_standardize", "expand_or_standardize")


def test_random_epms_kernels_match_core(spark, monkeypatch):
    """Randomized differential for the HOT PATH: columnar compress/expand,
    the standardizations and the ambiguous forms, plain and
    ``passthrough`` (native when-chain AND forced Arrow-UDF, where
    standardize_uri and compress_or_standardize are the fused one-pass
    kernels) vs the driver core on adversarial random EPMs — overlapping
    URI prefixes, synonym collisions, multi-colon identifiers, unicode,
    near-miss probes, and the probes a fused kernel can get wrong: a
    multi-byte UTF-8 identifier right after a prefix, a CURIE whose
    synonym prefix (``http``) is the head of every registered URI
    prefix, a synonym prefix holding the delimiter, ``""``, a
    delimiter-less token and NULL.

    Seeded random (not hypothesis): one Spark job per EPM is too slow
    for per-example shrinking, and a failing (seed, case) reproduces
    exactly."""
    import random

    from curies_spark.core.converter import Converter
    from curies_spark.functions.spark_converter import SparkConverter

    tails = ["/", "#", "_", ":", "/id/"]
    for seed in range(8):
        rng = random.Random(seed)
        records = []
        seen = set()
        for i in range(rng.randint(1, 7)):
            uri_prefix = (
                f"http://h{rng.randint(0, 4)}.example.org{rng.choice(tails)}"
            )
            if i % 2 and records:  # overlap food for longest-match
                uri_prefix = records[-1]["uri_prefix"] + f"x{i}_"
            if uri_prefix in seen:
                uri_prefix += f"{i}/"
            seen.add(uri_prefix)
            rec = {"prefix": f"p{i}", "uri_prefix": uri_prefix}
            if i == 0:
                rec["prefix_synonyms"] = ["http"]
            elif i == 1:
                rec["prefix_synonyms"] = ["q:1"]  # never a CURIE head
            if rng.random() < 0.5:
                syn = f"https://alt{i}.example.net/{rng.randint(0, 9)}/"
                if syn not in seen:
                    seen.add(syn)
                    rec["uri_prefix_synonyms"] = [syn]
            records.append(rec)
        conv = Converter.from_extended_prefix_map(records)

        probes = []
        for _ in range(60):
            r = rng.choice(records)
            kind = rng.randint(0, 4)
            ident = "".join(
                rng.choice("ab1:_.-é") for _ in range(rng.randint(0, 8))
            )
            if kind == 0:
                probes.append(r["uri_prefix"] + ident)
            elif kind == 1:
                probes.append(
                    rng.choice(r.get("uri_prefix_synonyms") or [r["uri_prefix"]])
                    + ident
                )
            elif kind == 2:
                probes.append(f"{r['prefix']}:{ident}")
            elif kind == 3:
                probes.append(r["uri_prefix"][:-1])
            else:
                probes.append(ident)

        for r in records:
            for head in (r["uri_prefix"], *r.get("uri_prefix_synonyms", [])):
                probes.append(head + "é€𝄞:x")
            probes.append(f"{r['prefix']}:ü𝄞")
        probes += [
            "http:" + records[-1]["uri_prefix"][5:],  # a URI when read whole
            "http:é/x",
            "q:1:2",
            "",
            "nodelimiter",
        ]
        probes.append(None)  # NULL rows must propagate NULL, never crash
        df = spark.createDataFrame(
            [(i, p) for i, p in enumerate(probes)], ["i", "value"]
        )
        for forced_udf in (False, True):
            if forced_udf:
                monkeypatch.setattr(kernels, "NATIVE_COMPRESS_THRESHOLD", 0)
                monkeypatch.setattr(kernels, "NATIVE_EXPAND_THRESHOLD", 0)
            else:
                monkeypatch.undo()
            sc = SparkConverter(spark, conv)
            parsed = kernels.parse_uri_col("value", sc.broadcast)
            rows = df.select(
                "value",
                kernels.compress_col("value", sc.broadcast).alias("c"),
                kernels.expand_col("value", sc.broadcast).alias("e"),
                kernels.standardize_curie_col("value", sc.broadcast).alias("sc"),
                kernels.standardize_prefix_col("value", sc.broadcast).alias("sp"),
                kernels.expand_all_col("value", sc.broadcast).alias("ea"),
                parsed.getField("prefix").alias("pp"),
                parsed.getField("identifier").alias("pi"),
                *[
                    getattr(kernels, f"{op}_col")(
                        "value", sc.broadcast, passthrough=pt
                    ).alias(f"{op}_{pt}")
                    for op in FUSED_OPS
                    for pt in (False, True)
                ],
            ).collect()
            def core(fn, v):
                # columnar kernels map per-value errors (e.g. the core's
                # NoCURIEDelimiterError on delimiter-less expand) and
                # NULL inputs to NULL
                if v is None:
                    return None
                try:
                    return fn(v)
                except Exception:  # noqa: BLE001
                    return None

            for row in rows:
                v = row["value"]
                assert row["c"] == core(conv.compress, v), (seed, forced_udf, "compress", v)
                assert row["e"] == core(conv.expand, v), (seed, forced_udf, "expand", v)
                assert row["sc"] == core(conv.standardize_curie, v), (
                    seed, forced_udf, "standardize_curie", v,
                )
                assert row["sp"] == core(conv.standardize_prefix, v), (
                    seed, forced_udf, "standardize_prefix", v,
                )
                want_all = core(conv.expand_all, v)
                got_all = sorted(row["ea"]) if row["ea"] is not None else None
                assert got_all == (sorted(want_all) if want_all else want_all), (
                    seed, forced_udf, "expand_all", v,
                )
                want_pair = core(conv.parse_uri, v)
                got_pair = (
                    (row["pp"], row["pi"]) if row["pp"] is not None else None
                )
                assert got_pair == (tuple(want_pair) if want_pair else None), (
                    seed, forced_udf, "parse_uri", v,
                )
                for op in FUSED_OPS:
                    for pt in (False, True):
                        want = core(
                            lambda x: getattr(conv, op)(x, passthrough=pt), v
                        )
                        assert row[f"{op}_{pt}"] == want, (seed, forced_udf, op, pt, v)
