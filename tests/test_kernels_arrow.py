"""Kernel-level differential for the large-map trie kernel, in pyarrow
alone (no Spark session): ``kernels._prefix_match``, on its encoded
(per distinct value) and unencoded paths, against the ``if_else`` twin in
``differential_twins`` for all five table sets, byte for byte."""

import random

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from curies_spark.core.converter import Converter
from curies_spark.functions import kernels as K
from curies_spark.plans.demo import large_converter

from differential_twins import bucketed_prefix_match_if_else as twin


def _twin_buckets(tables):
    """The twin's ``[(byte_length, key_set, value_array)]`` form of
    ``_build_arrow_buckets`` tables."""
    buckets, values, _ = tables
    return [(n, keys, values.slice(off, len(keys))) for n, keys, off in buckets]


def _random_epm(seed):
    """An adversarial EPM and its probes, built the way
    ``test_kernels_spark.test_random_epms_kernels_match_core`` builds them."""
    rng = random.Random(seed)
    tails = ["/", "#", "_", ":", "/id/"]
    records, seen = [], set()
    for i in range(rng.randint(1, 7)):
        uri_prefix = f"http://h{rng.randint(0, 4)}.example.org{rng.choice(tails)}"
        if i % 2 and records:
            uri_prefix = records[-1]["uri_prefix"] + f"x{i}_"
        if uri_prefix in seen:
            uri_prefix += f"{i}/"
        seen.add(uri_prefix)
        rec = {"prefix": f"p{i}", "uri_prefix": uri_prefix}
        if i == 0:
            rec["prefix_synonyms"] = ["http"]
        elif i == 1:
            rec["prefix_synonyms"] = ["q:1"]
        if rng.random() < 0.5:
            syn = f"https://alt{i}.example.net/{rng.randint(0, 9)}/"
            if syn not in seen:
                seen.add(syn)
                rec["uri_prefix_synonyms"] = [syn]
        records.append(rec)
    probes = []
    for _ in range(60):
        r = rng.choice(records)
        kind = rng.randint(0, 4)
        ident = "".join(rng.choice("ab1:_.-é") for _ in range(rng.randint(0, 8)))
        if kind == 0:
            probes.append(r["uri_prefix"] + ident)
        elif kind == 1:
            probes.append(
                rng.choice(r.get("uri_prefix_synonyms") or [r["uri_prefix"]]) + ident
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
    probes += ["http:" + records[-1]["uri_prefix"][5:], "http:é/x", "q:1:2", "", "x"]
    return Converter.from_extended_prefix_map(records), probes


def _large_probes():
    conv = large_converter()
    probes = []
    for i, record in enumerate(conv.records[:40]):
        for uri_prefix in record._all_uri_prefixes:
            probes += [uri_prefix + str(i), uri_prefix]  # the second: empty remainder
        for prefix in record._all_prefixes:
            probes.append(f"{prefix}:{i}")
    probes += [
        "http://unregistered.example.com/1",
        # a hit whose remainder a longer bucket's offset splits
        "http://vocab0.example.org/term/é€",
        # a miss that every bucket's offset (30–37 bytes) splits
        "http://vocab0.example.org/te€€€",
        "𝄞",
        "",
    ]
    return conv, probes


CASES = {
    "large": _large_probes,
    "random0": lambda: _random_epm(0),
    "random1": lambda: _random_epm(1),
}


def _batches(probes, hits):
    """Named batches over ``probes``; ``hits`` are the probes that match
    the compression tables."""
    misses = [p for p in probes if p not in hits]
    repeated = probes * 3 + [None, None]
    return {
        "mixed": pa.array(probes + [None]),
        "repeated": pa.array(repeated),
        "all_null": pa.nulls(5, pa.string()),
        "empty": pa.array([], pa.string()),
        "all_hit": pa.array(sorted(hits) * 2),
        "all_miss": pa.array(misses),
        "chunked": pa.chunked_array(
            [pa.array(repeated[:7]), pa.array([], pa.string()), pa.array(repeated[7:])]
        ),
    }


def _table_sets(conv):
    """(name, tables, finish, expected(arr)) for each of the five table
    sets; ``expected`` is the twin's output for that finish."""
    expand_all_tables, flat_uris, rec_offsets, rec_counts = K._tables(
        conv, "expand_all"
    )

    def joined(tables, sep):
        return lambda arr: pc.binary_join_element_wise(
            *twin(arr, _twin_buckets(tables)), sep
        )

    def parsed(tables):
        return lambda arr: pa.StructArray.from_arrays(
            list(twin(arr, _twin_buckets(tables))), names=["prefix", "identifier"]
        )

    def expand_all(arr):
        records, identifiers = twin(arr, _twin_buckets(expand_all_tables))
        rows = []
        for rec, ident in zip(records.to_pylist(), identifiers.to_pylist()):
            if rec is None:
                rows.append(None)
                continue
            start, count = rec_offsets[rec], rec_counts[rec]
            uris = flat_uris.slice(start, count).to_pylist()
            rows.append([u + ident for u in uris])
        return pa.array(rows, pa.list_(pa.string()))

    compress = K._tables(conv, "compress")
    curie = K._tables(conv, "parse_curie")
    return [
        ("compress", compress, K._joiner(":"), joined(compress, ":")),
        ("parse_uri", compress, K._parsed_struct, parsed(compress)),
        (
            "standardize_uri",
            K._tables(conv, "standardize_uri"),
            K._joiner(""),
            joined(K._tables(conv, "standardize_uri"), ""),
        ),
        ("expand", K._tables(conv, "expand"), K._joiner(""),
         joined(K._tables(conv, "expand"), "")),
        ("parse_curie", curie, K._parsed_struct, parsed(curie)),
        (
            "expand_all",
            expand_all_tables,
            lambda rec, ids: K._fan_out(rec, ids, flat_uris, rec_offsets, rec_counts),
            expand_all,
        ),
    ]


def _same(got, want, label=""):
    """Byte-identical arrays; a struct compares field by field with its
    row validity folded in (the twin keeps a missed row's struct valid
    with NULL fields, the kernel NULLs the row)."""
    assert got.type == want.type, label
    if pa.types.is_struct(got.type):
        got, want = got.flatten(), want.flatten()
    else:
        got, want = [got], [want]
    for g, w in zip(got, want):
        assert g.equals(w), (label, g.to_pylist(), w.to_pylist())


@pytest.mark.parametrize("case", sorted(CASES))
def test_prefix_match_matches_if_else_twin(case):
    conv, probes = CASES[case]()
    matched, _ = twin(pa.array(probes), _twin_buckets(K._tables(conv, "compress")))
    hits = {p for p, m in zip(probes, matched.is_valid().to_pylist()) if m}
    assert hits and set(probes) - hits
    for batch_name, batch in _batches(probes, hits).items():
        whole = batch.combine_chunks() if isinstance(batch, pa.ChunkedArray) else batch
        for name, tables, finish, expected in _table_sets(conv):
            want = expected(whole)

            def kernel(arr):
                return K._prefix_match(arr, tables, finish)

            for path, got in (
                ("unencoded", kernel(whole)),
                ("encoded", K._over_dictionary(whole, kernel)),
                ("chosen", K._per_distinct(batch, kernel)),
            ):
                _same(got, want, f"{case}/{batch_name}/{name}/{path}")


@pytest.mark.parametrize("case", sorted(CASES))
def test_compress_else_standardize_matches_twin(case):
    """``compress_or_standardize``'s body: the CURIE-standardization probe
    runs on the compression misses only, on either path."""
    conv, probes = CASES[case]()
    compress, curie = K._tables(conv, "compress"), K._tables(conv, "parse_curie")
    arr = pa.array(probes * 2 + [None])
    want = pc.binary_join_element_wise(*twin(arr, _twin_buckets(compress)), ":")
    misses = pc.and_not(pc.is_null(want), pc.is_null(arr))
    want = pc.replace_with_mask(
        want,
        misses,
        pc.binary_join_element_wise(*twin(arr.filter(misses), _twin_buckets(curie)), ":"),
    )

    def body(a):
        return K._compress_else_standardize(a, compress, curie)

    _same(body(arr), want)
    _same(K._over_dictionary(arr, body), want)


def test_per_distinct_encodes_only_batches_that_repeat(monkeypatch):
    """The sample decides the path: a batch of repeats is probed once per
    distinct value, an all-distinct batch row by row."""
    encoded = []
    real = K._over_dictionary
    monkeypatch.setattr(
        K, "_over_dictionary", lambda arr, fn: encoded.append(len(arr)) or real(arr, fn)
    )
    tables = K._tables(large_converter(), "compress")
    uri = "http://vocab{}.example.org/term/{}"
    distinct = pa.array([uri.format(i % 200, i) for i in range(20_000)])
    repeats = pa.array([uri.format(i % 200, i % 7) for i in range(20_000)])
    out = K._joined_match(distinct, tables, ":")
    assert encoded == [] and out[20].as_py() == "ns20:20"
    out = K._joined_match(repeats, tables, ":")
    assert encoded == [20_000] and out[7].as_py() == "ns7:0"
