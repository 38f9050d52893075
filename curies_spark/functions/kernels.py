"""Columnar conversion kernels: every reference scalar function as a Spark column operator.

Physical design (see SURVEY.md §3.2-3.3):

- **Expansion / CURIE standardization are JVM-native.** A CURIE splits on
  the first delimiter with ``substring_index``/``locate``, the prefix is
  looked up once in a ``MapType`` literal of the broadcast converter's
  synonym-inclusive prefix map, and the result is a ``concat``.
  Whole-stage codegen keeps the whole path in the JVM — no Python worker.
- **Compression (longest-prefix URI matching) has no native Spark
  operator.** For small converters each URI-prefix op is ONE
  codegen'd ``CASE WHEN startswith`` chain (:func:`_uri_prefix_chain`),
  longest-first so the longest-prefix-wins guarantee of reference
  api.py:1762-1769 holds. Past a threshold, we switch to an
  ``arrow_udf`` running :func:`_prefix_match` against the broadcast
  converter — the ONE length-bucketed probe, which all five large-map
  table sets (compress, standardize-URI, expand, parse-CURIE,
  expand_all) go through: a stem lookup drops the rows that start no
  key, then one C-speed byte-slice + hash set-lookup per DISTINCT key
  length, longest first, over the rows still unmatched (byte-prefix
  match ≡ codepoint startswith for UTF-8), never per-row Python; each
  output string is built once, from the hit rows. When a strided
  sample of the Arrow batch repeats values, :func:`_per_distinct`
  probes the batch's dictionary instead and takes the result back to
  row order. On that path ``compress``, ``standardize_uri``,
  ``standardize_curie`` and ``compress_or_standardize`` are each ONE
  arrow_udf that returns the finished string: no struct crosses back to
  the JVM and no map literal is probed after the UDF. In-kernel, one
  core of a 4-core microVM runs the ``compress``, ``standardize_uri``
  and ``compress_or_standardize`` bodies at 3.2–4.0M conversions per
  CPU-second on 64k-row batches that are ~45% distinct (the
  ``canon_large_epm`` mix) and 2.5–3.4M on all-distinct batches.

Each choice is made in one place:

- **Native or Arrow**: one predicate per map family, read by every
  Column kernel and by :func:`~curies_spark.functions.sqlfuncs.register_sql_functions`.
  :func:`_native_uri_prefix_map` (every URI prefix and synonym, against
  :data:`NATIVE_COMPRESS_THRESHOLD`) decides ``compress``, ``parse_uri``,
  ``standardize_uri`` and ``compress_or_standardize``;
  :func:`_native_prefix_map` (every prefix and synonym, against
  :data:`NATIVE_EXPAND_THRESHOLD`) decides ``expand``, ``expand_all``,
  ``parse_curie`` and ``standardize_prefix``.
- **The Arrow UDF**: :func:`_arrow_udf` is the one factory. Its one
  body installs the worker hook and runs an op's module-level body
  ``(arr, converter)``, so the Column API and the SQL surface run the
  same UDF for an op.
- **The lookup tables**: :data:`_TABLE_BUILDERS` names every table set
  the bodies read; :func:`_tables` builds each once per Python worker,
  on its first batch, and caches it in one dict on the converter.
- **The SQL text**: a native SQL function's body is its Column
  kernel's analyzed expression, rendered by Catalyst
  (:func:`~curies_spark.functions.sqlfuncs.register_sql_functions`), so
  an op is written once, here, for both surfaces.

Strictness mapping (reference api.py:1732-1778 etc.):
- default    → miss = NULL
- passthrough → ``F.coalesce(converted, original)``
- strict      → driver-side audit via :func:`assert_no_nulls`

Deviation from the reference, by design: per-row exceptions (e.g.
``NoCURIEDelimiterError`` for a CURIE without a delimiter,
reference utils.py:22-27) become NULLs; use :func:`assert_no_nulls`
to restore fail-fast semantics on the driver.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import _worker
from ..core.converter import Converter
from ..core.w3c import NCNAME_PATTERN

__all__ = [
    "assert_no_nulls",
    "StrictConversionError",
    "compress_col",
    "compress_or_standardize_preprocessed_col",
    "parse_preprocessed_col",
    "parse_preprocessed_df",
    "preprocess_value_col",
    "curie_identifier_col",
    "curie_prefix_col",
    "expand_all_col",
    "expand_col",
    "format_curie_col",
    "hash_triple_col",
    "hash_uri_triple_col",
    "is_curie_col",
    "is_uri_col",
    "is_w3c_curie_col",
    "is_w3c_prefix_col",
    "parse_curie_col",
    "parse_uri_col",
    "standardize_curie_col",
    "standardize_prefix_col",
    "standardize_uri_col",
    "validate_identifier_col",
]

#: The most URI prefixes (synonyms included) at which the URI-prefix
#: family stays one codegen'd when-chain; past it, the length-bucketed
#: arrow_udf. The largest chain whose whole-stage method HotSpot still
#: compiles (the NOTE in :func:`_uri_prefix_chain`).
NATIVE_COMPRESS_THRESHOLD = 45

#: The most prefix-map entries (synonyms included) at which the prefix
#: family stays an ``element_at`` on a MapType literal; past it, the
#: bucketed arrow_udf against the broadcast converter. ``element_at``
#: scans the literal's keys on every row, so the native cost grows with
#: the map. CPU-s per 400k CURIEs, native vs Arrow (``generate_epm``
#: converters, 4-core host, median of 3 passes after 2 warm ones): 0.75
#: vs 0.90 at 200 entries, 0.82 vs 1.06 at 300, 0.96 vs 0.85 at 350,
#: 1.05 vs 0.88 at 400, 2.20 vs 0.84 at 1,000. The plan size of a
#: literal shipped with every task bounds the native path only far
#: above this crossover.
NATIVE_EXPAND_THRESHOLD = 300

PARSE_SCHEMA = StructType(
    [
        StructField("prefix", StringType(), True),
        StructField("identifier", StringType(), True),
    ]
)


class StrictConversionError(ValueError):
    """Raised by :func:`assert_no_nulls` — the columnar form of the
    reference's strict-mode ``ConversionError`` hierarchy."""


def _col(c: "Column | str") -> Column:
    return F.col(c) if isinstance(c, str) else c


def _broadcast(converter) -> Converter:
    """Accept either a raw Converter or a ``sc.broadcast`` handle."""
    if isinstance(converter, Converter):
        return converter
    return converter.value  # pyspark.Broadcast


def _native_uri_prefix_map(conv: Converter) -> bool:
    """Whether the URI-prefix family (``compress``, ``parse_uri``,
    ``standardize_uri``, ``compress_or_standardize``) runs as the
    codegen'd when-chain: at most :data:`NATIVE_COMPRESS_THRESHOLD` URI
    prefixes, synonyms included. Past it, :func:`_arrow_udf`."""
    return len(conv.reverse_prefix_map) <= NATIVE_COMPRESS_THRESHOLD


def _native_prefix_map(conv: Converter) -> bool:
    """Whether the prefix family (``expand``, ``expand_all``,
    ``parse_curie``, ``standardize_prefix``) runs through map literals:
    at most :data:`NATIVE_EXPAND_THRESHOLD` prefixes, synonyms included
    (``prefix_map`` and ``synonym_to_prefix`` share that key set). Past
    it, :func:`_arrow_udf`."""
    return len(conv.prefix_map) <= NATIVE_EXPAND_THRESHOLD


def _arrow_udf(body, converter, return_type=StringType()):
    """The one arrow_udf of every large-map op: install the worker hook,
    then ``body(arr, converter)``. ``body`` is a module-level function,
    so cloudpickle ships it by reference; ``converter`` (a Converter or a
    Broadcast of one) rides in the closure and a Broadcast's ``.value``
    is read in the executor, so the converter ships once per executor
    instead of once per serialized UDF."""

    @F.arrow_udf(return_type)
    def _kernel(arr):
        _worker.install()
        return body(arr, _broadcast(converter))

    return _kernel


def _map_literal(mapping: "dict[str, str]") -> Column:
    """MapType literal of a ``str → str`` mapping (``create_map()`` when
    it is empty)."""
    return F.create_map(*[F.lit(x) for pair in mapping.items() for x in pair])


# ---------------------------------------------------------------------------
# CURIE splitting (native)
# ---------------------------------------------------------------------------


def curie_prefix_col(curie: "Column | str") -> Column:
    """Prefix half of a CURIE — everything before the *first* delimiter
    (reference utils.py:30-32). NULL when there is no delimiter."""
    c = _col(curie)
    return F.when(F.locate(":", c) > 0, F.substring_index(c, ":", 1))


def curie_identifier_col(curie: "Column | str") -> Column:
    """Identifier half — everything after the first delimiter; may itself
    contain delimiters (``a1:b2:c3 → b2:c3``, reference tests/test_struct.py:44-48)."""
    c = _col(curie)
    pos = F.locate(":", c)
    return F.when(pos > 0, F.substr(c, pos + F.lit(1)))


def format_curie_col(prefix: "Column | str", identifier: "Column | str") -> Column:
    """``prefix:identifier`` (reference api.py:1583-1585)."""
    return F.concat(_col(prefix), F.lit(":"), _col(identifier))


# ---------------------------------------------------------------------------
# expansion (native fast path)
# ---------------------------------------------------------------------------


def expand_col(
    curie: "Column | str",
    converter,
    *,
    passthrough: bool = False,
) -> Column:
    """CURIE → URI (reference ``Converter.expand``, api.py:1949-1983).

    Fully JVM-native for converters below :data:`NATIVE_EXPAND_THRESHOLD`:
    split on first delimiter → ``element_at`` against the broadcast
    synonym-inclusive prefix map → ``concat``. Misses (no delimiter,
    unknown prefix) are NULL, or the input when ``passthrough``.
    """
    c = _col(curie)
    conv = _broadcast(converter)
    if _native_prefix_map(conv):
        prefix = F.substring_index(c, ":", 1)
        pos = F.locate(":", c)
        identifier = F.substr(c, pos + F.lit(1))
        uri_prefix = F.element_at(_map_literal(conv.prefix_map), prefix)
        expanded = F.when(pos > 0, F.concat(uri_prefix, identifier))
    else:
        expanded = _arrow_udf(_expand, converter)(c)
    return F.coalesce(expanded, c) if passthrough else expanded


def expand_all_col(curie: "Column | str", converter) -> Column:
    """CURIE → array of all URIs, canonical first then synonyms in record
    order (reference ``expand_all``, api.py:1995-2027). NULL array on miss.

    Native: a ``MapType(string, array<string>)`` literal keyed by every
    prefix+synonym, then ``transform`` concatenates the identifier.
    Past :data:`NATIVE_EXPAND_THRESHOLD` a per-row scan of the map
    literal's keys costs more than an ``arrow_udf``, which takes over:
    the same length-bucketed byte-prefix probe as :func:`expand_col`,
    resolving to a RECORD INDEX instead of a single URI prefix, then a
    vectorized list fan-out (``np.repeat`` over per-record counts + one
    element-wise join) builds the result ListArray — no per-row Python.
    """
    c = _col(curie)
    conv = _broadcast(converter)
    if not _native_prefix_map(conv):
        from pyspark.sql.types import ArrayType

        return _arrow_udf(_expand_all, converter, ArrayType(StringType()))(c)
    pairs: list[Column] = []
    for record in conv.records:
        uri_prefixes = F.array(
            *[F.lit(u) for u in (record.uri_prefix, *record.uri_prefix_synonyms)]
        )
        for prefix in record._all_prefixes:
            pairs.append(F.lit(prefix))
            pairs.append(uri_prefixes)
    map_expr = F.create_map(*pairs)
    prefix = F.substring_index(c, ":", 1)
    pos = F.locate(":", c)
    identifier = F.substr(c, pos + F.lit(1))
    bases = F.element_at(map_expr, prefix)
    return F.when(
        pos > 0, F.transform(bases, lambda base: F.concat(base, identifier))
    )


# ---------------------------------------------------------------------------
# compression (longest-prefix match)
# ---------------------------------------------------------------------------


def _longest_first(mapping: "dict[str, str]") -> "list[tuple[str, str]]":
    """The probe order of every URI-prefix chain, Column and SQL."""
    return sorted(mapping.items(), key=lambda kv: len(kv[0]), reverse=True)


def _uri_prefix_chain(
    uri: Column, mapping, branch=lambda v, rest: F.concat(F.lit(v), rest), miss_type=StringType()
) -> Column:
    """One ``CASE WHEN startswith`` chain over a ``uri_prefix → value``
    mapping, longest first. A branch is the finished result
    ``branch(value, substr(uri, len(uri_prefix) + 1))``, by default their
    concat; no match is a NULL of ``miss_type``, the result's type."""
    # NOTE a long chain is slow through one JVM limit: HotSpot compiles
    # no method over 8,000 bytes of bytecode (DontCompileHugeMethods),
    # and Spark does not split a CASE chain inside whole-stage codegen,
    # so the chain sits in the stage's one method, which grows ~163
    # bytes per entry over a parquet scan. Native
    # compress_or_standardize is 2,862 bytes at 14 URI prefixes, 7,915
    # at 45 and 8,078 at 46, where it stops being compiled: per 400k
    # values (4-core host) it costs 0.88 CPU-s at 45 against 1.05 for
    # the Arrow kernel, and 3.46 at 46 against 1.07. compress alone
    # (7,856 bytes at 48) crosses later; the threshold is the last size
    # both fit (tests/test_kernel_choice.py). Two chain ops in one
    # projection share that method, so together they cross the limit
    # below the threshold. A "hybrid" (a chain over the hot prefixes,
    # Arrow for the tail) is the same chain, and was rejected.
    chain = F  # F.when opens the chain, Column.when extends it
    for uri_prefix, value in _longest_first(mapping):
        remainder = F.substr(uri, F.lit(len(uri_prefix) + 1))
        chain = chain.when(uri.startswith(uri_prefix), branch(value, remainder))
    miss = F.lit(None).cast(miss_type)
    return miss if chain is F else chain.otherwise(miss)


def _curie_heads(conv: Converter) -> "dict[str, str]":
    """URI prefix (synonyms included) → ``prefix:``, native ``compress``'s chain."""
    return {uri_prefix: f"{prefix}:" for uri_prefix, prefix in conv.reverse_prefix_map.items()}


def _canonical_uri_prefixes(conv: Converter) -> "dict[str, str]":
    """URI prefix (synonyms included) → its record's canonical URI prefix,
    ``standardize_uri``'s chain and Arrow table: the compression keys."""
    return {
        uri_prefix: record.uri_prefix
        for record in conv.records
        for uri_prefix in record._all_uri_prefixes
    }


def _build_arrow_buckets(mapping: "dict[str, object]", value_type=None):
    """Length-bucketed lookup tables for :func:`_prefix_match`:
    ``(buckets, values, (shortest, stems))``. ``buckets`` is
    ``[(byte_length, binary key_set, offset)]``, longest first;
    ``values`` concatenates every bucket's values, so key ``i`` of a
    bucket maps to ``values[offset + i]``; ``stems`` holds the first
    ``shortest`` bytes (the shortest key's length) of every key. Keys
    are UTF-8 bytes: byte-prefix match is exactly equivalent to
    codepoint startswith for UTF-8 (prefix property), and byte slicing
    is O(1) offset math where codepoint slicing scans."""
    import pyarrow as pa

    by_length: dict[int, dict[bytes, object]] = {}
    for k, v in mapping.items():
        key = k.encode("utf-8")
        by_length.setdefault(len(key), {})[key] = v
    buckets, flat = [], []
    for length, bucket in sorted(by_length.items(), reverse=True):
        buckets.append((length, pa.array(list(bucket), type=pa.binary()), len(flat)))
        flat.extend(bucket.values())
    shortest = min(by_length, default=0)
    stems = {key[:shortest] for bucket in by_length.values() for key in bucket}
    return (
        buckets,
        pa.array(flat, type=value_type or pa.string()),
        (shortest, pa.array(sorted(stems), type=pa.binary())),
    )


def _curie_keyed(mapping: "dict[str, object]") -> "dict[str, object]":
    """``prefix:``-keyed copy of a prefix-keyed mapping. A prefix that
    itself contains the delimiter can never be the head of a CURIE split
    on its first delimiter, so it gets no key; every remaining key ends
    in the only delimiter it holds, no key is a byte-prefix of another,
    and at most one bucket can hit — bucket probing is then exactly
    split-on-first-colon + exact map lookup."""
    return {f"{k}:": v for k, v in mapping.items() if ":" not in k}


def _build_expand_all_tables(conv: Converter):
    """expand_all lookup tables: length-bucketed ``prefix: → record
    index`` probes plus the record-major flattened URI-prefix array
    (canonical first, then synonyms in record order — reference
    api.py:2182-2219) with per-record offsets/counts for the vectorized
    list fan-out (:func:`_fan_out`)."""
    import numpy as np
    import pyarrow as pa

    mapping: dict[str, int] = {}
    flat: list[str] = []
    rec_offsets: list[int] = []
    rec_counts: list[int] = []
    for i, record in enumerate(conv.records):
        uri_prefixes = [record.uri_prefix, *record.uri_prefix_synonyms]
        rec_offsets.append(len(flat))
        rec_counts.append(len(uri_prefixes))
        flat.extend(uri_prefixes)
        for prefix in record._all_prefixes:
            mapping[prefix] = i
    return (
        _build_arrow_buckets(_curie_keyed(mapping), pa.int64()),
        pa.array(flat, pa.string()),
        np.asarray(rec_offsets, dtype=np.int64),
        np.asarray(rec_counts, dtype=np.int64),
    )


def _build_exact_match_table(mapping: "dict[str, str]"):
    """``(keys, values)`` for a whole-string exact lookup: one
    ``index_in`` + ``take`` per batch."""
    import pyarrow as pa

    return pa.array(list(mapping)), pa.array(list(mapping.values()))


#: Every lookup table set the large-map op bodies read, by name: a
#: builder from the converter. :func:`_tables` runs each at most once per
#: converter object.
_TABLE_BUILDERS = {
    # uri_prefix (synonyms included) → canonical prefix
    "compress": lambda conv: _build_arrow_buckets(conv.reverse_prefix_map),
    # uri_prefix (synonyms included) → its record's canonical uri_prefix;
    # the kernel's output is the finished string
    "standardize_uri": lambda conv: _build_arrow_buckets(_canonical_uri_prefixes(conv)),
    # ``prefix:`` (synonyms included) → canonical uri_prefix
    "expand": lambda conv: _build_arrow_buckets(_curie_keyed(conv.prefix_map)),
    # ``prefix:`` (synonyms included) → canonical prefix
    "parse_curie": lambda conv: _build_arrow_buckets(
        _curie_keyed(conv.synonym_to_prefix)
    ),
    "expand_all": _build_expand_all_tables,
    # whole prefix (synonyms included) → canonical prefix
    "standardize_prefix": lambda conv: _build_exact_match_table(conv.synonym_to_prefix),
}


def _tables(conv: Converter, name: str):
    """The ``name`` tables of :data:`_TABLE_BUILDERS`, cached in one dict
    on the converter: built once per executor, on the first batch that
    needs them (the broadcast value is one object per Python worker)."""
    cache = vars(conv).setdefault("_arrow_tables", {})
    if name not in cache:
        cache[name] = _TABLE_BUILDERS[name](conv)
    return cache[name]


def _fan_out(records, identifiers, flat_uris, rec_offsets, rec_counts):
    """``finish`` for :func:`_prefix_match` in ``expand_all``: each hit
    row's list of its record's URI prefixes + identifier, with no per-row
    Python (``np.repeat`` over per-record counts + one element-wise join)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rec = records.to_numpy()
    counts = rec_counts[rec]
    offsets = np.concatenate(([0], np.cumsum(counts)))
    row_rep = np.repeat(np.arange(len(counts)), counts)
    # position of each output element inside its row's list
    pos = np.arange(int(offsets[-1]), dtype=np.int64) - np.repeat(offsets[:-1], counts)
    bases = flat_uris.take(pa.array(rec_offsets[rec][row_rep] + pos))
    joined = pc.binary_join_element_wise(bases, identifiers.take(pa.array(row_rep)), "")
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), pa.int32()), joined
    )


#: :func:`_per_distinct` counts the distinct values of at most this many
#: rows, sampled at a stride over the batch
_SAMPLE_ROWS = 8192
#: ... and dictionary-encodes the batch when fewer than this share of the
#: sampled rows are distinct
_ENCODE_BELOW_DISTINCT_SHARE = 0.95


def _per_distinct(arr, fn):
    """``fn(arr)``, computed once per distinct value when the batch
    repeats values: a strided sample of at most :data:`_SAMPLE_ROWS` rows
    decides, then :func:`_over_dictionary` runs ``fn`` on the batch's
    dictionary. ``fn`` maps an array to an array of the same length, row
    for row, and a NULL row to NULL. The choice changes speed only,
    never output."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if not n:
        return fn(arr)
    sample = arr
    if n > _SAMPLE_ROWS:
        sample = arr.take(pa.array(np.arange(0, n, -(-n // _SAMPLE_ROWS))))
    distinct = pc.count_distinct(sample).as_py()
    if distinct < _ENCODE_BELOW_DISTINCT_SHARE * len(sample):
        return _over_dictionary(arr, fn)
    return fn(arr)


def _over_dictionary(arr, fn):
    """``fn`` over the distinct non-NULL values of ``arr``, taken back to
    row order (a NULL row has a NULL index, so it stays NULL)."""
    encoded = arr.dictionary_encode()
    return fn(encoded.dictionary).take(encoded.indices)


def _prefix_match(arr, tables, finish):
    """The length-bucketed longest-prefix probe every large-map kernel
    runs. ``tables`` come from :func:`_build_arrow_buckets`.

    One byte-slice + set-lookup per DISTINCT key length, longest first,
    so the longest match wins: each a C-speed kernel over the rows that
    are still unmatched, never per-row Python. A first lookup of every
    row's stem drops the rows (and NULLs) that start no key, and each
    bucket that hits filters the rest down. A bucket's hits keep their
    rows and flat value indexes as numpy ints; the strings are built
    once, at the end: one tail slice per matched length, cut from hit
    rows only (whose byte offset is a character boundary by
    construction, so the one cast to string sees valid UTF-8 — a
    shorter bucket's offset can split a multi-byte character on a row it
    did not match), one value ``take``, then ``finish(values,
    remainders)`` over the hit rows, and one scatter ``take`` back to
    row order: NULL where a row did not match."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    buckets, flat_values, (shortest, stems) = tables
    n = len(arr)
    raw = arr.cast(pa.binary())  # zero-copy view; byte slicing is offset math
    live = pc.is_in(pc.binary_slice(raw, 0, shortest), value_set=stems)
    pending = np.flatnonzero(live.to_numpy(zero_copy_only=False))
    raw = raw.filter(live)
    rows, value_idx, tails = [], [], []
    for length, keys, offset in buckets:
        if not len(pending):
            break
        idx = pc.index_in(pc.binary_slice(raw, 0, length), value_set=keys)
        if idx.null_count == len(idx):
            continue
        hit = idx.is_valid()
        hit_np = hit.to_numpy(zero_copy_only=False)
        rows.append(pending[hit_np])
        value_idx.append(pc.drop_null(idx).to_numpy() + offset)
        tails.append(pc.binary_slice(raw.filter(hit), length, 2**31 - 1))
        pending = pending[~hit_np]
        raw = raw.filter(pc.invert(hit))
    if rows:
        hit_rows = np.concatenate(rows)
        values = flat_values.take(pa.array(np.concatenate(value_idx)))
        remainders = pa.concat_arrays(tails).cast(pa.string())
    else:
        hit_rows = pending[:0]
        values = flat_values.slice(0, 0)
        remainders = pa.array([], pa.string())
    out = finish(values, remainders)
    where = np.zeros(n, np.int64)
    where[hit_rows] = np.arange(len(hit_rows))
    missed = np.ones(n, bool)
    missed[hit_rows] = False
    return out.take(pa.array(where, mask=missed))


def _joiner(sep: str):
    """``finish`` for :func:`_prefix_match`: value + ``sep`` + remainder."""
    import pyarrow.compute as pc

    return lambda values, remainders: pc.binary_join_element_wise(
        values, remainders, sep
    )


def _parsed_struct(prefixes, identifiers):
    """``finish`` for :func:`_prefix_match`: a :data:`PARSE_SCHEMA` struct
    (the scatter makes a miss a NULL struct, not a struct of NULLs)."""
    import pyarrow as pa

    return pa.StructArray.from_arrays(
        [prefixes, identifiers], names=["prefix", "identifier"]
    )


def _joined_match(arr, tables, sep: str):
    """One bucketed probe per distinct value, rendered as the finished
    string — matched value + ``sep`` + remainder, joined inside Arrow;
    a miss stays NULL."""
    return _per_distinct(arr, lambda a: _prefix_match(a, tables, _joiner(sep)))


def _parsed_match(arr, tables):
    """One bucketed probe per distinct value, rendered as a
    :data:`PARSE_SCHEMA` struct; a miss is a NULL struct."""
    return _per_distinct(arr, lambda a: _prefix_match(a, tables, _parsed_struct))


def _compress_else_standardize(arr, compress_tables, curie_tables):
    """The compression probe, then the CURIE-standardization probe over
    its non-NULL misses only, merged in the batch."""
    import pyarrow.compute as pc

    out = _prefix_match(arr, compress_tables, _joiner(":"))
    misses = pc.and_not(pc.is_null(out), pc.is_null(arr))
    if pc.any(misses).as_py():
        standardized = _prefix_match(arr.filter(misses), curie_tables, _joiner(":"))
        out = pc.replace_with_mask(out, misses, standardized)
    return out


# ---------------------------------------------------------------------------
# the large-map op bodies: ``(arr, converter)`` → arr, run by :func:`_arrow_udf`
# ---------------------------------------------------------------------------


def _compress(arr, conv):
    """URI → CURIE."""
    return _joined_match(arr, _tables(conv, "compress"), ":")


def _parse_uri(arr, conv):
    """URI → struct(prefix, identifier)."""
    return _parsed_match(arr, _tables(conv, "compress"))


def _standardize_uri(arr, conv):
    """URI → URI under its record's canonical URI prefix: one
    longest-match probe straight to the canonical URI prefix, joined
    with the identifier in the batch, so the finished URI is what
    crosses back to the JVM."""
    return _joined_match(arr, _tables(conv, "standardize_uri"), "")


def _compress_or_standardize(arr, conv):
    """The compression probe, then CURIE standardization over the
    ``prefix:`` synonym tables on the compression misses only, coalesced
    in the batch (compression wins, reference api.py:1700-1708)."""
    compress, curie = _tables(conv, "compress"), _tables(conv, "parse_curie")
    return _per_distinct(arr, lambda a: _compress_else_standardize(a, compress, curie))


def _expand(arr, conv):
    """CURIE → URI."""
    return _joined_match(arr, _tables(conv, "expand"), "")


def _expand_all(arr, conv):
    """CURIE → list of every URI of its record: the probe resolves to a
    RECORD INDEX, then :func:`_fan_out` builds the lists."""
    tables, flat_uris, rec_offsets, rec_counts = _tables(conv, "expand_all")

    def finish(records, identifiers):
        return _fan_out(records, identifiers, flat_uris, rec_offsets, rec_counts)

    return _per_distinct(arr, lambda a: _prefix_match(a, tables, finish))


def _parse_curie(arr, conv):
    """CURIE → struct(canonical prefix, identifier) (keys ``prefix:`` —
    at most one can match, see :func:`_curie_keyed`)."""
    return _parsed_match(arr, _tables(conv, "parse_curie"))


def _standardize_curie(arr, conv):
    """CURIE → CURIE under its record's canonical prefix: one probe of
    the ``prefix:`` synonym tables, joined with the identifier in the
    batch, so the finished CURIE is what crosses back to the JVM."""
    return _joined_match(arr, _tables(conv, "parse_curie"), ":")


def _standardize_prefix(arr, conv):
    """Prefix or synonym → canonical prefix: a whole-string exact lookup,
    the large-map twin of a MapType-literal ``element_at``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys, values = _tables(conv, "standardize_prefix")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return pc.take(values, pc.index_in(arr, value_set=keys))


# ---------------------------------------------------------------------------
# compression and standardization
# ---------------------------------------------------------------------------


def parse_uri_col(uri: "Column | str", converter) -> Column:
    """URI → struct(prefix, identifier) by longest-prefix match
    (reference ``parse_uri`` api.py:1793-1821 over the trie at api.py:3331-3347).

    Small converters compile to a codegen'd ``startswith`` chain; large
    ones use an Arrow-batched UDF doing length-bucketed vectorized
    probes against the broadcast converter.
    """
    c = _col(uri)
    conv = _broadcast(converter)
    if not _native_uri_prefix_map(conv):
        return _arrow_udf(_parse_uri, converter, PARSE_SCHEMA)(c)
    return _uri_prefix_chain(
        c,
        conv.reverse_prefix_map,
        lambda prefix, rest: F.struct(F.lit(prefix).alias("prefix"), rest.alias("identifier")),
        PARSE_SCHEMA,
    )


def compress_col(
    uri: "Column | str",
    converter,
    *,
    passthrough: bool = False,
) -> Column:
    """URI → CURIE with longest-prefix matching (reference ``compress``,
    api.py:1732-1778). Miss → NULL, or input when ``passthrough``."""
    c = _col(uri)
    conv = _broadcast(converter)
    if _native_uri_prefix_map(conv):
        compressed = _uri_prefix_chain(c, _curie_heads(conv))
    else:
        compressed = _arrow_udf(_compress, converter)(c)
    return F.coalesce(compressed, c) if passthrough else compressed


def standardize_prefix_col(
    prefix: "Column | str", converter, *, passthrough: bool = False
) -> Column:
    """Synonym → canonical prefix (reference api.py:2239-2278).

    MapType-literal probe for native-sized maps; a broadcast exact-match
    arrow_udf past :data:`NATIVE_EXPAND_THRESHOLD` (the literal's keys
    are scanned per row)."""
    c = _col(prefix)
    conv = _broadcast(converter)
    if _native_prefix_map(conv):
        standardized = F.element_at(_map_literal(conv.synonym_to_prefix), c)
    else:
        standardized = _arrow_udf(_standardize_prefix, converter)(c)
    return F.coalesce(standardized, c) if passthrough else standardized


def parse_curie_col(curie: "Column | str", converter) -> Column:
    """CURIE → struct(prefix, identifier) with prefix standardization
    (reference ``parse_curie`` api.py:2039-2052). NULL when there is no
    delimiter or the prefix is unknown. Large maps go through the same
    bucketed arrow_udf machinery as expansion."""
    c = _col(curie)
    conv = _broadcast(converter)
    if not _native_prefix_map(conv):
        return _arrow_udf(_parse_curie, converter, PARSE_SCHEMA)(c)
    pos = F.locate(":", c)
    identifier = F.substr(c, pos + F.lit(1))
    raw_prefix = F.substring_index(c, ":", 1)
    norm_prefix = F.element_at(_map_literal(conv.synonym_to_prefix), raw_prefix)
    return F.when(
        (pos > 0) & norm_prefix.isNotNull(),
        F.struct(norm_prefix.alias("prefix"), identifier.alias("identifier")),
    )


def standardize_curie_col(
    curie: "Column | str", converter, *, passthrough: bool = False
) -> Column:
    """Idempotent CURIE standardization (reference api.py:2298-2343).

    Native: one ``element_at`` of the synonym map, then a ``concat``.
    Large maps: :func:`_standardize_curie`, one Arrow pass that returns
    the finished CURIE."""
    c = _col(curie)
    conv = _broadcast(converter)
    if _native_prefix_map(conv):
        pos = F.locate(":", c)
        # an unknown prefix is NULL, and so is the concat
        prefix = F.element_at(_map_literal(conv.synonym_to_prefix), F.substring_index(c, ":", 1))
        standardized = F.when(pos > 0, F.concat(prefix, F.lit(":"), F.substr(c, pos + F.lit(1))))
    else:
        standardized = _arrow_udf(_standardize_curie, converter)(c)
    return F.coalesce(standardized, c) if passthrough else standardized


def standardize_uri_col(
    uri: "Column | str", converter, *, passthrough: bool = False
) -> Column:
    """Idempotent URI standardization: the longest URI-prefix match,
    replaced by its record's canonical URI prefix (reference
    api.py:2363-2413).

    Small converters run the codegen'd chain over
    :func:`_canonical_uri_prefixes`; large ones run
    :func:`_standardize_uri`, one Arrow pass over the same mapping that
    returns the finished URI. Either way the op reads only the URI-prefix
    family, never the prefix map."""
    c = _col(uri)
    conv = _broadcast(converter)
    if _native_uri_prefix_map(conv):
        standardized = _uri_prefix_chain(c, _canonical_uri_prefixes(conv))
    else:
        standardized = _arrow_udf(_standardize_uri, converter)(c)
    return F.coalesce(standardized, c) if passthrough else standardized


# ---------------------------------------------------------------------------
# predicates & ambiguous forms
# ---------------------------------------------------------------------------


def is_uri_col(s: "Column | str", converter) -> Column:
    """Reference api.py:2676-2684: can the string be compressed?"""
    return compress_col(s, converter).isNotNull()


def is_curie_col(s: "Column | str", converter) -> Column:
    """Reference api.py:1823-1848: can the string be expanded?"""
    return expand_col(s, converter).isNotNull()


def compress_or_standardize_col(
    s: "Column | str", converter, *, passthrough: bool = False
) -> Column:
    """URI → CURIE, else CURIE standardization (reference api.py:1637-1686).
    Compression is tried first, mirroring ``parse``'s is_uri-then-is_curie
    order (api.py:1700-1708). Large converters run both in one Arrow pass
    (:func:`_compress_or_standardize`)."""
    c = _col(s)
    if _native_uri_prefix_map(_broadcast(converter)):
        result = F.coalesce(
            compress_col(c, converter), standardize_curie_col(c, converter)
        )
    else:
        result = _arrow_udf(_compress_or_standardize, converter)(c)
    return F.coalesce(result, c) if passthrough else result


def expand_or_standardize_col(
    s: "Column | str", converter, *, passthrough: bool = False
) -> Column:
    """CURIE → URI, else URI standardization (reference api.py:1876-1925)."""
    c = _col(s)
    result = F.coalesce(standardize_uri_col(c, converter), expand_col(c, converter))
    return F.coalesce(result, c) if passthrough else result


# ---------------------------------------------------------------------------
# preprocessing pipeline (reference preprocessing.py:265-417)
# ---------------------------------------------------------------------------


def _remap_full_expr(rules, c: Column, context: "str | None") -> Column:
    """Exact-string → CURIE rewrite; per-context rules win
    (reference preprocessing.py:91-99)."""
    ctx_map = rules.rewrites.resource_full.get(context, {}) if context else {}
    exprs = [
        F.element_at(_map_literal(m), c) for m in (ctx_map, rules.rewrites.full) if m
    ]
    if not exprs:
        return F.lit(None).cast(StringType())
    return F.coalesce(*exprs) if len(exprs) > 1 else exprs[0]


def _remap_prefix_expr(rules, c: Column, context: "str | None") -> Column:
    """First matching old-prefix replaces the head; context rules are
    consulted before global ones (reference preprocessing.py:101-110).
    Built as a when-chain in *reverse* rule order so the first rule ends
    up outermost (first match wins, like the reference's loop)."""
    expr: Column = c
    pairs: list[tuple[str, str]] = list(rules.rewrites.prefix.items())
    if context:
        pairs = list(rules.rewrites.resource_prefix.get(context, {}).items()) + pairs
    for old, new in reversed(pairs):
        expr = F.when(
            c.startswith(old), F.concat(F.lit(new), F.substr(c, F.lit(len(old) + 1)))
        ).otherwise(expr)
    return expr


def _blocked_expr(rules, c: Column, context: "str | None") -> Column:
    """Full/prefix/suffix blocklist membership (reference preprocessing.py:51-71)."""
    b = rules.blocklists
    cond = F.lit(False)
    full = list(b.full) + (list(b.resource_full.get(context, [])) if context else [])
    if full:
        cond = cond | c.isin(full)
    prefixes = list(b.prefix) + (
        list(b.resource_prefix.get(context, [])) if context else []
    )
    for p in prefixes:
        cond = cond | c.startswith(p)
    for s in b.suffix:
        cond = cond | c.endswith(s)
    return cond


PREPROCESSED_SCHEMA = "struct<value:string,full_curie:string,blocked:boolean>"


def preprocess_value_col(
    value: "Column | str",
    rules,
    *,
    context: "str | None" = None,
    preclean=None,
) -> Column:
    """The shared preamble of the preprocessing pipeline as ONE native
    struct column: preclean → full remap (short-circuits) → prefix remap
    → blocklist flag (reference ``_pre_process``, preprocessing.py:199-211).

    Returns ``struct(value, full_curie, blocked)``: ``full_curie`` set iff
    an exact rewrite hit (wins over everything), else ``value`` is the
    prefix-remapped string and ``blocked`` its blocklist verdict.
    """
    c = _col(value)
    if preclean is not None:
        c = preclean(c)
    full = _remap_full_expr(rules, c, context)
    remapped = _remap_prefix_expr(rules, c, context)
    return F.struct(
        F.when(full.isNull(), remapped).alias("value"),
        full.alias("full_curie"),
        F.when(full.isNotNull(), F.lit(False))
        .otherwise(_blocked_expr(rules, remapped, context))
        .alias("blocked"),
    )


def _postprocess_identifier_expr(rules, prefix: Column, identifier: Column) -> Column:
    """Per-prefix identifier suffix strip, first matching suffix wins
    (reference ``_post_process``, preprocessing.py:189-197)."""
    flat: list[tuple[str, str]] = [
        (p, s) for p, suffixes in rules.postprocessing.suffix.items() for s in suffixes
    ]
    expr = identifier
    for p, s in reversed(flat):
        expr = F.when(
            (prefix == p) & identifier.endswith(s),
            F.substring(identifier, 1, F.length(identifier) - len(s)),
        ).otherwise(expr)
    return expr


def _preprocessed_result(rules, pre: Column, parsed: Column) -> Column:
    """The preprocessed parse's result from the preamble struct ``pre``
    (:func:`preprocess_value_col`) and ``parsed``, the URI-else-CURIE
    parse of its value: the exact rewrite if one hit, else NULL when
    blocked, else the parse with its identifier suffix-stripped."""
    post_identifier = _postprocess_identifier_expr(
        rules, parsed.getField("prefix"), parsed.getField("identifier")
    )
    full = pre.getField("full_curie")
    full_pos = F.locate(":", full)
    return (
        # exact rewrites return the CURIE split on the first delimiter,
        # bypassing standardization AND postprocessing (preprocessing.py:221-223)
        F.when(
            full.isNotNull(),
            F.struct(
                F.substring_index(full, ":", 1).alias("prefix"),
                # str.partition semantics: no delimiter → empty identifier
                F.when(full_pos > 0, F.substr(full, full_pos + F.lit(1)))
                .otherwise(F.lit(""))
                .alias("identifier"),
            ),
        )
        .when(pre.getField("blocked"), F.lit(None).cast(PARSE_SCHEMA))
        .otherwise(
            F.when(
                parsed.isNotNull(),
                F.struct(
                    parsed.getField("prefix").alias("prefix"),
                    post_identifier.alias("identifier"),
                ),
            )
        )
    )


def parse_preprocessed_col(
    value: "Column | str",
    converter,
    rules,
    *,
    context: "str | None" = None,
    preclean=None,
) -> Column:
    """Columnar twin of ``PreprocessingConverter.parse``
    (reference preprocessing.py:213-227): preclean → remap_full →
    remap_prefix → blocklist → URI-else-CURIE parse → per-prefix suffix
    strip. Fully JVM-native for native-sized converters; ``blocked`` and
    unparsable inputs yield NULL (``block_action="pass"`` semantics —
    audit with :func:`assert_no_nulls` for fail-fast).
    """
    pre = preprocess_value_col(value, rules, context=context, preclean=preclean)
    s = pre.getField("value")
    parsed = F.coalesce(parse_uri_col(s, converter), parse_curie_col(s, converter))
    return _preprocessed_result(rules, pre, parsed)


def parse_preprocessed_df(
    df: DataFrame,
    column: str,
    converter,
    rules,
    *,
    context: "str | None" = None,
    preclean=None,
    target: str = "parsed",
) -> DataFrame:
    """DataFrame form of :func:`parse_preprocessed_col` — USE THIS on real
    data. The single-Column form inlines the preamble into every field
    access (SimplifyExtractValueOps), exploding the expression tree
    combinatorially until whole-stage codegen overflows Janino's 64KB
    method limit and falls back to interpreted eval. Staging the pipeline
    through intermediate columns keeps each projection small:
    CollapseProject will not merge them because the struct columns are
    non-cheap and referenced more than once.
    """
    # collision-free staging names: suffix until unused in df.columns
    taken = set(df.columns)
    pre_col, parsed_col = "_pre", "_parsed"
    while pre_col in taken:
        pre_col += "_"
    while parsed_col in taken:
        parsed_col += "_"
    pre = preprocess_value_col(column, rules, context=context, preclean=preclean)
    out = df.withColumn(pre_col, pre)
    s = F.col(f"{pre_col}.value")
    out = out.withColumn(
        parsed_col, F.coalesce(parse_uri_col(s, converter), parse_curie_col(s, converter))
    )
    final = _preprocessed_result(rules, F.col(pre_col), F.col(parsed_col))
    return out.withColumn(target, final).drop(pre_col, parsed_col)


def compress_or_standardize_preprocessed_col(
    value: "Column | str",
    converter,
    rules,
    *,
    context: "str | None" = None,
    preclean=None,
    passthrough: bool = False,
) -> Column:
    """Preprocessed parse rendered back to a CURIE string — the entity
    linker's hot path when a rule set is configured."""
    parsed = parse_preprocessed_col(
        value, converter, rules, context=context, preclean=preclean
    )
    curie = F.when(
        parsed.isNotNull(),
        format_curie_col(parsed.getField("prefix"), parsed.getField("identifier")),
    )
    return F.coalesce(curie, _col(value)) if passthrough else curie


# ---------------------------------------------------------------------------
# triple hashing (native)
# ---------------------------------------------------------------------------


def hash_uri_triple_col(
    subject_uri: "Column | str",
    predicate_uri: "Column | str",
    object_uri: "Column | str",
    *,
    negate: bool = False,
) -> Column:
    """SHA-256 of the space-joined URI triple (reference
    triples/hash_utils.py:86-115); ``negate`` appends ``~``."""
    digest = F.sha2(
        F.concat_ws(" ", _col(subject_uri), _col(predicate_uri), _col(object_uri)), 256
    )
    return F.concat(digest, F.lit("~")) if negate else digest


def hash_triple_col(
    subject: "Column | str",
    predicate: "Column | str",
    object: "Column | str",
    converter,
    *,
    negate: bool = False,
) -> Column:
    """Hash of a CURIE triple after strict expansion (reference
    triples/hash_utils.py:17-83 and api.py:2735-2766)."""
    return hash_uri_triple_col(
        expand_col(subject, converter),
        expand_col(predicate, converter),
        expand_col(object, converter),
        negate=negate,
    )


# ---------------------------------------------------------------------------
# W3C validation (native rlike)
# ---------------------------------------------------------------------------


def is_w3c_prefix_col(prefix: "Column | str") -> Column:
    """Full NCName match (reference w3c.py:69-104)."""
    return _col(prefix).rlike(f"^{NCNAME_PATTERN}$")


def is_w3c_curie_col(curie: "Column | str") -> Column:
    """CURIE grammar with bracket/blank rejection (reference w3c.py:111-173).

    Note the reference's LUID probe is ``re.match`` (start-anchored only)
    against a pattern with a nullable alternative — it accepts any string —
    so validity reduces to the bracket/blank guards plus, when a non-empty
    prefix is present, the NCName check.
    """
    c = _col(curie)
    pos = F.locate(":", c)
    prefix = F.substring_index(c, ":", 1)
    return (
        F.when(c.contains("[") | c.contains("]"), F.lit(False))
        .when(F.trim(c) == "", F.lit(False))
        .when(pos == 0, F.lit(True))  # no delimiter: LUID-only form (locate is 1-based)
        .when(prefix == "", F.lit(True))  # ":x" — empty prefix is allowed
        .otherwise(prefix.rlike(f"^{NCNAME_PATTERN}$"))
    )


def validate_identifier_col(
    prefix: "Column | str", identifier: "Column | str", converter
) -> Column:
    """Per-prefix regex validation of identifiers against the converter's
    ``pattern_map`` (reference Record.pattern, api.py:683-689 + the
    ``standardize_identifier`` subclass hook, api.py:2066-2083): TRUE on
    full match, FALSE on mismatch, NULL when the prefix has no pattern.

    Native: an ordered when-chain (one ``rlike`` per patterned prefix) —
    pattern maps are record-scale, and each row evaluates exactly one
    branch's regex.
    """
    p, i = _col(prefix), _col(identifier)
    conv = _broadcast(converter)
    expr: Column = F.lit(None).cast("boolean")
    for record_prefix, pattern in reversed(list(conv.pattern_map.items())):
        # unconditional non-capturing wrap: idempotent for anchored
        # patterns, and immune to a literal trailing '\$' fooling an
        # endswith('$') heuristic into skipping the anchor
        anchored = "^(?:" + pattern + ")$"
        expr = F.when(p == record_prefix, i.rlike(anchored)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# strict-mode audit
# ---------------------------------------------------------------------------


def assert_no_nulls(df: DataFrame, column: str, *, label: str = "conversion") -> DataFrame:
    """Columnar strict mode: raise if any row failed to convert.

    The reference raises per value (``CompressionError`` etc.); at data
    scale we audit post-hoc — one job over the already-computed column.
    """
    misses = df.filter(F.col(column).isNull()).count()
    if misses:
        raise StrictConversionError(
            f"strict {label}: {misses} row(s) could not be converted in column {column!r}"
        )
    return df
