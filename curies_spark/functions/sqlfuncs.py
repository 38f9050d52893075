"""Register the converter's conversion kernels as Spark SQL functions,
so ``spark.sql("SELECT curies_compress(uri) FROM t")`` works for users
who live in SQL rather than the DataFrame API.

The reference has no SQL surface (its closest analogue is the pandas
``pd_*`` helpers, reference dataframe.py); this is the Spark-native
completion of that idea. The registered functions are the SAME
measured kernels as the Column API (:mod:`curies_spark.functions.kernels`),
picked by the same two predicates (``kernels._native_uri_prefix_map``
for the URI-prefix family, ``kernels._native_prefix_map`` for the
prefix family):

- **Native-sized maps** become ``CREATE OR REPLACE TEMPORARY FUNCTION
  … RETURNS STRING RETURN <expr>`` SQL UDFs. Catalyst inlines the body
  at analysis time, so calls run inside whole-stage codegen exactly
  like the Column kernels' when-chains / map literals — zero Python at
  execution.
- **Large maps** (where codegen'd chains are the measured slow path —
  see ``kernels._uri_prefix_chain``) register the Column kernels'
  own Arrow UDFs (``kernels._arrow_udf`` over the op's body) via
  ``spark.udf.register``, and the SQL UDF bodies build on top of them
  (Spark resolves nested function calls at analysis).

``compress`` and ``standardize_uri`` are each one CASE chain over a
URI-prefix mapping in ``kernels._longest_first`` order
(``kernels._curie_heads``: URI prefix → ``prefix:``;
``kernels._canonical_uri_prefixes``: URI prefix → its record's
canonical URI prefix), the same expression as the Column kernel, so
``standardize_uri`` never reads the prefix map. ``standardize_curie``
calls ``standardize_prefix`` once. Composite functions are SQL
compositions of the primitives, mirroring the kernel compositions
(``compress_or_standardize = coalesce(compress, standardize_curie)``). Past
``NATIVE_COMPRESS_THRESHOLD`` those two are the fused one-pass kernels
instead (``kernels._standardize_uri`` /
``kernels._compress_or_standardize``), exactly as in the Column API.
All functions are session-scoped temporaries: re-registering (e.g.
after :meth:`SparkConverter.rebroadcast`) replaces them.
"""

from __future__ import annotations

from typing import Any, Mapping

from . import kernels

__all__ = ["register_sql_functions"]


def _q(s: str) -> str:
    """Spark SQL single-quoted string literal (backslash is an escape
    character in Spark SQL, unlike ANSI)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _map_sql(mapping: "Mapping[str, str]") -> str:
    if not mapping:
        return "map()"
    pairs = ", ".join(f"{_q(k)}, {_q(v)}" for k, v in mapping.items())
    return f"map({pairs})"


def _prefix_case_sql(mapping: "Mapping[str, str]", v: str) -> str:
    """Longest-prefix-first CASE chain over a ``uri_prefix → value``
    mapping, each branch the value concatenated to the remainder — the
    SQL twin of ``kernels._uri_prefix_chain``, in its order."""
    whens = " ".join(
        f"WHEN startswith({v}, {_q(up)}) THEN concat({_q(value)}, substr({v}, {len(up) + 1}))"
        for up, value in kernels._longest_first(mapping)
    )
    return f"CASE {whens} END" if whens else "CAST(NULL AS STRING)"


def register_sql_functions(
    spark: Any,
    converter: Any,
    *,
    name_prefix: str = "curies",
) -> "dict[str, str]":
    """Register conversion functions on the session's SQL surface.

    ``converter`` may be a :class:`~curies_spark.core.converter.Converter`
    or a ``Broadcast`` of one (as held by
    :class:`~curies_spark.functions.spark_converter.SparkConverter`) —
    broadcast is preferred for large maps so executors fetch the state
    once. Returns ``{operation: registered_function_name}``.
    """
    conv = kernels._broadcast(converter)
    p = name_prefix
    names: "dict[str, str]" = {}

    def create(op: str, arg_sql: str, body: str, returns: str = "STRING") -> None:
        name = f"{p}_{op}"
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({arg_sql}) "
            f"RETURNS {returns} RETURN {body}"
        )
        names[op] = name

    def register(op: str, body: Any) -> None:
        names[op] = f"{p}_{op}"
        spark.udf.register(names[op], kernels._arrow_udf(body, converter))

    # -- compress: native CASE chain or the Arrow bucketed kernel --------
    native_compress = kernels._native_uri_prefix_map(conv)
    if native_compress:
        create("compress", "u STRING", _prefix_case_sql(kernels._curie_heads(conv), "u"))
    else:
        register("compress", kernels._compress)

    # -- expand and synonym→canonical prefix: map literals or the Arrow
    #    kernels -------------------------------------------------------
    if kernels._native_prefix_map(conv):
        create(
            "expand",
            "c STRING",
            "CASE WHEN locate(':', c) > 0 THEN "
            f"concat(element_at({_map_sql(conv.prefix_map)}, substring_index(c, ':', 1)), "
            "substr(c, locate(':', c) + 1)) END",
        )
        create(
            "standardize_prefix",
            "pfx STRING",
            f"element_at({_map_sql(conv.synonym_to_prefix)}, pfx)",
        )
    else:
        register("expand", kernels._expand)
        register("standardize_prefix", kernels._standardize_prefix)

    # -- standardize_uri's CASE chain and SQL compositions of the
    #    primitives, or the fused large-map kernels (mirror
    #    standardize_uri_col / compress_or_standardize_col)
    create(
        "standardize_curie",
        "c STRING",
        # concat is NULL when the prefix is unknown
        "CASE WHEN locate(':', c) > 0 "
        f"THEN concat({p}_standardize_prefix(substring_index(c, ':', 1)), ':', "
        "substr(c, locate(':', c) + 1)) END",
    )
    if native_compress:
        create(
            "standardize_uri",
            "u STRING",
            _prefix_case_sql(kernels._canonical_uri_prefixes(conv), "u"),
        )
        create("compress_or_standardize", "s STRING",
               f"coalesce({p}_compress(s), {p}_standardize_curie(s))")
    else:
        register("standardize_uri", kernels._standardize_uri)
        register("compress_or_standardize", kernels._compress_or_standardize)
    create("expand_or_standardize", "s STRING",
           f"coalesce({p}_standardize_uri(s), {p}_expand(s))")
    create("format_curie", "pfx STRING, i STRING", "concat(pfx, ':', i)")

    create("is_uri", "s STRING", f"{p}_compress(s) IS NOT NULL", "BOOLEAN")
    create("is_curie", "s STRING", f"{p}_expand(s) IS NOT NULL", "BOOLEAN")

    return names
