"""Register the converter's conversion kernels as Spark SQL functions,
so ``spark.sql("SELECT curies_compress(uri) FROM t")`` works for users
who live in SQL rather than the DataFrame API.

The reference has no SQL surface (its closest analogue is the pandas
``pd_*`` helpers, reference dataframe.py); this is the Spark-native
completion of that idea. Each SQL primitive IS its Column kernel
(:mod:`curies_spark.functions.kernels`), in the form the kernel's map
family takes (``kernels._native_uri_prefix_map`` for ``compress`` and
``standardize_uri``, ``kernels._native_prefix_map`` for ``expand``,
``standardize_prefix`` and ``standardize_curie``):

- **Native-sized maps**: the kernel's analyzed expression, as Catalyst
  renders it to SQL, is the body of a ``CREATE OR REPLACE TEMPORARY
  FUNCTION … RETURNS STRING RETURN <expr>`` SQL UDF. Catalyst inlines
  the body at analysis time, so a call is the Column kernel's own
  expression, run inside whole-stage codegen with no Python.
- **Large maps**: the kernel's own Arrow UDF (``kernels._arrow_udf``
  over the op's body), registered by name.

The composite functions are SQL compositions of the primitives by
name, as the Column kernels compose (``expand_or_standardize =
coalesce(standardize_uri, expand)``). Past ``NATIVE_COMPRESS_THRESHOLD``
``compress_or_standardize`` is the fused one-pass Arrow kernel
(``kernels._compress_or_standardize``), exactly as in the Column API.
All functions are session-scoped temporaries: re-registering (e.g.
after :meth:`SparkConverter.rebroadcast`) replaces them.
"""

from __future__ import annotations

from typing import Any

from . import kernels

__all__ = ["register_sql_functions"]

#: SQL primitive → (its Column kernel, its large-map Arrow body, the
#: native-or-Arrow predicate of its map family)
_PRIMITIVES = {
    "compress": (kernels.compress_col, kernels._compress, kernels._native_uri_prefix_map),
    "standardize_uri": (
        kernels.standardize_uri_col, kernels._standardize_uri, kernels._native_uri_prefix_map
    ),
    "expand": (kernels.expand_col, kernels._expand, kernels._native_prefix_map),
    "standardize_prefix": (
        kernels.standardize_prefix_col, kernels._standardize_prefix, kernels._native_prefix_map
    ),
    "standardize_curie": (
        kernels.standardize_curie_col, kernels._standardize_curie, kernels._native_prefix_map
    ),
}


def _rendered(spark: Any, column: Any, schema: str) -> str:
    """SQL text of ``column`` over an empty frame of ``schema``: its
    analyzed expression as Catalyst prints it (literals quoted and
    escaped by Spark itself)."""
    df = spark.createDataFrame([], schema).select(column.alias("o"))
    return df._jdf.queryExecution().analyzed().expressions().head().child().sql()


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

    def create(op: str, params: str, body: str, returns: str = "STRING") -> None:
        names[op] = f"{p}_{op}"
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {names[op]}({params}) "
            f"RETURNS {returns} RETURN {body}"
        )

    def register(op: str, body: Any) -> None:
        names[op] = f"{p}_{op}"
        spark.udf.register(names[op], kernels._arrow_udf(body, converter))

    for op, (kernel, body, native) in _PRIMITIVES.items():
        if native(conv):
            create(op, "s STRING", _rendered(spark, kernel("s", conv), "s STRING"))
        else:
            register(op, body)
    if kernels._native_uri_prefix_map(conv):
        create("compress_or_standardize", "s STRING",
               f"coalesce({p}_compress(s), {p}_standardize_curie(s))")
    else:
        register("compress_or_standardize", kernels._compress_or_standardize)
    create("expand_or_standardize", "s STRING",
           f"coalesce({p}_standardize_uri(s), {p}_expand(s))")
    create(
        "format_curie",
        "pfx STRING, i STRING",
        _rendered(spark, kernels.format_curie_col("pfx", "i"), "pfx STRING, i STRING"),
    )
    create("is_uri", "s STRING", f"{p}_compress(s) IS NOT NULL", "BOOLEAN")
    create("is_curie", "s STRING", f"{p}_expand(s) IS NOT NULL", "BOOLEAN")
    return names
