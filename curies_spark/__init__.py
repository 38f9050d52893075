"""curies_spark: a PySpark-native KG-construction engine with curies semantics.

Top-level API parity with the reference package ``curies``
(reference src/curies/__init__.py): every in-scope reference export is
importable from ``curies_spark`` under the same name, so
``import curies as c`` call sites translate to ``import curies_spark as c``.

Driver-side semantic core (pure Python, no pyspark import cost) is
re-exported eagerly; Spark-facing surfaces (DataFrame loaders/sinks,
triple-stream operators, the vectorized ``SparkConverter``) resolve
lazily on first attribute access so ``import curies_spark`` stays cheap
in driver-only code.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any

from . import _worker  # noqa: F401  (patches a Python worker on import)
from .core.converter import (
    CompressionError,
    ConversionError,
    Converter,
    CURIEStandardizationError,
    DuplicatePrefixes,
    DuplicateURIPrefixes,
    DuplicateValueError,
    ExpansionError,
    IdentifierStandardizationError,
    NoCURIEDelimiterError,
    PrefixStandardizationError,
    StandardizationError,
    URIStandardizationError,
    chain,
    set_url_fetcher,
    upgrade_prefix_map,
)
from .core.discovery import discover, discover_from_rdf, get_uris_from_rdf
from .core.preprocessing import (
    BlocklistError,
    PostprocessingRewrites,
    PreprocessingBlocklists,
    PreprocessingConverter,
    PreprocessingRewrites,
    PreprocessingRules,
)
from .core.mixins import (
    SemanticallyProcessable,
    SemanticallyStandardizable,
    process,
    process_many,
    standardize,
    standardize_many,
)
from .core.reconciliation import remap_curie_prefixes, remap_uri_prefixes, rewire
from .core.record import (
    NamableReference,
    NamedReference,
    Prefix,
    PrefixMap,
    Record,
    Records,
    Reference,
    ReferenceTuple,
    Triple,
    records_from_dicts,
    records_to_dicts,
)
from .core.trie import PrefixTrie
from .core.w3c import is_w3c_curie, is_w3c_prefix
from .sources.presets import (
    get_bioregistry_converter,
    get_go_converter,
    get_monarch_converter,
    get_obo_converter,
    get_prefixcommons_converter,
)

from .version import VERSION as __version__  # single source of truth

#: Spark-facing names resolved lazily: attribute → defining module.
_LAZY: "dict[str, str]" = {
    # prefix-map loaders / sinks (pyspark import via the sources package)
    "load_prefix_map": "curies_spark.sources.loaders",
    "load_extended_prefix_map": "curies_spark.sources.loaders",
    "load_jsonld_context": "curies_spark.sources.loaders",
    "load_shacl": "curies_spark.sources.loaders",
    "from_shacl": "curies_spark.sources.loaders",
    "write_extended_prefix_map": "curies_spark.sources.loaders",
    "write_jsonld_context": "curies_spark.sources.loaders",
    "write_shacl": "curies_spark.sources.loaders",
    "write_tsv": "curies_spark.sources.loaders",
    "read_triples": "curies_spark.sources.loaders",
    "write_triples": "curies_spark.sources.loaders",
    # triple-stream operators (reference curies.triples / dataframe API)
    "filter_df_by_prefixes": "curies_spark.operators.triples",
    "filter_df_by_curies": "curies_spark.operators.triples",
    # vectorized converter over DataFrames
    "SparkConverter": "curies_spark.functions.spark_converter",
}


def __getattr__(name: str) -> Any:
    module_name = _LAZY.get(name)
    if module_name is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(module_name), name)


def get_version() -> str:
    """Get the curies_spark version (reference utils.py ``get_version``)."""
    return __version__


def __dir__() -> "list[str]":
    return sorted(set(globals()) | set(_LAZY))


if TYPE_CHECKING:  # pragma: no cover - typing aid for the lazy names
    from .functions.spark_converter import SparkConverter  # noqa: F401
    from .operators.triples import (  # noqa: F401
        filter_df_by_curies,
        filter_df_by_prefixes,
    )
    from .sources.loaders import (  # noqa: F401
        from_shacl,
        load_extended_prefix_map,
        load_jsonld_context,
        load_prefix_map,
        load_shacl,
        read_triples,
        write_extended_prefix_map,
        write_jsonld_context,
        write_shacl,
        write_triples,
        write_tsv,
    )
