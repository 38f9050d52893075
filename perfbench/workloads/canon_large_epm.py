"""canon_large_epm: URI/CURIE canonicalization against a large EPM.

Input: 400,000 values of five shapes (registered URIs, URIs under a
nested namespace, synonym URIs, synonym CURIEs, unregistered URIs), keyed
by the seed, written as several parquet files with several row groups
each. The converter is ``plans.demo.large_converter()``: 200 records, above
``kernels.NATIVE_COMPRESS_THRESHOLD``, so every op runs the Arrow trie UDF
in the Python workers. One unit is one pass of ``compress``,
``standardize_uri`` and ``compress_or_standardize`` through the noop
sink, then the follow-up query a user runs on the result: the count of
values per compressed prefix. The input splits by itself, so
``__spark_entry__._fanout_scan`` has no part in it.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter

import harness
import stream_probe

N_ROWS = 400_000
#: registered namespaces of the generated EPM, and identifiers per namespace
N_NS = 200
N_IDENTS = 50
OPS = ("compress", "standardize_uri", "compress_or_standardize")
#: units run before the measured loop: the CPU time of a unit keeps
#: falling for about four units while the JVM compiles the Arrow path
WARM_UNITS = 3

_SHAPES = (
    "concat('http://vocab', {ns}, '.example.org/term/', {ident})",
    "concat('http://vocab', {ns}, '.example.org/term/SUB_', {ident})",
    "concat('https://mirror.example.net/v', {ns}, '/', {ident})",
    "concat('NS', {ns}, ':', {ident})",
    "concat('http://unregistered.example.com/', {ident})",
)


def _value_expr(seed: int) -> str:
    k = f"xxhash64(id, {seed})"
    ns = f"CAST(pmod({k}, {N_NS}) AS STRING)"
    ident = f"CAST(pmod(shiftright({k}, 16), {N_IDENTS}) AS STRING)"
    shape = f"pmod(shiftright({k}, 32), {len(_SHAPES)})"
    cases = " ".join(
        f"WHEN {i} THEN " + s.format(ns=ns, ident=ident) for i, s in enumerate(_SHAPES)
    )
    return f"CASE {shape} {cases} END"


def _prefix(curie):
    return None if curie is None else curie.split(":", 1)[0]


def run(run) -> dict:
    from pyspark.sql import functions as F

    from curies_spark.functions import SparkConverter
    from curies_spark.plans.demo import large_converter

    spark = run.spark
    src = run.workdir / "canon" / "values"
    walls: "dict[str, list[float]]" = {"gen": [], "build": [], "bcast": []}

    def timed(key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        walls[key].append(time.perf_counter() - t0)
        return out

    def generate() -> None:
        (spark.range(N_ROWS, numPartitions=run.nproc * 2)
         .select(F.expr(_value_expr(run.seed)).alias("value"))
         .write.mode("overwrite").option("parquet.block.size", 256 * 1024)
         .parquet(str(src)))

    def prepare(i: int) -> dict:
        timed("gen", generate)
        conv = timed("build", large_converter)
        sc = timed("bcast", lambda: SparkConverter(spark, conv))
        return {"conv": conv, "sc": sc, "values": spark.read.parquet(str(src))}

    def unit(i: int) -> dict:
        sc, values = state["sc"], state["values"]
        ops = {}

        def one_pass():
            for op in OPS:
                t0 = time.perf_counter()
                with run.tracer.span(f"functions.{op}"):
                    values.select(getattr(sc, op)("value").alias("out")) \
                        .write.mode("overwrite").format("noop").save()
                ops[op] = time.perf_counter() - t0

        def prefix_counts():
            with run.tracer.span("functions.compress_prefix_counts"):
                return values.groupBy(
                    F.substring_index(sc.compress("value"), ":", 1).alias("prefix")
                ).count().collect()

        _, pass_s, pass_cpu = harness.timed(one_pass)
        rows, counts_s, counts_cpu = harness.timed(prefix_counts)
        return {"ops": ops, "pass_s": pass_s, "pass_cpu": pass_cpu,
                "counts_s": counts_s, "counts_cpu": counts_cpu,
                "counts": {r["prefix"]: r["count"] for r in rows}}

    def check(sample: dict) -> None:
        run.check("prefix counts == pure-Python reference",
                  sample["counts"] == state["ref_prefix_counts"])

    def warm(st: dict) -> None:
        # the pure-Python reference over the distinct values, weighted by
        # how often each occurs
        distinct = st["values"].groupBy("value").count().collect()
        st["distinct_values"] = len(distinct)
        conv = st["conv"]
        st["ref"] = {op: Counter() for op in OPS}
        for r in distinct:
            for op in OPS:
                st["ref"][op][getattr(conv, op)(r["value"])] += r["count"]
        prefixes: Counter = Counter()
        for curie, n in st["ref"]["compress"].items():
            prefixes[_prefix(curie)] += n
        st["ref_prefix_counts"] = dict(prefixes)
        for i in range(WARM_UNITS):
            check(unit(-1 - i))

    state: dict = {}
    run.setup(prepare, warm, state)
    run.layers["sources.generate_s"] = statistics.median(walls["gen"])
    run.layers["core.converter_build_s"] = statistics.median(walls["build"])
    run.layers["functions.broadcast_s"] = statistics.median(walls["bcast"])

    samples = run.loop(unit, after=check)

    # every op's full output against the reference, once per run
    sc, values = state["sc"], state["values"]
    state["out"] = {}
    for op in OPS:
        rows = values.groupBy(getattr(sc, op)("value").alias("out")).count().collect()
        state["out"][op] = Counter({r["out"]: r["count"] for r in rows})
        run.check(f"{op} output == pure-Python reference",
                  state["out"][op] == state["ref"][op])

    plain = [s for s in samples if not s["traced"]]
    pass_cpu = statistics.median(s["pass_cpu"] for s in plain)
    run.detail.update(
        rows=N_ROWS, distinct_values=state["distinct_values"],
        files=harness.dir_stats(src)[0],
        conversions_per_s=N_ROWS * len(OPS) / statistics.median(s["pass_s"] for s in plain),
        **{k: harness.summary([s[k] for s in plain])
           for k in ("pass_s", "counts_s", "pass_cpu", "counts_cpu")},
        **{f"{op}_s": harness.summary([s["ops"][op] for s in plain]) for op in OPS},
    )
    run.state.update(state)
    return {
        "cpu_s": pass_cpu,
        "items_per_cpu_s": N_ROWS * len(OPS) / pass_cpu,
        "followup_cpu_s": statistics.median(s["counts_cpu"] for s in plain),
    }


def trace_layers(run) -> None:
    L = run.layers
    traced = run.traced_units()
    for op in OPS:
        L[f"functions.{op}_s"] = statistics.median(s["ops"][op] for s in traced)
    # the compress output of the run's final check (equal to the
    # reference's when that check passed)
    L["functions.match_ratio"] = 1.0 - run.state["out"]["compress"][None] / N_ROWS
    stream_probe.measure(run)
