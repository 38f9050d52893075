"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Each run starts one Spark session at ``local[nproc]``, prepares its
workload's inputs from ``--seed`` (several times, reporting the median),
warms it up, runs the
workload's unit of work closed-loop with one client for ``--seconds``,
checks the outputs, and prints a detail line and then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
taken from spans around the benchmark's calls into each layer and from
Spark's own SQL metrics, plus the tracing overhead against an untraced
half of the same run. Spans are written as JSON lines under
``.perfbench/traces/``. See ``perfbench/README.md`` for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
import stream_probe  # noqa: E402

WORKLOADS = ("kg_build", "canon_large_epm")

#: how many times a run prepares its inputs; set-up time is the median
PREPARE_REPS = 3

#: end-to-end metrics every workload reports (trace 0), with units.
#: The step metrics are CPU time: on a shared host the wall time of the
#: same code spreads more between runs than any bound allows (see
#: perfbench/README.md); the walls are in the detail line.
END_TO_END = {
    "cpu_s": "s",
    "items_per_cpu_s": "1/s",
    "followup_cpu_s": "s",
    "setup_s": "s",
}


def per_layer_names() -> "dict[str, str]":
    """Every per-layer metric of every workload, with its unit (trace 1)."""
    names = {k: _unit(k) for k, _ in harness.ENGINE_METRICS}
    names.update({k: _unit(k) for k in (
        "functions.python_start_s", "spark.executions", "spark.stages",
        "spark.tasks", "spark.failed_tasks",
    )})
    for key in LAYER_KEYS + stream_probe.KEYS:
        names[key] = _unit(key)
    for layer in LAYERS:
        names[f"self.{layer}_s"] = "s"
    names["trace.layer_coverage"] = "ratio"
    names["trace.overhead_ratio"] = "ratio"
    return names


#: repo modules whose self time the trace reports
LAYERS = ("core", "sources", "functions", "operators", "plans", "streaming", "entry")

#: workload-specific per-layer metrics (units follow from the suffix)
LAYER_KEYS = (
    "entry.mentions_1rg_s", "entry.fanout_scan_s", "entry.fanout_exchanges",
    "functions.broadcast_s", "core.converter_build_s", "sources.generate_s",
    "functions.compress_s", "functions.standardize_uri_s",
    "functions.compress_or_standardize_s", "functions.match_ratio",
    "plans.stage_s", "plans.shards_s", "plans.merge_s", "plans.driver_gap_s",
    "plans.scan_only_s", "plans.mentions_self_s", "plans.link_self_s",
    "plans.file_edges_self_s", "plans.mentions", "plans.linked_mentions",
    "plans.link_ratio", "plans.triples", "plans.source_scans",
    "plans.bytes_written_per_input_byte", "plans.spark_actions",
    "plans.resume_recomputed_shards",
)


def _unit(key: str) -> str:
    if key.endswith("_per_s"):
        return "1/s"
    if key.endswith("_s"):
        return "s"
    if key.endswith("bytes") or key.endswith("_sent") or key.endswith("_returned"):
        return "bytes"
    if key.endswith("ratio") or key.endswith("_over_early") or key.endswith("_per_input_byte"):
        return "ratio"
    return "count"


class Run:
    """What a workload sees of the run: the session, the seed, the
    clock, the tracer, the metrics reader and the output checks."""

    def __init__(self, spark, name: str, seed: int, seconds: float, trace: bool,
                 workdir: Path, nproc: int) -> None:
        self.spark = spark
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.nproc = nproc
        self.tracer = harness.Tracer(False, f"{name}-{seed}-{os.getpid()}")
        self.sql = harness.SqlMetrics(spark)
        self.setup_walls: "list[float]" = []
        self.warm_s = 0.0
        self.layers: "dict[str, float]" = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: "list[str]" = []
        self.samples: "list[dict]" = []
        #: what a workload's run() leaves for its trace_layers()
        self.state: dict = {}
        self._traced_marks = (0, 0)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    def setup(self, prepare, warm, state: dict):
        """The workload's set-up: ``prepare(i)`` (input generation,
        converter build and broadcast) ``PREPARE_REPS`` times, each
        result merged into ``state`` and each wall recorded, then one
        timed ``warm(state)`` that lets JIT compilation, code generation
        and Python-worker start-up finish before the measured loop."""
        for i in range(PREPARE_REPS):
            t0 = time.perf_counter()
            state.update(prepare(i))
            self.setup_walls.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm(state)
        self.warm_s = time.perf_counter() - t0
        return state

    def loop(self, unit, *, after=None) -> "list[dict]":
        """Closed loop, one client: call ``unit(i)`` while the next unit
        fits in ``seconds`` (at least once), then ``after(sample)``
        outside the unit's span (output checks, clean-up). Traced runs
        spend the first half untraced and the second half traced; each
        sample records whether it was traced."""
        samples: "list[dict]" = []
        phases = [(False, self.seconds)]
        if self.trace:
            phases = [(False, self.seconds / 2), (True, self.seconds / 2)]
        i = 0
        for traced, budget in phases:
            self.tracer.enabled = traced
            start_mark = self.sql.mark()
            start = time.perf_counter()
            n, last = 0, 0.0
            # stop before a unit that would end past the budget
            while n == 0 or time.perf_counter() - start + last <= budget:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"bench.{self.name}.unit"):
                        sample = unit(i)
                except Exception:  # a failed unit is counted, not fatal
                    traceback.print_exc()
                    self.failed += 1
                    self.failures.append(f"unit {i}")
                    sample = None
                last = time.perf_counter() - t0
                if sample is not None:
                    sample["wall"] = last
                    sample["traced"] = traced
                    samples.append(sample)
                    if after is not None:
                        after(sample)
                i += 1
                n += 1
            if traced:
                self._traced_marks = (start_mark, self.sql.mark())
        self.tracer.enabled = self.trace
        self.samples = samples
        return samples

    def traced_units(self) -> "list[dict]":
        return [s for s in self.samples if s["traced"]]

    def traced_executions(self, *, plans: bool = False) -> "list[dict]":
        """The SQL executions the traced units ran."""
        start, end = self._traced_marks
        return self.sql.since(start, plans=plans)[: end - start]

    def finish_trace(self) -> None:
        """Layer self times, coverage, overhead and engine metrics of the
        traced units, per unit."""
        import statistics

        traced = self.traced_units()
        untraced = [s for s in self.samples if not s["traced"]]
        units = max(len(traced), 1)
        self_times, coverage = self.tracer.self_times("bench.")
        for layer in LAYERS:
            self.layers[f"self.{layer}_s"] = self_times.get(layer, 0.0) / units
        self.layers["trace.layer_coverage"] = coverage
        if traced and untraced:
            self.layers["trace.overhead_ratio"] = statistics.median(
                s["wall"] for s in traced
            ) / statistics.median(s["wall"] for s in untraced)
        self.layers.update(harness.engine_layers(self.traced_executions(), units))
        self.detail["trace_units"] = len(traced)
        self.detail["untraced_units"] = len(untraced)


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = harness.missing_program_files()
    if missing:
        print(f"perfbench: program files missing under {harness.REPO}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(harness.REPO))

    import importlib

    workload = importlib.import_module(f"workloads.{args.workload}")
    mach = harness.machine()
    out_root = harness.REPO / ".perfbench"
    workdir = out_root / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)

    ticks = harness.cpu_ticks()
    try:
        with harness.RssSampler() as rss:
            env = harness.environment(mach["nproc"], mach["ram_mib"])
            t0 = time.perf_counter()
            spark = harness.build_session(workdir, mach["nproc"], mach["ram_mib"])
            session_s = time.perf_counter() - t0
            try:
                run = Run(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                          workdir, mach["nproc"])
                e2e = workload.run(run)
                if run.trace:
                    run.finish_trace()
                    workload.trace_layers(run)
            finally:
                harness.stop_session(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    import statistics

    env["host_steal_share"] = harness.steal_share(ticks, harness.cpu_ticks())
    setup_s = session_s + statistics.median(run.setup_walls) + run.warm_s
    e2e_values = dict(e2e, setup_s=setup_s)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": env,
        "session_start_s": session_s,
        "peak_rss_mib": rss.peak_mib,
        "prepare_walls_s": run.setup_walls,
        "warm_s": run.warm_s,
        "failures": run.failures,
        "unit_wall_s": harness.summary([s["wall"] for s in run.samples]),
        **run.detail,
    }
    if args.trace:
        run.tracer.write(out_root / "traces" / f"{run.tracer.run_id}.jsonl")
        names = per_layer_names()
        layers = {k: float(run.layers.get(k, 0.0)) for k in names}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in names.items()}
        detail["unknown_layer_keys"] = sorted(set(run.layers) - set(names))
    else:
        metrics = {k: {"value": float(e2e_values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
