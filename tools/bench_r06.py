"""Round-6 optimization harness (bench.py stays FROZEN for the driver).

Times any subset of the declared queries through the noop sink with the
same session config as bench.py, and dumps ``explain("formatted")`` for
each into plans/r06/<query>_<tag>.txt.

Usage:
    python tools/bench_r06.py [--sf DIR] [--tag before|after] [--runs N]
                              [--plans-only] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: bench.py headline)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default=None, help="dump plans/r06/<q>_<tag>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-only", action="store_true")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entrymod

    names = args.queries or bench.HEADLINE
    queries = entrymod.queries()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = bench._build_spark(cpus)
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()

    plan_dir = REPO / "plans" / "r06"
    best: dict[str, float] = {}
    for name in names:
        df = queries[name](spark, args.sf)
        if args.tag:
            import contextlib
            import io

            plan_dir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plan_dir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
        if args.plans_only:
            continue
        spark.sparkContext.setJobDescription(f"r06:{name}:warm")
        df.write.mode("overwrite").format("noop").save()
        walls = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"r06:{name}:{i}")
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        best[name] = round(min(walls), 3)
        print(f"{name}: best={best[name]} walls={[round(w,3) for w in walls]}", flush=True)
    if best:
        print(json.dumps({"sf": args.sf, "best": best, "total": round(sum(best.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
