"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs every ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
twin on the same sf directory, compares row count, column names, and an
order-insensitive value hash. Usage::

    python tools/check_oracle.py [sf_dir] [query ...]

Large results (>``AGG_THRESHOLD`` rows) whose columns are exact types
(string/int/bool) are compared with a DISTRIBUTED checksum instead of
the driver-collect + Python hash: each engine canonicalizes the row to
one string (columns sorted by name, NULL marker, ``\\x01`` separator),
takes the first 15 hex chars of its sha256 as a 60-bit integer, and
sums — an order-insensitive value fingerprint computed where the data
is. That is what makes the gate runnable at sf1 (6M-row results), where
collecting every row into Python would dominate the wall. Float-typed
results keep the exact Python path (cross-engine float FORMATTING is
not portable; those results are pair/score tables, orders of magnitude
smaller than the conversion outputs).
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: above this row count, exact-typed results use the distributed checksum
AGG_THRESHOLD = 200_000

#: Spark simpleString / DuckDB type names whose ``CAST(x AS STRING)`` is
#: byte-identical across the two engines (floats and timestamps are NOT)
_SPARK_EXACT = {"string", "int", "bigint", "smallint", "tinyint", "boolean"}


def _agg_checksum_spark(df):
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\0NULL")) for c in cols
    ]
    row_str = F.concat_ws("\x01", *parts)
    h = F.conv(F.substring(F.sha2(row_str, 256), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    row = df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("_h").alias("s")
    ).collect()[0]
    return row["n"], int(row["s"] or 0)


def _agg_checksum_duckdb(con, sql, columns):
    cols = sorted(columns)
    parts = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0) || 'NULL')" for c in cols
    )
    q = (
        f"SELECT count(*) AS n, coalesce(sum(('0x' || substr(sha256("
        f"concat_ws(chr(1), {parts})), 1, 15))::BIGINT), 0) AS s "
        f"FROM ({sql})"
    )
    n, s = con.execute(q).fetchone()
    return n, int(s)


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool):
                vals.append("true" if v else "false")
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif v is None:
                vals.append("\0NULL")
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    h = hashlib.sha256()
    for line in out:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    import bench

    spark = bench._build_spark("8")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        exact_typed = all(
            f.dataType.simpleString() in _SPARK_EXACT for f in sdf.schema.fields
        )
        if name not in oracles:
            n = sdf.count()
            print(f"{name:32s} rows={n:7d}  (no oracle — rows-only)")
            continue
        ocur = con.execute(oracles[name])
        ocols = [d[0] for d in ocur.description]
        ok_cols = sorted(scols) == sorted(ocols)
        mode = "py"
        sn = sh = None
        if exact_typed and ok_cols:
            # the checksum pass itself returns the row count — deciding
            # the mode from it avoids executing the (possibly
            # multi-million-row) Spark plan twice
            sn, sh = _agg_checksum_spark(sdf)
            if sn > AGG_THRESHOLD:
                mode = "agg"
        if mode == "agg":
            on, oh = _agg_checksum_duckdb(con, oracles[name], ocols)
            srows_n, orows_n = sn, on
            ok_count = sn == on
            ok_hash = sh == oh
            srows = orows = None
        else:
            srows = [tuple(r) for r in sdf.collect()]
            orows = ocur.fetchall()
            srows_n, orows_n = len(srows), len(orows)
            ok_count = srows_n == orows_n
            sh = normalize(srows, scols)
            oh = normalize(orows, ocols)
            ok_hash = sh == oh
        status = "OK " if (ok_cols and ok_count and ok_hash) else "FAIL"
        tag = " (agg)" if mode == "agg" else ""
        print(
            f"{name:32s} {status} rows={srows_n:7d}/{orows_n:7d} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} "
            f"hash={'=' if ok_hash else 'DIFF'}{tag}"
        )
        if status == "FAIL":
            failures.append(name)
            if srows is not None and not ok_hash and ok_cols and ok_count:
                s_set = {}
                for r in srows[:200000]:
                    s_set[tuple(r)] = s_set.get(tuple(r), 0) + 1
                for r in orows[:200000]:
                    key = tuple(r)
                    if key in s_set:
                        s_set[key] -= 1
                        if not s_set[key]:
                            del s_set[key]
                    else:
                        print(f"    oracle-only: {r}")
                        break
                for k, v in list(s_set.items())[:3]:
                    print(f"    spark-only: {k}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
