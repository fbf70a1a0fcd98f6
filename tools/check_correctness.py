"""Local replica of the driver's t2 differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, then compares row count, column names, and
an order-insensitive value hash. Use while iterating:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")


TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    hostile = "--hostile" in flags
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    if hostile:
        # Driver-style session: plain builder, hostile timezone, none of
        # the engine confs pre-applied. Every query callable must fix the
        # session itself (apply_runtime_confs) — this catches
        # order-dependent conf bugs the tuned get_spark session hides.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-correctness-hostile")
            .master("local[16]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "8g")
            .config("spark.sql.session.timeZone", "America/New_York")
            .getOrCreate()
        )
    else:
        from wistia_etl_pipeline_spark.session import get_spark

        spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            failures += 1
            print(f"{name:40s} FAIL  no oracle registered")
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures += 1
            print(f"{name:40s} SPARK-ERROR {type(e).__name__}: {str(e)[:160]}")
            continue
        # Type audit first: DuckDB HUGEINT (SUM of integers) renders as
        # float64 under pandas-based fetches (the driver's path) even
        # though fetchall() below yields Python ints — treat it as a
        # failure the same way the driver would (determinism rule #9).
        rel = con.sql(oracles[name])
        hugeint_cols = [
            c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t)
        ]
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok_hash = _hash(srows, scols) == _hash(orows, ocols)
        ok_types = not hugeint_cols or name.startswith("canary_")
        if not ok_types:
            print(f"{name:40s} HUGEINT in oracle output: {hugeint_cols}")
        status = "OK" if (ok_rows and ok_cols and ok_hash and ok_types) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:40s} {status}  rows {len(srows)}/{len(orows)}"
            f" cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'}"
            f" hash={'ok' if ok_hash else 'MISMATCH'}"
        )
        if not ok_hash and ok_cols and ok_rows:
            sset = {tuple(map(_norm, r)) for r in srows}
            oset = {tuple(map(_norm, r)) for r in orows}
            onlyspark = list(sset - oset)[:3]
            onlyduck = list(oset - sset)[:3]
            srt = sorted(range(len(scols)), key=lambda i: scols[i])
            print(f"   cols(sorted): {[scols[i] for i in srt]}")
            for r in onlyspark:
                print(f"   spark-only: {r}")
            for r in onlyduck:
                print(f"   duck-only:  {r}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
