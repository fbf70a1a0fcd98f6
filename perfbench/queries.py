"""``query_small``: rounds over registered queries.

One op is one round over a fixed list of registry queries, in an order
the seed permutes per round. Each query is built (its Python function
runs, including any eager driver actions) and then executed to the
``noop`` sink; build and execution run under their own job groups so the
traced run can split them. After each query the harness releases what
it cached and the temp dirs it made.

Set-up runs every query once and hashes its collected result against
the query's DuckDB oracle from the registry, with the hashing of
``tools/check_correctness.py``; a mismatch fails every op of the run.

The inputs are copies of the read-only seed-42 test tables, shipped in
``perfbench/data`` with their SHA-256 sums.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
import traceback

import duckdb

from wistia_etl_pipeline_spark import registry

from tools.check_correctness import _hash as rows_hash

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF_DIR = os.path.join(DATA, "sf0.1")

#: Queries that each run well under a second at sf0.1 on 4 cores, over
#: events and documents. Both MERGE implementations and a SQL
#: front-end query are in the list.
SMALL = (
    "merge_upsert_by_key",
    "merge_upsert_acid",
    "sql_pipe_syntax_surface",
    "gold_rollup_salted",
    "sessionize_events",
    "retention_7d",
    "dedup_exact_documents",
    "vocab_top_tokens",
)


class QueryRounds:
    #: Untimed rounds after the set-up's checking round, which is the
    #: coldest. The JIT keeps compiling for several rounds: at local[4] the
    #: rounds after the check took 7.2-7.8 s, then 5.7-6.5 s, then settle
    #: to 5.0-5.9 s.
    warmup_ops = 2

    def __init__(self, names: tuple[str, ...]):
        self.names = names
        self.sf_dir = SF_DIR

    def params(self) -> dict:
        return {"queries": list(self.names), "sf_dir": os.path.relpath(self.sf_dir)}

    def tables(self) -> dict[str, str]:
        return {}

    def verify_inputs(self) -> None:
        """The shipped tables must be byte-identical to the seed-42 set."""
        with open(os.path.join(DATA, "SHA256SUMS")) as f:
            for line in f:
                digest, rel = line.split()
                with open(os.path.join(DATA, rel), "rb") as g:
                    if hashlib.sha256(g.read()).hexdigest() != digest:
                        raise RuntimeError(f"test table {rel} does not match SHA256SUMS")

    def setup(self, ctx) -> None:
        self.fns = registry.queries()
        oracles = registry.oracle_sql()
        duck = duckdb.connect()
        duck.execute("SET threads TO 1")
        for fn in sorted(os.listdir(self.sf_dir)):
            table = fn.removesuffix(".parquet")
            duck.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, fn)}')"
            )
        self.mismatches = []
        for name in self.names:
            ctx.group(f"setup:check:{name}")
            df = self.fns[name](ctx.spark, self.sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            ctx.release()
            t0 = time.perf_counter()
            cur = duck.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if sorted(cols) != sorted(ocols) or rows_hash(rows, cols) != rows_hash(orows, ocols):
                self.mismatches.append(name)
            ctx.correctness_s += time.perf_counter() - t0
        duck.close()

    def run_op(self, ctx, i: int, gid: str) -> dict:
        order = list(self.names)
        random.Random(ctx.seed * 7_919 + i).shuffle(order)
        build_s = 0.0
        done = 0
        error = None
        start = time.time()
        t0 = time.perf_counter()
        for name in order:
            try:
                ctx.group(f"{gid}:build:{name}")
                b0 = time.perf_counter()
                df = self.fns[name](ctx.spark, self.sf_dir)
                build_s += time.perf_counter() - b0
                ctx.group(f"{gid}:exec:{name}")
                df.write.format("noop").mode("overwrite").save()
                done += 1
            except Exception:  # counted as a failed op, reported by the harness
                error = f"{name}: {traceback.format_exc()}"
            finally:
                ctx.release()
        wall = time.perf_counter() - t0
        end = time.time()
        ctx.group("idle")
        if error is None and self.mismatches:
            error = f"results differ from their DuckDB oracles: {self.mismatches}"
        return {
            "wall": wall,
            "items": done,
            "start": start,
            "end": end,
            "error": error,
            "layers": {"build.wall_s": build_s},
        }
