"""Self-tests of the benchmark, at a tiny size.

    python -m pytest perfbench -q

Each case runs the benchmark in a fresh interpreter (one JVM per run,
as the real runs do), with the workload swapped for a tiny one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = (
    "medallion.Params(media=3, history=200, changed=2, appended=20, "
    "per_page=50, max_pages=2)"
)


def _run(workload_expr: str, workload: str, trace: int, prelude: str = "") -> dict:
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {HERE!r})
        import run, medallion, queries
        {prelude}
        run.make_workload = lambda name: {workload_expr}
        sys.exit(run.main(["--workload", {workload!r}, "--seed", "7",
                           "--seconds", "1", "--trace", "{trace}"]))
    """)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _check_metrics(result: dict, declared: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == declared
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


def test_every_metric_is_printed_with_its_unit():
    tiny = f"medallion.Medallion({TINY})"
    plain = _run(tiny, "medallion_incremental", trace=0)
    _check_metrics(plain, _declared("end_to_end"))
    assert plain["correct"] and plain["failed"] == 0
    for name in ("setup_s", "op_p50_s", "items_per_s"):
        assert plain["metrics"][name]["value"] > 0

    traced = _run(tiny, "medallion_incremental", trace=1)
    _check_metrics(traced, _declared("per_layer"))
    layers = {k: m["value"] for k, m in traced["metrics"].items()}
    assert layers["incremental.full_pull"] >= 1 and layers["incremental.resume"] >= 1
    assert layers["merge.silver_s"] > 0 and layers["bronze.write_s"] > 0
    assert layers["exec.jobs"] > 0

    one_query = 'queries.QueryRounds(("merge_upsert_by_key",))'
    _check_metrics(_run(one_query, "query_small", trace=0), _declared("end_to_end"))


def test_corrupted_gold_row_counts_as_error():
    corrupt = textwrap.dedent("""
        import glob, pyarrow as pa, pyarrow.parquet as pq
        _gold_mismatch = medallion.Medallion._gold_mismatch
        def corrupt_then_check(self, appended):
            path = sorted(glob.glob(self.root + "/gold/*.parquet"))[0]
            t = pq.read_table(path)
            col = t.column("load_count").to_pylist()
            col[0] += 1
            t = t.set_column(t.schema.get_field_index("load_count"), "load_count",
                             pa.array(col, t.schema.field("load_count").type))
            pq.write_table(t, path)
            return _gold_mismatch(self, appended)
        medallion.Medallion._gold_mismatch = corrupt_then_check
    """).replace("\n", "\n        ")
    result = _run(f"medallion.Medallion({TINY})", "medallion_incremental", trace=1,
                  prelude=corrupt)
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert result["metrics"]["run.error_rate"]["value"] == 1.0
