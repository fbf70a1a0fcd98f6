"""Query registry — the driver-facing inventory of implemented operators.

Each entry pairs a PySpark query (built from the engine's operators, run
on the testdata tables, FIXTURES.md §3 mapping) with an ANSI-SQL oracle
DuckDB runs on the same parquet files; ``tools/check_correctness.py``
hash-compares the two results order-insensitively. ``queries()`` and
``oracle_sql()`` list the names in registration order: the chunk
modules' import order in ``queries/__init__.py``, then definition order
within each chunk.

Conventions:
- Every computed column is aliased identically in Spark and SQL.
- Double SUM/AVG aggregates route through DECIMAL(25,6) on BOTH sides
  (exact, order-independent addition), are cast back to double, then
  ``round(x, 6)``. Plain double sums differ in last-bit between engines
  because summation order differs; decimal makes the comparison exact.
  Per-row double arithmetic (products, divisions) needs no such care —
  IEEE 754 ops are bit-deterministic. Corollary: do NOT round per-row
  doubles — the engines' ROUND implementations disagree at
  half-boundaries (DuckDB goes through x*1e6 in float, Spark through
  exact decimal), while the unrounded doubles match bit-for-bit.
- Each query callable applies the engine's runtime confs (UTC session
  timezone etc.) so date semantics don't depend on the caller's session.
- Determinism rule #9 (r3): DuckDB ``SUM(integer)`` — plain or windowed
  — returns HUGEINT; int128 survives ``fetchall()`` as a Python int but
  turns into float64 under pandas-based fetches, so 5 hashes as "5.0"
  vs Spark's "5". Every integer SUM in a final SELECT is therefore
  ``CAST(... AS BIGINT)``. (Root cause of the r1/r2 driver reds on
  sessionize_events / rolling_7d_activity / multimodal_decode_stats,
  which passed the local fetchall-based replica.)
- Determinism rule #10 (r3): window ORDER BY defaults diverge — Spark
  ASC is NULLS FIRST, DuckDB ASC is NULLS LAST. Oracles spell
  ``NULLS FIRST`` explicitly wherever an order column could be NULL.
- Determinism rule #12 (r5): ``CAST(decimal AS BIGINT)`` ROUNDS to
  nearest in DuckDB but TRUNCATES in Spark — a per-row half-unit bias
  that survives aggregation (observed live on
  experiment_cuped_adjustment: per-user spend floors differed by ~0.5
  on average, shifting every downstream sufficient statistic; passed
  at sf0.001 by luck). Any decimal → integer narrowing must go through
  an explicit ``floor()`` (or ``round()``) on BOTH engines first.
- Determinism rule #11 (r5): timestamp arithmetic must truncate to the
  SAME grain on both engines before any difference/frame/bucket math.
  DuckDB ``epoch(ts)`` keeps fractional seconds and
  ``date_diff('minute', ...)`` counts boundary crossings; Spark
  ``CAST(ts AS LONG)`` truncates to whole seconds. Mixing them can
  agree on one SF's data and diverge on the next (observed live on
  time_to_convert_quantiles); use floor(epoch())-based whole seconds
  on both sides.

Domain mapping (FIXTURES.md §3): ``events`` stands in for the Wistia
event stream (event_type ↔ media discriminator, user_id ↔ visitor_key,
value ↔ percent_viewed), ``part``/``nation`` for small dims, documents/
embeddings for the training-data extensions.
"""

from __future__ import annotations

# Importing the queries package imports every chunk, which registers everything.
from .queries._base import QueryFn, _ORACLES, _QUERIES  # noqa: F401  (re-exported)


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
