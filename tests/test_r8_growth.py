"""Unit invariants for the r8 growth waves (queries/q12_r8_growth.py).

The DuckDB oracle pins cross-engine equality; these tests pin the
SEMANTIC invariants the oracle alone can't express (internal identities,
behavioral quirks the queries were built around).
"""

from __future__ import annotations

import pytest

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _q(spark, name, sf=SF):
    return registry._QUERIES[name](spark, sf)


def test_recursive_bom_covers_every_part_once(spark):
    """The recursive walk must visit each part exactly once (ids are
    contiguous, every non-root's parent exists), and depth is bounded
    by the decimal key length."""
    import duckdb

    got = _q(spark, "recursive_cte_bom").toPandas()
    n_parts = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/part.parquet')"
    ).fetchone()[0]
    assert int(got["n_nodes"].sum()) == n_parts
    assert int(got["depth"].max()) <= 8


def test_interval_endpoint_counts_nest(spark):
    """Closed ⊇ half-open ⊇ open, and the gaps are exactly the tie
    counts: closed − half-open = end ties, half-open − open = start
    ties that aren't degenerate single-point sessions (s == e rows tie
    BOTH endpoints but only the closed form counts them)."""
    row = _q(spark, "interval_endpoint_semantics").collect()[0]
    assert row["n_closed"] >= row["n_half_open"] >= row["n_open"]
    assert row["n_closed"] - row["n_half_open"] == row["n_end_ties"]
    # start ties counted by [s,e) but not (s,e) are those with sec==s<e;
    # sec==s==e rows are excluded from half-open too, so the identity
    # needs the degenerate overlap subtracted from start ties:
    degenerate = row["n_start_ties"] + row["n_end_ties"] - (
        row["n_closed"] - row["n_open"]
    )
    assert degenerate >= 0
    assert (
        row["n_half_open"] - row["n_open"]
        == row["n_start_ties"] - degenerate
    )


def test_hll_delta_exact_new_accounts_everyone(spark):
    """Summing exact_new over output days + the first-day cohort must
    equal the total distinct user count — first-seen days partition
    the user set."""
    import duckdb

    got = _q(spark, "hll_new_visitors_delta").toPandas()
    con = duckdb.sql(
        f"""SELECT COUNT(DISTINCT user_id),
                   COUNT(DISTINCT CASE WHEN d0 = (SELECT MIN(CAST(ts AS DATE))
                        FROM read_parquet('{SF}/events.parquet')
                        WHERE user_id IS NOT NULL) THEN user_id END)
            FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
                  FROM read_parquet('{SF}/events.parquet')
                  WHERE user_id IS NOT NULL GROUP BY user_id)"""
    ).fetchone()
    total, day1 = con
    assert int(got["exact_new"].sum()) == total - day1


def test_temperature_weights_flatten_the_distribution(spark):
    """tau=1/2 must compress shares toward uniform: every source's
    tempered share sits between its raw share and the uniform share,
    and the upweighted flag equals the exact cross-multiplication."""
    got = _q(spark, "temperature_mixture_weights").toPandas()
    for r in got.itertuples():
        flag = 1 if r.weight * got["n_docs"].sum() > r.n_docs * got[
            "weight"
        ].sum() else 0
        assert r.upweighted == flag
    # smallest source never loses share; largest never gains
    smallest = got.loc[got["n_docs"].idxmin()]
    largest = got.loc[got["n_docs"].idxmax()]
    assert smallest["share_temp_micro"] >= smallest["share_raw_micro"]
    assert largest["share_temp_micro"] <= largest["share_raw_micro"]


def test_csv_column_pruning_quirk_is_real(spark, tmp_path):
    """The behavior csv_corrupt_records is built around: with the
    failing column PRUNED from the projection, PERMISSIVE CSV does NOT
    mark the row corrupt; projecting the column flips it. If an engine
    upgrade changes this, the query's docstring (and audit rule) must
    be revisited."""
    p = tmp_path / "x.csv"
    p.write_text("not_a_long,mystery\n1,ok\n")
    reader = (
        spark.read.schema("event_id long, event_type string, _c string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_c")
    )
    pruned = reader.csv(str(tmp_path)).select("event_type", "_c").collect()
    assert all(r["_c"] is None for r in pruned)  # quirk: no corrupt mark
    full = reader.csv(str(tmp_path)).select("event_id", "_c").collect()
    assert sum(r["_c"] is not None for r in full) == 1


def test_variant_null_classes_are_total(spark):
    """Every doc has an out-of-bounds NULL, a cast NULL, and a
    missing-key NULL — the three try paths must each fire on ALL rows
    (event_type is never numeric, $.vals[5] and $.missing never
    exist)."""
    got = _q(spark, "variant_array_paths").toPandas()
    assert (got["n_null_oob"] == got["n_docs"]).all()
    assert (got["n_null_cast"] == got["n_docs"]).all()
    assert (got["n_null_missing"] == got["n_docs"]).all()


def test_observe_metrics_match_direct_aggregate(spark):
    """The accumulator-channel totals must equal a direct recompute on
    the same session (the oracle proves cross-engine; this proves
    in-engine self-consistency on an independent code path)."""
    from pyspark.sql import functions as F

    got = _q(spark, "observe_metrics_audit").collect()[0]
    ev = load_table(spark, SF, "events")
    direct = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("nn"),
    ).collect()[0]
    assert got["n_rows"] == direct["n"]
    assert got["n_null_users"] == direct["nn"]


def test_cms_f2_never_undercounts(spark):
    """The AMS self-inner-product theorem: every depth row's dot is
    >= exact F2, so the min is too — the no_undercount flag must be 1
    and the estimate within the width bound (~n^2/width per row)."""
    row = _q(spark, "cms_self_join_f2").collect()[0]
    assert row["no_undercount"] == 1
    assert row["f2_est"] >= row["f2_exact"]
    assert (
        row["f2_est"] - row["f2_exact"]
        <= 3 * row["n_rows"] * row["n_rows"] // 4096
    )
