"""End-to-end driver-contract check: run tools/driver_sim.py in a fresh
process with a VANILLA SparkSession (none of this repo's tuned configs) and
under a non-UTC host timezone — the adversarial conditions the external
correctness driver may impose. See .claude/skills/verify/SKILL.md.

Sharded: a monolithic sweep of the 162-entry catalog once
overran a 900 s subprocess timeout on a contended host, and its single
timeout aborted the whole suite under ``-x``. Four round-robin shards
(sorted names striped) each get their own subprocess and timeout; a
straggler costs one shard, not the suite.

``test_driver_sampled_entries_registered`` pins catalog membership: the
sweep above parametrizes over whatever ``queries()`` returns, so an entry
deleted by mistake would vanish without a failure.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIM = os.path.join(REPO, "tools", "driver_sim.py")
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
N_SHARDS = 4

# Every entry the external correctness driver has sampled (rounds 1-11),
# plus the two weather-shaped compositions.
DRIVER_SAMPLED = """
a10_union_report a13_salted_agg a14_rollup_cascade a15_set_ops
a16_rollup_grouping_sets a17_pivot a18_percentiles a1_hourly_rollup
a20_unpivot_metrics a4_circular_mean a8_watermark_scalar a9_conditional_agg
c10_promo_share c11_disjunctive_pred c12_top_supplier c13_forecast_revenue
c14_market_share c15_profit_by_nation c1_shipping_priority
c2_exists_priority_count c3_region_supplier_volume
c4_small_quantity_revenue c5_large_order_detail c6_order_count_distribution
c7_dormant_rich_customers c8_volume_shipping c9_returned_items e1_sessionize
f1_scalar_functions f2_json_extract f3_edit_distance
j10_full_outer_reconcile j1_broadcast_dim_join j2_idw_range_join
j3_interval_self_join j4_cross_scalar_join j5_anti_join j6_semi_join
j7_grid_spatial_join j8_asof_join o1_topk_orders o3_knn_topk
p1_time_window_filter p2_completeness_filter p5_quality_flags p8_bbox_filter
q1_pricing_summary s3_normalize_rename s5_merge_update_wins
s6_merge_first_wins w1_lag_jump_check w2_latest_per_key w3_gap_fill
w4_rolling_frames w5_rank_family
""".split()
WEATHERLIKE = ["wx1_accuracy_join", "wx2_validation_metrics"]


def _entry_module():
    # import the entry module the way driver_sim does (no Spark session —
    # queries() only returns callables)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _shard_names(shard: int) -> str:
    names = sorted(_entry_module().queries())
    return ",".join(names[shard::N_SHARDS])


def test_driver_sampled_entries_registered():
    assert len(DRIVER_SAMPLED) == 55 and len(set(DRIVER_SAMPLED)) == 55
    mod = _entry_module()
    queries, oracles = mod.queries(), mod.oracle_sql()
    for name in DRIVER_SAMPLED + WEATHERLIKE:
        assert name in queries, f"{name} missing from queries()"
        assert oracles.get(name), f"{name} has no oracle_sql()"


@pytest.mark.parametrize("shard", range(N_SHARDS))
def test_driver_contract_non_utc_host(shard):
    # local[4] + generous timeout: this subprocess competes with the
    # suite's own local[8] session for the same cores; the real driver
    # runs alone. Semantics are unaffected by the core count.
    env = dict(
        os.environ,
        TZ="America/New_York",
        DRIVER_SIM_MASTER="local[4]",
        ONLY=_shard_names(shard),
    )
    proc = subprocess.run(
        [sys.executable, SIM, SF],
        env=env,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    tail = "\n".join(proc.stdout.splitlines()[-40:])
    assert proc.returncode == 0, f"driver sim failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert "0 fail" in tail, tail
