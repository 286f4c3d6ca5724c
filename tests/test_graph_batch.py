"""Batch 4c operators: BFS k-hop, synchronous LPA, grid distance join,
time-weighted average, Fellegi–Sunter scoring — hand-computed goldens
plus the edge cases that separate the operators from their happy path
(longitude seam wrap, duplicate timestamps, NULL comparisons, seeds
outside the graph)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sf_datalake_spark.operators.components import (
    bfs_k_hops,
    label_propagation_sync,
)
from sf_datalake_spark.operators.geo import grid_distance_join
from sf_datalake_spark.operators.linkage import fellegi_sunter_score
from sf_datalake_spark.operators.timeseries import time_weighted_average

from .conftest import ts


def test_bfs_k_hops_chain_and_isolated_seed(spark):
    # chain 1-2-3-4-5, plus edge 10-11 disconnected from the chain
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src bigint, dst bigint"
    )
    # seed 1 (in chain) and seed 99 (not a node of the graph at all)
    seeds = spark.createDataFrame([(1,), (99,)], "id bigint")
    got = {
        r["id"]: r["min_hops"]
        for r in bfs_k_hops(edges, seeds, k=2).collect()
    }
    # 2 hops from 1 reach 2 and 3; 4,5 are beyond k; 10,11 unreachable;
    # the off-graph seed still reports itself at distance 0
    assert got == {1: 0, 99: 0, 2: 1, 3: 2}


def test_bfs_k_hops_min_distance_not_first_path(spark):
    # two paths from seed 1 to node 4: 1-2-3-4 (3 hops) and 1-4 (1 hop)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    got = {
        r["id"]: r["min_hops"]
        for r in bfs_k_hops(edges, seeds, k=3).collect()
    }
    assert got[4] == 1  # BFS fixes distance at FIRST visit = minimum


def test_label_propagation_two_triangles(spark):
    # two DISCONNECTED triangles {1,2,3} and {7,8,9}: each converges to
    # its min label within 3 sync rounds (hand-traced: round 1 spreads
    # the min to two nodes, round 2 to all three, round 3 is stable)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)],
        "src bigint, dst bigint",
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation_sync(edges, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_label_propagation_tie_breaks_to_smallest(spark):
    # node 5's neighbors after round 1 carry labels {1, 2} once each —
    # the tie must go to label 1, deterministically
    edges = spark.createDataFrame(
        [(1, 5), (2, 5)], "src bigint, dst bigint"
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation_sync(edges, rounds=1).collect()
    }
    assert got[5] == 1
    # 1 and 2 each see only neighbor 5
    assert got[1] == 5 and got[2] == 5


def test_grid_distance_join_wraps_longitude_seam(spark):
    # a at lon 359.9 deg, b at lon 0.05 deg, same latitude: true
    # separation is 0.15 deg across the seam, NOT 359.85 deg
    a = spark.createDataFrame(
        [(1, 0, 359_900_000)], "a_id bigint, lat_micro bigint, lon_micro bigint"
    )
    b = spark.createDataFrame(
        [(2, 0, 50_000), (3, 0, 180_000_000)],
        "b_id bigint, lat_micro bigint, lon_micro bigint",
    )
    out = grid_distance_join(a, b, radius_micro=1_000_000).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["a_a_id"], row["b_b_id"]) == (1, 2)
    assert row["dist2_micro"] == 150_000 * 150_000


def test_grid_distance_join_no_duplicate_candidates(spark):
    # a point exactly on a cell corner reaches its match through the
    # neighborhood exactly once — pair count equals match count
    a = spark.createDataFrame(
        [(1, 1_000_000, 2_000_000)],
        "a_id bigint, lat_micro bigint, lon_micro bigint",
    )
    b = spark.createDataFrame(
        [(2, 1_000_000, 2_000_000)],
        "b_id bigint, lat_micro bigint, lon_micro bigint",
    )
    out = grid_distance_join(a, b, radius_micro=1_000_000).collect()
    assert len(out) == 1
    assert out[0]["dist2_micro"] == 0


def test_time_weighted_average_hand_case(spark):
    # value 100 cents holds 10s, then 300 cents holds 30s, last event
    # contributes nothing: twap = (100*10 + 300*30) / 40 = 250.0
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01 00:00:00"), 1, 100),
            (1, ts("2024-01-01 00:00:10"), 2, 300),
            (1, ts("2024-01-01 00:00:40"), 3, 999),
        ],
        "user_id bigint, t timestamp, eid bigint, cents bigint",
    )
    row = time_weighted_average(
        df, ["user_id"], "t", "cents", order_tiebreak="eid"
    ).collect()[0]
    assert row["weighted_cents_seconds"] == 100 * 10 + 300 * 30
    assert row["span_seconds"] == 40
    assert row["twap"] == 250.0


def test_time_weighted_average_duplicate_ts_tiebreak(spark):
    # two events at the SAME timestamp: the tiebreak column (eid) fixes
    # which one is "first" (zero duration) in every engine
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01 00:00:00"), 2, 500),
            (1, ts("2024-01-01 00:00:00"), 1, 100),
            (1, ts("2024-01-01 00:00:20"), 3, 0),
        ],
        "user_id bigint, t timestamp, eid bigint, cents bigint",
    )
    row = time_weighted_average(
        df, ["user_id"], "t", "cents", order_tiebreak="eid"
    ).collect()[0]
    # eid=1 holds 0s (next event same second), eid=2 holds 20s
    assert row["weighted_cents_seconds"] == 500 * 20
    assert row["span_seconds"] == 20


def test_time_weighted_average_single_event_null_twap(spark):
    df = spark.createDataFrame(
        [(1, ts("2024-01-01 00:00:00"), 1, 777)],
        "user_id bigint, t timestamp, eid bigint, cents bigint",
    )
    row = time_weighted_average(
        df, ["user_id"], "t", "cents", order_tiebreak="eid"
    ).collect()[0]
    assert row["span_seconds"] == 0
    assert row["twap"] is None  # no observed duration: undefined, not 0


def test_fellegi_sunter_score_classes_and_nulls(spark):
    pairs = spark.createDataFrame(
        [
            ("all_agree", True, True),
            ("one_agree", True, False),
            ("none", False, False),
            ("missing", None, True),
        ],
        "tag string, f1 boolean, f2 boolean",
    )
    out = {
        r["tag"]: (r["fs_score_micro"], r["match_class"])
        for r in fellegi_sunter_score(
            pairs,
            [
                (F.col("f1"), 3_000_000, -1_000_000),
                (F.col("f2"), 2_000_000, -500_000),
            ],
            link_threshold=4_000_000,
            possible_threshold=1_000_000,
        ).collect()
    }
    assert out["all_agree"] == (5_000_000, "link")
    assert out["one_agree"] == (2_500_000, "possible")
    assert out["none"] == (-1_500_000, "non_link")
    # NULL comparison contributes 0 (unobserved field, FS convention)
    assert out["missing"] == (2_000_000, "possible")


def test_grid_distance_join_non_divisor_cell_seam(spark):
    # ADVICE r4: a cell that does not divide the 360e6 lon period makes
    # the last cell narrower and the pmod wrap misses true seam pairs.
    # cell=7e6 (360e6 % 7e6 != 0): small at 0.1 deg vs big at 356.9 deg
    # are 3.2e6 micro-deg apart across the seam and MUST pair.  The
    # operator now rounds the cell down to a divisor of the period.
    a = spark.createDataFrame(
        [(1, 0, 100_000)], "a_id bigint, lat_micro bigint, lon_micro bigint"
    )
    b = spark.createDataFrame(
        [(2, 0, 356_900_000)],
        "b_id bigint, lat_micro bigint, lon_micro bigint",
    )
    out = grid_distance_join(
        a, b, radius_micro=3_500_000, cell_micro=7_000_000
    ).collect()
    assert len(out) == 1
    assert out[0]["dist2_micro"] == 3_200_000 * 3_200_000


def test_label_propagation_dedup_edges_contract(spark):
    """r10-advice guard for the dedup_edges=False fast path: the flag
    skips the canonicalize+distinct exchange and is therefore
    DUPLICATE-SENSITIVE (message counts change with repeated edges).
    The q_label_propagation call site relies on _part_edges' groupBy
    output being unique — this test pins both halves of that contract:
    (a) on an already-unique edge list the fast path equals the deduped
    path, (b) on a duplicated edge list it diverges, so a future edge
    source that starts emitting duplicates fails here instead of
    silently corrupting labels."""
    uniq = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 5)],
        "src bigint, dst bigint",
    )
    a = sorted(
        (r["id"], r["label"])
        for r in label_propagation_sync(uniq, rounds=3,
                                        dedup_edges=True).collect()
    )
    b = sorted(
        (r["id"], r["label"])
        for r in label_propagation_sync(uniq, rounds=3,
                                        dedup_edges=False).collect()
    )
    assert a == b

    # duplicating one edge swings node 5's round-1 vote (neighbors
    # {2, 4}, tie -> 2; with (4,5) doubled the majority is 4)
    dup = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 5), (4, 5)],
        "src bigint, dst bigint",
    )
    c = {
        r["id"]: r["label"]
        for r in label_propagation_sync(dup, rounds=1,
                                        dedup_edges=False).collect()
    }
    d = {
        r["id"]: r["label"]
        for r in label_propagation_sync(dup, rounds=1,
                                        dedup_edges=True).collect()
    }
    assert c[5] == 4 and d[5] == 2


def test_k_core_dedup_edges_contract(spark):
    """dedup_edges=False on k_core/core_numbers mirrors the LPA flag:
    equal to the deduped path on canonical unique edges, DIVERGENT on
    duplicated/reversed edges (degrees double-count), so a future edge
    source violating the q_k_core_parts / q_core_decomposition
    contract fails loudly."""
    from sf_datalake_spark.operators.components import core_numbers, k_core

    uniq = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 5), (1, 4)],
        "u bigint, v bigint",
    )
    for fn, kw in ((k_core, {"k": 2}), (core_numbers, {})):
        a = sorted(
            tuple(r) for r in fn(uniq, src="u", dst="v",
                                  dedup_edges=True, **kw).collect()
        )
        b = sorted(
            tuple(r) for r in fn(uniq, src="u", dst="v",
                                  dedup_edges=False, **kw).collect()
        )
        assert a == b, fn.__name__

    # duplicated + reversed edges: the fast path double-counts degrees
    # on the DISTRIBUTED path; the small-graph driver path dedups via
    # adjacency sets either way, so force the distributed loop.
    dup = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (1, 3)], "u bigint, v bigint"
    )
    deduped = sorted(
        tuple(r)
        for r in k_core(dup, 2, "u", "v", dedup_edges=True,
                        driver_threshold=0).collect()
    )
    raw = sorted(
        tuple(r)
        for r in k_core(dup, 2, "u", "v", dedup_edges=False,
                        driver_threshold=0).collect()
    )
    assert deduped == [(1, 2), (2, 2), (3, 2)]
    assert raw != deduped

    # self-loop: the flag also skips the u != v filter, so (4, 4) lifts
    # vertex 4 (one real neighbor) into the 2-core on BOTH paths.
    loop = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 4)], "u bigint, v bigint"
    )
    for threshold in (1_000_000, 0):
        deduped = sorted(
            tuple(r)
            for r in k_core(loop, 2, "u", "v", dedup_edges=True,
                            driver_threshold=threshold).collect()
        )
        raw = sorted(
            tuple(r)
            for r in k_core(loop, 2, "u", "v", dedup_edges=False,
                            driver_threshold=threshold).collect()
        )
        assert deduped == [(1, 2), (2, 2), (3, 2)], threshold
        assert 4 in {r[0] for r in raw}, threshold
