"""One weighted-moment algebra: every site that aggregates, merges or
windows the moment sums must assemble the SAME statistic values.

The frame is integer-valued, so every moment sum is exact whatever the
summation order (map-side partials, salt buckets, window frames, rollup
levels) — the four sites must then agree with ``==``, not approximately.
Groups cover NULL x, NULL w, zero weights, a single row, an all-NULL-x
group, an all-NULL-w group and an all-zero-weight group.
"""

import datetime as dt
import random

import pytest

from pandas_weights_spark import wt
from pandas_weights_spark.resample import hypertable_rollup

STATS = ["count", "sum", "mean", "var", "std", "skew", "kurt"]
VALUES = ["x", "y"]
DAY0 = dt.datetime(2024, 1, 1)


def _rows():
    rnd = random.Random(20240101)

    def val(p_null):
        return None if rnd.random() < p_null else float(rnd.randint(-4, 9))

    def weight():
        r = rnd.random()
        if r < 0.1:
            return None
        if r < 0.25:
            return 0.0
        return float(rnd.randint(1, 3))

    groups = {g: [(val(0.15), val(0.05), weight()) for _ in range(40)]
              for g in range(3)}
    groups[3] = [(5.0, -2.0, 2.0)]  # single row
    groups[4] = [(None, None, 1.0), (None, None, 2.0), (None, 3.0, 1.0)]
    groups[5] = [(1.0, 2.0, None), (4.0, 1.0, None), (2.0, 2.0, None)]
    groups[6] = [(1.0, 2.0, 0.0), (3.0, 5.0, 0.0), (7.0, 1.0, 0.0)]
    rows = []
    for g, members in groups.items():
        for i, (x, y, w) in enumerate(members):
            # one calendar day per group: a 1D rollup bucket IS the group
            ts = DAY0 + dt.timedelta(days=g, minutes=i)
            rows.append((len(rows), g, ts, x, y, w))
    return rows


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        _rows(),
        "id long, g int, ts timestamp, x double, y double, w double",
    )


def _by_group(rows, key):
    return {
        key(r): {f"{c}_{s}": r[f"{c}_{s}"] for c in VALUES for s in STATS}
        for r in rows
    }


@pytest.fixture(scope="module")
def grouped(frame):
    wdf = wt(frame.select("g", *VALUES, "w"), "w")
    return _by_group(wdf.groupby("g").agg_all(STATS).collect(), lambda r: r["g"])


def test_edge_groups_present(grouped):
    assert grouped[3]["x_count"] == 2.0 and grouped[3]["x_var"] == 0.0
    assert grouped[3]["x_skew"] is None
    assert grouped[4]["x_count"] == 0.0 and grouped[4]["x_sum"] == 0.0
    assert grouped[4]["x_mean"] is None
    assert grouped[5]["x_count"] == 0.0 and grouped[5]["x_mean"] is None
    assert grouped[6]["x_count"] == 0.0 and grouped[6]["x_sum"] == 0.0
    assert all(grouped[g]["x_kurt"] is not None for g in range(3))


def test_salted_equals_agg_all(frame, grouped):
    wdf = wt(frame.select("g", *VALUES, "w"), "w")
    salted = _by_group(
        wdf.groupby("g").agg_all_salted(STATS, salt_buckets=4).collect(),
        lambda r: r["g"],
    )
    assert salted == grouped


def test_expanding_last_row_equals_agg_all(frame, grouped):
    wdf = wt(frame.select("id", "g", *VALUES, "w"), "w")
    rows = (
        wdf.expanding(order_by=["id"], partition_by=["g"], min_periods=0)
        .agg_all(STATS)
        .collect()
    )
    last = {}
    for r in rows:
        if r["g"] not in last or r["id"] > last[r["g"]]["id"]:
            last[r["g"]] = r
    assert _by_group(last.values(), lambda r: r["g"]) == grouped


def test_rollup_bucket_equals_agg_all(frame, grouped):
    out = hypertable_rollup(
        frame.select("ts", *VALUES, "w"), "w", on="ts", rules=["1D"],
        stats=STATS,
    ).collect()
    assert _by_group(out, lambda r: (r["bucket"] - DAY0).days) == grouped
