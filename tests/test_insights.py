"""Independent (pandas/numpy) reference checks for the round-6
business-insight tier (``operators/insights.py`` +
``graph_clustering_profile``).

``test_oracle_parity`` already pins every entry against DuckDB — these
tests guard the other failure mode (both engines wrong the same way)
by recomputing each statistic with a third, non-SQL implementation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from tests.conftest import drain

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_pd():
    return pd.read_parquet(f"{SF}/events.parquet")


@pytest.fixture(scope="module")
def orders_pd():
    return pd.read_parquet(f"{SF}/orders.parquet")


def _run(spark, name):
    from event_to_lakehouse_spark.catalog import QUERIES

    return QUERIES[name](spark, SF).toPandas()


# --- Welch t-test ----------------------------------------------------------


def test_welch_matches_numpy(spark, events_pd):
    out = _run(spark, "stats_welch_ttest").iloc[0]
    a = events_pd.query("event_type == 'click'")["value"].dropna().to_numpy()
    b = events_pd.query("event_type == 'view'")["value"].dropna().to_numpy()
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    df = se2**2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert out["n_a"] == len(a) and out["n_b"] == len(b)
    assert out["t_stat"] == pytest.approx(t, abs=2e-4)
    assert out["df_welch"] == pytest.approx(df, rel=1e-4)


# --- Spearman --------------------------------------------------------------


def test_spearman_matches_pandas(spark, orders_pd):
    out = _run(spark, "stats_spearman_daily").iloc[0]
    daily = (
        orders_pd.assign(day=orders_pd["o_orderdate"].dt.floor("D"))
        .groupby("day")
        .agg(x=("o_orderkey", "size"), y=("o_totalprice", "sum"))
    )
    daily["y"] = (daily["y"] * 100).round().astype("int64")
    rho = np.corrcoef(
        daily["x"].rank(method="average"), daily["y"].rank(method="average")
    )[0, 1]
    assert out["n_days"] == len(daily)
    assert out["spearman_rho"] == pytest.approx(rho, abs=2e-4)


# --- Theil-Sen -------------------------------------------------------------


def test_theilsen_matches_numpy(spark, events_pd):
    out = _run(spark, "stats_theilsen_trend").set_index("event_type")
    daily = (
        events_pd.assign(x=events_pd["ts"].dt.floor("D"))
        .groupby(["event_type", "x"])
        .size()
        .reset_index(name="y")
    )
    daily["x"] = (daily["x"] - pd.Timestamp("1970-01-01")).dt.days
    for etype, grp in daily.groupby("event_type"):
        x, y = grp["x"].to_numpy(float), grp["y"].to_numpy(float)
        i, j = np.triu_indices(len(x), k=1)
        slopes = (y[j] - y[i]) / (x[j] - x[i])
        row = out.loc[etype]
        assert row["n_pairs"] == len(slopes)
        # numpy 'linear' interpolation == quantile_cont == Spark percentile
        assert row["ts_slope"] == pytest.approx(
            np.quantile(slopes, 0.5), abs=2e-4
        )
        assert row["slope_q1"] == pytest.approx(
            np.quantile(slopes, 0.25), abs=2e-4
        )
        assert row["slope_q3"] == pytest.approx(
            np.quantile(slopes, 0.75), abs=2e-4
        )


# --- Kaplan-Meier ----------------------------------------------------------


def test_kaplan_meier_matches_reference_loop(spark, orders_pd):
    out = (
        _run(spark, "survival_kaplan_meier")
        .sort_values("duration_days")
        .reset_index(drop=True)
    )
    per = (
        orders_pd.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
        .groupby("o_custkey")["o_orderdate"]
        .agg(t1="min", t2=lambda s: s.iloc[1] if len(s) > 1 else pd.NaT)
    )
    maxd = orders_pd["o_orderdate"].max()
    dur = np.where(
        per["t2"].notna(),
        (per["t2"] - per["t1"]).dt.days,
        (maxd - per["t1"]).dt.days,
    )
    ev = per["t2"].notna().astype(int).to_numpy()
    tbl = (
        pd.DataFrame({"dur": dur, "ev": ev})
        .groupby("dur")
        .agg(d=("ev", "sum"), c=("ev", lambda s: (1 - s).sum()))
        .sort_index()
    )
    n = len(per)
    s = 1.0
    at_risk, surv = [], []
    for _, row in tbl.iterrows():
        at_risk.append(n)
        s *= 1.0 - row["d"] / n
        surv.append(s)
        n -= row["d"] + row["c"]
    assert (out["at_risk"].to_numpy() == np.array(at_risk)).all()
    assert (out["events"].to_numpy() == tbl["d"].to_numpy()).all()
    np.testing.assert_allclose(
        out["survival"].to_numpy(), np.array(surv), atol=2e-4
    )
    # survival is monotone non-increasing and in [0, 1]
    sv = out["survival"].to_numpy()
    assert (np.diff(sv) <= 1e-12).all() and sv.min() >= 0 and sv.max() <= 1


# --- CUPED -----------------------------------------------------------------


def test_cuped_matches_numpy(spark, events_pd):
    out = _run(spark, "experiment_cuped").set_index("variant")
    e = events_pd.dropna(subset=["value"])
    split = pd.Timestamp("2024-01-16")
    per = e.groupby("user_id").apply(
        lambda g: pd.Series(
            {
                "x": g.loc[g["ts"] < split, "value"].sum(),
                "y": g.loc[g["ts"] >= split, "value"].sum(),
            }
        ),
        include_groups=False,
    )
    per["variant"] = per.index % 2
    x, y = per["x"].to_numpy(), per["y"].to_numpy()
    theta = np.cov(x, y, ddof=0)[0, 1] / x.var(ddof=0)
    gmx = x.mean()
    for v in (0, 1):
        g = per[per["variant"] == v]
        adj = g["y"] - theta * (g["x"] - gmx)
        assert out.loc[v, "n_users"] == len(g)
        assert out.loc[v, "mean_y"] == pytest.approx(g["y"].mean(), abs=2e-4)
        assert out.loc[v, "cuped_mean"] == pytest.approx(adj.mean(), abs=2e-4)
        assert out.loc[v, "var_cuped"] == pytest.approx(
            adj.var(ddof=1), rel=1e-3
        )
    assert out.loc[0, "theta"] == pytest.approx(theta, abs=2e-4)
    # theta is the POOLED optimum: adjustment cannot inflate the pooled
    # variance (per-arm it may, if an arm's x-y covariance differs).
    adj_all = y - theta * (x - gmx)
    assert adj_all.var(ddof=1) <= y.var(ddof=1) * (1 + 1e-9)


# --- Attribution -----------------------------------------------------------


def test_attribution_matches_pandas(spark, events_pd):
    out = _run(spark, "events_attribution")
    credits = {}
    for _, g in events_pd.sort_values(["ts", "event_id"]).groupby("user_id"):
        touches = []
        for _, r in g.iterrows():
            if r["event_type"] == "purchase":
                first = touches[0] if touches else "(none)"
                last = touches[-1] if touches else "(none)"
                k = (first, last)
                c = credits.setdefault(k, [0, 0.0])
                c[0] += 1
                c[1] += r["value"]
            else:
                touches.append(r["event_type"])
    assert len(out) == len(credits)
    for _, r in out.iterrows():
        c = credits[(r["first_touch"], r["last_touch"])]
        assert r["conversions"] == c[0]
        assert r["attributed_value"] == pytest.approx(c[1], abs=2e-3)
    # every purchase is attributed exactly once
    assert out["conversions"].sum() == (events_pd["event_type"] == "purchase").sum()


# --- RFM -------------------------------------------------------------------


def test_rfm_conserves_customers_and_scores(spark, orders_pd):
    out = _run(spark, "customer_rfm_segments")
    assert out["customers"].sum() == orders_pd["o_custkey"].nunique()
    for c in ("r_score", "f_score", "m_score"):
        assert out[c].between(1, 5).all()
    assert set(out["segment"]) <= {
        "champion",
        "at_risk_loyal",
        "new_or_light",
        "core",
    }
    # each quintile holds ceil/floor(n/5) customers
    n = orders_pd["o_custkey"].nunique()
    for c in ("r_score", "f_score", "m_score"):
        sizes = out.groupby(c)["customers"].sum()
        assert sizes.min() >= n // 5 and sizes.max() <= -(-n // 5)


# --- Market basket ---------------------------------------------------------


def test_basket_rules_match_pandas(spark):
    out = _run(spark, "market_basket_rules")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[["l_orderkey", "l_partkey"]]
    part = pd.read_parquet(f"{SF}/part.parquet")[["p_partkey", "p_brand"]]
    items = (
        li.merge(part, left_on="l_partkey", right_on="p_partkey")[
            ["l_orderkey", "p_brand"]
        ]
        .drop_duplicates()
        .rename(columns={"l_orderkey": "ok", "p_brand": "item"})
    )
    n_orders = items["ok"].nunique()
    supp = items.groupby("item").size()
    pairs = items.merge(items, on="ok")
    pairs = pairs[pairs["item_x"] != pairs["item_y"]]
    pc = pairs.groupby(["item_x", "item_y"]).size()
    # verify every output rule against the pandas counts
    for _, r in out.iterrows():
        sp = pc[(r["antecedent"], r["consequent"])]
        assert r["pair_support"] == sp
        assert r["confidence"] == pytest.approx(
            sp / supp[r["antecedent"]], abs=1e-4
        )
        assert r["lift"] == pytest.approx(
            sp * n_orders / (supp[r["antecedent"]] * supp[r["consequent"]]),
            abs=1e-3,
        )
    assert (pc >= 5).sum() == len(out)


# --- TWAP ------------------------------------------------------------------


def test_twap_matches_pandas(spark, events_pd):
    out = _run(spark, "events_twap")
    e = events_pd.dropna(subset=["value"]).copy()
    e["day"] = e["ts"].dt.floor("D")
    got = out.set_index(["event_type", pd.to_datetime(out["day"])])
    for (etype, day), g in e.groupby(["event_type", "day"]):
        g = g.sort_values(["ts", "event_id"])
        t = g["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        nxt = np.append(t[1:], (day + pd.Timedelta(days=1)).value // 1000)
        w = (nxt - t) / 1e6
        ref = (g["value"].to_numpy() * w).sum() / w.sum()
        row = got.loc[(etype, day)]
        assert row["n"] == len(g)
        assert row["twap"] == pytest.approx(ref, abs=2e-4)
    # weights per (type, day) must cover positive time
    assert (out["twap"] > 0).all()


# --- Clustering profile ----------------------------------------------------


def test_clustering_profile_matches_pandas(spark):
    out = _run(spark, "graph_clustering_profile")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[["l_orderkey", "l_partkey"]]
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs["l_partkey_x"] != pairs["l_partkey_y"]][
        ["l_partkey_x", "l_partkey_y"]
    ].drop_duplicates()
    adj = {}
    for a, b in pairs.itertuples(index=False):
        adj.setdefault(a, set()).add(b)
    rows = []
    for node, nbrs in adj.items():
        d = len(nbrs)
        if d < 2:
            continue
        tri = sum(len(adj[m] & nbrs) for m in nbrs) // 2
        rows.append((d.bit_length() - 1, 2.0 * tri / (d * (d - 1)), tri))
    ref = pd.DataFrame(rows, columns=["bucket", "cc", "tri"])
    refg = ref.groupby("bucket").agg(
        nodes=("cc", "size"), avg_cc=("cc", "mean"), tri=("tri", "sum")
    )
    got = out.set_index("degree_bucket").sort_index()
    assert list(got.index) == list(refg.index)
    assert (got["nodes"].to_numpy() == refg["nodes"].to_numpy()).all()
    assert (got["triangle_slots"].to_numpy() == refg["tri"].to_numpy()).all()
    np.testing.assert_allclose(
        got["avg_cc"].to_numpy(), refg["avg_cc"].to_numpy(), atol=2e-4
    )
    assert got["max_cc"].max() <= 1.0 and got["min_cc"].min() >= 0.0


# --- Welch partials: mergeability + streaming twin --------------------------


def test_welch_partials_merge_and_finish(spark):
    from event_to_lakehouse_spark.operators.insights import (
        merge_welch_partials,
        welch_from_partials,
        welch_partials,
    )
    from event_to_lakehouse_spark.tables import load_tables

    e = load_tables(spark, SF)["events"]
    whole = welch_partials(e).toPandas().set_index("event_type")
    # split by user parity, merge — n exact, double sums to FP reorder
    merged = (
        merge_welch_partials(
            welch_partials(e.where("user_id % 2 = 0")),
            welch_partials(e.where("user_id % 2 = 1")),
        )
        .toPandas()
        .set_index("event_type")
    )
    assert (merged["n"] == whole["n"]).all()
    np.testing.assert_allclose(merged["s"], whole["s"], rtol=1e-9)
    np.testing.assert_allclose(merged["q"], whole["q"], rtol=1e-9)
    # finisher off partials == the registered query
    got = welch_from_partials(welch_partials(e)).toPandas().iloc[0]
    want = _run(spark, "stats_welch_ttest").iloc[0]
    for c in ("n_a", "n_b", "mean_a", "mean_b", "t_stat", "df_welch"):
        assert got[c] == pytest.approx(want[c], abs=1e-4)


def test_welch_partials_stream_equals_batch(spark, tmp_dir):
    """Drained streaming Welch state == whole-batch partials (n exact,
    double sums to FP-addition reordering), and the finisher serves the
    t statistic off the state table."""
    import json as _json
    from pathlib import Path

    from event_to_lakehouse_spark.operators.insights import (
        welch_from_partials,
        welch_partials,
    )
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable
    from event_to_lakehouse_spark.streaming.jobs import (
        read_event_stream,
        welch_partials_stream,
    )

    src = Path(f"{tmp_dir}/events")
    src.mkdir(parents=True)
    eid = 0
    for i in range(3):
        rows = []
        for k in range((i + 1) * 9):
            rows.append(
                {
                    "event_id": (eid := eid + 1),
                    "ts": f"2024-01-0{i + 1}T0{k % 9}:15:00",
                    "user_id": k % 5,
                    "event_type": ("click", "view", "error")[k % 3],
                    "value": 1.5 * k + i,
                    "props": "{}",
                }
            )
        (src / f"part_{i}.json").write_text(
            "\n".join(_json.dumps(e) for e in rows)
        )
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    state_root = f"{tmp_dir}/welch_state"
    q = welch_partials_stream(stream, state_root, f"{tmp_dir}/ckpt")
    drain(q)

    tbl = SnapshotTable(spark, state_root)
    batch = spark.read.json(str(src), schema=stream.schema)
    want = welch_partials(batch).toPandas().set_index("event_type")
    got = tbl.read().toPandas().set_index("event_type")
    assert set(got.index) == set(want.index) == {"click", "view"}
    assert (got["n"] == want["n"]).all()
    np.testing.assert_allclose(
        got.sort_index()["s"], want.sort_index()["s"], rtol=1e-9
    )
    np.testing.assert_allclose(
        got.sort_index()["q"], want.sort_index()["q"], rtol=1e-9
    )
    t_stream = welch_from_partials(tbl.read()).toPandas().iloc[0]
    t_batch = welch_from_partials(welch_partials(batch)).toPandas().iloc[0]
    for c in ("n_a", "n_b", "mean_a", "mean_b", "t_stat", "df_welch"):
        assert t_stream[c] == pytest.approx(t_batch[c], abs=1e-4)
