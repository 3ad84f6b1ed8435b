"""Measured single-node baseline: the reference's pipeline semantics
(pandas, eager, one process — the architecture of /root/reference)
applied to the driver's star schema at a chosen scale factor.

The reference publishes no numbers (BASELINE.md), so this harness
produces the missing comparison point: the SAME three marts the Spark
engine benches (sales summary, avg-check-by-region, product ranking),
computed the way the reference computes them — pandas merge/groupby,
single-threaded. Semantics re-derived from SURVEY.md §2, not copied.

Usage: python tools/baseline_pandas.py [sf_dir] [runs]
Prints one JSON line of per-mart seconds (best of ``runs``).
"""

from __future__ import annotations

import json
import sys
import time

import pandas as pd


def load(sf_dir: str) -> dict[str, pd.DataFrame]:
    t = {}
    for name in ("lineitem", "orders", "customer", "nation", "region", "part"):
        t[name] = pd.read_parquet(f"{sf_dir}/{name}.parquet")
    return t


def sales_fact(t: dict[str, pd.DataFrame]) -> pd.DataFrame:
    li = t["lineitem"][
        ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
    ].rename(
        columns={
            "l_orderkey": "order_id",
            "l_partkey": "product_id",
            "l_quantity": "quantity",
            "l_extendedprice": "unit_price",
        }
    )
    o = t["orders"][
        ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"]
    ].rename(
        columns={
            "o_orderkey": "order_id",
            "o_custkey": "customer_id",
            "o_orderdate": "order_date",
            "o_orderpriority": "category",
        }
    )
    s = li.merge(o, on="order_id", how="inner")
    s["total_price"] = s["quantity"] * s["unit_price"]
    return s


def q_sales_summary(s: pd.DataFrame) -> pd.DataFrame:
    s = s.copy()
    s["month"] = pd.to_datetime(s["order_date"]).dt.to_period("M").astype(str)
    g = s.groupby(["category", "month"], dropna=False)
    out = g.agg(
        total_sales=("total_price", "sum"),
        total_quantity=("quantity", "sum"),
        order_count=("order_id", "nunique"),
    ).reset_index()
    out["average_order_value"] = (
        out["total_sales"] / out["order_count"].replace({0: pd.NA})
    ).fillna(0)
    out["period_date"] = pd.to_datetime(out["month"] + "-01")
    return out.drop(columns=["order_count"])


def q_avg_check(s: pd.DataFrame, t: dict[str, pd.DataFrame]) -> pd.DataFrame:
    totals = (
        s.groupby(["order_id", "customer_id"])["total_price"]
        .sum()
        .reset_index(name="order_total")
    )
    cust = (
        t["customer"][["c_custkey", "c_nationkey"]]
        .merge(
            t["nation"][["n_nationkey", "n_regionkey"]],
            left_on="c_nationkey",
            right_on="n_nationkey",
            how="left",
        )
        .merge(
            t["region"][["r_regionkey", "r_name"]],
            left_on="n_regionkey",
            right_on="r_regionkey",
            how="left",
        )[["c_custkey", "r_name"]]
        .rename(columns={"c_custkey": "customer_id", "r_name": "region"})
    )
    j = totals.merge(cust, on="customer_id", how="left")
    j["region"] = j["region"].fillna("Unknown")
    out = (
        j.groupby("region")
        .agg(
            avg_check=("order_total", "mean"),
            orders_count=("order_id", "nunique"),
        )
        .reset_index()
        .sort_values("avg_check", ascending=False)
    )
    return out


def q_product_ranking(s: pd.DataFrame, t: dict[str, pd.DataFrame]) -> pd.DataFrame:
    agg = (
        s.groupby("product_id")
        .agg(total_sold=("quantity", "sum"), total_revenue=("total_price", "sum"))
        .reset_index()
        .merge(
            t["part"][["p_partkey", "p_name"]].rename(
                columns={"p_partkey": "product_id", "p_name": "product_name"}
            ),
            on="product_id",
            how="left",
        )
        .sort_values(
            ["total_sold", "total_revenue", "product_id"],
            ascending=[False, False, True],
        )
        .head(5)
    )
    agg["rank_position"] = range(1, len(agg) + 1)
    return agg


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    t = load(sf_dir)  # I/O outside the timed region

    timings: dict[str, float] = {}

    def bench(name, fn):
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    bench("agg_sales_summary", lambda: q_sales_summary(sales_fact(t)))
    bench("agg_avg_check_by_region", lambda: q_avg_check(sales_fact(t), t))
    bench("topk_product_ranking", lambda: q_product_ranking(sales_fact(t), t))

    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "pandas_baseline_marts_total_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
