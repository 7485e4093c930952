"""Seeded input generator for the ETL workload (numpy + pyarrow only).

``write_retail_csvs`` writes the reference's daily extract: five retail
star-schema CSVs (``{table}_{YYYYMMDD}.csv``) in the layout
``pipeline.run_pipeline`` reads, with Zipf-skewed product popularity. The
same arguments always give byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

RETAIL_TABLES = ("store", "product", "calendar", "sales", "inventory")

#: products follow a Zipf law with this exponent (a few sell most units)
ZIPF_S = 1.1


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _iso_week_key(d: dt.date) -> int:
    y, w, _ = d.isocalendar()
    return y * 100 + w


def retail_tables(
    seed: int,
    sales_rows: int,
    n_stores: int = 100,
    n_products: int = 5000,
    start: dt.date = dt.date(2024, 1, 1),
    days: int = 28,
) -> dict[str, pa.Table]:
    """The five retail tables as arrow tables (see module doc)."""
    rng = np.random.default_rng(seed)
    dates = np.array(
        [start + dt.timedelta(days=i) for i in range(days)], dtype="datetime64[D]"
    )

    # -- sales: one row per transaction line --------------------------------
    ranks = np.arange(1, n_products + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    # popularity rank -> product key, so the hot keys are not simply 1..k
    prod_of_rank = rng.permutation(n_products) + 1
    prod = prod_of_rank[rng.choice(n_products, size=sales_rows, p=p)].astype(np.int32)
    store = rng.integers(1, n_stores + 1, sales_rows, dtype=np.int32)
    day = rng.integers(0, days, sales_rows)
    qty = rng.integers(1, 11, sales_rows).astype(np.float64)
    price = _money(rng, 1.0, 100.0, sales_rows)
    discount = np.round(rng.integers(0, 21, sales_rows) / 100.0, 2)
    amt = np.round(qty * price * (1.0 - discount), 2)
    cost = np.round(amt * rng.uniform(0.5, 0.9, sales_rows), 2)
    sales = pa.table(
        {
            "trans_id": pa.array(np.arange(1, sales_rows + 1, dtype=np.int32)),
            "prod_key": pa.array(prod),
            "store_key": pa.array(store),
            "trans_dt": pa.array(dates[day]),
            "trans_time": pa.array(rng.integers(0, 2400, sales_rows, dtype=np.int32)),
            "sales_qty": pa.array(qty),
            "sales_price": pa.array(price),
            "sales_amt": pa.array(amt),
            "discount": pa.array(discount),
            "sales_cost": pa.array(cost),
            "sales_mgrn": pa.array(np.round(amt - cost, 2)),
            "ship_cost": pa.array(_money(rng, 0.0, 5.0, sales_rows)),
        }
    )

    # -- inventory: exactly one snapshot row per (cal_dt, store, prod) -------
    # most sold combinations have a snapshot (the join drops the rest), plus
    # unsold combinations the join never matches
    key = (day.astype(np.int64) * (n_stores + 1) + store) * (n_products + 1) + prod
    sold = np.unique(key)
    sold = sold[rng.random(sold.size) < 0.9]
    extra = (
        rng.integers(0, days, sold.size // 2).astype(np.int64) * (n_stores + 1)
        + rng.integers(1, n_stores + 1, sold.size // 2)
    ) * (n_products + 1) + rng.integers(1, n_products + 1, sold.size // 2)
    inv_key = np.unique(np.concatenate([sold, extra]))
    n_inv = inv_key.size
    inv_prod = (inv_key % (n_products + 1)).astype(np.int32)
    rest = inv_key // (n_products + 1)
    inv_store = (rest % (n_stores + 1)).astype(np.int32)
    inv_day = rest // (n_stores + 1)
    inventory = pa.table(
        {
            "cal_dt": pa.array(dates[inv_day]),
            "store_key": pa.array(inv_store),
            "prod_key": pa.array(inv_prod),
            "inventory_on_hand_qty": pa.array(rng.integers(0, 40, n_inv).astype(np.float64)),
            "inventory_on_order_qty": pa.array(rng.integers(0, 60, n_inv).astype(np.float64)),
            "out_of_stock_flg": pa.array((rng.random(n_inv) < 0.08).astype(np.int32)),
            "waste_qty": pa.array(_money(rng, 0.0, 3.0, n_inv)),
            "promotion_flg": pa.array(rng.random(n_inv) < 0.2),
            "next_delivery_dt": pa.array(
                dates[np.minimum(inv_day + rng.integers(1, 8, n_inv), days - 1)]
            ),
        }
    )

    # -- calendar: whole ISO weeks covering every fact date -------------------
    first = start - dt.timedelta(days=start.isoweekday() - 1)
    last = start + dt.timedelta(days=days - 1)
    last += dt.timedelta(days=7 - last.isoweekday())
    cal_days = [first + dt.timedelta(days=i) for i in range((last - first).days + 1)]
    calendar = pa.table(
        {
            "cal_dt": pa.array(np.array(cal_days, dtype="datetime64[D]")),
            "cal_type_desc": ["Fiscal"] * len(cal_days),
            "day_of_wk_num": [str(d.isoweekday()) for d in cal_days],
            "day_of_wk_desc": [d.strftime("%A") for d in cal_days],
            "yr_num": pa.array([d.isocalendar()[0] for d in cal_days], pa.int32()),
            "wk_num": pa.array([d.isocalendar()[1] for d in cal_days], pa.int32()),
            "yr_wk_num": pa.array([_iso_week_key(d) for d in cal_days], pa.int32()),
            "mnth_num": pa.array([d.month for d in cal_days], pa.int32()),
            "yr_mnth_num": pa.array([d.year * 100 + d.month for d in cal_days], pa.int32()),
            "qtr_num": pa.array([(d.month - 1) // 3 + 1 for d in cal_days], pa.int32()),
            "yr_qtr_num": pa.array(
                [d.year * 10 + (d.month - 1) // 3 + 1 for d in cal_days], pa.int32()
            ),
        }
    )

    # -- small dimensions -----------------------------------------------------
    skeys = np.arange(1, n_stores + 1, dtype=np.int32)
    store_t = pa.table(
        {
            "store_key": pa.array(skeys),
            "store_num": [f"S{k:04d}" for k in skeys],
            "store_desc": [f"Store {k}" for k in skeys],
            "addr": [f"{k} Main St" for k in skeys],
            "city": [f"City{k % 37}" for k in skeys],
            "region": [f"Region{k % 5}" for k in skeys],
            "cntry_cd": ["US"] * n_stores,
            "cntry_nm": ["United States"] * n_stores,
            "postal_zip_cd": [f"{10000 + k}" for k in skeys],
            "prov_state_desc": [f"State{k % 12}" for k in skeys],
            "prov_state_cd": [f"S{k % 12}" for k in skeys],
            "store_type_cd": [f"T{k % 3}" for k in skeys],
            "store_type_desc": [f"Type {k % 3}" for k in skeys],
            "frnchs_flg": pa.array(rng.random(n_stores) < 0.3),
            "store_size": pa.array(_money(rng, 500.0, 5000.0, n_stores)),
            "market_key": pa.array(skeys % 10 + 1),
            "market_name": [f"Market{k % 10 + 1}" for k in skeys],
            "submarket_key": pa.array(skeys % 30 + 1),
            "submarket_name": [f"Submarket{k % 30 + 1}" for k in skeys],
            "latitude": pa.array(np.round(rng.uniform(25.0, 49.0, n_stores), 6)),
            "longitude": pa.array(np.round(rng.uniform(-124.0, -67.0, n_stores), 6)),
        }
    )
    pkeys = np.arange(1, n_products + 1, dtype=np.int32)
    product = pa.table(
        {
            "prod_key": pa.array(pkeys),
            "prod_name": [f"Product {k}" for k in pkeys],
            "vol": pa.array(_money(rng, 0.1, 5.0, n_products)),
            "wgt": pa.array(_money(rng, 0.1, 10.0, n_products)),
            "brand_name": [f"Brand{k % 40}" for k in pkeys],
            "status_code": pa.array(pkeys % 2),
            "status_code_name": ["active" if k % 2 else "inactive" for k in pkeys],
            "category_key": pa.array(pkeys % 12 + 1),
            "category_name": [f"Category{k % 12 + 1}" for k in pkeys],
            "subcategory_key": pa.array(pkeys % 60 + 1),
            "subcategory_name": [f"Subcategory{k % 60 + 1}" for k in pkeys],
        }
    )
    return {
        "store": store_t,
        "product": product,
        "calendar": calendar,
        "sales": sales,
        "inventory": inventory,
    }


def write_retail_csvs(
    out_dir: str, run_dates: list[str], seed: int, sales_rows: int
) -> dict[str, int]:
    """Write one extract per run date into ``out_dir``; returns the input
    bytes per table summed over dates. Every run date gets its own seeded
    draw (``seed`` plus the date's index)."""
    os.makedirs(out_dir, exist_ok=True)
    nbytes: dict[str, int] = dict.fromkeys(RETAIL_TABLES, 0)
    for i, run_date in enumerate(run_dates):
        datestr = run_date.replace("-", "")
        for name, table in retail_tables(seed * 1000 + i, sales_rows).items():
            path = os.path.join(out_dir, f"{name}_{datestr}.csv")
            pacsv.write_csv(table, path)
            nbytes[name] += os.path.getsize(path)
    return nbytes
