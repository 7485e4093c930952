"""Seeded inputs: the same seed writes the same bytes, another seed does not."""

import filecmp
import os

import datagen


def _write(tmp_path, name, seed):
    out = os.path.join(tmp_path, name)
    datagen.write_retail_csvs(out, ["2024-02-05"], seed, sales_rows=2_000)
    return out


def _same(a, b):
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_same_bytes(tmp_path):
    assert _same(_write(tmp_path, "a", 7), _write(tmp_path, "b", 7))


def test_other_seed_other_bytes(tmp_path):
    a, b = _write(tmp_path, "a", 7), _write(tmp_path, "b", 8)
    assert not filecmp.cmp(
        os.path.join(a, "sales_20240205.csv"),
        os.path.join(b, "sales_20240205.csv"),
        shallow=False,
    )


def test_retail_extract_layout(tmp_path):
    out = _write(tmp_path, "a", 7)
    assert sorted(os.listdir(out)) == sorted(
        f"{t}_20240205.csv" for t in datagen.RETAIL_TABLES
    )


def test_inventory_one_row_per_key():
    inv = datagen.retail_tables(3, sales_rows=5_000)["inventory"].to_pydict()
    keys = list(zip(inv["cal_dt"], inv["store_key"], inv["prod_key"]))
    assert len(keys) == len(set(keys))

