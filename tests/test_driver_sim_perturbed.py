"""Driver-sim on PERTURBED data: every __spark_entry__ gate re-checked
against its DuckDB oracle on a row-shuffled, row-subsampled copy of the
sf0.001 tables.

The fixed-table oracle runs (test_entry_contract, and the driver itself)
always see the same physical row order; a gate that silently depends on
input order or on how ties fall would still pass them. Shuffling every
table with a fixed seed and dropping a random ~15% of rows gives a THIRD
dataset where Spark and DuckDB still read identical bytes — so any
mismatch is a real order/tie-break dependence in the gate, not data
drift. Runs at sf0.001 to stay cheap (~2 min for all gates).
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SRC_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def perturbed_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("perturbed_sf")
    r = np.random.default_rng(20260820)
    for t in TABLES:
        src = f"{SRC_DIR}/{t}.parquet"
        if not os.path.exists(src):
            continue
        tbl = pq.read_table(src)
        n = tbl.num_rows
        keep = max(1, int(n * 0.85))
        idx = r.permutation(n)[:keep]
        pq.write_table(tbl.take(idx), str(root / f"{t}.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def ddb(perturbed_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{perturbed_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_gate_on_perturbed_data(spark, ddb, perturbed_dir, name):
    q = entrymod.queries()[name]
    osql = entrymod.oracle_sql()[name]
    df = q(spark, perturbed_dir)
    got = _normalize(df.toPandas())
    exp = _normalize(ddb.sql(osql).df())
    assert list(got.columns) == list(exp.columns), \
        f"{name}: columns {list(got.columns)} != {list(exp.columns)}"
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    for c in got.columns:
        a, e = got[c].to_numpy(), exp[c].to_numpy()
        bad = a != e
        assert not bad.any(), (
            f"{name}.{c}: {int(bad.sum())} mismatches; first: "
            f"{a[bad][:3]} != {e[bad][:3]}")
