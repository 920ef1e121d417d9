"""Replicates the round driver's correctness gate: every __spark_entry__
queries() entry must match its oracle_sql() twin on sf0.01 (row count,
schema width, and exact values, order-insensitive)."""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS",
                        "/root/testdata/sf0.01")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_entry_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    osql = entrymod.oracle_sql()[name]
    df = q(spark, SF_DIR)
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


def test_every_gate_has_an_oracle():
    """A gate without a DuckDB twin would pass on row counts alone."""
    assert entrymod.queries().keys() == entrymod.oracle_sql().keys()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == \
        ["qid", "rank", "doc_id", "score_q"]


def test_rotation_tail_policy():
    """Self-enforcing gate-rotation policy (round-4 ADVICE): the round
    driver oracle-checks only the FIRST 50 queries() entries, so any
    entry past position 50 must already be driver-verified green
    (rows + schema, no err) in at least THREE recorded rounds. This
    keeps a new or changed gate from ever being parked out of the
    driver's sight."""
    import glob
    import inspect
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = inspect.getsource(entrymod.queries)
    keys = re.findall(r'"([a-z0-9_]+)":\s', src)
    assert keys, "could not parse queries() ordering"
    assert len(keys) == len(set(keys)), "duplicate queries() keys"
    assert list(entrymod.queries().keys()) == keys
    tail = keys[50:]
    if not tail:
        return  # everything in-window; nothing to police
    rounds = []
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            rounds.append(json.load(fh))
    for gate in tail:
        greens = sum(
            1 for r in rounds
            if (e := r.get(gate)) is not None
            and e.get("rows_match") and e.get("schema_match")
            and not e.get("err"))
        assert greens >= 3, (
            f"tail gate {gate!r} has only {greens} green driver rounds; "
            "gates need >=3 before rotating past the 50-entry window")


def test_gate_cache_refuses_a_second_thread(spark):
    """The deferred gate-cache list belongs to the thread that runs the
    gates: a gate on another thread would release tables the owner's
    lazy result still reads, so it must raise instead."""
    import threading
    from candidategeneration_spark import entries
    entries._gate_cache(spark.range(3))  # this thread owns the list
    raised = []

    def other():
        try:
            entries._gate_cache(spark.range(3))
        except RuntimeError as e:
            raised.append(e)
    t = threading.Thread(target=other)
    t.start()
    t.join()
    assert raised and "owned by thread" in str(raised[0])
    entries._release_prior_gate_caches()
