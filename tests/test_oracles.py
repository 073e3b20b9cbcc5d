"""Spark-vs-DuckDB oracle parity for every registered query, at
sf0.001 (fast). The driver runs the same comparison at sf0.01; this
test catches engine-divergence regressions (float policy, rounding,
column naming) inside `python -m pytest` itself."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from tools.check_oracles import TABLES, compare  # noqa: E402

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_tiny):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_tiny}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, sf_tiny, con):
    df = QUERIES[name](spark, sf_tiny)
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only contract
        return
    msg = compare(name, df, ORACLES[name], con)
    assert msg.startswith("PASS"), msg


def test_sim_quantize_int8_invariants(spark, sf_tiny):
    """|q| <= 127, the max-|v| element hits exactly +/-127, and the
    reconstruction error is bounded by scale/2."""
    from handprint_spark.operators.similarity import q_sim_quantize_int8

    rows = q_sim_quantize_int8(spark, sf_tiny).collect()
    assert rows
    for r in rows:
        assert r.n_clip >= 1  # the max element quantizes to the rail
        # both fields are rounded to 6 decimals -> 1e-6 slack
        assert r.max_recon_err <= r.scale / 2 + 1e-6


def test_sim_quantized_topk_close_to_exact(spark, sf_tiny):
    """Quantized search is an approximation of exact cosine top-k:
    at int8 resolution the two rankings must share most of the top-10
    (recall@10 >= 0.8 on the synthetic corpus) and every quantized
    score must sit within 2*max_recon_err-ish of the exact one."""
    from handprint_spark.operators.similarity import (
        q_sim_quantized_topk,
        q_sim_topk_bruteforce,
    )

    exact = {r.vec_id: r.cos for r in q_sim_topk_bruteforce(spark, sf_tiny).collect()}
    quant = {r.vec_id: r.qcos for r in q_sim_quantized_topk(spark, sf_tiny).collect()}
    assert len(quant) == 10
    overlap = len(set(exact) & set(quant))
    assert overlap >= 8, (sorted(exact), sorted(quant))
    for vid in set(exact) & set(quant):
        assert abs(exact[vid] - quant[vid]) < 0.05


def test_ta_hash_score_invariants(spark, sf_tiny, tmp_path):
    """Scores are bounded means of [-1, 1] weights, the verdict is the
    threshold, and identical texts get identical scores (the model is
    a pure function of content)."""
    import pandas as pd

    from handprint_spark.operators.text_analysis import q_ta_hash_score

    rows = q_ta_hash_score(spark, sf_tiny).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.hash_score <= 1.0
        assert r.keep == (r.hash_score > 0)
    # identical texts score identically; word order changes the bag
    # only through the mean, so a permutation scores the same too
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["red blue green", "red blue green", "green blue red", "teal"],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    planted = {r.doc_id: r.hash_score for r in q_ta_hash_score(spark, str(tmp_path)).collect()}
    assert planted[1] == planted[2] == planted[3]
    assert planted[4] != planted[1]
