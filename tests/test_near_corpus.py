"""The minhash/prefix-Jaccard near-duplicate corpus must be the same
rows in Spark and in its DuckDB oracle CTE at every scale: the 70%
truncation is an exact integer floor on both sides. At sf0.1, doc 420
(350 chars) keeps 245 characters; a double 0.7 would keep 244."""

import duckdb

from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.1"


def test_near_corpus_matches_oracle_cte(spark):
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite.textops import (
        _NEAR_CORPUS_SQL,
        _near_corpus,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {
        doc_id: (n, digest)
        for doc_id, n, digest in con.execute(
            f"SELECT doc_id, length(text), md5(text) FROM ({_NEAR_CORPUS_SQL})"
        ).fetchall()
    }
    con.close()
    got = {
        r[0]: (r[1], r[2])
        for r in _near_corpus(spark, SF)
        .select("doc_id", F.length("text"), F.md5("text"))
        .collect()
    }
    assert got == want
    assert got[100420][0] == 245


def test_near_dup_pairs_use_exact_truncation(spark):
    from city_payroll_data_pipeline_spark.suite.textops import (
        q_minhash_dedup_pairs,
        q_prefix_jaccard_pairs,
    )

    for q in (q_minhash_dedup_pairs, q_prefix_jaccard_pairs):
        (row,) = (
            q(spark, SF)
            .filter("doc_a = 420 AND doc_b = 100420")
            .select("jaccard")
            .collect()
        )
        assert round(row["jaccard"], 6) == round(41 / 62, 6), q.__name__
