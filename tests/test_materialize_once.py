"""The materialize-once session cache behind dedup_ngram_jaccard,
sim_ann_topk and dedup_embedding_neardup: a hit returns the same
DataFrame, and a table rewritten under the same path is a miss."""

import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from eynollah_spark.queries import registry

SRC = "/root/testdata/sf0.001/documents.parquet"


def _rows(df):
    return sorted((r["doc_a"], r["doc_b"], r["n_bands"], round(r["jaccard"], 6))
                  for r in df)


def _duck_rows(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    cur = con.sql(registry()["dedup_ngram_jaccard"]["duck_sql"])
    return _rows(dict(zip(cur.columns, t)) for t in cur.fetchall())


def test_ngram_jaccard_cache_follows_rewritten_input(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = tmp_path / "documents.parquet"
    shutil.copy(SRC, path)
    fn = registry()["dedup_ngram_jaccard"]["spark_fn"]

    first = fn(spark, sf_dir)
    rows1 = _rows(first.collect())
    assert rows1 == _duck_rows(sf_dir)
    # unchanged input: the cached DataFrame object itself comes back
    assert fn(spark, sf_dir) is first

    # rewrite the table in place with a different subset of its rows
    t = pq.read_table(SRC)
    pq.write_table(t.filter(pc.less(t["doc_id"], 250)), path)
    second = fn(spark, sf_dir)
    assert second is not first
    rows2 = _rows(second.collect())
    assert rows2 == _duck_rows(sf_dir)
    assert rows2 != rows1
    assert fn(spark, sf_dir) is second
