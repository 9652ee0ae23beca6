"""Boundary inputs for registry operators, each checked against its
registry oracle on DuckDB over the same hand-built parquet:

- sessionize_gaps at the 30-minute gap itself (1800.0 s stays in the
  session, 1800.5 s starts a new one);
- bpe_train_merges on a corpus with no adjacent character pair (no merge
  is learned, so the result is empty).
"""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from spark_sql_flow_plugin_spark.registry import oracle_sql, queries
from tools.check_oracle import norm_rows

_US = 1_000_000


def _spark_and_oracle(spark, sf_dir, name, table):
    """(columns, normalized rows) of the operator and of its oracle."""
    sdf = queries()[name](spark, sf_dir)
    s_rows = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    path = os.path.join(sf_dir, f"{table}.parquet")
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    rel = con.sql(oracle_sql()[name])
    d_rows = norm_rows(rel.columns, rel.fetchall())
    return (sorted(sdf.columns), s_rows), (sorted(rel.columns), d_rows)


def test_sessionize_gaps_exact_interval_boundary(spark, tmp_path):
    t0 = 1_700_000_000 * _US
    gap_exact = 1800 * _US  # not > 30 min: same session
    gap_over = 1800 * _US + _US // 2  # 1800.5 s: new session
    rows = [
        # (event_id, ts_us, user_id)
        (1, t0, 1),
        (2, t0 + gap_exact, 1),
        (3, t0 + gap_exact + gap_over, 1),
        (4, t0, 2),
        (5, t0 + gap_over, 2),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(tmp_path, "events.parquet"))

    got = queries()["sessionize_gaps"](spark, str(tmp_path)).collect()
    sizes = sorted((r.user_id, r.n_events) for r in got)
    assert sizes == [(1, 1), (1, 2), (2, 1), (2, 1)]
    spark_side, oracle_side = _spark_and_oracle(
        spark, str(tmp_path), "sessionize_gaps", "events"
    )
    assert spark_side == oracle_side


def test_bpe_train_merges_no_pair_is_empty(spark, tmp_path):
    texts = ["a b c", "1 2 x", "z"]  # single-character words only
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["web"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(tmp_path, "documents.parquet"))

    df = queries()["bpe_train_merges"](spark, str(tmp_path))
    assert df.schema.simpleString() == "struct<rank:int,pair:string,cnt:bigint>"
    spark_side, oracle_side = _spark_and_oracle(
        spark, str(tmp_path), "bpe_train_merges", "documents"
    )
    assert spark_side == oracle_side
    assert spark_side[1] == []
