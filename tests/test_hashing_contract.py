"""The 60-bit identity contract of ``functions/hashing.py``.

``md5_int64`` is a non-negative 60-bit integer, and Spark's and
DuckDB's spellings of it agree on every input, including the ones the
tokenizer and the seeding treat specially. setjoin tokens, kmv counts
and minhash signatures are exact only while both hold.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import md5_int64, sql_md5_int64

STRINGS = [
    "",
    " ",
    "a",
    "the quick brown fox",
    "naïve café Ünïcödé",
    "中文 分词 测试",
    "emoji 🙂 and ß",
    "tab\tand\x0bvertical tab",
    "line\nbreak\r\n",
    "x" * 1000,
    "1|seeded-looking",
]
SEEDS = [None, 0, 1, 23, 7919]


def test_md5_int64_is_60_bit_and_matches_duckdb(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(STRINGS)], "i int, s string")
    spark_rows = df.select(
        "i", *[md5_int64(F.col("s"), seed).alias(f"h{k}") for k, seed in enumerate(SEEDS)]
    ).collect()
    got = {r["i"]: [r[f"h{k}"] for k in range(len(SEEDS))] for r in spark_rows}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(STRINGS)))
    cols = ", ".join(sql_md5_int64("s", seed) for seed in SEEDS)
    want = {row[0]: list(row[1:]) for row in con.execute(f"SELECT i, {cols} FROM t").fetchall()}

    assert got == want
    hashes = [h for row in got.values() for h in row]
    assert all(0 <= h < 1 << 60 for h in hashes)
    # distinct (string, seed) inputs hash apart on this fixed set
    assert len(set(hashes)) == len(STRINGS) * len(SEEDS)
