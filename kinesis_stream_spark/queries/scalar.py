"""Scalar function surface (SURVEY.md §2.3 row 10): string / date / math /
array / map / json / conditional expressions.

The reference exposes no scalar functions at all — payloads are opaque bytes
decoded user-side (`Record.scala:15`, `examples/src/main/scala/Main.scala:22`
does `r.data.utf8String`); the JSON-decode queries here mirror exactly that
payload-decode pattern on the `events.props` column.

Everything stays JVM-side inside whole-stage codegen (built-in
`pyspark.sql.functions` only — no Python UDFs), so at 100 TB these are pure
map-stage expressions: no shuffle beyond an optional final sort, pushdown and
pruning apply to every scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


@_q(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_brand)                          AS brand_upper,
           LOWER(p_type)                           AS type_lower,
           SUBSTRING(p_name, 1, 12)                AS name_prefix,
           LENGTH(p_name)                          AS name_len,
           REPLACE(p_brand, 'Brand#', 'B')         AS brand_short,
           CONCAT_WS('|', p_brand, p_type)         AS brand_type,
           TRIM(CONCAT(' ', p_name, ' '))          AS name_trimmed,
           LPAD(CAST(p_size AS VARCHAR), 4, '0')   AS size_padded,
           REVERSE(p_brand)                        AS brand_rev,
           CONTAINS(p_type, 'BRUSHED')             AS is_brushed,
           STARTS_WITH(p_name, 'a')                AS starts_a
    FROM part
    ORDER BY p_partkey
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.col("p_type").contains("BRUSHED").alias("is_brushed"),
        F.col("p_name").startswith("a").alias("starts_a"),
    ).orderBy("p_partkey")


@_q(
    "scalar_regexp_funcs",
    """
    SELECT p_partkey,
           REGEXP_EXTRACT(p_type, '^([A-Z]+)', 1)        AS type_first_word,
           REGEXP_MATCHES(p_name, '^[ab]')               AS name_starts_ab,
           REGEXP_REPLACE(p_brand, '[0-9]+', '#', 'g')   AS brand_digits_masked,
           SPLIT_PART(p_type, ' ', 1)                    AS type_head
    FROM part
    ORDER BY p_partkey
    """,
)
def scalar_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family. DuckDB regexp_replace needs the 'g' flag to match
    Spark's replace-all default; split_part is 1-indexed in both."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_first_word"),
        F.col("p_name").rlike(r"^[ab]").alias("name_starts_ab"),
        F.regexp_replace("p_brand", r"[0-9]+", "#").alias("brand_digits_masked"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    ).orderBy("p_partkey")


@_q(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           EXTRACT(YEAR FROM o_orderdate)                 AS order_year,
           EXTRACT(MONTH FROM o_orderdate)                AS order_month,
           EXTRACT(DAY FROM o_orderdate)                  AS order_day,
           EXTRACT(HOUR FROM o_orderdate)                 AS order_hour,
           DATE_TRUNC('month', o_orderdate)               AS month_start,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           o_orderdate + INTERVAL 30 DAY                  AS due_date,
           DATE_DIFF('day', TIMESTAMP '1998-01-01', o_orderdate) AS days_since_98,
           CAST(EPOCH(o_orderdate) AS BIGINT)             AS epoch_s,
           STRFTIME(o_orderdate, '%Y-%m-%d')              AS iso_day
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.hour("o_orderdate").alias("order_hour"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        # DATE columns canonicalize differently per engine/pandas; emit
        # timestamps (midnight) so the value hash is representation-stable
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1998-01-01").cast("date")).alias(
            "days_since_98"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    ).orderBy("o_orderkey")


@_q(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05)                          AS disc_dev,
           CAST(FLOOR(l_extendedprice) AS BIGINT)          AS price_floor,
           CAST(CEIL(l_quantity) AS BIGINT)                AS qty_ceil,
           SQRT(l_extendedprice)                           AS price_sqrt,
           CAST(ROUND(CAST(LN(l_extendedprice + 1) AS DECIMAL(18,12)), 9) AS DOUBLE)
                                                           AS price_ln,
           POWER(l_quantity, 2)                            AS qty_sq,
           MOD(CAST(l_orderkey AS BIGINT), 7)              AS key_mod7,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS price_round2,
           CAST(SIGN(l_discount - 0.05) AS INTEGER)        AS disc_sign,
           GREATEST(l_tax, l_discount)                     AS max_rate,
           LEAST(l_tax, l_discount)                        AS min_rate
    FROM lineitem
    WHERE l_orderkey < 1000
    ORDER BY l_orderkey, l_linenumber
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. ROUND goes through DECIMAL so both engines round the
    same decimal value (HALF_UP) instead of each rounding a raw double."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        # sqrt is IEEE-754 correctly rounded (identical across engines);
        # ln is NOT — libm implementations differ in the last ulp, so it
        # is decimal-rounded to 9 places on both sides
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1).cast("decimal(18,12)"), 9)
        .cast("double")
        .alias("price_ln"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.round(F.col("l_extendedprice").cast("decimal(18,4)"), 2)
        .cast("double")
        .alias("price_round2"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    ).orderBy("l_orderkey", "l_linenumber")


@_q(
    "scalar_array_funcs",
    """
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' '))                       AS n_tokens,
           LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark')    AS has_spark,
           STRING_SPLIT(text, ' ')[1]                         AS first_token,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(lang || ' ' || source, ' '))), ',')
                                                              AS meta_sorted
    FROM documents
    ORDER BY doc_id
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over tokenized text (split/size/contains/element/sort).

    Arrays are compared through scalar projections (count, membership,
    join-back-to-string) so the oracle hash is type-stable across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.concat_ws(" ", "lang", "source"), " "))), ","
        ).alias("meta_sorted"),
    ).orderBy("doc_id")


@_q(
    "scalar_json_funcs",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INTEGER) AS k_value,
           CAST(props->>'$.k' AS INTEGER) % 10 AS k_bucket
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode — the Spark analog of the reference's opaque
    payload pattern (`Record.scala:15` ByteString data; users decode).
    `from_json` parses into a typed struct; `get_json_object` does path
    extraction without full parse."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    schema = StructType([StructField("k", IntegerType())])
    parsed = F.from_json(F.col("props"), schema)
    return ev.select(
        "event_id",
        parsed["k"].alias("k_value"),
        (parsed["k"] % 10).alias("k_bucket"),
    ).orderBy("event_id")


@_q(
    "scalar_conditional_funcs",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END                    AS bal_tier,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_or_default,
           IF(c_nationkey < 12, 'west', 'east')    AS hemisphere,
           CAST(c_acctbal > 0 AS INTEGER)          AS is_positive
    FROM customer
    ORDER BY c_custkey
    """,
)
def scalar_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_tier"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("DEFAULT")).alias(
            "seg_or_default"
        ),
        F.when(F.col("c_nationkey") < 12, "west").otherwise("east").alias("hemisphere"),
        (F.col("c_acctbal") > 0).cast("int").alias("is_positive"),
    ).orderBy("c_custkey")


@_q(
    "scalar_hash_funcs",
    """
    SELECT doc_id,
           MD5(text)                 AS text_md5,
           SHA256(text)              AS text_sha256,
           CAST(LENGTH(TO_BASE64(ENCODE(substr(text, 1, 30)))) AS INTEGER) AS b64_len
    FROM documents
    ORDER BY doc_id
    """,
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hashing (content fingerprints for dedup keys).
    md5/sha2 are standardized, so both engines agree byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.length(F.base64(F.encode(F.substring("text", 1, 30), "UTF-8"))).alias("b64_len"),
    ).orderBy("doc_id")


@_q(
    "scalar_higher_order_funcs",
    """
    SELECT vec_id,
           LEN(LIST_FILTER(embedding, x -> x > 0))                       AS n_positive,
           LIST_REDUCE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
                       (a, b) -> a + b) AS sum_elems,
           CAST(LIST_MAX(embedding) AS DOUBLE)                           AS max_elem
    FROM embeddings
    ORDER BY vec_id
    """,
)
def scalar_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambdas on array<float> (filter/transform/aggregate) —
    the JVM-side primitives the similarity operators build on. Sum runs in
    DECIMAL so element order can't perturb the double hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        # sequential left fold of float→double promotions: both engines
        # execute the same IEEE add chain over the same element order, so
        # the result is bit-identical without decimal detours (engines
        # decimalize float32 differently, so DECIMAL is NOT safe here)
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        ).alias("sum_elems"),
        F.array_max("embedding").cast("double").alias("max_elem"),
    ).orderBy("vec_id")


@_q(
    "scalar_map_funcs",
    """
    WITH m AS (
      SELECT p_partkey,
             MAP {'brand': p_brand, 'type': p_type, 'name': p_name} AS meta
      FROM part
    )
    SELECT p_partkey,
           meta['brand'][1] AS brand_val,
           CAST(CARDINALITY(meta) AS BIGINT) AS n_entries,
           ARRAY_TO_STRING(MAP_KEYS(meta), ',') AS keys_joined,
           ARRAY_TO_STRING(MAP_VALUES(meta), ',') AS vals_joined,
           LIST_CONTAINS(MAP_KEYS(meta), 'type') AS has_type,
           meta['size'][1] AS missing_val
    FROM m
    ORDER BY p_partkey
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions: construction (create_map), lookup (present and
    missing keys — try_element_at, since ANSI element_at throws on
    misses), cardinality, key/value extraction, membership. Map columns
    themselves never cross the oracle boundary (engines render map
    values differently) — every output is projected to scalars/strings,
    insertion order preserved identically by both engines."""
    part = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("type"), F.col("p_type"),
        F.lit("name"), F.col("p_name"),
    )
    return (
        part.select("p_partkey", m.alias("meta"))
        .select(
            "p_partkey",
            F.try_element_at("meta", F.lit("brand")).alias("brand_val"),
            F.size("meta").cast("long").alias("n_entries"),
            F.concat_ws(",", F.map_keys("meta")).alias("keys_joined"),
            F.concat_ws(",", F.map_values("meta")).alias("vals_joined"),
            F.array_contains(F.map_keys("meta"), "type").alias("has_type"),
            F.try_element_at("meta", F.lit("size")).alias("missing_val"),
        )
        .orderBy("p_partkey")
    )


@_q(
    "scalar_bitwise_funcs",
    """
    SELECT p_partkey,
           p_size & 12                           AS b_and,
           p_size | 5                            AS b_or,
           XOR(p_size, 9)                        AS b_xor,
           p_size << 2                           AS b_shl,
           p_size >> 1                           AS b_shr,
           BIT_COUNT(p_size)                     AS b_popcount,
           ~p_size                               AS b_not
    FROM part
    ORDER BY p_partkey
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression family (&, |, xor, shifts, popcount, not) —
    the bit-packing toolkit the SimHash/blocking operators build on,
    exercised as first-class scalar surface. Integer-only: identical on
    any engine, pure codegen map stage."""
    part = load_table(spark, sf_dir, "part")
    sz = F.col("p_size")
    return part.select(
        "p_partkey",
        sz.bitwiseAND(F.lit(12)).alias("b_and"),
        sz.bitwiseOR(F.lit(5)).alias("b_or"),
        sz.bitwiseXOR(F.lit(9)).alias("b_xor"),
        F.shiftleft(sz, 2).alias("b_shl"),
        F.shiftright(sz, 1).alias("b_shr"),
        F.bit_count(sz).alias("b_popcount"),
        F.bitwise_not(sz).alias("b_not"),
    ).orderBy("p_partkey")
