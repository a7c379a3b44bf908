"""Explicit schemas — the engine's schema system is fixed/explicit, like
the reference's (`StructType(Array(StructField(...)))`, no inference).

Reference citations:
- TWEET_SCHEMA     <- schema_indicateurs, IndicateursStreaming.scala:14-30
- ZIPCODE_SCHEMA   <- schema_Kafka, ConsommationStreaming.scala:26-31
- ORDERLINE_SCHEMA <- producer JSON, ProducerKafa_Prod.scala:76-86
- INVOICE_SCHEMA   <- spooldir-kafka-connect-source.properties:17-18
- KAFKA_ENVELOPE   <- record fields consumed at KafkaStreaming.scala:123-127
- EVENT_PROPS_SCHEMA <- driver fixture `events.props` JSON payload
- FIXTURE_SCHEMAS  <- the ten parquet fixture tables (TESTDATA.md),
  read by ``catalog.load_table``; every field nullable, as a parquet
  scan reports it
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TWEET_SCHEMA = StructType(
    [
        StructField("event_date", DateType(), True),
        StructField("id", StringType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("userid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("screenName", StringType(), True),
        StructField("location", StringType(), True),
        StructField("followersCount", IntegerType(), False),
        StructField("retweetCount", IntegerType(), False),
        StructField("favoriteCount", IntegerType(), False),
        StructField("Zipcode", StringType(), True),
        StructField("ZipCodeType", StringType(), True),
        StructField("City", StringType(), True),
        StructField("State", StringType(), True),
    ]
)

ZIPCODE_SCHEMA = StructType(
    [
        StructField("Zipcode", IntegerType(), True),
        StructField("ZipCodeType", StringType(), True),
        StructField("City", StringType(), True),
        StructField("State", StringType(), True),
    ]
)

ORDERLINE_SCHEMA = StructType(
    [
        StructField("orderid", StringType(), True),
        StructField("customerid", StringType(), True),
        StructField("campaignid", StringType(), True),
        StructField("orderdate", StringType(), True),  # dd/MM/yyyy
        StructField("city", StringType(), True),
        StructField("state", StringType(), True),
        StructField("zipcode", StringType(), True),
        StructField("paymenttype", StringType(), True),
        StructField("totalprice", IntegerType(), True),
        StructField("numorderlines", IntegerType(), True),
        StructField("numunit", IntegerType(), True),
    ]
)

INVOICE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("InvoiceNo", StringType(), True),
        StructField("StockCode", StringType(), True),
        StructField("Description", StringType(), True),
        StructField("Quantity", StringType(), True),
        StructField("InvoiceDate", StringType(), True),
        StructField("UnitPrice", StringType(), True),
        StructField("CustomerID", StringType(), True),
        StructField("Country", StringType(), True),
        StructField("InvoiceTimestamp", TimestampType(), True),
    ]
)

KAFKA_ENVELOPE = StructType(
    [
        StructField("key", StringType(), True),
        StructField("value", StringType(), True),
        StructField("topic", StringType(), True),
        StructField("partition", IntegerType(), True),
        StructField("offset", LongType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)

EVENT_PROPS_SCHEMA = StructType([StructField("k", IntegerType(), True)])


def _nullable(ddl: str) -> StructType:
    """``"name type, ..."`` with every field nullable."""
    kinds = {
        "int": IntegerType(),
        "long": LongType(),
        "double": DoubleType(),
        "string": StringType(),
        "timestamp_ntz": TimestampNTZType(),
        "array<float>": ArrayType(FloatType(), True),
    }
    return StructType(
        [
            StructField(name, kinds[kind], True)
            for name, kind in (f.strip().split(" ", 1) for f in ddl.split(","))
        ]
    )


FIXTURE_SCHEMAS = {
    "region": _nullable("r_regionkey int, r_name string"),
    "nation": _nullable("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _nullable(
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": _nullable(
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": _nullable(
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ),
    "orders": _nullable(
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz,"
        " o_orderpriority string"
    ),
    "lineitem": _nullable(
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp_ntz"
    ),
    "events": _nullable(
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string"
    ),
    "documents": _nullable(
        "doc_id long, text string, lang string, source string, n_chars long"
    ),
    "embeddings": _nullable(
        "vec_id long, embedding array<float>, label int"
    ),
}
