"""Codec chain operators — the reference's signature transformation.

The STEDI pipeline's core trick is a nested decode chain over the Redis CDC
envelope (``sparkpykafkajoin.py:57,91-123``):

    kafka value:binary
      -> cast string                          (:57)
      -> from_json(envelope schema)           (:91)
      -> zSetEntries[0].element               (:97)
      -> unbase64 -> cast string              (:116)
      -> from_json(customer schema)           (:121)
      -> filter email/birthDay IS NOT NULL    (:127)
      -> split(birthDay,'-')[0] AS birthYear  (:131)

Everything here is Catalyst-native (zero Python UDFs — the reference's one
good performance property, preserved).  All functions below are pure
DataFrame->DataFrame and work identically on batch and streaming inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import CUSTOMER_WIRE_SCHEMA, REDIS_ENVELOPE_SCHEMA, STEDI_EVENT_WIRE_SCHEMA


def encode_customer_envelope(
    df: DataFrame, customer_cols: dict[str, Column], keep: tuple[str, ...] = ()
) -> DataFrame:
    """Inverse of the decode chain: wrap rows into the Redis CDC envelope
    (wire format documented in FIXTURES.md §1).  Used to synthesize
    fixture streams; also demonstrates ``base64``/``to_json`` (the encode
    side the reference imports but never calls, sparkpykafkajoin.py:2).

    ``keep`` names input columns to carry through alongside ``value``
    (e.g. a source timestamp for streaming wire synthesis).
    """
    doc = F.to_json(F.struct(*[v.alias(k) for k, v in customer_cols.items()]))
    return df.select(
        F.to_json(
            F.struct(
                F.base64(F.lit("Customer").cast("binary")).alias("key"),
                F.lit("NONE").alias("existType"),
                F.lit(False).alias("Ch"),
                F.lit(False).alias("Incr"),
                F.array(
                    F.struct(
                        F.base64(doc.cast("binary")).alias("element"),
                        F.lit("0.0").alias("score"),
                    )
                ).alias("zSetEntries"),
            )
        ).alias("value"),
        *keep,
    )


def decode_redis_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Envelope JSON -> customer rows: the P2/P3/P4/P5 chain.

    Equivalent of sparkpykafkajoin.py:91-123 on modern Spark: Catalyst's
    OptimizeJsonExprs + nested-schema pruning mean only ``zSetEntries`` is
    actually parsed out of the envelope at the physical level.
    """
    env = df.withColumn("env", F.from_json(F.col(value_col).cast("string"), REDIS_ENVELOPE_SCHEMA))
    # try_element_at: empty zSetEntries -> null row (filtered downstream),
    # matching the reference's Spark-2 non-ANSI `zSetEntries[0]` semantics —
    # plain element_at throws under Spark 4 ANSI mode.
    encoded = env.select(
        F.try_element_at("env.zSetEntries", F.lit(1)).getField("element").alias("encodedCustomer")
    )
    decoded = encoded.withColumn(
        "customer", F.from_json(F.unbase64("encodedCustomer").cast("string"), CUSTOMER_WIRE_SCHEMA)
    )
    return decoded.select("customer.*")


def customer_birth_year(df: DataFrame) -> DataFrame:
    """Null-rejecting filter + year derivation (sparkpykafkajoin.py:127,131).

    Keeps the reference's ``split(birthDay,'-')[0]`` semantics but emits it
    alongside the honest-typed ``year(to_date(...))`` form.
    """
    return df.filter(F.col("email").isNotNull() & F.col("birthDay").isNotNull()).select(
        "email",
        F.split("birthDay", "-").getItem(0).alias("birthYear"),
    )


def parse_stedi_events(df: DataFrame, value_col: str = "value") -> DataFrame:
    """stedi-events JSON -> (customer, score) — sparkpykafkajoin.py:146-178,
    with the honest double cast the engine adds (SURVEY.md §1.2)."""
    parsed = df.withColumn(
        "ev", F.from_json(F.col(value_col).cast("string"), STEDI_EVENT_WIRE_SCHEMA)
    )
    return parsed.select(
        F.col("ev.customer").alias("customer"),
        F.col("ev.score").cast("double").alias("score"),
        F.to_timestamp("ev.riskDate").alias("riskDate"),
    )


def serialize_risk_output(df: DataFrame) -> DataFrame:
    """Kafka sink projection (sparkpykafkajoin.py:202): key=email,
    value=JSON{customer, score, email, birthYear}."""
    return df.selectExpr(
        "cast(email as string) as key",
        "to_json(struct(customer, score, email, birthYear)) as value",
    )
