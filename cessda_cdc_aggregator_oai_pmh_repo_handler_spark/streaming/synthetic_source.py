"""Synthetic continuous harvest source (BASELINE.json: "Structured
Streaming + custom source").

Spark's rate source provides the unbounded driver; a pure-Column transform
turns each (timestamp, value) row into a deterministic harvest event —
rotating publishers, multilingual titles, periodic re-harvests of earlier
identifiers (upserts) and periodic deletes — so the full ingest pipeline
(newer-harvest-wins merge → tombstones) runs continuously without any
external endpoint. Swapping the rate source for a real OAI-PMH poller
changes only this module; the event schema and merge are identical
(``harvester.parse_list_records`` produces the same rows from real XML).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.studies import FSD_URL, GESIS_URL, STUDY_DDL, studies_schema

DELETE_EVERY = 10   # every 10th event is a delete of an earlier record
REHARVEST_MOD = 7   # identifier space wraps so ids get re-harvested


def _null_typed(name: str, ddl: str) -> F.Column:
    return F.lit(None).cast(ddl).alias(name)


def events_from_rate(rate: DataFrame) -> DataFrame:
    """(timestamp, value) → harvest-event rows (studies schema + action +
    harvest_ts), all JVM-side Column expressions."""
    v = F.col("value")
    ident = F.concat(F.lit("synth_"), (v % REHARVEST_MOD).cast("string"))
    publisher = F.when(v % 2 == 0, FSD_URL).otherwise(GESIS_URL)
    lang = F.when(v % 3 == 0, "en").when(v % 3 == 1, "fi").otherwise("sv")
    action = F.when(v % DELETE_EVERY == DELETE_EVERY - 1, "delete").otherwise("upsert")

    provided = {
        "aggregator_identifier": ident,
        "study_number": F.concat(F.lit("num_"), v.cast("string")),
        "provenance": F.array(
            F.struct(
                F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("harvest_date"),
                F.lit(True).alias("altered"),
                publisher.alias("base_url"),
                F.concat(F.lit("oai:synth:"), ident).alias("identifier"),
                F.date_format("timestamp", "yyyy-MM-dd").alias("datestamp"),
                F.lit(True).alias("direct"),
                F.lit("ddi:codebook:2_5").alias("metadata_namespace"),
            )
        ),
        "study_titles": F.array(
            F.struct(
                F.concat(F.lit("Synthetic study "), ident).alias("value"),
                lang.alias("language"),
            )
        ),
        "identifiers": F.array(
            F.struct(
                F.concat(F.lit("doi:10.5000/"), ident).alias("value"),
                F.lit("en").alias("language"),
                F.lit("DOI").alias("agency"),
            )
        ),
    }
    schema = studies_schema()
    cols = [
        provided[name].cast(schema[name].dataType).alias(name)
        if name in provided else _null_typed(name, ddl)
        for name, ddl in STUDY_DDL
    ]
    cols.append(action.alias("action"))
    cols.append(F.col("timestamp").cast("timestamp").alias("harvest_ts"))
    return rate.select(*cols)


def synthetic_harvest_stream(spark: SparkSession, rows_per_batch: int = 20) -> DataFrame:
    """Deterministic microbatches via rate-micro-batch (value sequence is
    reproducible, unlike the wall-clock rate source)."""
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .load()
    )
    return events_from_rate(rate)
