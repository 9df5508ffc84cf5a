"""Seeded inputs for the benchmark, and the pure-Python model of what the
program must answer for them.

Every per-record property is a closed-form function of (seed, record
number) that both Spark (while writing the corpus) and numpy (while
building the model) evaluate with the same 64-bit integer arithmetic, so
the model never reads the generated files back. Record ``k`` is built
from one of the eight ``sources.studies.fixture_records()`` templates and
keeps that template's shape (deleted, non-OpenAIRE ids, no ids, NULL
status, NULL direct base URL, ...), so the templates' deleted share (1/8)
carries over.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

N_PUBLISHERS = 20
LANGS = ("en", "fi", "sv", "de")
EPOCH_2015 = 1420070400          # 2015-01-01T00:00:00Z
SPAN_S = 3650 * 86400            # updated dates spread over ten years
DELETE_LAG_S = 3600              # deleted ts = updated + 1 h
_MUL = 2654435761                # Knuth's multiplicative hash
_MOD = 4294967291                # largest prime below 2**32

# fixture template index → shape (agg_id_1 .. agg_id_8)
T_DELETED = 1                    # status deleted, no ids, no titles
T_SINGLE_TITLE = 3               # one title
T_NULL_BASE = 5                  # direct hop without base_url
DATACITE_VALID = (0, 3, 5, 6, 7)  # templates with an OpenAIRE-type id


def publisher_url(p: int) -> str:
    return f"https://pub{p:02d}.example.org/oai"


def record_id(k: int) -> str:
    return f"agg_{k:08d}"


def _h(k, salt: int):
    """Seeded hash of record number ``k`` (int or int64 array)."""
    return ((k + salt) * _MUL) % _MOD


def _salts(seed: int) -> dict[str, int]:
    return {name: 1 + (seed * 1000003 + i * 7919) % 1000000007
            for i, name in enumerate(("tpl", "pub", "lang", "upd"))}


# --- model -----------------------------------------------------------------

class CorpusModel:
    """Expected per-record state of a generated corpus, as numpy arrays
    indexed by record number (which is also key order)."""

    def __init__(self, n: int, seed: int):
        s = _salts(seed)
        k = np.arange(n, dtype=np.int64)
        self.n = n
        self.tpl = _h(k, s["tpl"]) % 8
        self.pub = _h(k, s["pub"]) % N_PUBLISHERS
        self.lang_a = _h(k, s["lang"]) % len(LANGS)
        self.updated = EPOCH_2015 + _h(k, s["upd"]) % SPAN_S
        self.deleted = self.tpl == T_DELETED
        self.has_titles = ~self.deleted
        self.two_titles = self.has_titles & (self.tpl != T_SINGLE_TITLE)
        self.datestamp = self.updated + np.where(self.deleted, DELETE_LAG_S, 0)
        self.datacite_valid = np.isin(self.tpl, DATACITE_VALID)
        self.has_publisher = self.tpl != T_NULL_BASE

    def has_lang(self, lang: str) -> np.ndarray:
        li = LANGS.index(lang)
        return self.has_titles & (
            (self.lang_a == li)
            | (self.two_titles & ((self.lang_a + 1) % len(LANGS) == li)))

    def list_mask(self, prefix: str, lang: str | None = None,
                  from_s: int | None = None,
                  until_s: int | None = None) -> np.ndarray:
        m = np.ones(self.n, dtype=bool)
        if prefix == "oai_datacite":
            m &= self.datacite_valid
        if lang is not None:
            m &= self.has_lang(lang)
        if from_s is not None:
            m &= self.datestamp >= from_s
        if until_s is not None:
            m &= self.datestamp <= until_s
        return m

    def metrics(self) -> dict:
        pubs = self.pub[self.has_publisher]
        live = ~self.deleted[self.has_publisher]
        counts = np.bincount(pubs, minlength=N_PUBLISHERS)
        live_counts = np.bincount(pubs[live], minlength=N_PUBLISHERS)
        return {
            "records_total": self.n,
            "records_total_without_deleted": int((~self.deleted).sum()),
            "publishers_total": int((counts > 0).sum()),
            "publishers_counts": {publisher_url(p): int(c)
                                  for p, c in enumerate(counts) if c},
            "publishers_counts_without_deleted": {
                publisher_url(p): int(live_counts[p])
                for p in range(N_PUBLISHERS) if counts[p]},
        }

    def earliest_datestamp(self) -> int:
        return int(self.datestamp.min())

    def languages(self) -> set[str]:
        return {lang for lang in LANGS if self.has_lang(lang).any()}

    def get_record_outcome(self, k: int, prefix: str) -> str:
        """'record', 'deleted' or 'idDoesNotExist' for an existing key."""
        if self.deleted[k]:
            return "deleted"
        if prefix == "oai_datacite" and not self.datacite_valid[k]:
            return "idDoesNotExist"   # F1: no OpenAIRE-type identifier
        return "record"


def oai_ts(epoch_s: int) -> str:
    return _dt.datetime.fromtimestamp(int(epoch_s), _dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


# --- corpus ----------------------------------------------------------------

def _templates(spark):
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
        fixture_records, studies_schema,
    )

    rows = fixture_records()
    df = spark.createDataFrame(rows, schema=studies_schema())
    tpl_of = {r["aggregator_identifier"]: i for i, r in enumerate(rows)}
    mapping = F.create_map(*[F.lit(x) for kv in tpl_of.items() for x in kv])
    return df.withColumn("tpl", mapping[F.col("aggregator_identifier")])


def corpus_df(spark, ids, seed: int, title_prefix="Title of",
              always_titled: bool = False, extra: tuple = ()):
    """Studies-schema rows for the record numbers in column ``id`` of
    ``ids``, plus the ``extra`` columns of ``ids``. ``title_prefix`` is a
    string or a column of ``ids``; ``always_titled`` gives the deleted
    template titles too (the ingest events, whose updates must show in
    every record)."""
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
        STUDY_DDL,
    )

    s = _salts(seed)
    k = F.col("id")

    def h(salt):
        return ((k + F.lit(salt)) * F.lit(_MUL)) % F.lit(_MOD)

    if isinstance(title_prefix, str):
        title_prefix = F.lit(title_prefix)
    ids = ids.select(
        k, *extra, title_prefix.alias("_prefix"),
        (h(s["tpl"]) % 8).cast("int").alias("tpl"),
        (h(s["pub"]) % N_PUBLISHERS).cast("int").alias("pub"),
        (h(s["lang"]) % len(LANGS)).cast("int").alias("lang_a"),
        (F.lit(EPOCH_2015) + h(s["upd"]) % SPAN_S).alias("upd_s"))
    tpl = _templates(spark)
    df = ids.join(F.broadcast(tpl), "tpl")
    agg = F.concat(F.lit("agg_"), F.lpad(k.cast("string"), 8, "0"))
    url = F.concat(F.lit("https://pub"), F.lpad(F.col("pub").cast("string"), 2, "0"),
                   F.lit(".example.org/oai"))
    langs = F.array(*[F.lit(x) for x in LANGS])
    lang_a = F.element_at(langs, F.col("lang_a") + 1)
    lang_b = F.element_at(langs, (F.col("lang_a") + 1) % len(LANGS) + 1)
    updated = F.timestamp_seconds(F.col("upd_s"))
    deleted = F.col("tpl") == T_DELETED
    title_a = F.struct(F.concat(F.col("_prefix"), F.lit(" "), agg).alias("value"),
                       lang_a.alias("language"))
    title_b = F.struct(F.concat(F.lit("Otsikko "), agg).alias("value"),
                       lang_b.alias("language"))
    cols = {
        "aggregator_identifier": agg,
        "study_number": F.concat(F.lit("study_"), agg),
        "metadata": F.struct(
            F.col("metadata.status").alias("status"),
            F.col("metadata.created").alias("created"),
            updated.alias("updated"),
            F.when(deleted, F.timestamp_seconds(F.col("upd_s") + DELETE_LAG_S))
            .alias("deleted")),
        "provenance": F.transform(
            "provenance",
            lambda p: F.when(p["direct"] & p["base_url"].isNotNull(),
                             p.withField("base_url", url)
                             .withField("identifier", F.concat(F.lit("oai:"), agg)))
            .otherwise(p)),
        "direct_base_url": F.when(F.col("direct_base_url").isNotNull(), url),
        "identifiers": F.transform(
            "identifiers",
            lambda i: i.withField("value", F.concat(i["value"], F.lit("/"), agg))),
        "study_titles": F.when(deleted & F.lit(not always_titled),
                           F.col("study_titles"))
        .when(F.col("tpl") == T_SINGLE_TITLE, F.array(title_a))
        .otherwise(F.array(title_a, title_b)),
        "abstracts": F.transform(
            "abstracts",
            lambda a: a.withField("value", F.concat(F.lit("Abstract of "), agg))),
    }
    return df.select(*[cols.get(name, F.col(name)).alias(name)
                       for name, _ in STUDY_DDL], *extra)


def write_corpus(spark, path: str, n: int, seed: int, files: int = 8) -> None:
    corpus_df(spark, spark.range(n), seed).repartition(files).write.mode(
        "overwrite").parquet(path)


def write_sources_yaml(path: str) -> None:
    with open(path, "w") as f:
        for p in range(N_PUBLISHERS):
            f.write(f"- url: '{publisher_url(p)}'\n  source: 'PUB{p:02d}'\n"
                    f"  setname: 'Publisher {p:02d}'\n")
