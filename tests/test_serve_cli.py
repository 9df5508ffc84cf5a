"""Service wiring: settings → running HTTP server over a stored corpus."""

from __future__ import annotations

import urllib.request
import xml.etree.ElementTree as ET
from pathlib import Path

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark import serve
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies

NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
DATA = str(Path(__file__).resolve().parent / "data")


def test_build_app_and_serve(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fixture_studies(spark).write.parquet(corpus)
    args = serve.parse_args([
        "--corpus", corpus,
        "--port", "0",
        "--oai-set-sources-path", f"{DATA}/sources.yaml",
        "--oai-set-configurable-path", f"{DATA}/configurable.yaml",
        "--oai-pmh-list-size", "3",
        "--oai-pmh-list-size-oai-datacite", "2",
        "--oai-pmh-deleted-records", "transient",
    ])
    server = serve.build_app(args, spark=spark).start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/v0/oai?verb=Identify",
                timeout=60) as resp:
            el = ET.fromstring(resp.read().decode())
        assert el.find("./oai:Identify/oai:deletedRecord", NS).text == "transient"
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/v0/oai?verb=ListRecords"
                "&metadataPrefix=oai_datacite", timeout=60) as resp:
            el = ET.fromstring(resp.read().decode())
        assert len(el.findall("./oai:ListRecords/oai:record", NS)) == 2
    finally:
        server.stop()


def test_configurable_validated_at_startup(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fixture_studies(spark).write.parquet(corpus)
    bad = tmp_path / "bad.yaml"
    bad.write_text("name: n\nnodes: []\n")
    args = serve.parse_args(["--corpus", corpus, "--port", "0",
                             "--oai-set-configurable-path", str(bad)])
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.yaml_sets import (
        SetConfigError,
    )

    with pytest.raises(SetConfigError):
        serve.build_app(args, spark=spark)
