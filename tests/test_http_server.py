"""HTTP tier: OAI verbs and /metrics over a real socket (the reference's
AsyncHTTPTestCase layer, /root/reference/tests/test_serve.py)."""

from __future__ import annotations

import urllib.request
import xml.etree.ElementTree as ET
from pathlib import Path

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.server import OAIHTTPServer
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import OAIQueryPlanner
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import yaml_sets
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies

NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
DATA = str(Path(__file__).resolve().parent / "data")


@pytest.fixture(scope="module")
def server(spark):
    planner = OAIQueryPlanner(
        fixture_studies(spark),
        source_defs=yaml_sets.load_source_defs(f"{DATA}/sources.yaml"),
        configurable_path=f"{DATA}/configurable.yaml",
        page_size=3,
    )
    srv = OAIHTTPServer(OAIFacade(planner), port=0).start()
    yield srv
    srv.stop()


def fetch(server, path, ua="pytest-harvester"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}", headers={"User-Agent": ua})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, resp.headers.get("Content-Type"), resp.read().decode()


def test_identify_over_http(server):
    status, ctype, body = fetch(server, "/v0/oai?verb=Identify")
    assert status == 200 and ctype.startswith("text/xml")
    el = ET.fromstring(body)
    assert el.find("./oai:Identify/oai:protocolVersion", NS).text == "2.0"


def test_full_harvest_over_http(server):
    status, _, body = fetch(server, "/v0/oai?verb=ListRecords&metadataPrefix=oai_dc")
    seen = []
    while True:
        el = ET.fromstring(body)
        recs = el.findall("./oai:ListRecords/oai:record", NS)
        seen += [r.find("./oai:header/oai:identifier", NS).text for r in recs]
        tok = el.find("./oai:ListRecords/oai:resumptionToken", NS)
        if tok is None or not tok.text:
            break
        status, _, body = fetch(
            server, f"/v0/oai?verb=ListRecords&resumptionToken={tok.text}")
    assert seen == [f"agg_id_{i}" for i in range(1, 9)]


def test_missing_verb_is_oai_error_http_200(server):
    status, _, body = fetch(server, "/v0/oai")
    assert status == 200  # protocol errors are HTTP 200 (reference behavior)
    assert ET.fromstring(body).find("./oai:error", NS).get("code") == "badVerb"


def test_metrics_endpoint(server):
    fetch(server, "/v0/oai?verb=Identify")  # ensure ≥1 request recorded
    status, ctype, body = fetch(server, "/metrics")
    assert status == 200 and ctype.startswith("text/plain")
    lines = body.splitlines()
    assert "records_total 8.0" in lines
    assert any(l.startswith('publishers_counts{publisher="http://services.fsd') for l in lines)
    assert any(l.startswith("requests_total") for l in lines)
    assert any('requests_per_user_agent{harvester="pytest-harvester"}' in l for l in lines)


def test_unknown_path_404(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as exc:
        fetch(server, "/nope")
    assert exc.value.code == 404
