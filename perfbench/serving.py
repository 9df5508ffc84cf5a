"""The ``point_requests`` workload, driven over real HTTP against
``serve.build_app``.

Independent users send a fixed cycle of requests over all OAI verbs and
``/metrics`` in an open loop at one fixed rate; latency is timed from
each request's due time. Resumed ListRecords pages use tokens minted
during set-up.
"""

from __future__ import annotations

import itertools
import os
import queue
import random
import threading
import time
import urllib.parse
import xml.etree.ElementTree as ET

import gen
from harness import CPUS, Checks, Clock, fetch, iqm, median_metric, metric, \
    percentile_metric, settle
from tracing import RID_HEADER

NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
OAI = "/v0/oai"

POINT_RECORDS = 20_000
POINT_RATE = 1.5               # requests per second, open loop: about half
                               # the ~3 requests/s the server completes
POINT_LIMIT_MS = 4000.0        # stated p95 latency limit at POINT_RATE
MINT_PAGES = 1                 # pages walked per harvester to mint tokens
# One cycle of the request mix, (kind, variant) → count. Every cycle holds
# the same mix in one fixed order, so runs differ only in what the seed
# draws (corpus, keys, date windows), not in the mix.
POINT_MIX = {("GetRecord", "oai_dc"): 3, ("GetRecord", "oai_ddi25"): 2,
             ("GetRecord", "oai_datacite"): 2, ("GetRecord", "unknown"): 1,
             ("Identify", None): 2, ("ListSets", None): 1,
             ("ListMetadataFormats", None): 1,
             ("ListMetadataFormats", "unknown"): 1, ("metrics", None): 2,
             ("ListIdentifiers", None): 3, ("ListRecords", None): 3,
             ("malformed", None): 1}
RESUMED_PER_CYCLE = POINT_MIX[("ListRecords", None)]
CORPUS_FILES = 8
DAY = 86400


class Server:
    """Generated corpus + sources YAML + the app from ``serve.build_app``."""

    def __init__(self, spark, work: str, n: int, seed: int, tracer=None):
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark import serve

        t0 = time.perf_counter()
        corpus = os.path.join(work, "corpus")
        sources = os.path.join(work, "sources.yaml")
        gen.write_corpus(spark, corpus, n, seed, files=CORPUS_FILES)
        gen.write_sources_yaml(sources)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.install_serving()
        args = serve.parse_args(["--corpus", corpus, "--port", "0",
                                 "--oai-set-sources-path", sources])
        self.app = serve.build_app(args, spark=spark).start()
        self.setup_s = time.perf_counter() - t0
        self.setup_parts = {"inputs_s": t1 - t0,
                            "app_build_s": self.setup_s - (t1 - t0)}
        self.model = gen.CorpusModel(n, seed)
        if tracer is not None:
            tracer.install_handler(self.app)
        self.page_size = args.oai_pmh_list_size
        self.client: list[dict] = []   # one entry per request sent
        self._lock = threading.Lock()

    def get(self, path: str, rid: str, kind: str) -> tuple[int, str, dict]:
        rec = {"rid": rid, "kind": kind, "t_send": time.perf_counter()}
        try:
            status, body = fetch(self.app.port, path, {RID_HEADER: rid})
        except OSError as exc:   # refused, reset or timed out
            status, body = 0, f"{type(exc).__name__}: {exc}"
        rec["t_done"] = time.perf_counter()
        rec["status"] = status
        with self._lock:
            self.client.append(rec)
        return status, body, rec

    def stop(self) -> None:
        self.app.stop()


def _q(**params) -> str:
    return OAI + "?" + urllib.parse.urlencode(params)


def _parse(body: str):
    try:
        return ET.fromstring(body)
    except ET.ParseError:
        return None


def _error_code(root):
    el = root.find("oai:error", NS)
    return el.get("code") if el is not None else None


def _headers(root, verb: str):
    return root.findall(f"./oai:{verb}/oai:record/oai:header", NS) + \
        root.findall(f"./oai:{verb}/oai:header", NS)


# --- point_requests ----------------------------------------------------------

def _expect_error(code):
    def check(root):
        return _error_code(root) == code
    return check


def _expect_get_record(model, k: int, prefix: str):
    outcome = model.get_record_outcome(k, prefix)
    if outcome == "idDoesNotExist":
        return _expect_error(outcome)
    rid, ds = gen.record_id(k), gen.oai_ts(model.datestamp[k])

    def check(root):
        hs = _headers(root, "GetRecord")
        if _error_code(root) is not None or len(hs) != 1:
            return False
        h = hs[0]
        return (h.findtext("oai:identifier", namespaces=NS) == rid
                and h.findtext("oai:datestamp", namespaces=NS) == ds
                and (h.get("status") == "deleted") == (outcome == "deleted"))
    return check


def _expect_formats(root):
    return (_error_code(root) is None and len(root.findall(
        "./oai:ListMetadataFormats/oai:metadataFormat", NS)) == 3)


def _harvesters(seed: int, model) -> list[dict]:
    """Two downstream harvesters' list requests and their expected ids:
    A the full ``oai_ddi25`` list, B ``oai_datacite`` with a language set
    and a ``from`` date."""
    rng = random.Random(seed)
    lang = rng.choice(gen.LANGS)
    from_s = gen.EPOCH_2015 + rng.randrange(0, 5 * 365) * DAY
    from_date = gen.oai_ts(from_s)[:10]
    out = []
    for name, params, mask in (
            ("A", {"metadataPrefix": "oai_ddi25"},
             model.list_mask("oai_ddi25")),
            ("B", {"metadataPrefix": "oai_datacite", "set": f"language:{lang}",
                   "from": from_date},
             model.list_mask("oai_datacite", lang, from_s=from_s))):
        out.append({"name": name, "params": params,
                    "expected": [gen.record_id(k) for k in mask.nonzero()[0]]})
    return out


def _mint_tokens(srv: Server, harvesters: list[dict], pages: int) -> list[dict]:
    """Walk each harvester's list for ``pages`` pages (untimed) and keep
    every resumption token with the cursor it resumes at, the harvesters'
    tokens interleaved so that any run of them alternates the lists."""
    per_list = []
    for h in harvesters:
        path, cursor, toks = _q(verb="ListRecords", **h["params"]), 0, []
        for n_page in range(pages):
            _, body, _ = srv.get(path, f"mint{h['name']}{n_page}", "warmup")
            root = _parse(body)
            tok = root.find("./oai:ListRecords/oai:resumptionToken", NS)
            if tok is None or not tok.text:
                break
            cursor += len(_headers(root, "ListRecords"))
            toks.append({"token": tok.text, "cursor": cursor,
                         "expected": h["expected"]})
            path = _q(verb="ListRecords", resumptionToken=tok.text)
        per_list.append(toks)
    return [t for group in itertools.zip_longest(*per_list) for t in group
            if t is not None]


def _expect_resumed_page(tok: dict, page_size: int):
    want = tok["expected"][tok["cursor"]:tok["cursor"] + page_size]

    def check(root):
        ids = [e.findtext("oai:identifier", namespaces=NS)
               for e in _headers(root, "ListRecords")]
        t = root.find("./oai:ListRecords/oai:resumptionToken", NS)
        return (_error_code(root) is None and ids == want and t is not None
                and t.get("completeListSize") == str(len(tok["expected"])))
    return check


def _cycle() -> list[tuple]:
    """One cycle of ``POINT_MIX``, each kind's requests spread evenly over
    it."""
    slots = [((i + 0.5) / count, kv) for kv, count in POINT_MIX.items()
             for i in range(count)]
    return [kv for _, kv in sorted(slots, key=lambda x: x[0])]


def _point_mix(seed: int, cycle: int, model, page_size: int,
               tokens: list[dict]) -> list[dict]:
    """Cycle number ``cycle`` of the seeded mix, each request with its
    check."""
    rng = random.Random(f"{seed}/{cycle}")
    known_sets = ({"language", "source", "openaire_data"}
                  | {f"language:{g}" for g in model.languages()}
                  | {f"source:PUB{p:02d}" for p in set(
                      model.pub[model.has_publisher].tolist())})
    metrics_want = model.metrics()
    earliest = gen.oai_ts(model.earliest_datestamp())
    prefixes = ("oai_dc", "oai_ddi25", "oai_datacite")
    out = []
    n_resumed = cycle * RESUMED_PER_CYCLE
    for mix in _cycle():
        kind, variant = mix
        unknown = gen.record_id(model.n + rng.randrange(10 ** 6))
        k = rng.randrange(model.n)
        if kind == "GetRecord" and variant == "unknown":
            req = ("GetRecord", _q(verb="GetRecord", identifier=unknown,
                                   metadataPrefix=rng.choice(prefixes)),
                   _expect_error("idDoesNotExist"))
        elif kind == "GetRecord":
            req = ("GetRecord", _q(verb="GetRecord", identifier=gen.record_id(k),
                                   metadataPrefix=variant),
                   _expect_get_record(model, k, variant))
        elif kind == "Identify":
            req = ("Identify", _q(verb="Identify"),
                   lambda root: root.findtext(
                       "./oai:Identify/oai:earliestDatestamp",
                       namespaces=NS) == earliest)
        elif kind == "ListSets":
            req = ("ListSets", _q(verb="ListSets"),
                   lambda root: {e.text for e in root.findall(
                       "./oai:ListSets/oai:set/oai:setSpec", NS)} == known_sets)
        elif kind == "ListMetadataFormats" and variant == "unknown":
            req = ("ListMetadataFormats",
                   _q(verb="ListMetadataFormats", identifier=unknown),
                   _expect_error("idDoesNotExist"))
        elif kind == "ListMetadataFormats":
            req = ("ListMetadataFormats",
                   _q(verb="ListMetadataFormats", identifier=gen.record_id(k)),
                   _expect_formats)
        elif kind == "metrics":
            req = ("metrics", "/metrics", metrics_want)
        elif kind == "ListIdentifiers":
            day0 = gen.EPOCH_2015 + rng.randrange(0, 3650 - 365) * DAY
            until_end = day0 + 364 * DAY + DAY - 1
            mask = model.list_mask("oai_dc", from_s=day0, until_s=until_end)
            want = [gen.record_id(i) for i in mask.nonzero()[0]]
            req = ("ListIdentifiers",
                   _q(verb="ListIdentifiers", metadataPrefix="oai_dc",
                      **{"from": gen.oai_ts(day0)[:10],
                         "until": gen.oai_ts(until_end)[:10]}),
                   _expect_first_page(want, page_size))
        elif kind == "ListRecords":
            tok = tokens[n_resumed % len(tokens)]
            n_resumed += 1
            req = ("ListRecords",
                   _q(verb="ListRecords", resumptionToken=tok["token"]),
                   _expect_resumed_page(tok, page_size))
        else:
            req = rng.choice((
                ("badVerb", _q(verb="Frobnicate"), _expect_error("badVerb")),
                ("badArgument", _q(verb="GetRecord", identifier=gen.record_id(k),
                                   metadataPrefix="oai_dc", foo="1"),
                 _expect_error("badArgument")),
                ("cannotDisseminateFormat",
                 _q(verb="GetRecord", identifier=gen.record_id(k),
                    metadataPrefix="oai_nope"),
                 _expect_error("cannotDisseminateFormat")),
                ("badResumptionToken",
                 _q(verb="ListRecords", resumptionToken="bm90LWEtdG9rZW4="),
                 _expect_error("badResumptionToken")),
                ("badArgument", _q(verb="ListRecords", metadataPrefix="oai_dc",
                                   **{"from": "2019-13-45"}),
                 _expect_error("badArgument")),
            ))
        kind, path, check = req
        out.append({"kind": kind, "path": path, "check": check, "mix": mix})
    return out


def _expect_first_page(want: list[str], page_size: int):
    def check(root):
        if not want:
            return _error_code(root) == "noRecordsMatch"
        ids = [e.findtext("oai:identifier", namespaces=NS)
               for e in _headers(root, "ListIdentifiers")]
        tok = root.find("./oai:ListIdentifiers/oai:resumptionToken", NS)
        size_ok = (tok is None if len(want) <= page_size
                   else tok is not None
                   and tok.get("completeListSize") == str(len(want)))
        return _error_code(root) is None and ids == want[:page_size] and size_ok
    return check


def _metrics_ok(body: str, want: dict) -> bool:
    got: dict = {"publishers_counts": {}, "publishers_counts_without_deleted": {}}
    for line in body.splitlines():
        if not line or line.startswith("#"):
            continue
        name, _, text = line.rpartition(" ")
        try:
            value = int(float(text))
        except ValueError:
            return False
        if name in ("records_total", "records_total_without_deleted",
                    "publishers_total"):
            got[name] = value
        for gauge in ("publishers_counts", "publishers_counts_without_deleted"):
            if name.startswith(gauge + "{publisher="):
                got[gauge][name[len(gauge) + 12:-2]] = value
    return got == want


def _check_response(item: dict, status: int, body: str) -> bool:
    if status != 200:
        return False
    if item["kind"] == "metrics":
        return _metrics_ok(body, item["check"])
    root = _parse(body)
    return root is not None and bool(item["check"](root))


def point_requests(spark, work: str, seed: int, seconds: float,
                   tracer=None) -> dict:
    srv = Server(spark, work, POINT_RECORDS, seed, tracer)
    try:
        # resumption tokens from two harvesters' walks, then one untimed
        # request of each entry of the mix: a request path runs slowest
        # the first time, by a different amount in every run
        tokens = _mint_tokens(srv, _harvesters(seed, srv.model), MINT_PAGES)
        warm = {item["mix"]: item for item in _point_mix(
            seed + 10 ** 6, 0, srv.model, srv.page_size, tokens)}
        for item in warm.values():
            srv.get(item["path"], "warm", item["kind"])
        settle(spark)
        srv.client.clear()
        n = max(1, int(seconds * POINT_RATE))
        cycle_len = sum(POINT_MIX.values())
        items = [item for c in range(-(-n // cycle_len)) for item in _point_mix(
            seed, c, srv.model, srv.page_size, tokens)][:n]
        lock = threading.Lock()
        results: list[dict] = []
        todo: queue.Queue = queue.Queue()

        def worker():
            while True:
                job = todo.get()
                if job is None:
                    return
                i, due = job
                item = items[i]
                lag = time.perf_counter() - due
                status, body, rec = srv.get(item["path"], f"p{i}", item["kind"])
                with lock:
                    results.append({"i": i, "status": status, "body": body,
                                    "ms": 1000 * (rec["t_done"] - due),
                                    "lag_ms": 1000 * lag,
                                    "t_done": rec["t_done"]})

        threads = [threading.Thread(target=worker) for _ in range(CPUS)]
        for t in threads:
            t.start()
        clock = Clock(seconds)
        try:
            for i in range(n):
                due = clock.t0 + i / POINT_RATE
                time.sleep(max(0.0, due - time.perf_counter()))
                todo.put((i, due))
        finally:
            for _ in threads:
                todo.put(None)
            for t in threads:
                t.join()
    finally:
        srv.stop()
    # checked after the measured phase: parsing in this process would
    # compete with the server's threads for the interpreter lock
    checks, good = Checks(), 0
    for r in sorted(results, key=lambda r: r["i"]):
        item = items[r["i"]]
        ok = checks.record(_check_response(item, r["status"], r["body"]),
                           f"{item['kind']} {item['path']}: status "
                           f"{r['status']} {r['body'][:200]!r}")
        good += ok and r["ms"] <= POINT_LIMIT_MS
    req_ms = [r["ms"] for r in results]
    elapsed = max(r["t_done"] for r in results) - clock.t0
    over = sum(1 for x in req_ms if x > POINT_LIMIT_MS)
    if over == 0:
        met = True           # every request within the limit, so p95 is too
    elif over > 0.05 * len(req_ms):
        met = False
    else:
        met = None           # p95 needs 200 samples to say
    return {
        "setup_s": srv.setup_s,
        "setup_parts": srv.setup_parts,
        "checks": checks,
        "latency_ms_iqm": iqm(req_ms),
        # goodput: correct answers within the limit per second; at the
        # offered rate while the program keeps up, lower once it does not
        "work_per_s": good / elapsed,
        "detail": {
            "req_ms_p50": median_metric(req_ms, "ms"),
            "req_ms_p95": percentile_metric(req_ms, 95, "ms"),
            "req_ms_max": metric(max(req_ms), "ms"),
            "rate_per_s": metric(POINT_RATE, "1/s"),
            "p95_limit_ms": metric(POINT_LIMIT_MS, "ms"),
            "rate_met_p95_limit": metric(met, "bool",
                                         requests_over_limit=over),
            "completed_per_s": metric(len(req_ms) / elapsed, "1/s"),
            "good_per_s": metric(good / elapsed, "1/s"),
        },
        "server": srv,
        "lag_ms": [r["lag_ms"] for r in results],
    }
