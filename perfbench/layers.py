"""Per-layer metrics of a traced run, computed from the spans and counters
``tracing.Tracer`` recorded. The names and units are BENCHMARK.json's
``per_layer`` list; every workload reports every one, and a layer a
workload does not exercise reads 0."""

from __future__ import annotations

from collections import defaultdict

import tracing as T
from harness import median

VERBS = ("Identify", "ListSets", "ListMetadataFormats", "GetRecord",
         "ListRecords", "ListIdentifiers", "metrics")
PLANNER_METHODS = ("list_page", "get_record", "get_record_exists", "list_sets")


def _ms(sp) -> float:
    return 1000.0 * (sp["t1"] - sp["t0"])


def _jobs(sp) -> int:
    return sp["j1"] - sp["j0"]


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs) -> float:
    return median(xs) if xs else 0.0


def _self_ms(sp, children) -> float:
    return _ms(sp) - sum(_ms(c) for c in children.get(sp["id"], ()))


def _top(spans, prefix: str, by_id) -> list[dict]:
    """Spans named ``prefix*`` whose parent is not itself one of them."""
    return [s for s in spans if s["name"].startswith(prefix)
            and not (s["parent"] in by_id
                     and by_id[s["parent"]]["name"].startswith(prefix))]


def serving_layers(tracer, res: dict) -> dict:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    by_rid = defaultdict(list)
    for s in spans:
        if s["rid"] is not None:
            by_rid[s["rid"]].append(s)
    client = {c["rid"]: c for c in res["server"].client}
    timed = [rid for rid in client if rid in by_rid]  # warm-ups excluded

    out: dict = {}
    wait, facade_self, render_ms, exec_ms = [], [], [], []
    jobs_by_verb = defaultdict(list)
    exec_reqs = rows_in = rows_out = files = nbytes = 0
    for rid in timed:
        c, ss = client[rid], by_rid[rid]
        fac = [s for s in ss if s["name"] == T.FACADE]
        met = [s for s in ss if s["name"] == T.METRICS]
        if fac:
            wait.append(1000 * (c["t_done"] - c["t_send"]) - _ms(fac[0]))
            facade_self.append(_self_ms(fac[0], children))
            # keyed by the client's request kind, so the malformed
            # requests (their own kinds) stay out of the verbs' counts
            jobs_by_verb[c["kind"]].append(_jobs(fac[0]))
            render_ms.append(sum(_ms(s) for s in _top(ss, T.RENDER, by_id)))
        for s in met:
            jobs_by_verb["metrics"].append(_jobs(s))
        ex = [s for s in ss if s["name"].startswith(T.EXEC)]
        if ex:
            exec_reqs += 1
            exec_ms.append(sum(_ms(s) for s in ex))
            for s in ex:
                r, b = tracer.stage_input(s["j0"], s["j1"])
                rows_in += r
                nbytes += b
                rows_out += s.get("rows", 0)
                files += s.get("files", 0)
    out["server.wait_ms_p50"] = _med(wait)
    out["facade.self_ms_p50"] = _med(facade_self)
    planner = [s for s in spans if s["name"].startswith(T.PLANNER)
               and s["rid"] in client]
    for m in PLANNER_METHODS:
        out[f"planner.build_ms_p50.{m}"] = _med(
            [_self_ms(s, children) for s in planner
             if s["name"] == f"{T.PLANNER}.{m}"])
    out["planner.jobs_per_first_page"] = _mean(
        [_jobs(s) for s in planner if s["name"] == f"{T.PLANNER}.list_page"
         and s["first_page"]])
    out["tokens.codec_ms_total"] = sum(
        _ms(s) for s in _top(spans, T.TOKENS, by_id) if s["rid"] in client)
    out["spark.exec_ms_p50"] = _med(exec_ms)
    for v in VERBS:
        out[f"spark.jobs_per_request.{v}"] = _mean(jobs_by_verb.get(v, []))
    out["spark.rows_scanned_per_row_returned"] = rows_in / rows_out if rows_out else 0.0
    out["spark.files_read_per_request"] = files / exec_reqs if exec_reqs else 0.0
    out["spark.bytes_read_per_request"] = nbytes / exec_reqs if exec_reqs else 0.0
    out["render.ms_per_response_p50"] = _med(render_ms)
    out["render.bytes_out"] = sum(
        s.get("bytes", 0) for s in spans
        if s["name"] == f"{T.RENDER}.to_string" and s["rid"] in client)
    met = [s for s in spans if s["name"] == T.METRICS and s["rid"] in client]
    out["metrics.compute_ms_p50"] = _med([_ms(s) for s in met])
    out["metrics.jobs"] = _mean([_jobs(s) for s in met])
    lag = res["lag_ms"]
    out["loadgen.lag_ms_p50"] = _med(lag)
    out["loadgen.lag_ms_max"] = max(lag) if lag else 0.0
    return out


def ingest_layers(tracer, res: dict) -> dict:
    spans = tracer.spans
    sweeps = res["sweeps"]
    rows_of_batch = {p["batch"]: p["rows"] for x in sweeps for p in x["progress"]}
    # only merges of timed sweeps; the base build in set-up is excluded
    merges = [s for s in spans if s["name"] == T.INGEST_MERGE
              and s["epoch"] in rows_of_batch]
    quarantine = [s for s in spans if s["name"] == T.QUARANTINE
                  and s["epoch"] in rows_of_batch]
    vt_merges = [s for s in spans if s["name"] == T.VT_MERGE
                 and any(m["t0"] <= s["t0"] <= m["t1"] for m in merges)]
    progress = [p for x in sweeps for p in x["progress"]]
    out = {
        "ingest.merge_ms_p50": _med([_ms(s) for s in merges]),
        "ingest.empty_batch_merges": sum(
            1 for s in merges if rows_of_batch[s["epoch"]] == 0),
        "ingest.quarantined_rows": sum(s["quarantined"] for s in quarantine),
        "ingest.jobs_per_merge": _mean([_jobs(s) for s in merges]),
        "stream.triggers_per_sweep": _mean([len(x["progress"]) for x in sweeps]),
        "stream.add_batch_ms_p50": _med([p["add_batch_ms"] for p in progress]),
        "stream.trigger_overhead_ms_p50": _med(
            [p["trigger_ms"] - p["add_batch_ms"] for p in progress]),
        "stream.state_rows": progress[-1]["state_rows"] if progress else 0,
        "vt.merge_keys_ms_p50": _med([_ms(s) for s in vt_merges]),
    }
    out.update({f"vt.{k}": v for k, v in res["vt"].items()})
    return out
